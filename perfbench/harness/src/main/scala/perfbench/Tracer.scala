package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui._
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the harness makes into a layer. `timed` ops make up a pass's
  * wall time; untimed ones (preparing the next op, checking outputs) are
  * traced but kept out of every per-layer sum. */
final case class OpSpan(id: Int, name: String, layer: String, timed: Boolean, startMs: Double) {
  var endMs: Double = Double.NaN
  def durMs: Double = endMs - startMs
}

/** Work Spark did inside an op: a top-level SQL execution ("exec") or a job
  * that ran outside any execution ("job"). Its interval is a child span of
  * the op; its counters are summed from the tasks of its jobs. */
final class Work(val kind: String, val id: Long, val op: OpSpan, val layer: String,
    val target: Option[String], val startMs: Double) {
  var endMs: Double = Double.NaN
  val m: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = m(k) += v
}

/** Traces a run from outside the program: spans at each harness call into a
  * layer, plus a SparkListener and a QueryExecutionListener that attribute
  * every SQL execution, job, stage and task to the op that caused it.
  *
  * An op whose layer is [[Tracer.ByWritePath]] calls the program's own
  * choreography (`Pipeline.runAll` and the range calls); its executions are
  * attributed to the layer whose table the execution writes, or for reads
  * to the source file that issued them. Spans stay in memory until
  * [[writeSpans]]. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Wall-clock ms on the same scale as listener event times, at ns resolution. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val ops = mutable.ArrayBuffer.empty[OpSpan]
  @volatile private var current: OpSpan = null

  private val execs = mutable.Map.empty[Long, Work]          // top-level executions
  private val execRoot = mutable.Map.empty[Long, Long]       // any execution -> its top-level one
  private val accumNames = mutable.Map.empty[Long, String]   // SQL metric accumulator -> name
  private val jobWork = mutable.Map.empty[Int, Work]
  private val jobSpans = mutable.ArrayBuffer.empty[(OpSpan, Double, Double)]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  val works = mutable.ArrayBuffer.empty[Work]
  /** Per op: (analysis ms, optimizer ms, physical planning ms, final-plan exchanges). */
  val plans = mutable.ArrayBuffer.empty[(OpSpan, Double, Double, Double, Int)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def begin(name: String, layer: String, timed: Boolean): OpSpan = {
    Bus.drain(spark.sparkContext)
    val s = OpSpan(ops.size, name, layer, timed, nowMs)
    ops += s
    current = s
    s
  }

  def end(s: OpSpan): Unit = {
    Bus.drain(spark.sparkContext)
    s.endMs = nowMs
    current = null
  }

  def close(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  // ---- attribution -------------------------------------------------------

  private def layerOf(op: OpSpan, plan: String, site: String): String =
    if (op == null) "none"
    else if (op.layer != Tracer.ByWritePath) op.layer
    else Tracer.writeTarget(plan).flatMap(Tracer.layerOfPath)
      .orElse(Tracer.layerOfSite(site)).getOrElse("tableio")

  private def names(info: SparkPlanInfo): Unit = {
    info.metrics.foreach(m => accumNames(m.accumulatorId) = m.name)
    info.children.foreach(names)
  }

  private def addMetric(execId: Long, accum: Long, v: Double): Unit =
    for (root <- execRoot.get(execId); w <- execs.get(root); n <- accumNames.get(accum))
      w.add("sql:" + n, v)

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        names(e.sparkPlanInfo)
        val root = e.rootExecutionId.getOrElse(e.executionId)
        if (root == e.executionId || !execRoot.contains(root)) {
          execRoot(e.executionId) = e.executionId
          val w = new Work("exec", e.executionId, current,
            layerOf(current, e.physicalPlanDescription, e.description),
            Tracer.writeTarget(e.physicalPlanDescription), e.time.toDouble)
          execs(e.executionId) = w
          works += w
        } else execRoot(e.executionId) = execRoot(root)
      case e: SparkListenerSQLAdaptiveExecutionUpdate => names(e.sparkPlanInfo)
      case e: SparkListenerSQLAdaptiveSQLMetricUpdates =>
        e.sqlPlanMetrics.foreach(m => accumNames(m.accumulatorId) = m.name)
      case e: SparkListenerDriverAccumUpdates =>
        e.accumUpdates.foreach { case (a, v) => addMetric(e.executionId, a, v.toDouble) }
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.endMs = e.time.toDouble)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val owner = execId.flatMap(execRoot.get).flatMap(execs.get).getOrElse {
      val site = Option(e.properties).map(_.getProperty("callSite.short", "")).getOrElse("")
      val w = new Work("job", e.jobId.toLong, current, layerOf(current, "", site), None,
        e.time.toDouble)
      works += w
      w
    }
    jobWork(e.jobId) = owner
    jobStart(e.jobId) = e.time.toDouble
    owner.add("jobs", 1)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobWork.get(e.jobId).foreach { w =>
      if (w.kind == "job") w.endMs = e.time.toDouble
      jobSpans += ((w.op, jobStart(e.jobId), e.time.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobWork.get).foreach(_.add("stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); w <- jobWork.get(j)) {
      w.add("tasks", 1)
      stageSubmitted.get(e.stageId).foreach(s =>
        w.add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - s).toDouble))
      val t = e.taskMetrics
      if (t != null) {
        w.add("run_ms", t.executorRunTime.toDouble)
        w.add("cpu_ns", t.executorCpuTime.toDouble)
        w.add("gc_ms", t.jvmGCTime.toDouble)
        w.add("shuffle_read_bytes",
          (t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead).toDouble)
        w.add("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten.toDouble)
        w.add("spill_bytes", (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble)
        w.add("input_bytes", t.inputMetrics.bytesRead.toDouble)
        w.add("input_rows", t.inputMetrics.recordsRead.toDouble)
        w.add("output_bytes", t.outputMetrics.bytesWritten.toDouble)
        w.add("output_rows", t.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val op = current
      if (op != null) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val exchanges = collect(qe.executedPlan) { case _: ShuffleExchangeLike => 1 }.size
        plans += ((op, ms("analysis"), ms("optimization"), ms("planning"), exchanges))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  // ---- results -----------------------------------------------------------

  /** Top-level executions and outside jobs of timed ops, clipped to their op. */
  def timedWork: Seq[Work] = synchronized {
    works.filter(w => w.op != null && w.op.timed && !w.endMs.isNaN).toSeq
  }

  /** Job intervals inside timed ops (for driver-only time). */
  def timedJobSpans: Seq[(Double, Double)] = synchronized {
    jobSpans.collect { case (op, s, e) if op != null && op.timed => (s, e) }.toSeq
  }

  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    val sb = new StringBuilder
    ops.foreach { o =>
      sb ++= Json(Map("span" -> s"op${o.id}", "parent" -> null, "name" -> o.name,
        "layer" -> o.layer, "timed" -> o.timed, "start_ms" -> o.startMs, "end_ms" -> o.endMs)) += '\n'
    }
    works.foreach { w =>
      sb ++= Json(Map("span" -> s"${w.kind}${w.id}",
        "parent" -> Option(w.op).map(o => s"op${o.id}").orNull, "name" -> w.kind,
        "layer" -> w.layer, "target" -> w.target, "start_ms" -> w.startMs, "end_ms" -> w.endMs,
        "counters" -> w.m.toMap)) += '\n'
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  /** Op layer meaning "attribute this op's work by the table it writes". */
  val ByWritePath = "by_write_path"

  /** The plan description is in Spark's "formatted" explain mode: below the
    * plan tree, each node has a section whose arguments start, for the
    * write node, with the target path. */
  private val WriteCmd = """(?s)Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r

  def writeTarget(plan: String): Option[String] =
    WriteCmd.findFirstMatchIn(plan).map(_.group(1))

  /** Warehouse table directory -> layer (names from `Pipeline.Warehouse`). */
  private val TableLayers = Seq(
    "bronze_events" -> "bronze",
    "silver_events" -> "silver",
    "silver_rejects" -> "silver",
    "kpi_writing_velocity_daily" -> "gold.velocity",
    "kpi_revision_churn_daily" -> "gold.churn",
    "kpi_engagement_bands_daily" -> "gold.bands",
    "kpi_dropoff_rate_daily" -> "gold.dropoff",
    "kpi_stage_bottlenecks" -> "gold.bottlenecks",
    "kpi_post_release_engagement" -> "gold.post_release")

  def layerOfPath(path: String): Option[String] =
    TableLayers.collectFirst { case (t, l) if path.contains(t) => l }

  /** Reads and non-SQL jobs, by their short call site (`<action> at
    * <File>.scala:<line>`): the late-data read-back of `runSilverRange`
    * collects touched partitions and checkpoints the merged rows. */
  def layerOfSite(site: String): Option[String] =
    if (site.contains("collect at Pipeline.scala") ||
        site.contains("localCheckpoint at Pipeline.scala")) Some("merge")
    else if (site.contains("Bronze.scala")) Some("bronze")
    else if (site.contains("Silver.scala")) Some("silver")
    else if (site.contains("Generator.scala")) Some("generator")
    else None
}
