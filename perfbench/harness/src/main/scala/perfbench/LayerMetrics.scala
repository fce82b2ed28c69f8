package perfbench

/** Per-layer metrics of a traced run, named after the program's modules,
  * computed from the timed ops' spans and the Spark work attributed to them.
  *
  * Layer time is self time: an op that calls one layer (a versioned-table
  * verb, a query) gives that layer its whole span; an op that runs the
  * program's choreography (`Tracer.ByWritePath`) gives each layer the spans
  * of its executions, and the rest of the op's span is the unattributed
  * driver remainder. Layer times plus the remainder add up to the traced
  * wall time unless child spans overlap, which the returned check reports. */
object LayerMetrics {
  val Kpis = Seq("velocity", "churn", "bands", "dropoff", "bottlenecks", "post_release")
  val Families = Seq("event_kpis", "tpch", "text", "similarity", "neardup", "multimodal",
    "ext", "skipping", "misc")
  val VtTimes = Seq("append", "upsert", "delete_dv", "compact", "vacuum", "read")

  /** Every per-layer metric, in report order, with its unit. */
  val Units: Seq[(String, String)] =
    Seq("generator.s" -> "s", "generator.events" -> "count",
      "bronze.s" -> "s", "bronze.tasks" -> "count", "bronze.files_in" -> "count",
      "bronze.rows_out" -> "count", "bronze.bytes_written" -> "bytes",
      "silver.s" -> "s", "silver.rows_in" -> "count", "silver.rows_out" -> "count",
      "silver.rejects" -> "count", "silver.useful_ratio" -> "ratio",
      "silver.shuffle_write_bytes" -> "bytes", "silver.stages" -> "count",
      "merge.s" -> "s", "merge.readback_rows" -> "count", "merge.partitions_touched" -> "count") ++
    Kpis.flatMap(k => Seq(s"gold.$k.s" -> "s", s"gold.$k.rows_out" -> "count",
      s"gold.$k.scan_bytes" -> "bytes", s"gold.$k.shuffle_write_bytes" -> "bytes")) ++
    Seq("tableio.write_s" -> "s", "tableio.read_s" -> "s",
      "tableio.files_written" -> "count", "tableio.bytes_written" -> "bytes") ++
    VtTimes.map(v => s"vt.$v.s" -> "s") ++
    Seq("vt.commits" -> "count", "vt.files_written" -> "count", "vt.bytes_written" -> "bytes",
      "vt.files_live" -> "count", "vt.log_bytes" -> "bytes", "vt.files_scanned" -> "count",
      "mv.refresh.s" -> "s", "mv.refresh_rows" -> "count",
      "plan.analysis_s" -> "s", "plan.optimizer_s" -> "s", "plan.physical_s" -> "s",
      "plan.exchanges" -> "count") ++
    Families.flatMap(f => Seq(s"queries.$f.s" -> "s", s"queries.$f.jobs" -> "count",
      s"queries.$f.exchanges" -> "count")) ++
    Seq("exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
      "exec.task_wait_s" -> "s", "exec.executor_run_s" -> "s", "exec.executor_cpu_s" -> "s",
      "exec.gc_s" -> "s", "exec.shuffle_read_bytes" -> "bytes",
      "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
      "exec.input_bytes" -> "bytes", "exec.driver_only_s" -> "s")

  private val FilesWritten = "sql:number of written files"
  private val FilesRead = "sql:number of files read"

  /** (metrics, self-time check). `extra` carries the metrics only the
    * workload can know (generator timings, commit counts, table sizes). */
  def apply(t: Tracer, extra: Map[String, Double]): (Map[String, Double], Map[String, Any]) = {
    val ops = t.ops.filter(o => o.timed && !o.endMs.isNaN).toSeq
    val works = t.timedWork
    val byOp = works.groupBy(_.op.id)
    val layerMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var remainderMs = 0.0
    var overlapMs = 0.0
    for (op <- ops) {
      if (op.layer == Tracer.ByWritePath) {
        val kids = byOp.getOrElse(op.id, Nil).map(w =>
          (w, math.max(w.startMs, op.startMs), math.min(w.endMs, op.endMs)))
        kids.foreach { case (w, s, e) => layerMs(w.layer) += math.max(0.0, e - s) }
        val covered = Stats.covered(kids.map(k => (k._2, k._3)))
        remainderMs += op.durMs - covered
        overlapMs += kids.map(k => math.max(0.0, k._3 - k._2)).sum - covered
      } else layerMs(op.layer) += op.durMs
    }
    val wallMs = ops.map(_.durMs).sum

    def in(layer: String) = works.filter(_.layer == layer)
    def sumOf(ws: Seq[Work], k: String) = ws.map(_.m(k)).sum
    def s(layer: String) = layerMs(layer) / 1000.0
    val pipelineWork = works.filter(_.op.layer == Tracer.ByWritePath)
    val vtWork = works.filter(_.layer.startsWith("vt."))
    // silver's row counters cover the full run, where it reads all of
    // bronze; in the window its writes also carry the merged read-back
    val silver = in("silver")
    def fullRun(ws: Seq[Work]) = ws.filter(_.op.name == PipelineWorkload.FullRunOp)
    val silverIn = sumOf(fullRun(in("bronze")), "output_rows")
    val silverOut = sumOf(fullRun(silver).filter(_.target.exists(_.contains("silver_events"))),
      "output_rows")
    val plans = t.plans.filter(_._1.timed).toSeq
    def plansOf(layer: String) = plans.filter(_._1.layer == layer)

    val m = Map(
      "bronze.s" -> s("bronze"), "bronze.tasks" -> sumOf(in("bronze"), "tasks"),
      "bronze.files_in" -> sumOf(in("bronze"), FilesRead),
      "bronze.rows_out" -> sumOf(in("bronze"), "output_rows"),
      "bronze.bytes_written" -> sumOf(in("bronze"), "output_bytes"),
      "silver.s" -> s("silver"), "silver.rows_in" -> silverIn, "silver.rows_out" -> silverOut,
      "silver.rejects" ->
        sumOf(fullRun(silver).filter(_.target.exists(_.contains("silver_rejects"))), "output_rows"),
      "silver.useful_ratio" -> (if (silverIn > 0) silverOut / silverIn else 0.0),
      "silver.shuffle_write_bytes" -> sumOf(silver, "shuffle_write_bytes"),
      "silver.stages" -> sumOf(silver, "stages"),
      "merge.s" -> s("merge"), "merge.readback_rows" -> sumOf(in("merge"), "input_rows"),
      "tableio.write_s" ->
        pipelineWork.filter(_.target.nonEmpty).map(w => w.endMs - w.startMs).sum / 1000.0,
      "tableio.read_s" -> s("tableio"),
      "tableio.files_written" -> sumOf(pipelineWork, FilesWritten),
      "tableio.bytes_written" -> sumOf(pipelineWork, "output_bytes"),
      "vt.files_written" -> sumOf(vtWork, FilesWritten),
      "vt.bytes_written" -> sumOf(vtWork, "output_bytes"),
      "vt.files_scanned" -> sumOf(in("vt.read"), FilesRead),
      "mv.refresh.s" -> s("mv.refresh"), "mv.refresh_rows" -> sumOf(in("mv.refresh"), "output_rows"),
      "plan.analysis_s" -> plans.map(_._2).sum / 1000.0,
      "plan.optimizer_s" -> plans.map(_._3).sum / 1000.0,
      "plan.physical_s" -> plans.map(_._4).sum / 1000.0,
      "plan.exchanges" -> plans.map(_._5).sum.toDouble,
      "exec.jobs" -> sumOf(works, "jobs"), "exec.stages" -> sumOf(works, "stages"),
      "exec.tasks" -> sumOf(works, "tasks"),
      "exec.task_wait_s" -> sumOf(works, "task_wait_ms") / 1000.0,
      "exec.executor_run_s" -> sumOf(works, "run_ms") / 1000.0,
      "exec.executor_cpu_s" -> sumOf(works, "cpu_ns") / 1e9,
      "exec.gc_s" -> sumOf(works, "gc_ms") / 1000.0,
      "exec.shuffle_read_bytes" -> sumOf(works, "shuffle_read_bytes"),
      "exec.shuffle_write_bytes" -> sumOf(works, "shuffle_write_bytes"),
      "exec.spill_bytes" -> sumOf(works, "spill_bytes"),
      "exec.input_bytes" -> sumOf(works, "input_bytes"),
      "exec.driver_only_s" -> (wallMs - Stats.covered(t.timedJobSpans)) / 1000.0) ++
      Kpis.flatMap { k =>
        val g = in(s"gold.$k")
        Seq(s"gold.$k.s" -> s(s"gold.$k"), s"gold.$k.rows_out" -> sumOf(g, "output_rows"),
          s"gold.$k.scan_bytes" -> sumOf(g, "input_bytes"),
          s"gold.$k.shuffle_write_bytes" -> sumOf(g, "shuffle_write_bytes"))
      } ++
      VtTimes.map(v => s"vt.$v.s" -> s(s"vt.$v")) ++
      Families.flatMap { f =>
        val l = s"queries.$f"
        Seq(s"$l.s" -> s(l), s"$l.jobs" -> sumOf(in(l), "jobs"),
          s"$l.exchanges" -> plansOf(l).map(_._5).sum.toDouble)
      }
    val all = Units.map { case (k, _) => k -> extra.getOrElse(k, m.getOrElse(k, 0.0)) }.toMap
    val layersMs = layerMs.values.sum
    val check = Map(
      "wall_s" -> wallMs / 1000.0,
      "layer_self_s" -> layerMs.map { case (k, v) => k -> v / 1000.0 }.toMap,
      "layers_s" -> layersMs / 1000.0,
      "remainder_s" -> remainderMs / 1000.0,
      "overlap_s" -> overlapMs / 1000.0,
      "adds_up" -> (math.abs(layersMs + remainderMs - wallMs) <= 0.01 * wallMs + 1.0))
    (all, check)
  }
}
