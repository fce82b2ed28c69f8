package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed call into the program, as the harness saw it, in pass `pass`,
  * with the bytes the process passed to write calls
  * while it ran. */
final case class Sample(pass: Int, kind: String, name: String, seconds: Double, ok: Boolean,
    written: Double)

/** State of one benchmark run: the session, the tracer while a traced pass
  * runs, the op samples and the correctness ledger. Ops run one at a time on
  * the calling thread. */
final class Run(val spark: SparkSession, val work: File, val seconds: Double,
    val traced: Boolean, val opts: Map[String, String]) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  /** Seconds spent in correctness checks. */
  var checkSeconds = 0.0
  /** The tracer while the traced pass runs. */
  private var tracer: Option[Tracer] = None
  /** The pass now running, counted from 0. */
  var pass = 0
  /** Timed passes whose samples make up the end-to-end metrics. */
  val measured = mutable.ArrayBuffer.empty[Int]
  /** In a traced run, the pass run with the tracer attached, and its trace. */
  var tracedPass: Option[(Int, Tracer)] = None

  private def note(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }

  /** A timed op: its seconds count toward its pass's wall time. A failure
    * is counted, never rethrown, so the pass goes on. */
  def timed[A](kind: String, name: String, layer: String)(body: => A): Option[A] = {
    attempted += 1
    val span = tracer.map(_.begin(name, layer, timed = true))
    val w0 = ProcIo.written()
    val t0 = System.nanoTime()
    val r = try Some(body) catch { case e: Throwable => note(name, e); None }
    val secs = (System.nanoTime() - t0) / 1e9
    val w = ProcIo.written() - w0
    span.foreach(s => tracer.get.end(s))
    samples += Sample(pass, kind, name, secs, r.isDefined, w)
    r
  }

  /** Untimed work (preparing an op, building a model): traced, not timed;
    * a failure propagates. */
  def untimed[A](name: String, layer: String)(body: => A): A = {
    val span = tracer.map(_.begin(name, layer, timed = false))
    try body finally span.foreach(s => tracer.get.end(s))
  }

  /** A correctness check; a false result or an exception counts as failed. */
  def check(name: String)(cond: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try untimed(s"check $name", "check")(cond)
      catch { case e: Throwable => note(s"check $name", e); true }
    checkSeconds += (System.nanoTime() - t0) / 1e9
    if (!ok) { failed += 1; errors += s"check $name: outputs differ" }
  }

  /** Runs the workload's passes, `body(pass)` each. Untraced: `warmUps`
    * passes whose time counts as set-up, then measured passes until at
    * least `minPasses` ran and, up to `maxPasses`, `seconds` have been
    * measured. Traced: at least one warm-up, then an untraced pass, a pass
    * with a [[Tracer]] attached and another untraced pass, so the tracing
    * overhead (traced minus the untraced passes' median) is not confounded
    * by the JIT still speeding passes up. Returns the warm-ups' seconds. */
  def passes(warmUps: Int, minPasses: Int, maxPasses: Int)(body: Int => Unit): Double = {
    val t0 = System.nanoTime()
    (0 until (if (traced) math.max(warmUps, 1) else warmUps)).foreach { _ => body(pass); pass += 1 }
    val warmUpS = (System.nanoTime() - t0) / 1e9
    def one(): Unit = { measured += pass; body(pass); pass += 1 }
    if (traced) {
      one()
      val t = new Tracer(spark)
      tracer = Some(t)
      try body(pass) finally { t.close(); tracer = None }
      tracedPass = Some((pass, t))
      pass += 1
      one()
    } else
      while (measured.size < minPasses ||
          (measured.size < maxPasses && measured.map(passSeconds).sum < seconds)) one()
    warmUpS
  }

  def passSeconds(p: Int): Double = samples.filter(_.pass == p).map(_.seconds).sum

  /** Samples of the measured passes. */
  def timedSamples: Seq[Sample] = samples.filter(s => measured.contains(s.pass)).toSeq

  /** Median over the measured passes of `f` summed over a pass's samples
    * that `keep` selects. */
  def perPass(keep: Sample => Boolean)(f: Sample => Double): Double =
    Stats.median(measured.toSeq.map(p => samples.filter(s => s.pass == p && keep(s)).map(f).sum))

  /** Median wall time of the measured passes. */
  def wallSeconds: Double = perPass(_ => true)(_.seconds)

  def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }
}

/** What a workload reports besides its samples: its set-up time, the
  * input a pass reads, the new input a pass writes, the bytes a pass's
  * writing ops passed to write calls, and the bytes on disk after the last
  * pass. */
final case class Outcome(
    setupSeconds: Double,
    inputBytes: Double,
    newInputBytes: Double,
    writtenBytes: Double,
    storedBytes: Double,
    inputs: Map[String, Any],
    report: Map[String, (Any, String)],
    detail: Map[String, Any],
    layers: Map[String, Double])

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <file> --cpus <n>`, plus `--tables <dir>
  * --tables-seconds <s>` for a workload that reads generated tables, or
  * `--train 1 --work <dir> --cpus <n>` to only start a session. Runs one workload in this JVM and
  * writes its result as one JSON object to `--out`. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "pipeline" -> PipelineWorkload,
    "tables_queries" -> TablesQueriesWorkload)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt("cpus").toInt
    val work = new File(opt("work"))
    work.mkdirs()
    if (opt.contains("train")) {
      // the class-loading run behind the JVM's class-data archive: start the
      // session whose settings load the most classes and run one job
      val spark = TablesQueriesWorkload.session(cpus, new File(work, "spark-local").getPath)
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.stop()
      return
    }
    val name = opt("workload")
    val wl = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = opt("seed").toLong
    val trace = opt.get("trace").contains("1")

    val t0 = System.nanoTime()
    val spark = wl.session(cpus, new File(work, "spark-local").getPath)
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, work, opt("seconds").toDouble, trace, opt)
    val out = wl.run(run, seed)
    val rssMb = ProcIo.peakRssMb()

    val endToEnd = Map(
      "wall_s" -> (run.wallSeconds, "s"),
      "setup_s" -> (sessionSeconds + out.setupSeconds, "s"),
      "rss_peak_mb" -> (rssMb, "MB"),
      "write_amp" -> (out.writtenBytes / out.newInputBytes, "ratio"),
      "space_amp" -> (out.storedBytes / out.inputBytes, "ratio"))
    val traced = for ((p, t) <- run.tracedPass) yield {
      val (layers, check) = LayerMetrics(t, out.layers)
      (LayerMetrics.Units.map { case (k, u) => k -> (layers(k), u) }.toMap, check,
        run.passSeconds(p) - run.wallSeconds)
    }
    def valued(m: Map[String, (Any, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "attempted" -> run.attempted, "failed" -> run.failed, "errors" -> run.errors.toSeq,
      "end_to_end" -> valued(endToEnd),
      "report" -> valued(out.report),
      "per_layer" -> valued(traced.map(_._1).getOrElse(Map.empty)),
      "trace_check" -> traced.map(_._2),
      "trace_overhead_s" -> traced.map(_._3),
      "detail" -> (out.detail ++ Map(
        "session_s" -> sessionSeconds,
        "checks_s" -> run.checkSeconds,
        "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
        "pass_s" -> (0 until run.pass).map(run.passSeconds),
        "measured_passes" -> run.measured.toSeq,
        "traced_pass" -> run.tracedPass.map(_._1),
        "samples" -> run.samples.map(s => Map("pass" -> s.pass, "kind" -> s.kind, "name" -> s.name,
          "s" -> s.seconds, "ok" -> s.ok, "written" -> s.written)))),
      "inputs" -> out.inputs,
      "env" -> Map(
        "cpus" -> cpus,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version))
    run.tracedPass.foreach(_._2.writeSpans(Paths.get(opt("out") + ".spans.jsonl")))
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }
}

/** A benchmark workload: the session settings of the program entry point
  * whose traffic it models, and one run (set-up, passes, checks). */
trait Workload {
  def session(cpus: Int, localDir: String): SparkSession
  def run(run: Run, seed: Long): Outcome
}

/** Process-level counters from /proc: bytes this JVM wrote and its peak
  * resident memory. */
object ProcIo {
  /** Bytes this process has passed to write calls so far (`wchar`): every
    * file, shuffle and log write, whether or not it reaches the disk before
    * the file is deleted, so the count does not depend on page-cache
    * writeback. */
  def written(): Double =
    try scala.io.Source.fromFile("/proc/self/io").getLines()
      .find(_.startsWith("wchar:")).map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)
    catch { case _: java.io.IOException => 0.0 }

  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
    catch { case _: java.io.IOException => Double.NaN }

  /** Total size of the regular files under `f`. */
  def bytesUnder(f: File): Double =
    if (!f.exists()) 0.0
    else if (f.isFile) f.length().toDouble
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(bytesUnder).sum

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
