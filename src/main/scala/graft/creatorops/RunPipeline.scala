package graft.creatorops

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** CLI entry point for the medallion pipeline — the analogue of the
  * reference's `local/run_all.ps1` sequential runner plus its generator
  * step (`data_generator/generator.py`), as subcommands:
  *
  * {{{
  *   runMain graft.creatorops.RunPipeline generate <outDir> [seed] [tenants]
  *   runMain graft.creatorops.RunPipeline run <eventsPathOrGlob>... <warehouseRoot>
  *   runMain graft.creatorops.RunPipeline incremental <warehouseRoot> <startDate> <endDate>
  * }}}
  *
  * `run` with no subcommand keyword is also accepted (round-1 CLI shape).
  * `incremental` = the runbook's partition-aware / backfill window: silver
  * over pruned bronze ingest dates, then the gold refresh for the window.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(graft = false)
    spark.sparkContext.setLogLevel("WARN")
    try args.toList match {
      case "generate" :: out :: rest =>
        val seed = rest.headOption.map(_.toLong).getOrElse(22L)
        val tenants = rest.drop(1).headOption.map(_.toInt).getOrElse(3)
        val n = Generator.writeNdjson(spark,
          Generator.Config(seed = seed, tenants = tenants), out)
        println(s"[pipeline] generated events: $n -> $out")
      case "incremental" :: root :: start :: end :: Nil =>
        Pipeline.runSilverRange(spark, root, start, end)
        Pipeline.runGoldRange(spark, root, start, end)
        println(s"[pipeline] incremental window [$start, $end] -> $root")
      case "run" :: rest if rest.length >= 2 =>
        runAll(spark, rest.init, rest.last)
      case rest if rest.length >= 2 && !Set("generate", "incremental").contains(rest.head) =>
        runAll(spark, rest.init, rest.last)
      case _ =>
        System.err.println(
          "usage: RunPipeline generate <outDir> [seed] [tenants]\n" +
          "     | RunPipeline [run] <eventsPathOrGlob>... <warehouseRoot>\n" +
          "     | RunPipeline incremental <warehouseRoot> <startDate> <endDate>")
        sys.exit(2)
    } finally spark.stop()
  }

  private def runAll(spark: SparkSession, eventPaths: Seq[String], root: String): Unit = {
    val c = Pipeline.runAll(spark, eventPaths, root)
    println(s"[pipeline] bronze=${c.bronze} silver=${c.silver} rejects=${c.rejects} " +
      s"velocity=${c.velocity} churn=${c.churn} bands=${c.bands} " +
      s"dropoff=${c.dropoff} bottlenecks=${c.bottlenecks} " +
      s"postRelease=${c.postRelease} -> $root")
  }
}
