package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `.explain("formatted")` for named queries to files.
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <queryName>[,<queryName>...]
  * A query name of `all` dumps every declared query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args
    val spark = GraftSession(graft = true)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val wanted: Seq[String] =
      if (names == "all") SparkEntry.queries.keys.toSeq.sorted
      else names.split(",").toSeq
    for (name <- wanted) {
      val fn = SparkEntry.queries(name)
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$name.txt"), txt)
        println(s"[plandump] $name ok (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      // queries may cache intermediates during construction; drop them so the
      // next query's plan is built cold
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
