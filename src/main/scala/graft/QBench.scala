package graft

/** Dev tool: time individual queries repeatedly.
  * Usage: runMain graft.QBench <sfDir> <reps> <queryName>[,<queryName>...]
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, repsS, names) = args
    val reps = repsS.toInt
    val spark = GraftSession(graft = true)
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.contains("QBENCH_STAGES")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val dur = for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s
          println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
            f"dur=${dur.getOrElse(-1L)}%6d ms  ${si.name.takeWhile(_ != '\n').take(80)}")
        }
      })
    }
    for (name <- names.split(",")) {
      val fn = SparkEntry.queries(name)
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        println(f"[qbench] $name rep$r $dt%.2f s")
      }
    }
    spark.stop()
  }
}
