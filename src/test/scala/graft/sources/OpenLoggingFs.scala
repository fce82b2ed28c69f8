package graft.sources

import org.apache.spark.sql.SparkSession

/** A `file:` filesystem that logs every task-side open as (path, stage). */
class OpenLoggingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    Option(org.apache.spark.TaskContext.get()).foreach(tc =>
      OpenLoggingFs.opens.add((f.toUri.getPath, tc.stageId())))
    super.open(f, bufferSize)
  }
}

object OpenLoggingFs {
  private val opens = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()

  /** Ids of the jobs whose tasks opened `file` while `body` ran: task-side
    * opens come from [[OpenLoggingFs]] (swapped in for the `file:` scheme
    * for the duration), each with its stage, and a listener maps stages
    * to jobs. */
  def jobsOpening(spark: SparkSession, file: String)(body: => Unit): Set[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageIds.foreach(st => stageJob.put(st, e.jobId))
    }
    val hc = spark.sparkContext.hadoopConfiguration
    spark.sparkContext.addSparkListener(listener)
    opens.clear()
    hc.set("fs.file.impl", classOf[OpenLoggingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
    import scala.jdk.CollectionConverters._
    val target = new org.apache.hadoop.fs.Path(file).toUri.getPath
    val stages = opens.asScala.collect { case (p, st) if p == target => st }.toSet
    // listener events arrive asynchronously
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!stages.forall(stageJob.containsKey) && System.nanoTime() < deadline)
      Thread.sleep(20)
    spark.sparkContext.removeSparkListener(listener)
    stages.map(st => stageJob.get(st))
  }
}
