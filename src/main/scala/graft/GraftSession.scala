package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe every command-line main shares: local mode
  * on `SPARK_GRAFT_CPUS` cores (default 4) with as many shuffle
  * partitions, UTC session time, no UI, scratch space under
  * `SPARK_LOCAL_DIRS`, and a codegen cache large enough to hold every
  * declared query's compiled stages. Log levels stay with the callers.
  *
  * @param graft install [[graft.sql.GraftExtensions]] and the `graft`
  *              catalog — every main but `RunPipeline`, which runs the
  *              medallion pipeline on stock Spark. */
object GraftSession {
  def apply(graft: Boolean): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.storage.memoryMapThreshold", "2g")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val configured =
      if (!graft) builder
      else builder
        .config("spark.sql.extensions", "graft.sql.GraftExtensions")
        .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    configured.getOrCreate()
  }
}
