package graft.creatorops

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.sources.TableIO

/** End-to-end medallion pipeline runner — the Scala equivalent of the
  * reference's sequential script runner (`local/run_all.ps1:19-23`:
  * bronze ×1, silver ×1, gold ×3), as one in-process DAG.
  *
  * Each layer reads the previous layer's written table, not its in-memory
  * plan: silver events and rejects each parse bronze (two writes of one
  * `Silver.transform`), the six gold KPIs each read silver events back
  * from disk, and the closing counts read every table once more. Nothing
  * is persisted.
  */
object Pipeline {

  final case class Warehouse(root: String) {
    val bronze = s"$root/bronze_events"
    val silverEvents = s"$root/silver_events"
    val silverRejects = s"$root/silver_rejects"
    val velocity = s"$root/kpi_writing_velocity_daily"
    val churn = s"$root/kpi_revision_churn_daily"
    val engagementBands = s"$root/kpi_engagement_bands_daily"
    val dropoff = s"$root/kpi_dropoff_rate_daily"
    val bottlenecks = s"$root/kpi_stage_bottlenecks"
    val postRelease = s"$root/kpi_post_release_engagement"
  }

  final case class Counts(bronze: Long, silver: Long, rejects: Long,
      velocity: Long, churn: Long, bands: Long, dropoff: Long, bottlenecks: Long,
      postRelease: Long)

  def runAll(spark: SparkSession, eventPaths: Seq[String], root: String): Counts = {
    val wh = Warehouse(root)

    // Bronze: append-only raw log, partitioned by ingest date
    // (ingest_local.py:55-61)
    val bronze = Bronze.ingest(spark, eventPaths)
    TableIO.write(bronze, wh.bronze, SaveMode.Append, partitionBy = Seq("p_ingest_date"))

    // Silver: parse/validate/split/dedupe; events partitioned by event date
    // clustered like the suggested ZORDER (02_silver_events.sql:54-61),
    // rejects by reject date (03_silver_rejects.sql:23)
    val silver = Silver.transform(TableIO.read(spark, wh.bronze))
    TableIO.write(silver.events, wh.silverEvents, partitionBy = Seq("p_event_date"),
      clusterBy = Seq("story_id", "author_id", "event_type"))
    TableIO.write(silver.rejects, wh.silverRejects, partitionBy = Seq("p_reject_date"))

    // Gold: six KPI tables (kpis_local.py, retention_local.py,
    // bottlenecks_local.py; post-release engagement from docs/kpis.md:99-114)
    val ev = TableIO.read(spark, wh.silverEvents)
    TableIO.write(Gold.writingVelocity(ev), wh.velocity, partitionBy = Seq("p_event_date"))
    TableIO.write(Gold.revisionChurn(ev), wh.churn, partitionBy = Seq("p_event_date"))
    TableIO.write(Gold.engagementBands(ev), wh.engagementBands, partitionBy = Seq("p_event_date"))
    TableIO.write(Gold.dropoffRate(ev), wh.dropoff, partitionBy = Seq("p_event_date"))
    TableIO.write(Gold.stageBottlenecks(ev), wh.bottlenecks)
    TableIO.write(Gold.postReleaseEngagement(ev), wh.postRelease, partitionBy = Seq("p_event_date"))

    Counts(
      bronze = TableIO.read(spark, wh.bronze).count(),
      silver = TableIO.read(spark, wh.silverEvents).count(),
      rejects = TableIO.read(spark, wh.silverRejects).count(),
      velocity = TableIO.read(spark, wh.velocity).count(),
      churn = TableIO.read(spark, wh.churn).count(),
      bands = TableIO.read(spark, wh.engagementBands).count(),
      dropoff = TableIO.read(spark, wh.dropoff).count(),
      bottlenecks = TableIO.read(spark, wh.bottlenecks).count(),
      postRelease = TableIO.read(spark, wh.postRelease).count())
  }

  /** Partition-aware incremental / backfill silver run
    * (docs/runbooks/silver-transform.md:135-138: "Batch runs are
    * partition-aware (process only recent ingest dates unless backfill).
    * Backfill uses parameters start_date and end_date").
    *
    * Reads ONLY the bronze ingest-date partitions in [startDate, endDate]
    * (both inclusive, "yyyy-MM-dd"; the filter is on the hive partition
    * column, so the scan is partition-pruned — at 100 TB a daily run touches
    * one day of bronze, not the table) and transforms them.
    *
    * LATE-DATA SAFETY: an event-date partition this window touches may
    * already hold rows landed by OTHER ingest batches (a late day-D event
    * arriving in a later batch). Before the dynamic overwrite, the existing
    * rows of exactly the touched partitions are read back (statically
    * pruned via the collected date list — bounded by the window), unioned
    * in, and deduped keep-latest-by-ingested_at per event_id (the runbook's
    * MERGE rule), so a routine daily window can never wipe a partition's
    * earlier history, and re-running any window is idempotent. Bronze is
    * append-only, so rows never need to disappear on reprocess; correcting
    * bad bronze rows is done by appending a newer batch and re-running the
    * window (keep-latest picks the correction up).
    */
  def runSilverRange(
      spark: SparkSession,
      root: String,
      startDate: String,
      endDate: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, row_number, to_date}
    val wh = Warehouse(root)
    val bronze = TableIO.read(spark, wh.bronze)
      .filter(col("p_ingest_date") >= to_date(lit(startDate)) &&
        col("p_ingest_date") <= to_date(lit(endDate)))
    val silver = Silver.transform(bronze)
    val events = silver.events.persist()

    def mergeTouched(
        fresh: org.apache.spark.sql.DataFrame,
        path: String,
        partCol: String,
        keyCols: Seq[String],
        latestBy: String): org.apache.spark.sql.DataFrame = {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      // a dir with no readable parquet (e.g. a zero-row dynamic overwrite
      // left only _SUCCESS) merges like a missing table
      val readable = fs.exists(hp) &&
        (try { TableIO.read(spark, path); true }
         catch { case _: org.apache.spark.sql.AnalysisException => false })
      if (!readable) fresh
      else {
        val touched = fresh.select(col(partCol)).distinct().collect().map(_.get(0))
        if (touched.isEmpty) fresh
        else {
          val existing = TableIO.read(spark, path)
            .filter(col(partCol).isin(touched: _*))  // static partition pruning
          val w = Window.partitionBy(keyCols.map(col): _*)
            .orderBy(col(latestBy).desc)
          existing.unionByName(fresh)
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
            // plan must not read the path it overwrites: materialize first
            // (bounded: only the window's partitions)
            .localCheckpoint()
        }
      }
    }

    TableIO.overwritePartitions(
      mergeTouched(events, wh.silverEvents, "p_event_date",
        Seq("event_id"), "ingested_at"),
      wh.silverEvents,
      partitionBy = Seq("p_event_date"),
      clusterBy = Seq("story_id", "author_id", "event_type"))
    TableIO.overwritePartitions(
      mergeTouched(silver.rejects, wh.silverRejects, "p_reject_date",
        Seq("ingest_id", "raw_json", "reject_reason"), "rejected_at"),
      wh.silverRejects,
      partitionBy = Seq("p_reject_date"))
    events.unpersist()
  }

  /** Incremental gold refresh for an event-date window: the four
    * date-partitioned KPIs recompute from a PARTITION-PRUNED silver scan
    * (silver is hive-partitioned by p_event_date, so a daily refresh reads
    * one day, not the table) and replace only their partitions in the
    * window. Valid because each of those KPIs aggregates strictly within a
    * date. Stage bottlenecks aggregates ACROSS dates (the lead() window
    * spans a story's whole timeline), so it cannot be pruned and is
    * recomputed from full silver — it is also the smallest output. */
  def runGoldRange(
      spark: SparkSession,
      root: String,
      startDate: String,
      endDate: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val wh = Warehouse(root)
    val evAll = TableIO.read(spark, wh.silverEvents)
    val ev = evAll
      .filter(col("p_event_date") >= to_date(lit(startDate)) &&
        col("p_event_date") <= to_date(lit(endDate)))
      .persist()
    val byDate = Seq("p_event_date")
    TableIO.overwritePartitions(Gold.writingVelocity(ev), wh.velocity, byDate)
    TableIO.overwritePartitions(Gold.revisionChurn(ev), wh.churn, byDate)
    TableIO.overwritePartitions(Gold.engagementBands(ev), wh.engagementBands, byDate)
    TableIO.overwritePartitions(Gold.dropoffRate(ev), wh.dropoff, byDate)
    TableIO.write(Gold.stageBottlenecks(evAll), wh.bottlenecks)
    // engagement prunes to the window, but the as-of release side must see
    // FULL history — an event's release can predate the window by months
    TableIO.overwritePartitions(
      Gold.postReleaseEngagementFrom(ev, evAll), wh.postRelease, byDate)
    ev.unpersist()
  }
}
