package graft.sources

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}
import graft.SparkSpec

/** The `format("graft-table")` BATCH read path: plan-time file skipping via
  * the snapshot FileIndex (the verdict's "plain reads must prune"), with
  * time travel, deletion vectors and column mapping riding the scan. */
class BatchFormatSpec extends SparkSpec {
  import spark.implicits._

  private def grid: org.apache.spark.sql.DataFrame =
    spark.range(0, 256 * 256).select(
      (col("id") % 256).cast("int").as("a"),
      (col("id") / 256).cast("int").as("b"),
      col("id").as("payload"))

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }.head

  test("a plain DataFrame filter prunes files at plan time (read-then-filter idiom)") {
    val path = java.nio.file.Files.createTempDirectory("fmtprune").toString + "/t"
    VersionedTable.write(TableIO.zPlaced(grid, Seq("a", "b"), 8),
      path, statsCols = Seq("a", "b"))
    val pred = col("a").between(10, 20) && col("b").between(200, 210)
    val (kept, skipped) = VersionedTable.pruneInfo(spark, path, pred)
    assert(skipped.nonEmpty && kept.nonEmpty)
    // the format scan's selected files must equal pruneInfo's kept set
    val df = spark.read.format("graft-table").load(path).filter(pred)
    assert(df.collect().length == 11 * 11)
    assert(scanOf(df).metrics("numFiles").value == kept.size,
      "the scan must read exactly the stats-kept files")
    // row-level filters also reach parquet (the scan shows pushed filters)
    assert(scanOf(df).metadata("PushedFilters").contains("GreaterThanOrEqual(a,10)"),
      scanOf(df).metadata("PushedFilters"))
    // the unfiltered scan still reads everything
    val full = spark.read.format("graft-table").load(path)
    assert(full.collect().length == 256 * 256)
    assert(scanOf(full).metrics("numFiles").value == kept.size + skipped.size)
    // and VersionedTable.read — the API every query path uses — routes
    // through the same relation, so read().filter() prunes identically
    // (before this existed, only the readWhere API pruned)
    val via = VersionedTable.read(spark, path).filter(pred)
    assert(via.collect().length == 11 * 11)
    assert(scanOf(via).metrics("numFiles").value == kept.size)
    // readWhere produces the same pruned plan and the same rows
    val rw = VersionedTable.readWhere(spark, path, pred)
    assert(rw.collect().map(_.getLong(2)).sorted.toSeq ==
      via.collect().map(_.getLong(2)).sorted.toSeq)
    assert(scanOf(rw).metrics("numFiles").value == kept.size)
  }

  test("versionAsOf / timestampAsOf options; DV and column mapping ride the scan") {
    val path = java.nio.file.Files.createTempDirectory("fmtopts").toString + "/t"
    VersionedTable.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1), path, Seq("id"))                                        // v1
    VersionedTable.append(Seq((4L, "d")).toDF("id", "v").coalesce(1), path) // v2
    val t2 = System.currentTimeMillis()
    Thread.sleep(5)
    // merge-on-read delete, opted out of auto-purge: marks stay as a DV
    VersionedTable.delete(spark, path, col("id") === 2L, 1.0)     // v3
    val latest = spark.read.format("graft-table").load(path)
    assert(latest.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L),
      "deletion-vector marks must be applied inside the format scan")
    assert(latest.count() == 3L)
    // row-index filtering composes with a data filter on the SAME file
    assert(latest.filter(col("id") <= 2L).select("id").as[Long].collect()
      .toSeq == Seq(1L))
    // time travel: the pre-delete snapshot through options
    assert(spark.read.format("graft-table").option("versionAsOf", "2")
      .load(path).count() == 4L)
    assert(spark.read.format("graft-table").option("timestampAsOf", t2.toString)
      .load(path).count() == 4L)
    // DROP + re-ADD: carried files must serve NULL for the remapped column
    // (fresh physical name), appends after it real values — and the DV
    // marks from v3 must still hold through the DDL commits
    VersionedTable.dropColumns(spark, path, Seq("v"))                       // v4
    VersionedTable.addColumns(spark, path, Seq(StructField("v", StringType))) // v5
    VersionedTable.append(Seq((5L, "E")).toDF("id", "v"), path)             // v6
    val mapped = spark.read.format("graft-table").load(path).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(mapped == Map(1L -> None, 3L -> None, 4L -> None, 5L -> Some("E")),
      s"column mapping must bind physical names inside the format: $mapped")
    // pruning on the format still works through the mapped table's stats
    val one = spark.read.format("graft-table").load(path).filter(col("id") === 5L)
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(scanOf(one).metrics("numFiles").value <
      VersionedTable.filesOf(spark, path,
        VersionedTable.latestVersion(spark, path).get).size,
      "stats pruning must keep working on a column-mapped table")
  }

  test("a manifest-listed file missing on disk fails loudly, never a silent subset") {
    val path = java.nio.file.Files.createTempDirectory("fmtmiss").toString + "/t"
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(2), path, Seq("id"))
    val rel = VersionedTable.filesOf(spark, path,
      VersionedTable.latestVersion(spark, path).get)
    assert(new java.io.File(s"$path/${rel.head}").delete())
    // NOT .count(): a bare count now answers from the manifest without
    // opening any data file (GraftMetadataCount) — use a row-reading action
    val ex = intercept[java.io.FileNotFoundException] {
      spark.read.format("graft-table").load(path).collect()
    }
    assert(ex.getMessage.contains("missing on disk"), ex.getMessage)
  }

  test("DV marks past the broadcast bound: format falls back to the pruned anti-join") {
    spark.conf.set("spark.graft.dv.broadcastMaxRows", "0")
    try {
      val path = java.nio.file.Files.createTempDirectory("fmtdvbig").toString + "/t"
      VersionedTable.write(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
        .toDF("id", "v").repartitionByRange(2, col("id")), path, Seq("id"))
      VersionedTable.delete(spark, path, col("id") === 2L, 1.0)
      val df = spark.read.format("graft-table").load(path)
      assert(df.queryExecution.executedPlan.toString.contains("GraftDvAntiJoin"),
        "over-bound DV tables must take the anti-join relation, not a broadcast map")
      assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
      // the read() API picks the same scalable anti-join and stays correct
      // (it reads ALL live files — plan-time pruning is the format path's)
      assert(VersionedTable.read(spark, path).filter(col("id") === 1L)
        .select("id").as[Long].collect().toSeq == Seq(1L))
      // plan-time pruning survives the fallback: destroy the file the
      // predicate excludes — the pruned query still runs, never opening it
      val (_, skipped) = VersionedTable.pruneInfo(spark, path, col("id") === 1L)
      assert(skipped.nonEmpty)
      skipped.foreach(p => assert(new java.io.File(p.stripPrefix("file:")).delete()))
      assert(spark.read.format("graft-table").load(path)
        .filter(col("id") === 1L).select("id").as[Long].collect().toSeq == Seq(1L))
    } finally spark.conf.unset("spark.graft.dv.broadcastMaxRows")
  }

  test("df.write.format(\"graft-table\"): all four SaveModes land as commits") {
    val path = java.nio.file.Files.createTempDirectory("fmtwrite").toString + "/t"
    Seq((1L, "a")).toDF("id", "v").write.format("graft-table")
      .option("statsCols", "id").save(path)                          // v1 (default mode)
    intercept[IllegalStateException] {
      Seq((1L, "a")).toDF("id", "v").write.format("graft-table").save(path)
    }
    Seq((2L, "b")).toDF("id", "v").write.format("graft-table")
      .mode("append").save(path)                                     // v2
    assert(spark.read.format("graft-table").load(path).count() == 2L)
    Seq((9L, "z")).toDF("id", "v").write.format("graft-table")
      .mode("ignore").save(path)                                     // no-op
    assert(VersionedTable.latestVersion(spark, path).contains(2L))
    Seq((3L, "c")).toDF("id", "v").write.format("graft-table")
      .mode("overwrite").save(path)                                  // v3 snapshot
    assert(spark.read.format("graft-table").load(path)
      .select("v").as[String].collect().toSeq == Seq("c"))
    // a LOGICAL overwrite: prior versions stay time-travelable
    assert(spark.read.format("graft-table").option("versionAsOf", "2")
      .load(path).count() == 2L)
    // statsCols recorded through the writer feed plan-time pruning: the
    // appended files inherit the stats column, so id-pruning has stats
    val (kept, skipped) = VersionedTable.pruneInfo(spark, path,
      col("id") === 3L, asOf = Some(2L))
    assert(kept.size + skipped.size == 2)
  }

  test("concurrent creators: ErrorIfExists / Ignore decide inside the commit loop") {
    val path = java.nio.file.Files.createTempDirectory("fmtrace").toString + "/t"
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, Long]]()
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        val df = Seq((i.toLong, s"w$i")).toDF("id", "v")
        try outcomes.add(Right(
          VersionedTable.writeIfAbsent(df, path, Nil, errorIfExists = true)))
        catch { case e: IllegalStateException => outcomes.add(Left(e.getMessage)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (losers, winners) = outcomes.asScala.toSeq.partition(_.isLeft)
    assert(winners == Seq(Right(1L)) && losers.size == 3,
      s"exactly one creator must win: $outcomes")
    assert(VersionedTable.versions(spark, path) == Seq(1L),
      "losers must never mint a second version")
    // Ignore mode: a no-op returning the winner's version, not an error
    assert(VersionedTable.writeIfAbsent(
      Seq((9L, "z")).toDF("id", "v"), path, Nil, errorIfExists = false) == 1L)
    assert(VersionedTable.versions(spark, path) == Seq(1L))
  }

  test("batch readChangeFeed: table_changes over a version range through the format") {
    val path = java.nio.file.Files.createTempDirectory("fmtcdf").toString + "/t"
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1), path, Seq("id"))                                      // v1
    VersionedTable.upsert(Seq((2L, "B")).toDF("id", "v"), path, Seq("id")) // v2
    VersionedTable.delete(spark, path, col("id") === 1L, 1.0)    // v3
    def feed(from: Long, to: Long) =
      spark.read.format("graft-table").option("readChangeFeed", "true")
        .option("startingVersion", from.toString)
        .option("endingVersion", to.toString).load(path)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sorted.toSeq
    // initial load: snapshot of v1 as inserts
    assert(feed(0, 1) == Seq((1L, "a", "insert"), (2L, "b", "insert")))
    // the MERGE rewrite as a delete+insert pair
    assert(feed(1, 2) == Seq((2L, "B", "insert"), (2L, "b", "delete")))
    // the DV delete, and a cumulative range folding both commits
    assert(feed(2, 3) == Seq((1L, "a", "delete")))
    assert(feed(1, 3) == Seq((1L, "a", "delete"), (2L, "B", "insert"),
      (2L, "b", "delete")))
    // endingVersion defaults to head
    val headFeed = spark.read.format("graft-table")
      .option("readChangeFeed", "true").option("startingVersion", "2")
      .load(path).collect()
    assert(headFeed.length == 1)
    // startingVersion is required for the batch feed
    intercept[IllegalArgumentException] {
      spark.read.format("graft-table").option("readChangeFeed", "true")
        .load(path).collect()
    }
  }

  test("option(\"history\") serves DESCRIBE HISTORY through the format") {
    val path = java.nio.file.Files.createTempDirectory("fmthist").toString + "/t"
    VersionedTable.write(Seq((1L, "a")).toDF("id", "v").coalesce(1), path, Seq("id"))
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v").coalesce(1), path)
    VersionedTable.delete(spark, path, col("id") === 1L, 1.0)
    val hist = spark.read.format("graft-table").option("history", "true").load(path)
    assert(hist.count() == 3L)
    assert(hist.columns.contains("version"))
    assert(hist.select("version").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // agrees with the API it wraps
    assert(hist.collect().map(_.toString).sorted.toSeq ==
      VersionedTable.history(spark, path).collect().map(_.toString).sorted.toSeq)
  }

  test("DV marks collect lazily: schema-only relation uses never scan sidecars") {
    val path = java.nio.file.Files.createTempDirectory("fmtdvlazy").toString + "/t"
    VersionedTable.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1), path, Seq("id"))
    VersionedTable.delete(spark, path, col("id") === 2L, 1.0)
    val before = VersionedTable.dvMarkLoads.get()
    val df = VersionedTable.read(spark, path)
    df.schema // schema-only: what the streaming source does at creation
    assert(VersionedTable.dvMarkLoads.get() == before,
      "relation construction / schema resolution must not collect DV marks")
    assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L),
      "marks must still apply when the plan executes")
    assert(VersionedTable.dvMarkLoads.get() > before)
  }
}
