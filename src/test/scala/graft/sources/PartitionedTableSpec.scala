package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hive-partitioned layout for graft tables: dir-per-value under each
  * commit's token dir, partition values recorded in paths (not files),
  * DIRECTORY pruning at plan time via the relation's partitionFilters —
  * the date-partition idiom every reference table assumes
  * (reference/pipelines/bronze/ingest_local.py:59, transform_local.py:193). */
class PartitionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-part").toString + "/t"

  /** Execute, then dig the scan out (descending into AQE's wrapper —
    * an aggregate query's final plan hides behind AdaptiveSparkPlanExec). */
  private def scanOf(df: DataFrame): FileSourceScanExec = {
    df.collect()
    def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case s: FileSourceScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          find(q.plan)
      }.flatten
    find(df.queryExecution.executedPlan).head
  }

  private val days = Seq("2026-01-01", "2026-01-02", "2026-01-03")

  private def sample(n: Int = 30): DataFrame =
    spark.range(0, n).toDF("id")
      .withColumn("dt", to_date(element_at(
        typedLit(days), (col("id") % 3 + 1).cast("int"))))
      .withColumn("v", col("id") * 2.0)

  test("partitioned write lays out dir-per-value; read returns the partition column") {
    val p = tmp()
    sample().write.format("graft-table").partitionBy("dt")
      .option("statsCols", "id").save(p)
    // on-disk layout: d-token/dt=YYYY-MM-DD/part-*.parquet
    val rels = VersionedTable.filesOf(spark, p, 1L)
    assert(rels.nonEmpty && rels.forall(_.matches("d-[^/]+/dt=[^/]+/.*\\.parquet")),
      rels.mkString(", "))
    val back = spark.read.format("graft-table").load(p)
    // partition column rides last (dataSchema ++ partitionSchema)
    assert(back.columns.toSeq == Seq("id", "v", "dt"))
    assert(back.count() == 30)
    val expect = sample().select($"id", $"v", $"dt").collect().map(_.toString).toSet
    assert(back.select($"id", $"v", $"dt").collect().map(_.toString).toSet == expect)
  }

  test("a date filter prunes DIRECTORIES at plan time, not just file stats") {
    val p = tmp()
    sample(300).repartition(4).write.format("graft-table").partitionBy("dt").save(p)
    // scanOf executes exactly once: numFiles is a driver metric posted on
    // the FIRST selectedPartitions materialization; a second execution of
    // the same plan resets it to zero
    val all = spark.read.format("graft-table").load(p)
    val total = scanOf(all).metrics("numFiles").value
    assert(total > 3, s"want multiple files per partition, got $total")

    val one = spark.read.format("graft-table").load(p)
      .filter($"dt" === lit(java.sql.Date.valueOf(days.head)))
    val scan = scanOf(one)
    assert(one.count() == 100)
    // the filter arrived as a PARTITION filter (directory dimension), and
    // only the matching partition's files are planned
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(scan.metrics("numFiles").value == total / 3,
      s"expected ${total / 3} of $total files, got ${scan.metrics("numFiles").value}")
    // partition pruning composes with manifest stats pruning on data cols
    val both = spark.read.format("graft-table").load(p)
      .filter($"dt" === lit(java.sql.Date.valueOf(days.head)) && $"id" < 0)
    assert(both.count() == 0)
  }

  test("appends inherit the layout; a conflicting partitionBy is refused") {
    val p = tmp()
    sample().write.format("graft-table").partitionBy("dt").save(p)
    // plain append (no partitionBy declared) inherits dir-per-value
    sample().withColumn("id", $"id" + 100).write.format("graft-table")
      .mode("append").save(p)
    val rels = VersionedTable.filesOf(spark, p, 2L)
    assert(rels.forall(_.contains("/dt=")), rels.mkString(", "))
    assert(spark.read.format("graft-table").load(p).count() == 60)
    val e = intercept[IllegalArgumentException] {
      sample().write.format("graft-table").mode("append")
        .partitionBy("v").save(p)
    }
    assert(e.getMessage.contains("must match the table's layout"), e.getMessage)
  }

  test("change feed and time travel rebuild partition values from paths") {
    val p = tmp()
    sample(9).write.format("graft-table").partitionBy("dt").save(p)
    sample(9).withColumn("id", $"id" + 100).write.format("graft-table")
      .mode("append").save(p)
    // CDF reads ride physRead (not the relation): values must come back
    // real, not null
    val changes = VersionedTable.changes(spark, p, 1L, 2L)
    assert(changes.count() == 9)
    assert(changes.filter($"dt".isNull).count() == 0)
    assert(changes.select("dt").distinct().count() == 3)
    // time travel across an overwrite that RE-partitions
    sample(9).write.format("graft-table").mode("overwrite")
      .partitionBy("v").save(p)
    assert(VersionedTable.filesOf(spark, p, 3L).forall(_.contains("/v=")))
    val v2 = spark.read.format("graft-table").option("versionAsOf", "2").load(p)
    assert(v2.count() == 18 && v2.filter($"dt".isNull).count() == 0)
  }

  test("hive-escaped and null partition values round-trip") {
    val p = tmp()
    Seq((9L, "seed")).toDF("id", "k")
      .write.format("graft-table").partitionBy("k").save(p)
    val df = Seq((1L, "a b"), (2L, "x:y"), (3L, null), (4L, "plus+sign"))
      .toDF("id", "k")
    df.write.format("graft-table").mode("append").save(p)
    val back = spark.read.format("graft-table").load(p).filter($"id" < 9)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a b"), (2L, "x:y"), (3L, null), (4L, "plus+sign")))
    // and through the physRead path too (the appended files, as CDF inserts)
    val cdf = VersionedTable.changes(spark, p, 1L, 2L)
    assert(cdf.select("id", "k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a b"), (2L, "x:y"), (3L, null), (4L, "plus+sign")))
  }

  test("partition DDL guards: partition column cannot drop; ADD COLUMNS keeps it last") {
    val p = tmp()
    sample().write.format("graft-table").partitionBy("dt").save(p)
    val e = intercept[IllegalArgumentException](
      VersionedTable.dropColumns(spark, p, Seq("dt")))
    assert(e.getMessage.contains("partition column"), e.getMessage)
    VersionedTable.addColumns(spark, p,
      Seq(org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)))
    // layout contract: partition column stays LAST so every read path
    // agrees on column order after the DDL
    val cols = spark.read.format("graft-table").load(p).columns.toSeq
    assert(cols == Seq("id", "v", "note", "dt"), cols.mkString(","))
  }

  test("deletion vectors on partitioned tables: merge-on-read, both read paths") {
    val p = tmp()
    sample(90).write.format("graft-table").partitionBy("dt").save(p)
    // partition-scoped mark (predicate on dt) + data-scoped mark (on id),
    // purgeFraction=1.0 keeps the marks live (merge-on-read exercised)
    VersionedTable.delete(spark, p,
      $"dt" === lit(java.sql.Date.valueOf(days.head)) && $"id" < 30,
      purgeFraction = 1.0)
    VersionedTable.delete(spark, p, $"id" >= 80, purgeFraction = 1.0)
    val expected = sample(90)
      .filter(!($"dt" === lit(java.sql.Date.valueOf(days.head)) && $"id" < 30))
      .filter(!($"id" >= 80))
      .select($"id", $"v", $"dt").collect().map(_.toString).toSet
    // format/relation path (row-index filter inside the reader, partition
    // values appended by the scan — the projection must drop the temp
    // row-index column from the right position)
    val viaFormat = spark.read.format("graft-table").load(p)
      .select($"id", $"v", $"dt")
    assert(viaFormat.collect().map(_.toString).toSet == expected)
    assert(viaFormat.filter($"dt".isNull).count() == 0)
    // metadata count subtracts the marks
    assert(spark.read.format("graft-table").load(p).count() == expected.size)
    // physRead path (CDF): the marks surface as row-level deletes with
    // REAL partition values
    val v3 = VersionedTable.latestVersion(spark, p).get
    val cdf = VersionedTable.changes(spark, p, 1L, v3)
    assert(cdf.filter($"_change_type" === "delete").count() == 90 - expected.size)
    assert(cdf.filter($"dt".isNull).count() == 0)
  }

  test("deletion vectors + hive-escaped partition values (exact key lookup)") {
    val p = tmp()
    Seq((1L, "a b"), (2L, "a b"), (3L, "x:y"), (4L, "plain"))
      .toDF("id", "k").write.format("graft-table").partitionBy("k").save(p)
    VersionedTable.delete(spark, p, $"id" === 1, purgeFraction = 1.0)
    val left = spark.read.format("graft-table").load(p)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(left == Set((2L, "a b"), (3L, "x:y"), (4L, "plain")), left.toString)
  }

  test("auto-purge and purgeDeletes rewrite survivors in the partitioned layout") {
    val p = tmp()
    sample(90).write.format("graft-table").partitionBy("dt").save(p)
    // purgeFraction=0.0: every marked file rewrites in the same commit
    VersionedTable.delete(spark, p, $"id" < 30, purgeFraction = 0.0)
    val v2 = VersionedTable.latestVersion(spark, p).get
    assert(VersionedTable.filesOf(spark, p, v2).forall(_.contains("/dt=")))
    val t = spark.read.format("graft-table").load(p)
    assert(t.count() == 60 && t.filter($"dt".isNull).count() == 0)
    // now mark-then-purge explicitly
    VersionedTable.delete(spark, p, $"id" >= 80, purgeFraction = 1.0)
    VersionedTable.purgeDeletes(spark, p)
    val vEnd = VersionedTable.latestVersion(spark, p).get
    assert(VersionedTable.filesOf(spark, p, vEnd).forall(_.contains("/dt=")))
    val t2 = spark.read.format("graft-table").load(p)
    assert(t2.count() == 50 && t2.filter($"dt".isNull).count() == 0)
  }

  test("partition-scoped DELETE carries other partitions' files by reference") {
    val p = tmp()
    sample(300).repartition(4).write.format("graft-table").partitionBy("dt").save(p)
    val before = VersionedTable.filesOf(spark, p, 1L)
    val otherDirs = before.filterNot(_.contains(s"dt=${days.head}")).toSet
    assert(otherDirs.nonEmpty)
    // delete one whole partition: the partition-value pruning pass must
    // select ONLY that dir's files for rewrite — every other partition's
    // file is carried byte-identical (same relative path in the manifest)
    VersionedTable.delete(spark, p,
      $"dt" === lit(java.sql.Date.valueOf(days.head)))
    val after = VersionedTable.filesOf(spark, p, 2L).toSet
    assert(otherDirs.subsetOf(after),
      s"untouched partitions must carry by reference:\n${(otherDirs -- after).mkString("\n")}")
    assert(after.forall(r => !r.contains(s"dt=${days.head}")))
    val left = spark.read.format("graft-table").load(p)
    assert(left.count() == 200)
    assert(left.filter($"dt" === lit(java.sql.Date.valueOf(days.head))).count() == 0)
    // row-scoped delete inside one partition also only rewrites that dir
    VersionedTable.delete(spark, p,
      $"dt" === lit(java.sql.Date.valueOf(days(1))) && $"id" < 10)
    assert(spark.read.format("graft-table").load(p).count() == 200 -
      sample(300).filter($"dt" === lit(java.sql.Date.valueOf(days(1))) && $"id" < 10).count())
  }

  test("MERGE/upsert preserves the partitioned layout, including schema evolution") {
    val p = tmp()
    sample(30).write.format("graft-table").partitionBy("dt").save(p)
    val updates = sample(36).filter($"id" >= 24) // 24..29 update, 30..35 insert
      .withColumn("v", $"v" + 1000.0)
    VersionedTable.upsert(updates, p, Seq("id"))
    val table = spark.read.format("graft-table").load(p)
    assert(table.count() == 36)
    assert(table.filter($"id" >= 24 && $"v" < 1000).count() == 0)
    // every file still lives under a dt dir; values survive the rewrite
    assert(VersionedTable.filesOf(spark, p, 2L).forall(_.contains("/dt=")))
    assert(table.filter($"dt".isNull).count() == 0)
    // evolution: new column lands BEFORE the partition column in the schema
    val evolved = updates.filter($"id" >= 30).withColumn("tag", lit("x"))
    VersionedTable.upsert(evolved, p, Seq("id"), evolveSchema = true)
    val cols = spark.read.format("graft-table").load(p).columns.toSeq
    assert(cols == Seq("id", "v", "tag", "dt"), cols.mkString(","))
    assert(VersionedTable.partitionColsOf(
      VersionedTable.read(spark, p).schema) == Seq("dt"))
  }

  test("OPTIMIZE compact packs per partition directory") {
    val p = tmp()
    // several small appends → many small files per partition
    (0 until 4).foreach { i =>
      sample(30).withColumn("id", $"id" + i * 100)
        .write.format("graft-table").mode(if (i == 0) "overwrite" else "append")
        .partitionBy("dt").save(p)
    }
    val before = VersionedTable.filesOf(spark, p, 4L).size
    VersionedTable.compact(spark, p)
    val afterFiles = VersionedTable.filesOf(spark, p, 5L)
    assert(afterFiles.size < before, s"$before -> ${afterFiles.size}")
    assert(afterFiles.forall(_.contains("/dt=")))
    val table = spark.read.format("graft-table").load(p)
    assert(table.count() == 120)
    assert(table.filter($"dt".isNull).count() == 0)
  }

  test("ZORDER clusters within partitions and preserves the layout") {
    val p = tmp()
    sample(300).repartition(8).write.format("graft-table").partitionBy("dt").save(p)
    VersionedTable.zOrderBy(spark, p, Seq("id", "v"), 16)
    val rels = VersionedTable.filesOf(spark, p, 2L)
    assert(rels.forall(_.contains("/dt=")), rels.mkString(", "))
    val table = spark.read.format("graft-table").load(p)
    assert(table.count() == 300)
    assert(table.filter($"dt".isNull).count() == 0)
    // per-file stats on the z columns are narrow: a selective id band
    // opens a strict subset of the files
    val (kept, skipped) = VersionedTable.pruneInfo(spark, p, $"id" < 20)
    assert(skipped.nonEmpty,
      s"z-clustered partitioned table must prune: kept=${kept.size}")
  }

  test("streaming source on a partitioned table rebuilds partition values") {
    val p = tmp()
    sample(9).write.format("graft-table").partitionBy("dt").save(p)
    val q = spark.readStream.format("graft-table").load(p)
      .writeStream.format("memory").queryName("part_src")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("part_src").count() == 9)
      sample(9).withColumn("id", $"id" + 100).write.format("graft-table")
        .mode("append").save(p)
      q.processAllAvailable()
      val got = spark.table("part_src")
      assert(got.count() == 18)
      // the partition column streams with REAL values, never nulls
      assert(got.filter($"dt".isNull).count() == 0)
      assert(got.select("dt").distinct().count() == 3)
    } finally q.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
  }

  test("metadata COUNT(*) and SQL DDL/queries work on partitioned tables") {
    val p = tmp()
    spark.sql(s"CREATE TABLE graft.`$p` (id BIGINT, v DOUBLE, dt DATE) " +
      "PARTITIONED BY (dt) TBLPROPERTIES ('statsCols'='id')")
    sample(30).select($"id", $"v", $"dt").write.format("graft-table")
      .mode("append").save(p)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$p`").as[Long].head() == 30)
    // partition pruning through the SQL path
    val q = spark.sql(
      s"SELECT sum(v) AS sv FROM graft.`$p` WHERE dt = DATE'${days.head}'")
    assert(scanOf(q).partitionFilters.nonEmpty)
    assert(q.as[Double].head() > 0)
    // streaming sink commits inherit the layout
    assert(VersionedTable.partitionColsOf(
      VersionedTable.read(spark, p).schema) == Seq("dt"))
  }

  test("partition-scoped OPTIMIZE packs only matching dirs; others carry byte-identical") {
    val p = tmp()
    (0 until 4).foreach { i =>
      sample(30).withColumn("id", $"id" + i * 100)
        .write.format("graft-table").mode(if (i == 0) "overwrite" else "append")
        .partitionBy("dt").save(p)
    }
    val expect = spark.read.format("graft-table").load(p)
      .collect().map(_.toString).toSet
    val before = VersionedTable.filesOf(spark, p, 4L)
    val d1 = s"dt=${days.head}"
    VersionedTable.compact(spark, p, 128L * 1024 * 1024,
      Some(to_date(lit(days.head)) === col("dt")))
    val after = VersionedTable.filesOf(spark, p, 5L)
    // in-scope dir packed to fewer files; every other file is the SAME
    // physical path (carried by reference, never rewritten)
    assert(after.count(_.contains(d1)) < before.count(_.contains(d1)),
      s"$d1 not packed: ${before.count(_.contains(d1))} -> ${after.count(_.contains(d1))}")
    assert(after.filterNot(_.contains(d1)).toSet ==
      before.filterNot(_.contains(d1)).toSet, "out-of-scope files rewritten")
    assert(spark.read.format("graft-table").load(p)
      .collect().map(_.toString).toSet == expect)
  }

  test("partition-scoped ZORDER rewrites only matching dirs and keeps the mapping") {
    val p = tmp()
    sample(300).repartition(4).write.format("graft-table").partitionBy("dt")
      .option("statsCols", "id").save(p)
    // column-mapped table: scoped zorder must carry the mapping (unlike the
    // whole-table rewrite, which sheds it)
    VersionedTable.dropColumns(spark, p, Seq("v"))
    VersionedTable.addColumns(spark, p,
      Seq(org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    VersionedTable.append(sample(30).withColumn("id", $"id" + 1000), p)
    val expect = VersionedTable.read(spark, p).collect().map(_.toString).toSet
    val headV = VersionedTable.latestVersion(spark, p).get
    val d1 = s"dt=${days.head}"
    val before = VersionedTable.filesOf(spark, p, headV)
    VersionedTable.zOrderBy(spark, p, Seq("id"), 16,
      Some(col("dt") === to_date(lit(days.head))))
    val after = VersionedTable.filesOf(spark, p, headV + 1)
    assert(after.filterNot(_.contains(d1)).toSet ==
      before.filterNot(_.contains(d1)).toSet, "out-of-scope files rewritten")
    assert(after.filter(_.contains(d1)).toSet != before.filter(_.contains(d1)).toSet)
    assert(VersionedTable.read(spark, p).collect().map(_.toString).toSet == expect)
  }

  test("partition-evolution migration recipe: CTAS into the new layout") {
    // changing an existing table's partition dimension in place is refused
    // (appends must match the layout; carried files keep their dirs). The
    // DOCUMENTED migration path is CREATE TABLE ... PARTITIONED BY +
    // INSERT SELECT into a fresh location — this test is that recipe.
    val p = tmp()
    val p2 = tmp()
    sample(60).write.format("graft-table").option("statsCols", "id").save(p)
    sample(30).withColumn("id", $"id" + 100)
      .write.format("graft-table").mode("append").save(p) // history: v1, v2
    intercept[Exception] { // in-place re-layout refused
      sample(10).write.format("graft-table").mode("append")
        .partitionBy("dt").save(p)
    }
    spark.sql(s"CREATE TABLE graft.`$p2` (id BIGINT, v DOUBLE, dt DATE) " +
      "PARTITIONED BY (dt) TBLPROPERTIES ('statsCols'='id')")
    spark.sql(s"INSERT INTO graft.`$p2` SELECT id, v, dt FROM graft.`$p`")
    // hash identity: the migrated table holds exactly the old rows
    assert(spark.sql(s"SELECT * FROM graft.`$p2`")
      .collect().map(_.toString).toSet ==
      spark.read.format("graft-table").load(p)
        .select($"id", $"v", $"dt").collect().map(_.toString).toSet)
    // the new layout is real: dir-per-value files, directory pruning works
    assert(VersionedTable.filesOf(spark, p2, 2L).forall(_.contains("/dt=")))
    val (_, skipped) = VersionedTable.pruneInfo(spark, p2,
      col("dt") === lit(java.sql.Date.valueOf(days.head)))
    assert(skipped.nonEmpty)
    // history starts fresh (CREATE + INSERT), old table intact at its head
    assert(spark.sql(s"DESCRIBE HISTORY graft.`$p2`")
      .select("version").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(VersionedTable.latestVersion(spark, p).contains(2L))
    assert(VersionedTable.read(spark, p).count() == 90)
  }

  test("scoped maintenance refuses data-column predicates loudly") {
    val p = tmp()
    sample().write.format("graft-table").partitionBy("dt").save(p)
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.compact(spark, p, 128L * 1024 * 1024, Some(col("id") > 5))
    }
    assert(e1.getMessage.contains("partition column"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.zOrderBy(spark, p, Seq("id"), 16, Some(col("v") > 5))
    }
    assert(e2.getMessage.contains("partition column"), e2.getMessage)
  }

  test("generated-column derivation: a ts filter prunes to_date(ts) partition dirs") {
    val p = tmp()
    spark.sql(s"CREATE TABLE graft.`$p` (id BIGINT, ts TIMESTAMP, " +
      "p_date DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
      "PARTITIONED BY (p_date)")
    val rows = (0 until 300).map(i => (i.toLong,
      java.sql.Timestamp.valueOf(f"2026-01-${i % 3 + 1}%02d ${i % 24}%02d:00:00")))
    VersionedTable.append(rows.toDF("id", "ts").repartition(4), p)
    val all = spark.read.format("graft-table").load(p)
    val total = scanOf(all).metrics("numFiles").value
    assert(total > 3, s"want multiple files per partition, got $total")
    // the query filters ONLY on ts — without derivation this scans every
    // partition; the rule turns the ts range into p_date bounds
    val day2 = spark.read.format("graft-table").load(p).filter(
      $"ts" >= lit(java.sql.Timestamp.valueOf("2026-01-02 00:00:00")) &&
      $"ts" <= lit(java.sql.Timestamp.valueOf("2026-01-02 23:59:59")))
    val scan = scanOf(day2)
    assert(day2.count() == 100)
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(scan.metrics("numFiles").value == total / 3,
      s"expected ${total / 3} of $total files, got ${scan.metrics("numFiles").value}")
    // a strict EXCLUSIVE bound at midnight derives the conservative
    // non-strict date bound (distinct ts values share a partition value),
    // keeping the boundary day's dir — 2 of 3 days, never all 3
    val range = spark.read.format("graft-table").load(p).filter(
      $"ts" >= lit(java.sql.Timestamp.valueOf("2026-01-02 00:00:00")) &&
      $"ts" < lit(java.sql.Timestamp.valueOf("2026-01-03 00:00:00")))
    val sc2 = scanOf(range)
    assert(range.count() == 100)
    assert(sc2.metrics("numFiles").value == 2 * total / 3, sc2.toString)
    // equality on ts derives equality on p_date; results stay exact
    val one = spark.read.format("graft-table").load(p).filter(
      $"ts" === lit(java.sql.Timestamp.valueOf("2026-01-01 05:00:00")))
    val sc1 = scanOf(one)
    assert(sc1.metrics("numFiles").value == total / 3, sc1.toString)
    assert(one.count() ==
      rows.count(_._2 == java.sql.Timestamp.valueOf("2026-01-01 05:00:00")))
    // the SQL path derives too
    val viaSql = spark.sql(s"SELECT count(*) FROM graft.`$p` " +
      "WHERE ts >= TIMESTAMP'2026-01-03 00:00:00'")
    assert(viaSql.collect().head.getLong(0) == 100)
  }

  test("generated-column derivation declines non-monotone shapes, results unchanged") {
    val p = tmp()
    // month(ts) is NOT monotone across years — deriving month bounds from
    // a ts range would be wrong; the rule must decline and scan everything
    spark.sql(s"CREATE TABLE graft.`$p` (id BIGINT, ts TIMESTAMP, " +
      "p_m INT GENERATED ALWAYS AS (MONTH(ts))) PARTITIONED BY (p_m)")
    VersionedTable.append(Seq(
      (1L, java.sql.Timestamp.valueOf("2025-02-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2026-01-15 00:00:00")),
      (3L, java.sql.Timestamp.valueOf("2026-02-20 00:00:00")))
      .toDF("id", "ts"), p)
    val allFiles = scanOf(spark.read.format("graft-table").load(p))
      .metrics("numFiles").value
    val q = spark.read.format("graft-table").load(p).filter(
      $"ts" >= lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    val scan = scanOf(q)
    // month-2 dir must NOT be pruned (it holds a 2026 row the filter keeps)
    assert(q.count() == 2)
    assert(scan.partitionFilters.isEmpty, scan.toString)
    assert(scan.metrics("numFiles").value == allFiles, scan.toString)
  }

  test("generated-column derivation: floor-division shard pruning on a bigint key") {
    val p = tmp()
    spark.sql(s"CREATE TABLE graft.`$p` (id BIGINT, v DOUBLE, " +
      "shard BIGINT GENERATED ALWAYS AS (CAST(FLOOR(id / 100) AS BIGINT))) " +
      "PARTITIONED BY (shard)")
    VersionedTable.append(
      spark.range(0, 300).toDF("id").withColumn("v", col("id") * 1.5), p)
    val q = spark.read.format("graft-table").load(p)
      .filter($"id" >= 100L && $"id" < 200L)
    val scan = scanOf(q)
    assert(q.count() == 100)
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    val allFiles = scanOf(spark.read.format("graft-table").load(p))
      .metrics("numFiles").value
    assert(scan.metrics("numFiles").value < allFiles, scan.toString)
  }
}
