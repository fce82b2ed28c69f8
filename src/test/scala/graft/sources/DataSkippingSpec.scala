package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def grid: org.apache.spark.sql.DataFrame =
    spark.range(0, 256 * 256).select(
      (col("id") % 256).cast("int").as("a"),
      (col("id") / 256).cast("int").as("b"),
      col("id").as("payload"))

  test("selective predicate on z-ordered data reads strictly fewer files, same result") {
    val path = java.nio.file.Files.createTempDirectory("skip").toString + "/t"
    // z-placed stage: every file covers one aligned z-tile, so its (a, b)
    // min/max are narrow; stats on the clustering columns go in the manifest
    VersionedTable.write(TableIO.zPlaced(grid, Seq("a", "b"), 8),
      path, statsCols = Seq("a", "b"))
    val pred = col("a").between(10, 20) && col("b").between(200, 210)
    val (kept, skipped) = VersionedTable.pruneInfo(spark, path, pred)
    assert(skipped.nonEmpty, "a selective box predicate must skip files on z-ordered data")
    assert(kept.nonEmpty)
    assert(kept.size < kept.size + skipped.size)
    // pruning must be invisible in the result: same rows as the unpruned scan
    val viaSkip = VersionedTable.readWhere(spark, path, pred)
      .select("a", "b", "payload").collect().map(_.toSeq).toSet
    val full = VersionedTable.read(spark, path).filter(pred)
      .select("a", "b", "payload").collect().map(_.toSeq).toSet
    assert(viaSkip == full)
    assert(full.size == 11 * 11)
    // z-order means BOTH dimensions prune: a one-sided range also skips
    val (k2, s2) = VersionedTable.pruneInfo(spark, path, col("a") === 7)
    assert(s2.nonEmpty, "equality on one z-dimension must also skip files")
    assert(k2.size < k2.size + s2.size)
  }

  test("pruning is conservative: unsupported predicates and missing stats keep all files") {
    val path = java.nio.file.Files.createTempDirectory("skip").toString + "/t"
    VersionedTable.write(grid.repartition(8), path, statsCols = Seq("a"))
    val total = VersionedTable.pruneInfo(spark, path, lit(true))._1.size
    // no stats for `b` → nothing skippable on it
    val (kb, sb) = VersionedTable.pruneInfo(spark, path, col("b") === 3)
    assert(kb.size == total && sb.isEmpty)
    // unsupported shape (expression of the column) keeps everything
    val (ke, se) = VersionedTable.pruneInfo(spark, path, col("a") + 1 === 3)
    assert(ke.size == total && se.isEmpty)
    // random layout: `a` spans the full range in every file → selective
    // predicate skips nothing, result still correct
    val (kr, sr) = VersionedTable.pruneInfo(spark, path, col("a") === 7)
    assert(kr.size == total && sr.isEmpty)
    assert(VersionedTable.readWhere(spark, path, col("a") === 7).count() == 256)
  }

  test("string and null bounds prune correctly") {
    val path = java.nio.file.Files.createTempDirectory("skip").toString + "/t"
    // two files with disjoint string ranges + one all-null file — one group
    // per partition, so the writer emits exactly one file per group
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val groups: Seq[Seq[Row]] = Seq(
      Seq(Row("apple", 1), Row("banana", 2)),
      Seq(Row("melon", 3), Row("peach", 4)),
      Seq(Row(null, 5)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(groups, groups.size).flatMap(identity),
      StructType(Seq(StructField("s", StringType), StructField("x", IntegerType))))
    VersionedTable.write(df, path, statsCols = Seq("s"))
    def filesFor(p: org.apache.spark.sql.Column) =
      VersionedTable.pruneInfo(spark, path, p)
    // 'cherry' ∈ (banana, melon): both data files could hold it? no —
    // lo's max is 'banana' < 'cherry', hi's min is 'melon' > 'cherry';
    // the all-null file can't match an equality either → everything skipped
    val (k1, s1) = filesFor(col("s") === "cherry")
    assert(k1.isEmpty && s1.size == 3, s"$k1 / $s1")
    assert(VersionedTable.readWhere(spark, path, col("s") === "cherry").count() == 0)
    // 'apple' matches only the lo file
    val (k2, s2) = filesFor(col("s") === "apple")
    assert(k2.size == 1 && s2.size == 2)
    assert(VersionedTable.readWhere(spark, path, col("s") === "apple").count() == 1)
    // IS NULL keeps only files that have nulls
    val (k3, _) = filesFor(col("s").isNull)
    assert(k3.size == 1)
    assert(VersionedTable.readWhere(spark, path, col("s").isNull)
      .select("x").as[Int].collect().toSeq == Seq(5))
    // IS NOT NULL skips the all-null file
    val (k4, s4) = filesFor(col("s").isNotNull)
    assert(k4.size == 2 && s4.size == 1)
    // OR prunes only when both branches prune the file
    val (k5, _) = filesFor(col("s") === "apple" || col("s") === "peach")
    assert(k5.size == 2)
  }

  test("decimal stats prune with SCALED values across all three physical encodings") {
    // Spark writes decimal(p<=9) as INT32, (p<=18) as INT64, wider as
    // fixed-len binary — all carrying the UNSCALED integer in footer stats
    // (12.25 stored as 1225). Un-rescaled stats silently skipped files that
    // DO contain matching rows (ADVICE r4, high).
    for (typ <- Seq("decimal(9,2)", "decimal(18,2)", "decimal(38,6)")) {
      val path = java.nio.file.Files.createTempDirectory("skipdec").toString + "/t"
      // file A covers [10.25, 19.25], file B covers [1000.25, 1009.25]
      val df = spark.range(0, 20).select(
        when(col("id") < 10, col("id") + lit(10.25))
          .otherwise(col("id") - 10 + lit(1000.25)).cast(typ).as("d"),
        col("id").cast("int").as("x"))
      VersionedTable.write(df.repartitionByRange(2, col("d")), path, Seq("d"))
      // 12.25 is in file A: before the rescale fix the recorded min (1025)
      // exceeded the literal and BOTH files were skipped → silent wrong 0
      val eq = col("d") === lit(new java.math.BigDecimal("12.25"))
      val (k1, s1) = VersionedTable.pruneInfo(spark, path, eq)
      assert(k1.size == 1 && s1.size == 1, s"$typ: $k1 / $s1")
      assert(VersionedTable.readWhere(spark, path, eq).count() == 1, typ)
      // a value in neither file's range skips both
      val (k2, s2) = VersionedTable.pruneInfo(
        spark, path, col("d") === lit(new java.math.BigDecimal("500.00")))
      assert(k2.isEmpty && s2.size == 2, typ)
      // range predicate keeps only file A
      val lt = col("d") < lit(new java.math.BigDecimal("100"))
      val (k3, s3) = VersionedTable.pruneInfo(spark, path, lt)
      assert(k3.size == 1 && s3.size == 1, typ)
      assert(VersionedTable.readWhere(spark, path, lt).count() == 10, typ)
    }
  }

  test("non-finite double stats disable pruning instead of failing the commit") {
    val path = java.nio.file.Files.createTempDirectory("skipinf").toString + "/t"
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val groups: Seq[Seq[Row]] = Seq(
      Seq(Row(1.0, 1), Row(Double.PositiveInfinity, 2)), // parquet stats max=+Inf
      Seq(Row(5.0, 3), Row(6.0, 4)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(groups, groups.size).flatMap(identity),
      StructType(Seq(StructField("v", DoubleType), StructField("x", IntegerType))))
    // before the isFinite guard this commit crashed in the executor
    // (BigDecimal(Infinity) → NumberFormatException)
    VersionedTable.write(df, path, Seq("v"))
    // the infinite file has no usable bounds → always kept (conservative)
    val (k1, s1) = VersionedTable.pruneInfo(spark, path, col("v") === 100.0)
    assert(k1.size == 1 && s1.size == 1, s"$k1 / $s1")
    assert(VersionedTable.readWhere(spark, path, col("v") === 100.0).count() == 0)
    val (k2, _) = VersionedTable.pruneInfo(spark, path, col("v") === 5.0)
    assert(k2.size == 2)
    assert(VersionedTable.readWhere(spark, path, col("v") === 5.0).count() == 1)
  }

  test("literal-on-the-left comparisons prune like attribute-first spellings") {
    val path = java.nio.file.Files.createTempDirectory("skiprev").toString + "/t"
    VersionedTable.write(TableIO.zPlaced(grid, Seq("a", "b"), 8), path, Seq("a", "b"))
    val attrFirst = VersionedTable.pruneInfo(spark, path, col("a") < 16)
    val litFirst = VersionedTable.pruneInfo(spark, path, lit(16) > col("a"))
    assert(attrFirst._2.nonEmpty)
    assert(litFirst._1.toSet == attrFirst._1.toSet && litFirst._2.toSet == attrFirst._2.toSet)
  }

  test("date and timestamp stats prune (footer day/micros encodings match literals)") {
    // the commonest clustering columns at scale: DATE rides parquet INT32
    // days, TIMESTAMP rides INT64 micros — both must land in the same
    // comparison domain as their analyzed literals
    val path = java.nio.file.Files.createTempDirectory("skipts").toString + "/t"
    val df = spark.range(0, 200).select(
      expr("date_add(date'2026-01-01', cast(id / 10 as int))").as("d"),
      (lit("2026-01-01 00:00:00").cast("timestamp") +
        make_dt_interval(lit(0), col("id").cast("int") / 10)).as("ts"),
      col("id"))
    // Spark's DEFAULT parquet timestamp encoding is INT96, which carries NO
    // usable chunk statistics — graft's stage() therefore pins every data
    // write to annotated INT64 MICROS regardless of the session conf, so
    // timestamp columns always carry skippable bounds (and the session
    // setting is untouched afterwards).
    // (stage() sets-and-restores the session's outputTimestampType around
    // the write; asserting the restored value here would race straggling
    // background writes in the shared test session, so the MICROS stats
    // below are the observable contract instead)
    val tsKey = "spark.sql.parquet.outputTimestampType"
    VersionedTable.write(df.repartitionByRange(4, col("id")), path, Seq("d", "ts"))
    // date equality: only the file whose day range admits it survives
    val dEq = col("d") === lit(java.sql.Date.valueOf("2026-01-15"))
    val (kd, sd) = VersionedTable.pruneInfo(spark, path, dEq)
    assert(sd.nonEmpty && kd.size < kd.size + sd.size, s"$kd / $sd")
    assert(VersionedTable.readWhere(spark, path, dEq).count() == 10)
    // timestamp range: late cutoff prunes the early files
    val tsGe = col("ts") >= lit(java.sql.Timestamp.valueOf("2026-01-01 15:00:00"))
    val (kt, st) = VersionedTable.pruneInfo(spark, path, tsGe)
    assert(st.nonEmpty, s"$kt / $st")
    assert(VersionedTable.readWhere(spark, path, tsGe).count() ==
      df.filter(tsGe).count())
    // out-of-domain values prune everything
    val (k2, s2) = VersionedTable.pruneInfo(spark, path,
      col("d") === lit(java.sql.Date.valueOf("2030-01-01")))
    assert(k2.isEmpty && s2.size == 4)
    // INT96 still arrives via CONVERT of foreign parquet (graft itself
    // never writes it): no usable bounds → conservative keep-all. Pin the
    // encoding explicitly — a straggling background write elsewhere in the
    // shared session could otherwise race the default
    val p96 = java.nio.file.Files.createTempDirectory("skipts96").toString + "/t"
    val saved96 = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "INT96")
    // hive-style dir so root schema inference (and thus CONVERT) works
    try df.repartitionByRange(4, col("id")).write.parquet(p96 + "/b=0")
    finally saved96 match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    VersionedTable.convertToGraft(spark, p96, statsCols = Seq("ts"))
    val tsGe96 = col("ts") >= lit(java.sql.Timestamp.valueOf("2026-01-01 15:00:00"))
    val (k96, s96) = VersionedTable.pruneInfo(spark, p96, tsGe96)
    assert(k96.size == 4 && s96.isEmpty, "INT96 stats must disable pruning, not break it")
    assert(VersionedTable.readWhere(spark, p96, tsGe96).count() == df.filter(tsGe96).count())
  }

  test("TIMESTAMP_MILLIS footer stats rescale to the micros literal domain") {
    // TIMESTAMP_MILLIS footers (CONVERTed foreign parquet — graft's own
    // writes are pinned to MICROS) record INT64 millis while analyzed
    // literals are Spark-internal MICROS; without the unit rescale
    // `ts >= X` compared max-in-millis against a micros literal and
    // pruned EVERY file — files with matching rows included
    val path = java.nio.file.Files.createTempDirectory("skiptsms").toString + "/t"
    val df = spark.range(0, 200).select(
      (lit("2026-01-01 00:00:00").cast("timestamp") +
        make_dt_interval(lit(0), col("id").cast("int") / 10)).as("ts"),
      col("id"))
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val savedTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MILLIS")
    try df.repartitionByRange(4, col("id")).write.parquet(path + "/b=0")
    finally savedTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    VersionedTable.convertToGraft(spark, path, statsCols = Seq("ts"))
    val tsGe = col("ts") >= lit(java.sql.Timestamp.valueOf("2026-01-01 15:00:00"))
    val (kt, st) = VersionedTable.pruneInfo(spark, path, tsGe)
    assert(kt.nonEmpty, "millis stats must not prune files that hold matching rows")
    assert(st.nonEmpty, "millis stats, rescaled, must still prune the early files")
    assert(VersionedTable.readWhere(spark, path, tsGe).count() == df.filter(tsGe).count())
    // equality + out-of-domain: everything provably dead is still prunable
    val (k2, s2) = VersionedTable.pruneInfo(spark, path,
      col("ts") === lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
    assert(k2.isEmpty && s2.size == 4)
    // and the file-selecting write verbs that reuse this resolution stay
    // exact: a delete keyed on the millis-encoded column removes exactly its
    // rows (marked or rewritten, per file)
    VersionedTable.delete(spark, path,
      col("ts") < lit(java.sql.Timestamp.valueOf("2026-01-01 01:00:00")))
    assert(VersionedTable.read(spark, path).count() ==
      df.filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2026-01-01 01:00:00"))).count())
  }

  test("over-long string bounds truncate to 32 chars; pruning stays sound; MIN/MAX refuses") {
    val path = java.nio.file.Files.createTempDirectory("strtrunc").toString + "/t"
    // two files with disjoint >1 KB string ranges (first-32-char prefixes
    // differ, so truncated bounds still separate them)
    val pad = "x" * 2000
    val dfA = Seq(s"aaa-doc-$pad-1", s"abb-doc-$pad-2").toDF("doc").coalesce(1)
    val dfB = Seq(s"mmm-doc-$pad-1", s"mzz-doc-$pad-2").toDF("doc").coalesce(1)
    VersionedTable.write(dfA, path, statsCols = Seq("doc"))
    VersionedTable.append(dfB, path, statsCols = Seq("doc"))
    // the manifest must hold BOUNDED bounds, not two full documents per file
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = new org.apache.hadoop.fs.Path(root, "_graft_log")
    f.listStatus(logDir).filter(_.getPath.getName.endsWith(".json")).foreach { st =>
      assert(st.getLen < 4096,
        s"${st.getPath.getName}: manifest must stay small under >1KB string stats (${st.getLen}B)")
    }
    // truncated bounds remain OUTER: an equality on a real value keeps its
    // file and returns it; the other file (disjoint prefix) is skipped
    val target = s"mmm-doc-$pad-1"
    val (kept, skipped) = VersionedTable.pruneInfo(spark, path, col("doc") === target)
    assert(kept.size == 1 && skipped.size == 1,
      s"disjoint truncated prefixes must still prune: kept=${kept.size} skipped=${skipped.size}")
    val got = VersionedTable.readWhere(spark, path, col("doc") === target).collect()
    assert(got.length == 1 && got.head.getString(0) == target, "no false skip")
    // a probe just ABOVE a truncated max must be conservative, never lie:
    // full-table bounds admit it nowhere only if truncation stayed outer
    assert(VersionedTable.readWhere(spark, path, col("doc") > s"mzz-doc-$pad-2")
      .count() == 0L)
    // metadata-only MIN/MAX refuses truncated bounds (true extremum may lie
    // strictly inside them)...
    assert(VersionedTable.minMaxFromStats(spark, path, "doc").isEmpty,
      "minMaxFromStats must refuse truncated string bounds")
    // ...but stays exact for short strings
    val p2 = java.nio.file.Files.createTempDirectory("strshort").toString + "/t"
    VersionedTable.write(Seq("alpha", "omega").toDF("doc"), p2, statsCols = Seq("doc"))
    assert(VersionedTable.minMaxFromStats(spark, p2, "doc").contains(("alpha", "omega")))
  }

  test("q_skipping_scan (the DECLARED query) skips files and matches the raw scan") {
    import graft.queries.SkippingQueries
    val dir = sf0001
    val path = SkippingQueries.ensureTable(spark, dir)
    // the exact predicate the declared query reads through must skip >0
    // files on the clustered copy — this pins the oracle-gated query to a
    // pruned scan, not an accidental full read
    val (kept, skipped) = VersionedTable.pruneInfo(spark, path, SkippingQueries.predicate)
    assert(skipped.nonEmpty, "declared query must actually prune files")
    assert(kept.nonEmpty && kept.size < kept.size + skipped.size)
    // and the query's own result equals the same aggregate over the raw table
    val got = SkippingQueries.skippingScan(spark, dir)
    val raw = graft.sources.Tables.events(spark, dir)
      .filter(SkippingQueries.predicate)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    assert(got.exceptAll(raw).count() == 0 && raw.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("time travel reads prune with the stats of THEIR version") {
    val path = java.nio.file.Files.createTempDirectory("skip").toString + "/t"
    VersionedTable.write(
      Seq((1, "one"), (2, "two")).toDF("k", "v").coalesce(1), path, Seq("k"))
    VersionedTable.write(
      Seq((100, "hundred")).toDF("k", "v").coalesce(1), path, Seq("k"))
    // v2 has no k<=2 rows: fully pruned; v1 keeps its file
    val (kNew, sNew) = VersionedTable.pruneInfo(spark, path, col("k") === 1)
    assert(kNew.isEmpty && sNew.size == 1)
    val (kOld, _) = VersionedTable.pruneInfo(spark, path, col("k") === 1, asOf = Some(1L))
    assert(kOld.size == 1)
    assert(VersionedTable.readWhere(spark, path, col("k") === 1, Some(1L)).count() == 1)
  }

  test("COUNT(col) answers metadata-only from footer null counts; DV marks decline") {
    import org.apache.spark.sql.graft.GraftBatchShim
    val path = java.nio.file.Files.createTempDirectory("metacnt").toString + "/t"
    // three files: mixed nulls, no nulls, ALL nulls — per-file counts
    // 2 + 3 + 0 over 3 + 3 + 2 rows
    val mixed = Seq((1L, java.lang.Long.valueOf(10L)),
      (2L, null.asInstanceOf[java.lang.Long]),
      (3L, java.lang.Long.valueOf(30L))).toDF("k", "c").coalesce(1)
    val full = Seq((4L, 40L), (5L, 50L), (6L, 60L)).toDF("k", "c")
      .select(col("k"), col("c").cast("long")).coalesce(1)
    val nulls = Seq(7L, 8L).toDF("k")
      .select(col("k"), lit(null).cast("long").as("c")).coalesce(1)
    VersionedTable.write(mixed, path, statsCols = Seq("c"))
    VersionedTable.append(full, path, statsCols = Seq("c"))
    VersionedTable.append(nulls, path, statsCols = Seq("c"))
    def q() = VersionedTable.read(spark, path)
      .agg(count(lit(1)).as("n"), count(col("c")).as("nn"))
    val out = q()
    assert(GraftBatchShim.scanRootsOf(out).isEmpty,
      s"COUNT(col) must collapse to a LocalRelation:\n" +
        s"${out.queryExecution.optimizedPlan}")
    assert(out.collect().head.toSeq == Seq(8L, 5L))
    // multi-arg COUNT(a, b) cannot compose from per-column counts — scans
    val multi = VersionedTable.read(spark, path)
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.count_if(
          col("k").isNotNull && col("c").isNotNull).as("nn2"))
    assert(multi.collect().head.getLong(1) == 5L)
    // a DV mark makes the marked file's null split unknowable — the whole
    // aggregate scans (and stays right) rather than guessing
    VersionedTable.delete(spark, path, col("k") === 2L,
      purgeFraction = 1.0)
    val afterDv = q()
    assert(GraftBatchShim.scanRootsOf(afterDv).nonEmpty,
      "DV-marked files must decline the metadata COUNT(col)")
    assert(afterDv.collect().head.toSeq == Seq(7L, 5L))
  }
}
