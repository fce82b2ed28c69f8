package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ANALYZE ... COMPUTE NDV → manifest KMV sketches → CBO-lite broadcast:
  * the static join plan on a FILTERED graft scan flips to broadcast once
  * the sketch proves the filter keeps almost nothing. */
class NdvEstimationSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("ndv").toString + "/t"

  // incompressible-ish payload so parquet size tracks row count
  private def dimDf(n: Int) = (1 to n).map(i =>
    (i.toLong, java.util.UUID.nameUUIDFromBytes(
      BigInt(i).toByteArray).toString * 2)).toDF("id", "payload")

  test("sketch estimate lands within KMV error; merges across files; survives appends") {
    val p = tmp()
    VersionedTable.write(dimDf(6000), p)
    VersionedTable.append(dimDf(6000).withColumn("id", col("id") + 6000L), p)
    VersionedTable.analyzeNdv(spark, p, Seq("id"))
    val est = VersionedTable.ndvFromStats(spark, p, "id").get
    assert(est > 8000L && est < 18000L, s"12000 true NDV, estimated $est")
    // un-analyzed appends leave values uncounted — conservative, not wrong
    assert(VersionedTable.ndvStaleness(spark, p, "id").contains(0.0))
    VersionedTable.append(dimDf(1000).withColumn("id", col("id") + 12000L), p)
    assert(VersionedTable.ndvFromStats(spark, p, "id").contains(est))
    assert(VersionedTable.ndvFromStats(spark, p, "payload").isEmpty,
      "no sketch was requested for payload")
    // staleness = the re-ANALYZE signal: 1000 of 13000 rows uncounted
    val stale = VersionedTable.ndvStaleness(spark, p, "id").get
    assert(math.abs(stale - 1000.0 / 13000.0) < 1e-9, stale.toString)
    assert(VersionedTable.ndvStaleness(spark, p, "payload").isEmpty)
    // re-analyzing folds the appended rows in and resets the signal
    VersionedTable.analyzeNdv(spark, p, Seq("id"))
    assert(VersionedTable.ndvStaleness(spark, p, "id").contains(0.0))
    assert(VersionedTable.ndvFromStats(spark, p, "id").exists(e2 =>
      e2 > 9000L && e2 < 19000L))
  }

  test("a filtered graft join flips to broadcast from sketch-estimated cardinality") {
    val p = tmp()
    VersionedTable.write(dimDf(20000), p)
    // the fact side must itself exceed the threshold, or IT broadcasts
    val fact = spark.range(500000L).select(
      (col("id") % 100).as("id"), col("id").as("x"))
    def planOf(): String = {
      val dim = VersionedTable.read(spark, p).filter(col("id") === 7L)
      fact.join(dim, "id").queryExecution.sparkPlan.toString
    }
    val raw = new java.io.File(p).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    // threshold below the table's real bytes: without a sketch the filter
    // keeps the child's size and the static plan refuses to broadcast
    val threshold = math.max(65536L, raw / 4)
    assert(raw > threshold, s"dim must out-size the threshold (raw=$raw)")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString,
      // the static decision is the point — AQE would mask it at runtime
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      assert(!planOf().contains("BroadcastHashJoin"),
        "without a sketch the filtered dim must not broadcast statically")
      VersionedTable.analyzeNdv(spark, p, Seq("id"))
      assert(planOf().contains("BroadcastHashJoin"),
        s"1/20000 selectivity on ~$raw bytes must clear $threshold")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("selectivity floor bounds the skew exposure: a high floor blocks the flip") {
    val p = tmp()
    VersionedTable.write(dimDf(20000), p)
    VersionedTable.analyzeNdv(spark, p, Seq("id"))
    val fact = spark.range(500000L).select(
      (col("id") % 100).as("id"), col("id").as("x"))
    def planOf(): String = {
      val dim = VersionedTable.read(spark, p).filter(col("id") === 7L)
      fact.join(dim, "id").queryExecution.sparkPlan.toString
    }
    val raw = new java.io.File(p).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> math.max(65536L, raw / 4).toString,
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // default floor 0.001: 1/20000 floors to 1/1000 of raw — still flips
      assert(planOf().contains("BroadcastHashJoin"))
      // a floor of 0.5 models "one value may hold half the rows": the
      // estimate may never shrink below raw/2 > threshold — no flip
      spark.conf.set("spark.graft.ndv.selectivityFloor", "0.5")
      assert(!planOf().contains("BroadcastHashJoin"),
        "the floor must cap how far 1/ndv can shrink a skewed column")
    } finally {
      spark.conf.unset("spark.graft.ndv.selectivityFloor")
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  test("deletion-vector marks disable the estimate (the unsafe-broadcast guard)") {
    val p = tmp()
    VersionedTable.write(dimDf(2000), p, statsCols = Seq("id"))
    VersionedTable.analyzeNdv(spark, p, Seq("id"))
    assert(VersionedTable.ndvFromStats(spark, p, "id").isDefined)
    // a value-skewed DV delete leaves live NDV far below the sketched one;
    // a stale estimate would shrink sizes in the BROADCAST direction
    VersionedTable.delete(spark, p, col("id") > 100L,
      purgeFraction = 1.0)
    assert(VersionedTable.ndvFromStats(spark, p, "id").isEmpty,
      "stale sketches must refuse once marks exist")
  }

  test("the ANALYZE SQL statement commits the sketch version") {
    val p = tmp()
    VersionedTable.write(dimDf(500), p)
    val v = spark.sql(
      s"ANALYZE TABLE graft.`$p` COMPUTE NDV FOR COLUMNS (id)")
      .collect().head.getLong(0)
    assert(v == 2L)
    // k=32 saturates at 500 distinct values — wide 1/sqrt(k) error band
    assert(VersionedTable.ndvFromStats(spark, p, "id").exists(e =>
      e > 200L && e < 1200L))
    // stats-only commit: same files, new version
    assert(VersionedTable.filesOf(spark, p, 1L) ==
      VersionedTable.filesOf(spark, p, 2L))
    // DESCRIBE DETAIL surfaces the analyzed-column roster dedicated (and
    // keeps it out of the generic properties blob)
    val d = spark.sql(s"DESCRIBE DETAIL graft.`$p`").collect().head
    assert(d.getAs[String]("ndv_columns") == "id")
    assert(!d.getAs[String]("properties").contains("ndvCols"))
  }

  test("ANALYZE on a checkpoint-anchored table authors the sketch commit distributed") {
    val p = tmp()
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 8
    try {
      // 12 one-file appends: v10 anchors a parquet checkpoint, v11-v12 are
      // post-anchor delta adds — so the analyze must handle BOTH carried
      // files (executor-side merge) and adds (driver-side, O(delta))
      (1 to 12).foreach(i => VersionedTable.append(
        Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), p, Seq("id")))
      VersionedTable.ckptStatsParses.set(0L)
      VersionedTable.analyzeNdv(spark, p, Seq("id"))
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "anchored ANALYZE must merge sketches on executors, never force " +
          "the full stats map onto the driver")
      // every file counted — carried AND post-anchor: 12 distinct ids,
      // under k → the KMV estimate is exact. The READ side stays
      // distributed too: estimate and staleness answer off the checkpoint
      // without ever forcing the driver-side stats parse.
      assert(VersionedTable.ndvFromStats(spark, p, "id").contains(12L))
      assert(VersionedTable.ndvStaleness(spark, p, "id").contains(0.0))
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "anchored NDV reads must union sketches on executors")
      // prior min/max stats survive the executor-side merge: pruning intact
      val (kept, skipped) = VersionedTable.pruneInfo(spark, p, col("id") === 5)
      assert(kept.size == 1 && skipped.size == 11,
        s"kept=${kept.size} skipped=${skipped.size}")
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("INCREMENTAL re-ANALYZE touches only the files missing a sketch") {
    val p = tmp()
    VersionedTable.write(dimDf(2000).repartition(4), p)
    val (_, first) = VersionedTable.analyzeNdvInfo(spark, p, Seq("id"))
    assert(first.size == 4, s"initial analyze scans every file: $first")
    // fully covered: the incremental re-run scans nothing and commits
    // nothing (same version back)
    val v1 = VersionedTable.latestVersion(spark, p).get
    val (v1b, none) = VersionedTable.analyzeNdvInfo(spark, p, Seq("id"),
      incremental = true)
    assert(v1b == v1 && none.isEmpty,
      s"covered table must be a no-op: v=$v1b scanned=$none")
    // append two files → incremental scans EXACTLY those two
    VersionedTable.append(
      dimDf(1000).withColumn("id", col("id") + 2000L).repartition(2), p)
    val before = VersionedTable.filesOf(spark, p,
      VersionedTable.latestVersion(spark, p).get - 1).toSet
    val (v2, scanned) = VersionedTable.analyzeNdvInfo(spark, p, Seq("id"),
      incremental = true)
    assert(scanned.size == 2 && scanned.forall(fk => !before(fk)),
      s"incremental analyze must scan only the appended files: $scanned")
    assert(v2 == VersionedTable.latestVersion(spark, p).get)
    // the merged estimate counts old and new values alike
    assert(VersionedTable.ndvStaleness(spark, p, "id").contains(0.0))
    assert(VersionedTable.ndvFromStats(spark, p, "id").exists(e =>
      e > 2000L && e < 5000L), "3000 true NDV after the merge")
    // the SQL spelling drives the same path
    VersionedTable.append(
      dimDf(500).withColumn("id", col("id") + 3000L).coalesce(1), p)
    spark.sql(
      s"ANALYZE TABLE graft.`$p` COMPUTE INCREMENTAL NDV FOR COLUMNS (id)")
    assert(VersionedTable.ndvStaleness(spark, p, "id").contains(0.0))
    // a NEW column falls back to a full pass (no file carries its sketch)
    val (_, forPayload) = VersionedTable.analyzeNdvInfo(spark, p,
      Seq("payload"), incremental = true)
    assert(forPayload.size == VersionedTable.filesOf(spark, p,
      VersionedTable.latestVersion(spark, p).get).size,
      "an un-analyzed column needs every file")
  }

  test("ANALYZE records exact sums; SUM(col) answers metadata-only") {
    import org.apache.spark.sql.graft.GraftBatchShim
    val p = tmp()
    val f1 = Seq(
      (1L, java.lang.Long.valueOf(10L), BigDecimal("1.25"), 0.5),
      (2L, null.asInstanceOf[java.lang.Long], BigDecimal("2.75"), 1.5)
    ).toDF("k", "v", "d", "f")
      .select(col("k"), col("v"), col("d").cast("decimal(10,2)"), col("f"))
      .coalesce(1)
    val f2 = Seq((3L, 30L, BigDecimal("3.00"), 2.5)).toDF("k", "v", "d", "f")
      .select(col("k"), col("v").cast("long"),
        col("d").cast("decimal(10,2)"), col("f")).coalesce(1)
    VersionedTable.write(f1, p, statsCols = Seq("k", "v", "d"))
    VersionedTable.append(f2, p, statsCols = Seq("k", "v", "d"))
    VersionedTable.analyzeNdv(spark, p, Seq("v", "d", "f"))
    def q(c: String) = VersionedTable.read(spark, p)
      .agg(sum(col(c)).as("s"), count(lit(1)).as("n"))
    // long and decimal sums collapse to a LocalRelation with exact values
    val qv = q("v")
    assert(GraftBatchShim.scanRootsOf(qv).isEmpty,
      s"SUM(long) must answer from the manifest:\n${qv.queryExecution.optimizedPlan}")
    assert(qv.collect().head.toSeq == Seq(40L, 3L))
    val qd = q("d")
    assert(GraftBatchShim.scanRootsOf(qd).isEmpty)
    assert(qd.collect().head.getDecimal(0) ==
      new java.math.BigDecimal("7.00"))
    // floating sums are never recorded — the query scans and stays right
    val qf = q("f")
    assert(GraftBatchShim.scanRootsOf(qf).nonEmpty,
      "double sums are not order-exact — must scan")
    assert(qf.collect().head.getDouble(0) == 4.5)
    // an un-analyzed append stales the answer (scan) until the
    // incremental re-analyze covers the new file
    VersionedTable.append(
      Seq((4L, 100L, BigDecimal("1.00"), 9.9)).toDF("k", "v", "d", "f")
        .select(col("k"), col("v").cast("long"),
          col("d").cast("decimal(10,2)"), col("f")).coalesce(1), p)
    assert(GraftBatchShim.scanRootsOf(q("v")).nonEmpty,
      "a sum-less new file must decline the metadata answer")
    assert(q("v").collect().head.getLong(0) == 140L)
    val (_, scanned) = VersionedTable.analyzeNdvInfo(spark, p,
      Seq("v", "d", "f"), incremental = true)
    assert(scanned.size == 1, s"only the appended file re-analyzes: $scanned")
    assert(GraftBatchShim.scanRootsOf(q("v")).isEmpty)
    assert(q("v").collect().head.toSeq == Seq(140L, 4L))
    // DV marks could have removed summed rows — decline, stay right
    VersionedTable.delete(spark, p, col("k") === 3L,
      purgeFraction = 1.0)
    assert(GraftBatchShim.scanRootsOf(q("v")).nonEmpty)
    assert(q("v").collect().head.toSeq == Seq(110L, 3L))
    // SUM totality: a table whose column is entirely NULL answers NULL
    // from the manifest (non-null count 0)
    val pn = tmp()
    VersionedTable.write(Seq(1L, 2L).toDF("k")
      .select(col("k"), lit(null).cast("long").as("v")).coalesce(1), pn,
      statsCols = Seq("v"))
    VersionedTable.analyzeNdv(spark, pn, Seq("v"))
    val qn = VersionedTable.read(spark, pn).agg(sum(col("v")).as("s"))
    assert(GraftBatchShim.scanRootsOf(qn).isEmpty)
    assert(qn.collect().head.isNullAt(0))
  }

  test("graft.ndv.autoAnalyze: appends past the staleness fraction re-ANALYZE themselves") {
    val p = tmp()
    VersionedTable.write(dimDf(4000), p)
    VersionedTable.analyzeNdv(spark, p, Seq("id"))
    VersionedTable.setProperties(spark, p,
      Map(VersionedTable.AutoAnalyzeKey -> "0.2"))
    // +10% — under the 20% threshold: the hook must NOT fire (one append
    // commit, staleness stays nonzero)
    val v0 = VersionedTable.latestVersion(spark, p).get
    VersionedTable.append(dimDf(400).withColumn("id", col("id") + 4000L), p)
    assert(VersionedTable.latestVersion(spark, p).contains(v0 + 1),
      "an under-threshold append must not chain a stats commit")
    val stale = VersionedTable.ndvStaleness(spark, p, "id").get
    assert(stale > 0.0 && stale < 0.2, stale.toString)
    // +~35% of the new total — over the threshold: the append CHAINS the
    // ANALYZE commit and the signal resets; the estimate now counts all
    val v1 = VersionedTable.latestVersion(spark, p).get
    VersionedTable.append(dimDf(2400).withColumn("id", col("id") + 4400L), p)
    assert(VersionedTable.latestVersion(spark, p).contains(v1 + 2),
      "an over-threshold append must chain exactly one stats commit")
    assert(VersionedTable.ndvStaleness(spark, p, "id").contains(0.0))
    val est = VersionedTable.ndvFromStats(spark, p, "id").get
    assert(est > 4500L && est < 10000L, s"6800 true NDV, estimated $est")
    // tables that never declared the property keep the manual contract
    val q = tmp()
    VersionedTable.write(dimDf(100), q)
    VersionedTable.analyzeNdv(spark, q, Seq("id"))
    VersionedTable.append(dimDf(100).withColumn("id", col("id") + 100L), q)
    assert(VersionedTable.ndvStaleness(spark, q, "id").exists(_ > 0.0))
  }
}
