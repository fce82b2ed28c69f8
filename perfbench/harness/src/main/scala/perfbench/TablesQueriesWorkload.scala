package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.{MaterializedView, VersionedTable}

/** Writes to a versioned table, then queries, in one session with
  * `graft.Bench`'s settings (Graft extensions and catalog).
  *
  * A pass builds a `VersionedTable` and its `MaterializedView` from the
  * seeded lineitem table (untimed), then times a fixed sequence of ops on
  * them: order-key slices appended, corrected rows upserted, ranges deleted
  * through deletion vectors, the view refreshed after appends, one
  * compaction, one vacuum, then a selective `readWhere` and a full read;
  * then one query of each `SparkEntry.queries` family, each with
  * `clearCache` after it. The seed picks the slices and
  * ranges; the sequence is the same for every seed.
  *
  * The first pass warms the JVM up and counts as set-up: it writes each
  * query's result as parquet for the DuckDB oracle check; the measured
  * passes run the same plans into the no-op sink. The full 174-query suite
  * does not fit a run: one cold pass takes close to three minutes on four
  * cores. */
object TablesQueriesWorkload extends Workload {
  val Keys = Seq("l_orderkey", "l_linenumber")
  val MvGroups = Seq("l_returnflag", "l_linestatus")
  val MvSums = Seq("l_quantity", "l_extendedprice")

  /** family -> query. */
  val Suite: Seq[(String, String)] = Seq(
    "event_kpis" -> "q_velocity", "tpch" -> "q1_agg", "text" -> "q_tfidf",
    "similarity" -> "q_cosine_topk", "neardup" -> "q_minhash_lsh",
    "multimodal" -> "q_multimodal_features", "ext" -> "q_tpch_q5",
    "skipping" -> "q_skipping_scan", "misc" -> "q_asof_join")

  /** `graft.Bench`'s session settings. */
  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.storage.memoryMapThreshold", "2g")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One op of the write mix, applied both to the table and to a plain
    * DataFrame model of it. */
  sealed trait Op { def kind: String }
  final case class Append(rows: DataFrame) extends Op { val kind = "vt.append" }
  final case class Upsert(rows: DataFrame) extends Op { val kind = "vt.upsert" }
  final case class DeleteDv(pred: Column) extends Op { val kind = "vt.delete_dv" }
  case object Refresh extends Op { val kind = "mv.refresh" }
  case object Compact extends Op { val kind = "vt.compact" }
  case object Vacuum extends Op { val kind = "vt.vacuum" }

  def run(run: Run, seed: Long): Outcome = {
    val spark = run.spark
    val queries = SparkEntry.queries
    // set-up: the seeded tables come generated; every pass then builds the
    // program's own fixtures — the versioned lineitem table and its view —
    // afresh
    val data = run.opts("tables")
    val base = spark.read.parquet(s"$data/lineitem.parquet")
    val rows = Map("lineitem" -> base.count(),
      "orders" -> spark.read.parquet(s"$data/orders.parquet").count())
    val maxKey = rows("orders")
    val bytesPerRow = new File(s"$data/lineitem.parquet").length().toDouble / rows("lineitem")
    val outDir = run.dir("query_out").getPath
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      Json(Suite.map(_._2).map(q => q -> SparkEntry.oracleSql(q)).toMap))

    val ops = mix(base, seed, maxKey)
    val sel = col("l_orderkey").between(maxKey / 3, maxKey / 3 + maxKey / 50)
    val fixtureS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: (File, File, Option[(Long, Double)], Option[(Long, Double)], Long) = null
    val warmUpS = run.passes(warmUps = 1, minPasses = 1, maxPasses = 8) { i =>
      Option(last).foreach { l => ProcIo.delete(l._1); ProcIo.delete(l._2) }
      val vt = new File(run.work, s"lineitem_vt_$i")
      val mv = new File(run.work, s"lineitem_mv_$i")
      val t0 = System.nanoTime()
      run.untimed("VersionedTable.write+MaterializedView.create", "setup") {
        VersionedTable.write(base, vt.getPath, Seq("l_orderkey"))
        MaterializedView.create(spark, vt.getPath, mv.getPath, MvGroups, MvSums)
      }
      fixtureS += (System.nanoTime() - t0) / 1e9
      val v0 = VersionedTable.latestVersion(spark, vt.getPath).getOrElse(-1L)
      for (op <- ops) run.timed(op.kind, op.kind, op.kind)(apply(spark, op, vt.getPath, mv.getPath))
      val selective = run.timed("vt.read", "VersionedTable.readWhere", "vt.read")(
        checksum(VersionedTable.readWhere(spark, vt.getPath, sel)))
      val full = run.timed("vt.read", "VersionedTable.read", "vt.read")(
        checksum(VersionedTable.read(spark, vt.getPath)))
      // the warm-up writes each result for the oracle check; timed passes
      // run the same plans into the no-op sink
      for ((family, q) <- Suite) run.timed("query", q, s"queries.$family") {
        val df = queries(q)(spark, data)
        try {
          if (i == 0) df.write.mode("overwrite").parquet(s"$outDir/$q")
          else df.write.format("noop").mode("overwrite").save()
        } finally spark.catalog.clearCache()
      }
      last = (vt, mv, selective, full, v0)
    }
    val (vt, mv, selective, full, v0) = last

    // correctness of the last pass: the table, both reads and the view
    // equal a plain-DataFrame model of the same ops
    var model = base
    var mvModel = base
    for (op <- ops) {
      model = op match {
        case Append(r) => model.unionByName(r)
        case Upsert(r) => model.join(r.select(Keys.map(col): _*), Keys, "left_anti").unionByName(r)
        case DeleteDv(p) => model.filter(!p)
        case _ => model
      }
      if (op == Refresh) mvModel = model
    }
    val table = VersionedTable.read(spark, vt.getPath)
    run.check("versioned table equals model")(PipelineWorkload.same(table, model))
    run.check("readWhere equals model")(selective.contains(checksum(model.filter(sel))))
    run.check("read equals model")(full.contains(checksum(model)))
    run.check("materialized view equals model")(PipelineWorkload.same(
      VersionedTable.read(spark, mv.getPath).select(
        (MvGroups.map(col) :+ col(MaterializedView.CountCol)) ++
          MvSums.map(c => col(MaterializedView.sumColName(c))): _*),
      mvModel.groupBy(MvGroups.map(col): _*).agg(count(lit(1)).as(MaterializedView.CountCol),
        MvSums.map(c => sum(col(c)).as(MaterializedView.sumColName(c))): _*), digits = 2))

    val newInput = ops.collect { case Append(r) => r.count(); case Upsert(r) => r.count() }.sum
    def isQuery(s: Sample) = s.kind == "query"
    def isRead(s: Sample) = s.kind == "vt.read"
    val timed = run.timedSamples
    val writes = timed.filterNot(isQuery)
    val qs = timed.filter(isQuery)
    Outcome(
      setupSeconds = run.opts("tables-seconds").toDouble + warmUpS,
      inputBytes = (rows("lineitem") + newInput) * bytesPerRow,
      newInputBytes = newInput * bytesPerRow,
      writtenBytes = run.perPass(s => !isQuery(s) && !isRead(s))(_.written),
      storedBytes = ProcIo.bytesUnder(vt) + ProcIo.bytesUnder(mv),
      inputs = Map("rows.lineitem" -> rows("lineitem"), "rows.orders" -> rows("orders"),
        "queries" -> Suite.size, "write_ops" -> (ops.size + 2), "new_rows" -> newInput),
      report = latency("op", writes.map(_.seconds)) ++ latency("query", qs.map(_.seconds)) ++ Map(
        "write_mix_s" -> (run.perPass(s => !isQuery(s) && !isRead(s))(_.seconds), "s"),
        "read_s" -> (run.perPass(isRead)(_.seconds), "s"),
        "query_s" -> (run.perPass(isQuery)(_.seconds), "s")),
      detail = Map("data_dir" -> data, "query_dir" -> outDir, "fixture_s" -> fixtureS.toSeq,
        "warm_up_s" -> warmUpS),
      layers = Map(
        "vt.commits" -> (VersionedTable.latestVersion(spark, vt.getPath).getOrElse(-1L) - v0).toDouble,
        "vt.files_live" -> table.inputFiles.length.toDouble,
        "vt.log_bytes" -> ProcIo.bytesUnder(new File(vt, "_graft_log"))))
  }

  /** Median and tail latency (the highest percentile with ten samples
    * beyond it) of one op kind, with the percentile and sample count. */
  private def latency(kind: String, xs: Seq[Double]): Map[String, (Any, String)] = {
    val t = Stats.tail(xs)
    Map(s"${kind}_p50_s" -> (Stats.median(xs), "s"), s"${kind}_tail_s" -> (t.map(_._2), "s"),
      s"${kind}_tail_pct" -> (t.map(_._1), "%"), s"${kind}_n" -> (xs.size, "count"))
  }

  /** The write mix: a fixed op sequence whose slices and ranges the seed picks. */
  def mix(base: DataFrame, seed: Long, maxKey: Long): Seq[Op] = {
    val r = new java.util.Random(seed)
    def slice(width: Long): (Long, Long) = {
      val lo = (r.nextDouble() * (maxKey - width)).toLong
      (lo, lo + width)
    }
    val k = col("l_orderkey")
    def append(i: Int): Op = {
      val (lo, hi) = slice(maxKey / 40)
      Append(base.filter(k.between(lo, hi - 1)).withColumn("l_orderkey", k + maxKey * i))
    }
    def upsert(): Op = {
      val (lo, hi) = slice(maxKey / 60)
      Upsert(base.filter(k.between(lo, hi - 1))
        .withColumn("l_quantity", col("l_quantity") + 1)
        .withColumn("l_extendedprice", round(col("l_extendedprice") * 1.01, 2)))
    }
    def delete(): Op = {
      val (lo, hi) = slice(maxKey / 100)
      DeleteDv(k.between(lo, hi - 1))
    }
    Seq(append(1), upsert(), delete(), append(2), Refresh, Compact, Vacuum)
  }

  private def apply(spark: SparkSession, op: Op, vt: String, mv: String): Unit = op match {
    case Append(rows) => VersionedTable.append(rows, vt)
    case Upsert(rows) => VersionedTable.upsert(rows, vt, Keys)
    case DeleteDv(p) => VersionedTable.deleteVectorized(spark, vt, p)
    case Refresh => MaterializedView.refresh(spark, mv)
    case Compact => VersionedTable.compact(spark, vt)
    case Vacuum => VersionedTable.vacuum(spark, vt, keepLast = 2)
  }

  /** Row count and price total, read through the table's own scan. */
  private def checksum(df: DataFrame): (Long, Double) = {
    val r = df.agg(count(lit(1)), round(sum(col("l_extendedprice")), 2)).first()
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }
}
