package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBatchShim

import graft.SparkSpec
import graft.sources.{ForeignKeys, MaterializedView, VersionedTable}

/** Materialized-view query rewrite: fresh views answer covered GROUP BY
  * aggregates (plan-pinned), staleness and uncovered shapes decline, and
  * the rewritten result is value-identical to the source aggregation. */
class MvRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("mvrw").toString

  private def roots(df: DataFrame): Seq[String] =
    GraftBatchShim.scanRootsOf(df).map(_.toString)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Runs `q` twice — rewrite on and off — asserting the ON plan scans
    * exactly the view and both results agree. */
  private def assertRewrites(src: String, mv: String, q: => DataFrame): Unit = {
    val on = q
    assert(roots(on).contains(mv) && !roots(on).contains(src),
      s"expected a rewrite to $mv, scanned ${roots(on)}")
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    try {
      val off = q
      assert(roots(off).contains(src), s"kill-switch ignored: ${roots(off)}")
      assert(sorted(on) == sorted(off))
    } finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
  }

  test("covered aggregates rewrite to the view: exact grouping, rollup subset, global") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 200L).map(i => (i, "g" + i % 5, i % 3, i, i * 2))
        .toDF("id", "g", "g2", "v", "w"), src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    // exact grouping
    assertRewrites(src, mv, VersionedTable.read(spark, src)
      .groupBy($"g", $"g2").agg(count(lit(1)).as("n"), sum($"v").as("s")))
    // rollup to a SUBSET of the view grouping: COUNT re-sums mv_count
    assertRewrites(src, mv, VersionedTable.read(spark, src)
      .groupBy($"g").agg(count(lit(1)).as("n"), sum($"v").as("s")))
    // global aggregate (empty grouping is the ultimate rollup)
    assertRewrites(src, mv, VersionedTable.read(spark, src)
      .agg(count(lit(1)).as("n"), sum($"v").as("s")))
    // HAVING composes: the filter sits ABOVE the rewritten aggregate
    assertRewrites(src, mv, spark.sql(
      s"SELECT g, COUNT(*) AS n FROM graft.`$src` GROUP BY g HAVING COUNT(*) > 30"))
    // SELECT DISTINCT over group columns IS an aggregate with no
    // aggregate functions — the cheapest query the view can answer
    assertRewrites(src, mv, spark.sql(
      s"SELECT DISTINCT g FROM graft.`$src`"))
    assertRewrites(src, mv, spark.sql(
      s"SELECT DISTINCT g, g2 FROM graft.`$src`"))
  }

  test("GROUPING SETS / ROLLUP / CUBE answer from the view, subtotals included") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 240L).map(i => (i, "g" + i % 4, "h" + i % 2,
        if (i % 7 == 0) None else Some(i), BigDecimal(i) / 4))
        .toDF("id", "g", "h", "v", "d")
        .select($"id", $"g", $"h", $"v", $"d".cast("decimal(12,2)")),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "h"), Seq("v", "d"),
      Seq("v"), where = None)
    // ROLLUP over both view keys: per-(g,h), per-g, grand total — one
    // Expand over the view's few rows instead of two passes over the fact
    assertRewrites(src, mv, VersionedTable.read(spark, src)
      .rollup($"g", $"h")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"), count($"v").as("nn"),
        min($"v").as("mn"), max($"v").as("mx"), avg($"v").as("a"),
        sum($"d").as("sd")))
    // CUBE adds the per-h slice
    assertRewrites(src, mv, VersionedTable.read(spark, src)
      .cube($"g", $"h").agg(count(lit(1)).as("n"), sum($"v").as("s")))
    // SQL GROUPING SETS with grouping()/grouping_id() spellings
    assertRewrites(src, mv, spark.sql(
      s"SELECT g, h, COUNT(*) AS n, SUM(v) AS s, GROUPING(g) AS gg, " +
        s"GROUPING_ID(g, h) AS gid FROM graft.`$src` " +
        "GROUP BY GROUPING SETS ((g, h), (g), ())"))
    // group-column residuals apply over the view before the Expand
    assertRewrites(src, mv, spark.sql(
      s"SELECT g, h, COUNT(*) AS n FROM graft.`$src` WHERE g <> 'g1' " +
        "GROUP BY ROLLUP (g, h)"))
    // declines, correctly: COUNT(DISTINCT) per set needs helper joins
    val d = VersionedTable.read(spark, src).rollup($"g")
      .agg(countDistinct($"id").as("nd"))
    assert(roots(d).contains(src), s"distinct rollup must decline: ${roots(d)}")
    // staleness declines the set rewrite like the flat one
    VersionedTable.append(Seq((241L, "g0", "h1",
      java.lang.Long.valueOf(241L), BigDecimal(1))).toDF("id", "g", "h", "v", "d")
      .select($"id", $"g", $"h", $"v", $"d".cast("decimal(12,2)")), src)
    val stale = VersionedTable.read(spark, src).rollup($"g")
      .agg(count(lit(1)).as("n"))
    assert(roots(stale).contains(src))
    MaterializedView.refresh(spark, mv)
    assertRewrites(src, mv, VersionedTable.read(spark, src)
      .rollup($"g", $"h").agg(count(lit(1)).as("n"), sum($"v").as("s")))
  }

  test("GROUPING SETS over a DERIVED-key view: ROLLUP(year(d)) answers from the view") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 120L).map(i => (i,
        java.sql.Date.valueOf(s"202${i % 3}-0${1 + (i % 9 / 3).toInt}-15"), i))
        .toDF("id", "d", "v"), src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("yr", "mo"), Seq("v"), Nil,
      None, Nil, groupKeyExprs = Map("yr" -> "year(d)", "mo" -> "month(d)"))
    // the Expand projections carry the pulled-out derived expressions —
    // the per-position norms still match the view's stored group items
    assertRewrites(src, mv, spark.sql(
      s"SELECT year(d) AS yr, month(d) AS mo, COUNT(*) AS n, SUM(v) AS s " +
        s"FROM graft.`$src` GROUP BY ROLLUP (year(d), month(d))"))
    // a derivation the view does not store declines the whole rewrite
    assert(roots(spark.sql(
      s"SELECT dayofmonth(d) AS dd, COUNT(*) AS n FROM graft.`$src` " +
        "GROUP BY ROLLUP (dayofmonth(d))")).contains(src))
  }

  test("GROUPING SETS over a JOIN view: the star rollup answers from the view") {
    val base = tmp(); val src = base + "/src"
    val dim = base + "/dim"; val mv = base + "/jmv"
    VersionedTable.write((1L to 300L).map(i => (i, i % 10, i))
      .toDF("id", "fk", "v"), src, statsCols = Seq("id"))
    VersionedTable.write((0L to 9L).map(k => (k, "b" + k % 3, "r" + k % 2))
      .toDF("pk", "brand", "region"), dim)
    MaterializedView.createJoined(spark, src, dim, Seq("fk" -> "pk"), mv,
      groupBy = Seq("brand", "region"), sumCols = Seq("v"))
    def q() = VersionedTable.read(spark, src)
      .join(VersionedTable.read(spark, dim), $"fk" === $"pk")
      .rollup($"brand", $"region")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
    val on = q()
    assert(roots(on).contains(mv) && !roots(on).exists(r =>
        r == src || r == dim),
      s"star rollup must answer from the view: ${roots(on)}")
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    try assert(sorted(q()) == sorted(on))
    finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    // a moved dim declines until refresh folds it in
    VersionedTable.upsert(Seq((3L, "bNEW", "r1")).toDF("pk", "brand", "region"),
      dim, keys = Seq("pk"))
    val stale = q()
    assert(roots(stale).contains(src), s"moved dim must decline: ${roots(stale)}")
    MaterializedView.refresh(spark, mv)
    val rearmed = q()
    assert(roots(rearmed).contains(mv) && !roots(rearmed).contains(src))
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    try assert(sorted(q()) == sorted(rearmed))
    finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
  }

  test("staleness declines and refresh re-arms; time travel answers from view history") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 100L).map(i => (i, "g" + i % 4, i)).toDF("id", "g", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g"), Seq("v"))
    def q = VersionedTable.read(spark, src)
      .groupBy($"g").agg(count(lit(1)).as("n"), sum($"v").as("s"))
    assert(roots(q).contains(mv))
    // source moves, view not refreshed: the rewrite must DECLINE — the
    // view would answer with yesterday's data (the head watermark is
    // BEHIND the pinned version; history search cannot help)
    VersionedTable.delete(spark, src, $"id" <= 10L)
    assert(roots(q).contains(src), roots(q).toString)
    assert(sorted(q) == sorted(q)) // and the source answer stands on its own
    MaterializedView.refresh(spark, mv)
    assertRewrites(src, mv, q)
    // TIME TRAVEL: a read of source@2 (what the create snapshot reflected)
    // answers from the view AS IT WAS — the version whose watermark is 2,
    // found by binary search over the view's history
    def old = VersionedTable.read(spark, src, Some(2L))
      .groupBy($"g").agg(count(lit(1)).as("n"), sum($"v").as("s"))
    assertRewrites(src, mv, old)
    // a version NO view state ever reflected (src@1 predates the view)
    // declines
    val preView = VersionedTable.read(spark, src, Some(1L))
      .groupBy($"g").agg(count(lit(1)).as("n"))
    assert(roots(preView).contains(src), roots(preView).toString)
    // vacuum reclaims the view's history → the time-travel rewrite
    // DECLINES (plan-time readability probe) instead of planting a
    // runtime-failing scan; the head rewrite keeps working
    VersionedTable.vacuumRetain(spark, mv, 0L)
    assert(roots(old).contains(src), roots(old).toString)
    assertRewrites(src, mv, q)
  }

  test("uncovered shapes decline: WHERE below, MIN, uncovered SUM, distinct, fractional") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 100L).map(i => (i, "g" + i % 4, i, i / 7.0))
        .toDF("id", "g", "v", "f"), src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g"), Seq("v"))
    def srcScan(df: DataFrame) = roots(df).contains(src)
    val t = VersionedTable.read(spark, src)
    // a WHERE on a NON-group column: no residual over the view can apply it
    assert(srcScan(t.filter($"id" > 50L).groupBy($"g").agg(count(lit(1)).as("n"))))
    // MIN over a col the view doesn't maintain extrema for, SUM(id) is not
    // covered, DISTINCT changes semantics, SUM(f) would reorder float adds
    assert(srcScan(t.groupBy($"g").agg(min($"v").as("m"))))
    assert(srcScan(t.groupBy($"g").agg(sum($"id").as("s"))))
    assert(srcScan(t.groupBy($"g").agg(countDistinct($"v").as("n"))))
    assert(srcScan(t.groupBy($"g").agg(sum($"f").as("s"))))
    // grouping by a non-view column declines
    assert(srcScan(t.groupBy($"v").agg(count(lit(1)).as("n"))))
  }

  test("group-column predicates apply as a residual over the view") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 120L).map(i => (i, "g" + i % 4, i % 2, i))
        .toDF("id", "g", "g2", "v"), src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    // WHERE on group columns — including a rollup underneath — rides the
    // view as a residual filter
    assertRewrites(src, mv, VersionedTable.read(spark, src)
      .filter($"g" =!= "g0" && $"g2" === 1L)
      .groupBy($"g").agg(count(lit(1)).as("n"), sum($"v").as("s")))
    // and a global aggregate whose filter keeps nothing still counts 0
    val none = spark.sql(
      s"SELECT COUNT(*) AS n FROM graft.`$src` WHERE g = 'nope'")
    assert(roots(none).contains(mv), roots(none).toString)
    assert(none.collect().head.getLong(0) == 0L)
  }

  test("a view maintained over WHERE answers exactly the queries that repeat it") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 100L).map(i => (i, "g" + i % 4, i)).toDF("id", "g", "v"),
      src, statsCols = Seq("id"))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT g, COUNT(*), SUM(v) FROM graft.`$src` WHERE v % 2 = 0 GROUP BY g")
    def q(whereSql: String) = spark.sql(
      s"SELECT g, COUNT(*) AS n, SUM(v) AS s FROM graft.`$src` $whereSql GROUP BY g")
    // the view's own predicate: rewrites; plus a group-col residual: rewrites
    assertRewrites(src, mv, q("WHERE v % 2 = 0"))
    assertRewrites(src, mv, q("WHERE v % 2 = 0 AND g = 'g1'"))
    // missing or different predicate: the view filtered rows the query wants
    assert(roots(q("")).contains(src))
    assert(roots(q("WHERE v % 2 = 1")).contains(src))
    // DML + refresh keeps the filtered view exact
    VersionedTable.delete(spark, src, $"id" <= 30L)
    assert(roots(q("WHERE v % 2 = 0")).contains(src)) // stale → declines
    MaterializedView.refresh(spark, mv)
    assertRewrites(src, mv, q("WHERE v % 2 = 0"))
  }

  test("join view rewrite: the star aggregate answers from the view, pinned both ways") {
    val base = tmp(); val fact = base + "/fact"; val dim = base + "/dim"
    val mv = base + "/mv"
    VersionedTable.write(
      (1L to 200L).map(i => (i, i % 10, i)).toDF("id", "k", "v"),
      fact, statsCols = Seq("id"))
    VersionedTable.write(
      (0L to 9L).map(k => (k, "r" + k % 3, k % 2)).toDF("k", "g", "g2"),
      dim, statsCols = Seq("k"))
    MaterializedView.createJoined(spark, fact, dim, Seq("k" -> "k"), mv,
      Seq("g", "g2"), Seq("v"))
    def q = VersionedTable.read(spark, fact)
      .join(VersionedTable.read(spark, dim), Seq("k"))
      .groupBy($"g", $"g2")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
    assertRewrites(fact, mv, q)
    // rollup to a dim-side subset rewrites; residual on a dim group col too
    assertRewrites(fact, mv,
      VersionedTable.read(spark, fact)
        .join(VersionedTable.read(spark, dim), Seq("k"))
        .groupBy($"g").agg(count(lit(1)).as("n"), sum($"v").as("s")))
    assertRewrites(fact, mv,
      VersionedTable.read(spark, fact)
        .join(VersionedTable.read(spark, dim), Seq("k"))
        .filter($"g" === "r1")
        .groupBy($"g", $"g2").agg(count(lit(1)).as("n")))
    // fact motion: stale → declines; refresh re-arms
    VersionedTable.delete(spark, fact, $"id" % 9 === 0)
    assert(roots(q).contains(fact))
    MaterializedView.refresh(spark, mv)
    assertRewrites(fact, mv, q)
    // a DIFFERENT join shape declines: wrong keys, wrong dim, plain agg
    VersionedTable.write(
      (0L to 9L).map(k => (k, "x" + k)).toDF("k", "g3"), base + "/dim2")
    assert(roots(VersionedTable.read(spark, fact)
      .join(VersionedTable.read(spark, base + "/dim2"), Seq("k"))
      .groupBy($"g3").agg(count(lit(1)).as("n"))).contains(fact))
    assert(roots(VersionedTable.read(spark, fact)
      .groupBy($"k").agg(count(lit(1)).as("n"))).contains(fact))
    // dim motion: the queried dim snapshot is no longer the pinned one
    VersionedTable.append(Seq((10L, "rX", 0L)).toDF("k", "g", "g2"), dim)
    assert(roots(q).contains(fact), "moved dim must decline the rewrite")
    // INCREMENTAL refresh folds the dim delta and advances the pin →
    // rewrite fires again, with the new dim row
    MaterializedView.refresh(spark, mv)
    assertRewrites(fact, mv, q)
  }

  test("NDV size estimation on the filter keeps the view roster intact") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 100L).map(i => (i, "g" + i % 4, i)).toDF("id", "g", "v"),
      src, statsCols = Seq("id"))
    // sketch FIRST so the view's watermark lands at the analyzed head
    VersionedTable.analyzeNdv(spark, src, Seq("g"))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT g, COUNT(*), SUM(v) FROM graft.`$src` WHERE g = 'g1' GROUP BY g")
    // the filter is an equality on a sketched column, so the estimation
    // rule (injected BEFORE the MV rewrite) fires and REBUILDS the file
    // index — a rebuild that drops mvViews/snapshotVersion would make the
    // rewrite silently decline on exactly the filtered aggregates it covers
    def q = spark.sql(s"SELECT g, COUNT(*) AS n, SUM(v) AS s " +
      s"FROM graft.`$src` WHERE g = 'g1' GROUP BY g")
    assertRewrites(src, mv, q)
  }

  test("clock-reading and non-deterministic view predicates are refused at create") {
    val base = tmp(); val src = base + "/src"
    VersionedTable.write(
      (1L to 10L).map(i => (i, "g", i)).toDF("id", "g", "v"),
      src, statsCols = Seq("id"))
    val e1 = intercept[IllegalArgumentException] {
      MaterializedView.create(spark, src, base + "/mv1", Seq("g"), Seq("v"),
        where = Some("id > unix_timestamp(current_date())")) }
    assert(e1.getMessage.contains("reads the clock"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      MaterializedView.create(spark, src, base + "/mv2", Seq("g"), Seq("v"),
        where = Some("rand() > 0.5")) }
    assert(e2.getMessage.contains("non-deterministic"), e2.getMessage)
    // neither refusal left a half-created view behind
    assert(VersionedTable.latestVersion(spark, base + "/mv1").isEmpty)
    assert(VersionedTable.latestVersion(spark, base + "/mv2").isEmpty)
  }

  test("redefinition refused: an existing view only resumes under its stored definition") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 10L).map(i => (i, "g" + i % 2, i)).toDF("id", "g", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g"), Seq("v"))
    MaterializedView.create(spark, src, mv, Seq("g"), Seq("v")) // resume ok
    val e = intercept[IllegalArgumentException] {
      MaterializedView.create(spark, src, mv, Seq("g"), Seq("v"),
        where = Some("v > 5")) }
    assert(e.getMessage.contains("different"), e.getMessage)
    // a COMPLETED plain view (join props absent because it HAS no joins)
    // refuses a re-create WITH joins — absent join props only mean
    // "crashed mid-create" while SourceKey is also absent
    val dim = base + "/dim"
    VersionedTable.write(
      Seq(("g0", 1L), ("g1", 2L)).toDF("gk", "w"), dim)
    val e2 = intercept[IllegalArgumentException] {
      MaterializedView.createJoinedMulti(spark, src,
        Seq(dim -> Seq("g" -> "gk")), mv, Seq("g"), Seq("v")) }
    assert(e2.getMessage.contains("different"), e2.getMessage)
  }

  test("MIN/MAX rewrite: exact for any orderable type, rollup composes, uncovered declines") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 90L).map(i => (i, "g" + i % 3, i % 5, i, "s" + (i * 7 % 90)))
        .toDF("id", "g", "g2", "v", "s"), src, statsCols = Seq("id"))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT g, g2, COUNT(*), MIN(v), MAX(v), MIN(s) FROM graft.`$src` " +
      "GROUP BY g, g2")
    // exact grouping and rollup: min-of-mins IS the min — strings included
    assertRewrites(src, mv, spark.sql(
      s"SELECT g, g2, MIN(v) AS mn, MAX(v) AS mx, MIN(s) AS ms " +
        s"FROM graft.`$src` GROUP BY g, g2"))
    assertRewrites(src, mv, spark.sql(
      s"SELECT g, COUNT(*) AS n, MIN(v) AS mn, MAX(s) AS mx " +
        s"FROM graft.`$src` GROUP BY g"))
    // DISTINCT is a no-op on extrema — the spelling rewrites identically
    assertRewrites(src, mv, spark.sql(
      s"SELECT g, MIN(DISTINCT v) AS mn, MAX(DISTINCT s) AS mx " +
        s"FROM graft.`$src` GROUP BY g"))
    // MAX(s) worked above because MIN(s) put s in the minMax roster (both
    // extrema are materialized per col); an UNLISTED col still declines
    assert(roots(spark.sql(
      s"SELECT g, MIN(id) AS m FROM graft.`$src` GROUP BY g")).contains(src))
    // DML on an extremum, refresh, rewrite still exact
    VersionedTable.delete(spark, src, $"v" === 90L)
    MaterializedView.refresh(spark, mv)
    assertRewrites(src, mv, spark.sql(
      s"SELECT g, MAX(v) AS mx FROM graft.`$src` GROUP BY g"))
  }

  test("derived group keys: a year(date) rollup view maintains and rewrites") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 120L).map(i => (i,
        java.sql.Date.valueOf(s"202${i % 3}-0${1 + (i % 9 / 3).toInt}-15"), i))
        .toDF("id", "d", "v"), src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("yr"), Seq("v"), Nil, None,
      Nil, groupKeyExprs = Map("yr" -> "year(d)"))
    def q = spark.sql(
      s"SELECT year(d) AS yr, COUNT(*) AS n, SUM(v) AS s " +
        s"FROM graft.`$src` GROUP BY year(d)")
    assertRewrites(src, mv, q)
    // the delta and the repair scan evaluate the SAME key expression:
    // deletes and appends fold through refresh
    VersionedTable.delete(spark, src, col("id") % 5 === 0)
    VersionedTable.append(Seq((200L,
      java.sql.Date.valueOf("2025-01-01"), 7L)).toDF("id", "d", "v"), src)
    MaterializedView.refresh(spark, mv)
    assertRewrites(src, mv, q)
    val expect = VersionedTable.read(spark, src)
      .groupBy(expr("year(d)").as("yr"))
      .agg(count(lit(1)), sum($"v")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(q.collect().map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(2))).toMap == expect)
    // a DIFFERENT derivation over the same column declines
    assert(roots(spark.sql(
      s"SELECT month(d) AS m, COUNT(*) AS n FROM graft.`$src` GROUP BY month(d)"))
      .contains(src))
    // MIN/MAX compose with derived keys: extremum delete repairs by
    // re-evaluating the key expression on the source scan
    val mv2 = base + "/mv2"
    MaterializedView.create(spark, src, mv2, Seq("yr"), Nil, Seq("v"), None,
      Nil, groupKeyExprs = Map("yr" -> "year(d)"))
    VersionedTable.delete(spark, src,
      col("v") === VersionedTable.read(spark, src).agg(max($"v"))
        .collect().head.getLong(0))
    MaterializedView.refresh(spark, mv2)
    def qm = spark.sql(
      s"SELECT year(d) AS yr, MAX(v) AS mx FROM graft.`$src` GROUP BY year(d)")
    assert(roots(qm).contains(mv2), roots(qm).toString)
    val em = VersionedTable.read(spark, src)
      .groupBy(expr("year(d)").as("yr")).agg(max($"v")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(qm.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == em)
  }

  test("decimal SUM and AVG answer from the view: exact, typed, rollup composes") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    // money-typed values, UNMODIFIED decimal(12,2) — the warehouse shape
    // the rewrite must not silently decline; g3 carries only NULL money
    VersionedTable.write(
      (1L to 200L).map(i => (i, "g" + i % 5, i % 3,
        if (i % 5 == 3) None else Some(BigDecimal(i * 7) / 4)))
        .toDF("id", "g", "g2", "m")
        .select($"id", $"g", $"g2", $"m".cast("decimal(12,2)").as("m")),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("m"))
    def t = VersionedTable.read(spark, src)
    // exact grouping and a rollup: decimal partial sums re-associate
    // exactly; the output type stays the original SUM's decimal(22,2)
    def q1 = t.groupBy($"g", $"g2").agg(sum($"m").as("s"),
      count(lit(1)).as("n"))
    assert(q1.schema("s").dataType ==
      org.apache.spark.sql.types.DecimalType(22, 2))
    assertRewrites(src, mv, q1)
    assertRewrites(src, mv, t.groupBy($"g").agg(sum($"m").as("s"),
      avg($"m").as("a"), count($"m").as("nn")))
    // AVG recombines from the view's sum/nn companions with Average's own
    // Divide/cast tree — type preserved at decimal(16,6)
    def qa = t.groupBy($"g").agg(avg($"m").as("a"))
    assert(qa.schema("a").dataType ==
      org.apache.spark.sql.types.DecimalType(16, 6))
    assertRewrites(src, mv, qa)
    // the all-null money group stays SQL-NULL for SUM and AVG both
    val rows = t.groupBy($"g").agg(sum($"m").as("s"), avg($"m").as("a"))
      .collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    assert(rows("g3") == ((null, null)), rows.toString)
    // DML + refresh keeps the decimal components exact
    VersionedTable.delete(spark, src, $"id" % 7 === 0)
    MaterializedView.refresh(spark, mv)
    assertRewrites(src, mv, t.groupBy($"g").agg(sum($"m").as("s"),
      avg($"m").as("a"), count(lit(1)).as("n")))
    // AVG over a LONG column answers as exact-sum/count too
    val src2 = base + "/src2"; val mv2 = base + "/mv2"
    VersionedTable.write(
      (1L to 100L).map(i => (i, "g" + i % 4, i)).toDF("id", "g", "v"),
      src2, statsCols = Seq("id"))
    MaterializedView.create(spark, src2, mv2, Seq("g"), Seq("v"))
    assertRewrites(src2, mv2, VersionedTable.read(spark, src2)
      .groupBy($"g").agg(avg($"v").as("a"), sum($"v").as("s")))
    // fractional AVG declines (double sums don't re-associate bit-exactly)
    val src3 = base + "/src3"; val mv3 = base + "/mv3"
    VersionedTable.write(
      (1L to 50L).map(i => (i, "g" + i % 2, i / 7.0)).toDF("id", "g", "f"),
      src3, statsCols = Seq("id"))
    MaterializedView.create(spark, src3, mv3, Seq("g"), Seq("f"))
    assert(roots(VersionedTable.read(spark, src3)
      .groupBy($"g").agg(avg($"f").as("a"))).contains(src3))
  }

  test("join view: decimal SUM/AVG and dim residuals COMBINED with the view's WHERE") {
    val base = tmp(); val fact = base + "/fact"; val dim = base + "/dim"
    val mv = base + "/mv"
    VersionedTable.write(
      (1L to 300L).map(i => (i, i % 12, BigDecimal(i * 3) / 2))
        .toDF("id", "k", "m")
        .select($"id", $"k", $"m".cast("decimal(12,2)").as("m")),
      fact, statsCols = Seq("id"))
    VersionedTable.write(
      (0L to 11L).map(k => (k, "b" + k % 4, k % 2)).toDF("k", "brand", "tier"),
      dim, statsCols = Seq("k"))
    MaterializedView.createJoined(spark, fact, dim, Seq("k" -> "k"), mv,
      Seq("brand", "tier"), Seq("m"), where = Some("id % 5 != 0"))
    def star = VersionedTable.read(spark, fact)
      .join(VersionedTable.read(spark, dim), Seq("k"))
      .filter(expr("id % 5 != 0"))
    // the view's own WHERE + a dim-side group-column residual + decimal
    // SUM + AVG, all composing in one rewrite
    assertRewrites(fact, mv, star.filter($"brand" === "b2")
      .groupBy($"brand", $"tier")
      .agg(sum($"m").as("s"), avg($"m").as("a"), count(lit(1)).as("n")))
    // dim residual UNDER a rollup that drops the filtered column's sibling
    assertRewrites(fact, mv, star.filter($"brand" =!= "b0")
      .groupBy($"brand").agg(sum($"m").as("s"), count(lit(1)).as("n")))
    // a dim residual on a NON-group dim column cannot ride the view
    assert(roots(star.filter($"k" > 5L).groupBy($"brand")
      .agg(count(lit(1)).as("n"))).contains(fact))
  }

  test("multi-dim star rewrite: the two-join aggregate answers from the view in any order") {
    val base = tmp(); val fact = base + "/fact"
    val d1 = base + "/d1"; val d2 = base + "/d2"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 240L).map(i => (i, i % 12, i % 5, i * 3)).toDF("id", "k1", "k2", "v"),
      fact, statsCols = Seq("id"))
    VersionedTable.write(
      (0L to 11L).map(k => (k, "a" + k % 4)).toDF("k1", "g1"), d1,
      statsCols = Seq("k1"))
    VersionedTable.write(
      (0L to 4L).map(k => (k, "b" + k % 2)).toDF("k2", "g2"), d2,
      statsCols = Seq("k2"))
    MaterializedView.createJoinedMulti(spark, fact,
      Seq(d1 -> Seq("k1" -> "k1"), d2 -> Seq("k2" -> "k2")), mv,
      Seq("g1", "g2"), Seq("v"))
    def f = VersionedTable.read(spark, fact)
    def rd1 = VersionedTable.read(spark, d1)
    def rd2 = VersionedTable.read(spark, d2)
    // the star, spelled in BOTH join orders — association must not matter
    assertRewrites(fact, mv, f.join(rd1, Seq("k1")).join(rd2, Seq("k2"))
      .groupBy($"g1", $"g2").agg(count(lit(1)).as("n"), sum($"v").as("s")))
    assertRewrites(fact, mv, f.join(rd2, Seq("k2")).join(rd1, Seq("k1"))
      .groupBy($"g1", $"g2").agg(count(lit(1)).as("n"), sum($"v").as("s")))
    // rollup to ONE dim's group column + a residual on the other's
    assertRewrites(fact, mv, f.join(rd1, Seq("k1")).join(rd2, Seq("k2"))
      .filter($"g2" === "b1")
      .groupBy($"g1").agg(sum($"v").as("s"), count(lit(1)).as("n")))
    // fact DML keeps the star fresh through refresh
    VersionedTable.delete(spark, fact, $"id" % 9 === 0)
    MaterializedView.refresh(spark, mv)
    assertRewrites(fact, mv, f.join(rd1, Seq("k1")).join(rd2, Seq("k2"))
      .groupBy($"g1", $"g2").agg(count(lit(1)).as("n"), sum($"v").as("s")))
    // declines: a single-join query cannot answer from the two-dim view
    assert(roots(f.join(rd1, Seq("k1"))
      .groupBy($"g1").agg(count(lit(1)).as("n"))).contains(fact))
    // declines: one dim moved (pins are per-dim) — the dim-delta pass of
    // an INCREMENTAL refresh advances that pin and re-arms
    VersionedTable.append(Seq((5L, "bX")).toDF("k2", "g2"), d2)
    def star = f.join(rd1, Seq("k1")).join(rd2, Seq("k2"))
      .groupBy($"g1", $"g2").agg(count(lit(1)).as("n"), sum($"v").as("s"))
    assert(roots(star).contains(fact), "moved dim must decline")
    MaterializedView.refresh(spark, mv)
    assertRewrites(fact, mv, star)
  }

  test("OUTER star spellings answer from the view under a validated FK pin") {
    val base = tmp(); val fact = base + "/fact"; val dim = base + "/dim"
    val mv = base + "/mv"
    VersionedTable.write(
      (1L to 300L).map(i => (i, i % 10, i)).toDF("id", "k", "v"),
      fact, statsCols = Seq("id"))
    VersionedTable.write(
      (0L to 9L).map(k => (k, "r" + k % 3, k)).toDF("k", "g", "g2"), dim,
      statsCols = Seq("k"))
    MaterializedView.createJoined(spark, fact, dim, Seq("k" -> "k"), mv,
      Seq("g"), Seq("v"))
    def f = VersionedTable.read(spark, fact)
    def d = VersionedTable.read(spark, dim)
    // bind val frames per query: each `def` mention mints fresh exprIds,
    // so the join condition must reference THE joined instances
    def leftQ = { val fv = f; val dv = d
      fv.join(dv, fv("k") === dv("k"), "left")
        .groupBy($"g").agg(count(lit(1)).as("n"), sum($"v").as("s")) }
    def rightQ = { val fv = f; val dv = d
      dv.join(fv, fv("k") === dv("k"), "right")
        .groupBy($"g").agg(count(lit(1)).as("n"), sum($"v").as("s")) }
    // no pin: an unmatched fact row COULD surface a null-g group the
    // inner-join view never holds — both outer spellings decline
    assert(roots(leftQ).contains(fact))
    assert(roots(rightQ).contains(fact))
    // declare + validate the FK (bumps fact AND dim for the roster/pin
    // commits), then one refresh re-aligns the view: empty dim-delta pass
    // advances the pin, empty fact pass advances the watermark
    ForeignKeys.declare(spark, fact, Seq("k"), dim, Seq("k"))
    MaterializedView.refresh(spark, mv)
    // LEFT and RIGHT spellings now prove inner via the pin and rewrite
    assertRewrites(fact, mv, leftQ)
    assertRewrites(fact, mv, rightQ)
    // a REAL dim-side filter under the outer spelling declines (a lost
    // match nulls the row instead of dropping it)
    val fv2 = f; val dv2 = d.filter($"g2" < 5L)
    assert(roots(fv2.join(dv2, fv2("k") === dv2("k"), "left")
      .groupBy($"g").agg(sum($"v").as("s"))).contains(fact))
    // fact motion disarms the pin: after re-aligning ONLY the view, the
    // INNER spelling fires again while the outer one stays declined
    VersionedTable.append(Seq((301L, 3L, 7L)).toDF("id", "k", "v"), fact)
    MaterializedView.refresh(spark, mv)
    assertRewrites(fact, mv, { val fv = f; val dv = d
      fv.join(dv, fv("k") === dv("k"))
        .groupBy($"g").agg(count(lit(1)).as("n"), sum($"v").as("s")) })
    assert(roots(leftQ).contains(fact),
      "a stale FK pin must not vouch for the outer spelling")
    // re-validating the pin (O(delta)) re-arms it — refresh re-aligns the
    // view over the pin's props commit first
    ForeignKeys.declare(spark, fact, Seq("k"), dim, Seq("k"))
    MaterializedView.refresh(spark, mv)
    assertRewrites(fact, mv, leftQ)
  }

  test("SQL surface rewrites too, and null-sum groups survive the round trip") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    // group g3 carries ONLY null v: its view sum is SQL-NULL, and the
    // rollup re-aggregation must keep skipping it
    VersionedTable.write(
      (1L to 80L).map(i =>
        (i, "g" + i % 4, if (i % 4 == 3) None else Some(i)))
        .toDF("id", "g", "v"), src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g"), Seq("v"))
    def q = spark.sql(
      s"SELECT g, COUNT(*) AS n, SUM(v) AS s FROM graft.`$src` GROUP BY g")
    assertRewrites(src, mv, q)
    val byG = q.collect().map(r => r.getString(0) ->
      (r.getLong(1), if (r.isNullAt(2)) null else r.getLong(2))).toMap
    assert(byG("g3") == (20L, null), byG.toString) // all-null group: NULL, not 0
    // COUNT(col) — the NON-NULL count — answers from the nn companion,
    // distinguishing itself from COUNT(*) exactly on the null rows
    def qc = spark.sql(
      s"SELECT g, COUNT(v) AS nv, COUNT(*) AS n FROM graft.`$src` GROUP BY g")
    assertRewrites(src, mv, qc)
    val nv = qc.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(nv("g3") == (0L, 20L), nv.toString)
    // and the GLOBAL COUNT(col) keeps COUNT's totality through the rewrite
    def qg = spark.sql(s"SELECT COUNT(v) AS nv FROM graft.`$src`")
    assertRewrites(src, mv, qg)
  }
}
