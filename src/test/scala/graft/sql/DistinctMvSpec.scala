package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBatchShim

import graft.SparkSpec
import graft.sources.{MaterializedView, VersionedTable}

/** Exact COUNT(DISTINCT col) in materialized views: the per-(group, value)
  * helper table absorbs the signed delta, touched groups recount, the
  * rewrite answers only under exact grouping, and every edge (last
  * occurrence, duplicate, value swap, NULLs, emptied groups) lands
  * exactly. */
class DistinctMvSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("mvdist").toString

  private def viewRows(mv: String): Map[String, (Long, Long)] =
    VersionedTable.read(spark, mv)
      .select($"g", col(MaterializedView.CountCol),
        col(MaterializedView.ndvColName("u")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def oracle(src: String): Map[String, (Long, Long)] =
    VersionedTable.read(spark, src).groupBy($"g")
      .agg(count(lit(1)).as("n"), countDistinct($"u").as("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("DML chain: duplicates, last occurrences, swaps, NULLs, emptied groups") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    // g=a: users 1,1,2 (dup + distinct); g=b: users 3,null; g=c: user 4
    VersionedTable.write(Seq(
      ("a", java.lang.Long.valueOf(1L), 10L),
      ("a", java.lang.Long.valueOf(1L), 11L),
      ("a", java.lang.Long.valueOf(2L), 12L),
      ("b", java.lang.Long.valueOf(3L), 13L),
      ("b", null.asInstanceOf[java.lang.Long], 14L),
      ("c", java.lang.Long.valueOf(4L), 15L)
    ).toDF("g", "u", "v"), src, statsCols = Seq("g"))
    MaterializedView.create(spark, src, mv, Seq("g"), Seq("v"), Nil,
      where = None, partitionBy = Nil, distinctCols = Seq("u"))
    assert(viewRows(mv) == Map("a" -> (3L, 2L), "b" -> (2L, 1L), "c" -> (1L, 1L)))
    // helper holds one row per live (group, value): (a,1),(a,2),(b,3),(c,4)
    val hp = MaterializedView.distinctHelperPath(mv, "u")
    assert(VersionedTable.read(spark, hp).count() == 4L)
    // delete ONE of a's two u=1 rows: ndv must NOT move
    VersionedTable.delete(spark, src, $"v" === 10L)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv)("a") == (2L, 2L), viewRows(mv).toString)
    // delete the LAST u=1 row: ndv drops
    VersionedTable.delete(spark, src, $"v" === 11L)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv)("a") == (1L, 1L))
    // VALUE SWAP in one commit: replace b's u=3 row with a u=5 row at the
    // same v — every other aggregate cancels (count, sum, nn all net 0)
    // but the distinct multiset moved; then swap onto an EXISTING value
    VersionedTable.upsert(Seq(("b", 5L, 13L)).toDF("g", "u", "v"), src,
      keys = Seq("g", "v"))
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv)("b") == (2L, 1L)) // null row still counts rows, not ndv
    assert(oracle(src) == viewRows(mv))
    // insert a duplicate of an existing value: count moves, ndv doesn't
    VersionedTable.append(Seq(("c", java.lang.Long.valueOf(4L), 16L))
      .toDF("g", "u", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv)("c") == (2L, 1L))
    // empty group c entirely: its view row AND helper rows leave
    VersionedTable.delete(spark, src, $"g" === "c")
    MaterializedView.refresh(spark, mv)
    assert(!viewRows(mv).contains("c"))
    assert(VersionedTable.read(spark, hp).filter($"g" === "c").count() == 0L)
    // new group arrives (with a duplicate value inside the batch)
    VersionedTable.append(Seq(("d", java.lang.Long.valueOf(7L), 20L),
      ("d", java.lang.Long.valueOf(7L), 21L),
      ("d", java.lang.Long.valueOf(8L), 22L)).toDF("g", "u", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv)("d") == (3L, 2L))
    assert(oracle(src) == viewRows(mv))
    // a refresh whose delta carries ONLY null distinct values: the helper
    // content is untouched but its watermark must still advance (an empty
    // merge is a real commit), or the NEXT refresh would refuse as
    // out-of-step — proven by the follow-up non-null cycle succeeding
    VersionedTable.append(Seq(("d", null.asInstanceOf[java.lang.Long], 30L))
      .toDF("g", "u", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv)("d") == (4L, 2L), viewRows(mv).toString)
    VersionedTable.append(Seq(("d", java.lang.Long.valueOf(9L), 31L))
      .toDF("g", "u", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv)("d") == (5L, 3L))
    assert(oracle(src) == viewRows(mv))
    // replayed refresh is a no-op
    val ver = VersionedTable.latestVersion(spark, mv)
    MaterializedView.refresh(spark, mv)
    assert(VersionedTable.latestVersion(spark, mv) == ver)
    // FULL refresh agrees with the incremental state (and rebuilds helpers)
    MaterializedView.fullRefresh(spark, mv)
    assert(oracle(src) == viewRows(mv))
  }

  test("rewrite: exact grouping reads the view; rollups answer from the helper") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 300L).map(i => ("g" + i % 5, "h" + i % 2, i % 17, i % 23))
        .toDF("g", "h", "u", "v"), src, statsCols = Seq("g"))
    MaterializedView.create(spark, src, mv, Seq("g", "h"), Seq("v"), Nil,
      where = None, partitionBy = Nil, distinctCols = Seq("u", "v"))
    val hpU = MaterializedView.distinctHelperPath(mv, "u")
    def roots(df: DataFrame): Seq[String] =
      GraftBatchShim.scanRootsOf(df).map(_.toString)
    def offRows(q: => DataFrame): Seq[String] = {
      spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
      try {
        val off = q
        assert(roots(off).contains(src))
        off.collect().map(_.toString).sorted.toSeq
      } finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    }
    def q(): DataFrame = VersionedTable.read(spark, src)
      .groupBy($"g", $"h")
      .agg(countDistinct($"u").as("d"), count(lit(1)).as("n"))
    val on = q()
    assert(roots(on).contains(mv) && !roots(on).contains(src) &&
      !roots(on).contains(hpU),
      s"exact grouping must read the STORED ndv, scanned ${roots(on)}")
    assert(on.collect().map(_.toString).sorted.toSeq == offRows(q()))
    // a ROLLUP of the grouping answers from the helper: the materialized
    // (group, value) dedup — joined back onto the view rollup
    def roll(): DataFrame = VersionedTable.read(spark, src)
      .groupBy($"g").agg(countDistinct($"u").as("d"), count(lit(1)).as("n"))
    val rOn = roll()
    assert(roots(rOn).contains(mv) && roots(rOn).contains(hpU) &&
      !roots(rOn).contains(src),
      s"rollup distinct must scan view + helper: ${roots(rOn)}")
    assert(rOn.collect().map(_.toString).sorted.toSeq == offRows(roll()))
    // two distinct columns in one rollup: two helpers join in
    def roll2(): DataFrame = VersionedTable.read(spark, src)
      .groupBy($"h")
      .agg(countDistinct($"u").as("du"), countDistinct($"v").as("dv"))
    val r2 = roll2()
    assert(roots(r2).contains(hpU) &&
      roots(r2).contains(MaterializedView.distinctHelperPath(mv, "v")) &&
      !roots(r2).contains(src), roots(r2).toString)
    assert(r2.collect().map(_.toString).sorted.toSeq == offRows(roll2()))
    // GLOBAL distinct count: the classic `SELECT COUNT(DISTINCT user)`
    def g(): DataFrame = VersionedTable.read(spark, src)
      .agg(countDistinct($"u").as("d"), count(lit(1)).as("n"))
    val gOn = g()
    assert(roots(gOn).contains(hpU) && !roots(gOn).contains(src),
      roots(gOn).toString)
    assert(gOn.collect().map(_.toString).sorted.toSeq == offRows(g()))
    // residual on a NON-rolled-up group column filters the helper too
    def res(): DataFrame = VersionedTable.read(spark, src)
      .filter($"h" === "h1").groupBy($"g")
      .agg(countDistinct($"u").as("d"))
    val resOn = res()
    assert(roots(resOn).contains(hpU) && !roots(resOn).contains(src),
      roots(resOn).toString)
    assert(resOn.collect().map(_.toString).sorted.toSeq == offRows(res()))
    // SUM(DISTINCT) answers from the helper at EVERY grouping — exact
    // (mixed with the stored ndv), rolled up, and global
    def sde(): DataFrame = VersionedTable.read(spark, src)
      .groupBy($"g", $"h")
      .agg(sum_distinct($"u").as("sd"), countDistinct($"u").as("d"),
        count(lit(1)).as("n"))
    val sdeOn = sde()
    assert(roots(sdeOn).contains(hpU) && !roots(sdeOn).contains(src),
      roots(sdeOn).toString)
    assert(sdeOn.collect().map(_.toString).sorted.toSeq == offRows(sde()))
    def sdr(): DataFrame = VersionedTable.read(spark, src)
      .groupBy($"g")
      .agg(sum_distinct($"u").as("sd"), countDistinct($"v").as("dv"))
    val sdrOn = sdr()
    assert(roots(sdrOn).contains(hpU) && !roots(sdrOn).contains(src),
      roots(sdrOn).toString)
    assert(sdrOn.collect().map(_.toString).sorted.toSeq == offRows(sdr()))
    def sdg(): DataFrame = VersionedTable.read(spark, src)
      .agg(sum_distinct($"u").as("sd"))
    val sdgOn = sdg()
    assert(roots(sdgOn).contains(hpU) && !roots(sdgOn).contains(src),
      roots(sdgOn).toString)
    assert(sdgOn.collect().map(_.toString).sorted.toSeq == offRows(sdg()))
    // AVG(DISTINCT): both channels from the helper, exact AND rolled up
    def ad(exact: Boolean): DataFrame = {
      val base = VersionedTable.read(spark, src)
      val g = if (exact) base.groupBy($"g", $"h") else base.groupBy($"g")
      g.agg(expr("avg(DISTINCT u)").as("ad"), count(lit(1)).as("n"))
    }
    Seq(true, false).foreach { exact =>
      val on2 = ad(exact)
      assert(roots(on2).contains(hpU) && !roots(on2).contains(src),
        s"avg-distinct exact=$exact: ${roots(on2)}")
      assert(on2.collect().map(_.toString).sorted.toSeq == offRows(ad(exact)))
    }
    // stale view declines until refreshed
    VersionedTable.append(Seq(("g0", "h0", 99L, 1000L)).toDF("g", "h", "u", "v"), src)
    assert(roots(q()).contains(src))
    MaterializedView.refresh(spark, mv)
    assert(roots(q()).contains(mv))
    assert(q().filter($"g" === "g0" && $"h" === "h0").collect().head.getAs[Long]("d") ==
      VersionedTable.read(spark, src).filter($"g" === "g0" && $"h" === "h0")
        .agg(countDistinct($"u")).collect().head.getLong(0))
  }

  test("multi-column COUNT(DISTINCT a, b): tuple helpers maintain and rewrite") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 240L).map(i => ("g" + i % 3, i % 7, "s" + i % 4, i))
        .toDF("g", "u", "s", "v"), src, statsCols = Seq("g"))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT g, COUNT(*), COUNT(DISTINCT u, s), SUM(v) " +
      s"FROM graft.`$src` GROUP BY g")
    val ndvCol = MaterializedView.ndvColName(Seq("u", "s"))
    assert(VersionedTable.read(spark, mv).columns.contains(ndvCol))
    def oracleT: Map[String, Long] = VersionedTable.read(spark, src)
      .groupBy($"g").agg(countDistinct($"u", $"s").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def viewT: Map[String, Long] = VersionedTable.read(spark, mv)
      .select($"g", col(ndvCol))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viewT == oracleT)
    // DML: delete a slice (kills some tuples' last occurrence), insert a
    // TUPLE-swap (same u, new s — u-only counting would miss it)
    VersionedTable.delete(spark, src, $"v" % 5 === 0)
    VersionedTable.append(Seq(("g0", 3L, "s9", 1000L)).toDF("g", "u", "s", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(viewT == oracleT)
    // rewrite: EXACT grouping reads the stored tuple ndv (column order in
    // the query is free — tuples match as sets)
    def roots(df: DataFrame): Seq[String] =
      GraftBatchShim.scanRootsOf(df).map(_.toString)
    val exact = VersionedTable.read(spark, src)
      .groupBy($"g").agg(countDistinct($"s", $"u").as("d"))
    assert(roots(exact).contains(mv) && !roots(exact).contains(src),
      roots(exact).toString)
    assert(exact.collect().map(_.toString).sorted.toSeq ==
      oracleT.toSeq.map { case (g, d) => s"[$g,$d]" }.sorted)
    // rollup: the GLOBAL tuple count answers from the tuple helper
    val hp = MaterializedView.distinctHelperPath(mv, Seq("u", "s"))
    val g = VersionedTable.read(spark, src)
      .agg(countDistinct($"u", $"s").as("d"))
    assert(roots(g).contains(hp) && !roots(g).contains(src), roots(g).toString)
    val want = VersionedTable.read(spark, src)
      .select($"u", $"s").distinct().count()
    assert(g.collect().head.getLong(0) == want)
  }

  test("auto-refresh keeps a distinct view (and its helper) fresh through commits") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 3L, 3L))
      .toDF("g", "u", "v"), src, statsCols = Seq("g"))
    MaterializedView.create(spark, src, mv, Seq("g"), Nil, Nil,
      where = None, partitionBy = Nil, distinctCols = Seq("u"))
    VersionedTable.setProperties(spark, src,
      Map("graft.mv.autoRefresh" -> "true"))
    // the commit's own hook chains refresh(): view AND helper catch up
    // with no operator in the loop
    VersionedTable.append(Seq(("a", 9L, 4L), ("b", 3L, 5L)).toDF("g", "u", "v"), src)
    assert(viewRows(mv) == Map("a" -> (3L, 3L), "b" -> (2L, 1L)))
    VersionedTable.delete(spark, src, $"u" === 9L)
    assert(viewRows(mv) == Map("a" -> (2L, 2L), "b" -> (2L, 1L)))
    // and the rewrite stays armed right after the hook ran
    val q = VersionedTable.read(spark, src).groupBy($"g")
      .agg(countDistinct($"u").as("d"))
    assert(GraftBatchShim.scanRootsOf(q).map(_.toString).contains(mv))
  }

  test("JOIN views: distinct helpers maintain through fact AND dim passes") {
    val base = tmp(); val src = base + "/src"
    val dim = base + "/dim"; val mv = base + "/jmv"
    // fact rows keyed g0..g3; g3 has NO dim match yet (inner join drops it)
    VersionedTable.write(Seq(
      ("g0", 1L, 10L), ("g0", 1L, 11L), ("g0", 2L, 12L),
      ("g1", 3L, 13L), ("g1", 4L, 14L),
      ("g2", 5L, 15L), ("g3", 6L, 16L)
    ).toDF("g", "u", "v"), src, statsCols = Seq("g"))
    VersionedTable.write(Seq(("g0", "x"), ("g1", "y"), ("g2", "y"))
      .toDF("pk", "tag"), dim)
    MaterializedView.createJoined(spark, src, dim, Seq("g" -> "pk"), mv,
      groupBy = Seq("tag"), sumCols = Seq("v"), distinctCols = Seq("u"))
    val hp = MaterializedView.distinctHelperPath(mv, "u")
    def want: Map[String, (Long, Long)] = VersionedTable.read(spark, src)
      .join(VersionedTable.read(spark, dim), $"g" === $"pk")
      .groupBy($"tag").agg(count(lit(1)).as("n"), countDistinct($"u").as("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def got: Map[String, (Long, Long)] = VersionedTable.read(spark, mv)
      .select($"tag", col(MaterializedView.CountCol),
        col(MaterializedView.ndvColName("u")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want && got == Map("x" -> (3L, 2L), "y" -> (3L, 3L)))
    // the helper carries the view's dim-pin copy from create
    assert(MaterializedView.joinsIn(VersionedTable.propertiesOf(spark, hp))
      .nonEmpty)
    // FACT pass: a dup user (ndv still), a new user, a last-occurrence
    // delete — the joined change feed folds the helper under the watermark
    VersionedTable.append(Seq(("g0", 2L, 17L), ("g2", 7L, 18L))
      .toDF("g", "u", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(got == want && got("x") == (4L, 2L) && got("y") == (4L, 4L))
    VersionedTable.delete(spark, src, $"v" === 13L) // u=3 leaves tag y
    MaterializedView.refresh(spark, mv)
    assert(got == want && got("y") == (3L, 3L))
    // DIM pass 1 — re-tag g2 from y to x: every g2 fact row RETRACTS from
    // y and re-enters under x; helper values move between groups (u=5, 7)
    VersionedTable.upsert(Seq(("g2", "x")).toDF("pk", "tag"), dim,
      keys = Seq("pk"))
    MaterializedView.refresh(spark, mv)
    assert(got == want && got("x") == (6L, 4L) && got("y") == (1L, 1L),
      s"dim re-tag must move distinct values between groups: $got")
    // DIM pass 2 — a NEW dim key matches previously-dropped fact rows:
    // g3's u=6 appears under the new tag
    VersionedTable.append(Seq(("g3", "z")).toDF("pk", "tag"), dim)
    MaterializedView.refresh(spark, mv)
    assert(got == want && got("z") == (1L, 1L))
    // the helper's pin advanced with the folds: it matches the view's
    val vp = VersionedTable.propertiesOf(spark, mv)
    assert(MaterializedView.joinsIn(VersionedTable.propertiesOf(spark, hp)) ==
      MaterializedView.joinsIn(vp),
      "helper pin must track the view pin")
    // the star rewrite answers COUNT(DISTINCT): exact grouping from the
    // view's ndv column, the GLOBAL rollup from the helper — fact and dim
    // never scanned
    val exact = VersionedTable.read(spark, src)
      .join(VersionedTable.read(spark, dim), $"g" === $"pk")
      .groupBy($"tag")
      .agg(count(lit(1)).as("n"), countDistinct($"u").as("d"))
    val exactRoots = GraftBatchShim.scanRootsOf(exact).map(_.toString)
    assert(exactRoots.contains(mv) && !exactRoots.exists(r =>
        r == src || r == dim),
      s"exact star COUNT(DISTINCT) must answer from the view: $exactRoots")
    val global = VersionedTable.read(spark, src)
      .join(VersionedTable.read(spark, dim), $"g" === $"pk")
      .agg(count(lit(1)).as("n"), countDistinct($"u").as("d"))
    val globalRoots = GraftBatchShim.scanRootsOf(global).map(_.toString)
    assert(globalRoots.contains(hp) && !globalRoots.exists(r =>
        r == src || r == dim),
      s"the global rollup must answer from the helper: $globalRoots")
    assert(exact.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      want.map { case (t, (n, d)) => (t, n, d) }.toSet)
    assert(global.collect().head.getLong(1) ==
      VersionedTable.read(spark, src)
        .join(VersionedTable.read(spark, dim), $"g" === $"pk")
        .select($"u").distinct().count())
    // FULL refresh re-pins and rebuilds helpers; everything still agrees
    VersionedTable.append(Seq(("g1", 3L, 19L)).toDF("g", "u", "v"), src)
    MaterializedView.fullRefresh(spark, mv)
    assert(got == want)
    assert(MaterializedView.joinsIn(VersionedTable.propertiesOf(spark, hp)) ==
      MaterializedView.joinsIn(VersionedTable.propertiesOf(spark, mv)))
  }

  test("refusals and ownership: joins, redefinition, helper refresh, DROP") {
    val base = tmp(); val src = base + "/src"
    val dim = base + "/dim"; val mv = base + "/mv"
    VersionedTable.write((1L to 50L).map(i => ("g" + i % 3, i % 5, i))
      .toDF("g", "u", "v"), src, statsCols = Seq("g"))
    VersionedTable.write(Seq(("g0", "x"), ("g1", "y"), ("g2", "z"))
      .toDF("pk", "tag"), dim)
    // joins + distinct create through SQL and answer like any other view
    val jmv2 = base + "/jmv2"
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$jmv2` AS " +
      s"SELECT tag, COUNT(*), COUNT(DISTINCT u) FROM graft.`$src` " +
      s"JOIN graft.`$dim` ON g = pk GROUP BY tag")
    val jWant = VersionedTable.read(spark, src)
      .join(VersionedTable.read(spark, dim), $"g" === $"pk")
      .groupBy($"tag").agg(countDistinct($"u").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val jGot = VersionedTable.read(spark, jmv2)
      .select($"tag", col(MaterializedView.ndvColName("u")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(jGot == jWant, s"$jGot vs $jWant")
    // SQL create + refresh of a plain distinct view end-to-end
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT g, COUNT(*), COUNT(DISTINCT u), SUM(v) FROM graft.`$src` GROUP BY g")
    assert(VersionedTable.read(spark, mv).columns
      .contains(MaterializedView.ndvColName("u")))
    VersionedTable.append(Seq(("g0", 999L, 51L)).toDF("g", "u", "v"), src)
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`")
    val got = VersionedTable.read(spark, mv).filter($"g" === "g0")
      .select(col(MaterializedView.ndvColName("u"))).collect().head.getLong(0)
    val want = VersionedTable.read(spark, src).filter($"g" === "g0")
      .agg(countDistinct($"u")).collect().head.getLong(0)
    assert(got == want)
    // redefinition: adding a distinct column to an existing view refuses
    val e3 = intercept[IllegalArgumentException] {
      MaterializedView.create(spark, src, mv, Seq("g"), Seq("v"), Nil,
        where = None, partitionBy = Nil, distinctCols = Seq("u", "v"))
    }
    assert(e3.getMessage.contains("different definition"), e3.getMessage)
    // the helper is fenced and refuses direct refresh
    val hp = MaterializedView.distinctHelperPath(mv, "u")
    val e4 = intercept[IllegalArgumentException] {
      MaterializedView.refresh(spark, hp)
    }
    assert(e4.getMessage.contains("helper"), e4.getMessage)
    val e5 = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq(("g0", 1L, 1L)).toDF("g", "u", "v"), hp)
    }
    assert(e5.getMessage.contains("materialized view"), e5.getMessage)
    // DROP TABLE removes the helper beside the view
    spark.sql(s"DROP TABLE graft.`$mv`")
    assert(VersionedTable.latestVersion(spark, mv).isEmpty)
    assert(VersionedTable.latestVersion(spark, hp).isEmpty,
      "dropping the view must drop its distinct helpers")
  }

  test("grouping sets: the distinct family answers from helpers, subtotal NULLs matched") {
    val base = tmp(); val src = base + "/s2"; val mv = base + "/mv2"
    // two group columns (genuine NULL group VALUES are refused at view
    // create — MaterializedView.refuseNullGroups — so the NULLs this path
    // must match are exactly the Expand-introduced subtotal keys, which
    // the helper join compares NULL-SAFELY); u values shared across
    // groups (the rollup's distinct union must dedup them) and a NULL u
    val nullL = null.asInstanceOf[java.lang.Long]
    def l(v: Long): java.lang.Long = java.lang.Long.valueOf(v)
    VersionedTable.write(Seq(
      ("x", "p", l(1L), 1L), ("x", "p", l(2L), 2L),
      ("x", "q", l(2L), 3L), ("y", "p", l(2L), 4L),
      ("y", "q", l(3L), 5L), ("z", "p", l(1L), 6L),
      ("z", "q", l(9L), 7L), ("y", "p", nullL, 8L)
    ).toDF("g1", "g2", "u", "v"), src, statsCols = Seq("v"))
    MaterializedView.create(spark, src, mv, Seq("g1", "g2"), Seq("v"), Nil,
      where = None, partitionBy = Nil, distinctCols = Seq("u"))
    def withRuleOff[A](f: => A): A = {
      spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
      try f finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    }
    def check(q: () => DataFrame, label: String): Unit = {
      val on = q()
      val roots = GraftBatchShim.scanRootsOf(on).map(_.toString)
      assert(roots.contains(mv) && !roots.contains(src),
        s"$label must answer from view + helper, scans $roots:\n" +
          on.queryExecution.optimizedPlan)
      val got = on.collect().map(_.toString).sorted.toSeq
      val off = withRuleOff(q().collect().map(_.toString).sorted.toSeq)
      assert(got == off, s"$label\ngot=$got\noff=$off")
    }
    check(() => VersionedTable.read(spark, src)
      .rollup($"g1", $"g2")
      .agg(count(lit(1)).as("n"), countDistinct($"u").as("d"),
        sum_distinct($"u").as("sd"), expr("avg(distinct u)").as("ad"),
        grouping($"g1").as("gg")), "ROLLUP distinct family")
    check(() => VersionedTable.read(spark, src)
      .cube($"g1", $"g2")
      .agg(countDistinct($"u").as("d"), sum($"v").as("sv")),
      "CUBE distinct beside a plain re-sum")
    // the FLAT rollup (GROUP BY a grouping subset, no Expand) over the
    // same keys still routes through the helper join
    check(() => VersionedTable.read(spark, src).groupBy($"g1")
      .agg(count(lit(1)).as("n"), countDistinct($"u").as("d")),
      "flat rollup beside the sets path")
    // declines stay declines: a STALE view answers nothing
    VersionedTable.append(Seq(("x", "p", l(7L), 99L))
      .toDF("g1", "g2", "u", "v"), src)
    val stale = VersionedTable.read(spark, src).rollup($"g1")
      .agg(countDistinct($"u").as("d"))
    assert(GraftBatchShim.scanRootsOf(stale).map(_.toString).contains(src),
      "a stale view must not answer the rollup")
    MaterializedView.refresh(spark, mv)
    check(() => VersionedTable.read(spark, src).rollup($"g1")
      .agg(countDistinct($"u").as("d")), "re-armed after refresh")
    // try_sum declines (its overflow-to-NULL granularity differs from
    // the re-sum's cast) — regression for the NumericEvalContext guard
    val tryQ = VersionedTable.read(spark, src).groupBy($"g1", $"g2")
      .agg(expr("try_sum(v)").as("ts"))
    assert(GraftBatchShim.scanRootsOf(tryQ).map(_.toString).contains(src),
      s"try_sum must decline the rewrite:\n${tryQ.queryExecution.optimizedPlan}")
  }

  test("all-NULL group: COUNT(DISTINCT) is 0, not NULL, through the helper join") {
    // a group whose distinct column is ENTIRELY NULL has no helper row
    // (the helper stores non-null values only) — its LeftOuter join
    // misses and the rewrite's Coalesce(d, 0) must survive
    // NullPropagation: with the helper Count's pre-join NON-nullable
    // attribute, Catalyst truncates the Coalesce after the first child
    // and the 0 silently becomes NULL (the r16 ADVICE hole)
    val base = tmp(); val src = base + "/an"; val mv = base + "/anmv"
    val nullL = null.asInstanceOf[java.lang.Long]
    def l(v: Long): java.lang.Long = java.lang.Long.valueOf(v)
    VersionedTable.write(Seq(
      ("a", "p", l(1L), 1L), ("a", "q", l(2L), 2L),
      ("b", "p", nullL, 3L), ("b", "q", nullL, 4L), // b: all-NULL u
      ("c", "p", l(2L), 5L)
    ).toDF("g1", "g2", "u", "v"), src, statsCols = Seq("v"))
    MaterializedView.create(spark, src, mv, Seq("g1", "g2"), Seq("v"), Nil,
      where = None, partitionBy = Nil, distinctCols = Seq("u"))
    def withRuleOff[A](f: => A): A = {
      spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
      try f finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    }
    def check(q: () => DataFrame, label: String): Unit = {
      val on = q()
      val roots = GraftBatchShim.scanRootsOf(on).map(_.toString)
      assert(roots.contains(mv) && !roots.contains(src),
        s"$label must answer from view + helper, scans $roots:\n" +
          on.queryExecution.optimizedPlan)
      val got = on.collect().map(_.toString).sorted.toSeq
      val off = withRuleOff(q().collect().map(_.toString).sorted.toSeq)
      assert(got == off, s"$label\ngot=$got\noff=$off")
    }
    // flat rollup: b's row must read [b,0,null,null] (d=0; SUM/AVG
    // DISTINCT are SQL-NULL on all-null input — the join miss IS that)
    def flat() = VersionedTable.read(spark, src).groupBy($"g1")
      .agg(countDistinct($"u").as("d"), sum_distinct($"u").as("sd"),
        expr("avg(distinct u)").as("ad"), count(lit(1)).as("n"))
    check(flat _, "flat rollup with an all-NULL group")
    assert(flat().filter($"g1" === "b").collect().head.getAs[Long]("d") == 0L,
      "all-NULL group must COUNT(DISTINCT) = 0, not NULL")
    // grouping sets: the all-NULL group's exact row AND the rollup
    // subtotal it joins (the subtotal unions a,c values so it is
    // non-zero — b's own row is the 0)
    def sets() = VersionedTable.read(spark, src).rollup($"g1", $"g2")
      .agg(countDistinct($"u").as("d"), sum_distinct($"u").as("sd"))
    check(sets _, "ROLLUP with an all-NULL group")
    assert(sets().filter($"g1" === "b" && $"g2".isNull)
      .collect().head.getAs[Long]("d") == 0L,
      "the all-NULL group's rollup subtotal must be 0, not NULL")
  }

  test("grouping sets: the distinct family composes with JOIN views") {
    val base = tmp(); val src = base + "/jf"; val dim = base + "/jd"
    val mv = base + "/jmv"
    VersionedTable.write(Seq(
      ("g0", 1L, 10L), ("g0", 1L, 11L), ("g0", 2L, 12L),
      ("g1", 3L, 13L), ("g1", 2L, 14L),
      ("g2", 5L, 15L), ("g3", 6L, 16L)
    ).toDF("g", "u", "v"), src, statsCols = Seq("g"))
    VersionedTable.write(Seq(("g0", "x"), ("g1", "y"), ("g2", "y"),
      ("g3", "z")).toDF("pk", "tag"), dim)
    MaterializedView.createJoined(spark, src, dim, Seq("g" -> "pk"), mv,
      groupBy = Seq("tag"), sumCols = Seq("v"), distinctCols = Seq("u"))
    def q() = VersionedTable.read(spark, src)
      .join(VersionedTable.read(spark, dim), $"g" === $"pk")
      .rollup($"tag")
      .agg(count(lit(1)).as("n"), countDistinct($"u").as("d"),
        sum_distinct($"u").as("sd"), grouping($"tag").as("gt"))
    def check(label: String): Unit = {
      val on = q()
      val roots = GraftBatchShim.scanRootsOf(on).map(_.toString)
      assert(roots.contains(mv) && !roots.contains(src) &&
        !roots.contains(dim),
        s"$label: the join rollup must answer from view + helper, " +
          s"scans $roots:\n${on.queryExecution.optimizedPlan}")
      val got = on.collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
      val off = try q().collect().map(_.toString).sorted.toSeq
        finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
      assert(got == off, s"$label\ngot=$got\noff=$off")
    }
    check("create snapshot")
    // fact motion folds through; the rollup's subtotal dedups the u=2
    // value shared across tags
    VersionedTable.append(Seq(("g2", 2L, 19L), ("g0", 9L, 20L))
      .toDF("g", "u", "v"), src)
    MaterializedView.refresh(spark, mv)
    check("after fact append + refresh")
  }

  test("grouping sets: flat-path append chain keeps the sets rewrite exact") {
    val base = tmp(); val src = base + "/s3"; val mv = base + "/mv3"
    VersionedTable.write((1L to 60L).map(i => ("g" + i % 4, i % 9, i))
      .toDF("g", "u", "v"), src, statsCols = Seq("v"))
    MaterializedView.create(spark, src, mv, Seq("g"), Seq("v"), Nil,
      where = None, partitionBy = Nil, distinctCols = Seq("u"))
    def q() = VersionedTable.read(spark, src).rollup($"g")
      .agg(countDistinct($"u").as("d"), sum_distinct($"u").as("sd"),
        count(lit(1)).as("n"))
    // refresh → answer → mutate → refresh → answer, twice, with a
    // value-swap update in the middle (the distinct-only delta)
    (1 to 2).foreach { round =>
      VersionedTable.append(Seq(("g9", 100L + round, 1000L + round))
        .toDF("g", "u", "v"), src)
      spark.sql(s"UPDATE graft.`$src` SET u = u + 9 WHERE v % 17 = $round")
      MaterializedView.refresh(spark, mv)
      val on = q()
      val roots = GraftBatchShim.scanRootsOf(on).map(_.toString)
      assert(roots.contains(mv) && !roots.contains(src), roots.toString)
      val got = on.collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
      val off = try q().collect().map(_.toString).sorted.toSeq
        finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
      assert(got == off, s"round $round\ngot=$got\noff=$off")
    }
  }
}
