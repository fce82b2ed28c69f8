package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Incremental materialized views: refresh applies the change feed, never
  * a recompute; emptied groups leave, new groups arrive, replay is a
  * no-op, and the view always equals the full aggregation. */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("mv").toString

  private def fullAgg(src: String): Map[(String, Long), (Long, Long)] =
    VersionedTable.read(spark, src)
      .groupBy(col("g"), col("g2")).agg(count(lit(1)), sum(col("v")))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap

  private def viewRows(mv: String): Map[(String, Long), (Long, Long)] =
    VersionedTable.read(spark, mv)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("g2")) ->
        (r.getAs[Long](MaterializedView.CountCol),
          r.getAs[Long](MaterializedView.sumColName("v")))).toMap

  test("create + three DML refreshes track the source exactly; groups enter and leave") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 100L).map(i => (i, if (i <= 90) "a" else "b", i % 3, i))
        .toDF("id", "g", "g2", "v"), src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    assert(viewRows(mv) == fullAgg(src))
    // DELETE empties group ("b", *) entirely → its rows must LEAVE the view
    VersionedTable.delete(spark, src, col("g") === "b")
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv) == fullAgg(src))
    assert(!viewRows(mv).keys.exists(_._1 == "b"), viewRows(mv).toString)
    // APPEND introduces a NEW group ("c") and grows an existing one
    VersionedTable.append(
      Seq((200L, "c", 0L, 7L), (201L, "a", 1L, 5L)).toDF("id", "g", "g2", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv) == fullAgg(src))
    assert(viewRows(mv).contains(("c", 0L)))
    // UPDATE changes values without changing counts (delete+insert pair in
    // the feed; d_count = 0, d_sum ≠ 0 — the sum-only delta branch)
    VersionedTable.update(spark, src, col("id") <= 10L,
      Map("v" -> (col("v") + 100L)))
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv) == fullAgg(src))
  }

  test("concurrent refreshes serialize: racing threads never double-apply a window") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 60L).map(i => (i, "g" + i % 3, i % 2, i)).toDF("id", "g", "g2", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    // interleave source motion with refresh storms: every round appends,
    // then four threads refresh AT ONCE — the per-view lock serializes
    // them and the txnExpected precondition makes any externally-raced
    // window impossible to double-apply
    (1 to 3).foreach { round =>
      VersionedTable.append(
        Seq((100L * round, "g0", 0L, 10L * round),
          (100L * round + 1, "gNEW", 1L, round.toLong))
          .toDF("id", "g", "g2", "v"), src)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val tasks = (1 to 4).map(_ =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = MaterializedView.refresh(spark, mv)
          }))
        tasks.foreach(_.get())
      } finally pool.shutdown()
      assert(viewRows(mv) == fullAgg(src), s"round $round drifted")
    }
  }

  test("refresh is incremental and exactly-once: no-op without source motion, replay no-op, cursor atomic") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 50L).map(i => (i, "g" + i % 4, 0L, i)).toDF("id", "g", "g2", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    val v0 = VersionedTable.latestVersion(spark, mv).get
    // source unchanged → refresh commits nothing
    assert(MaterializedView.refresh(spark, mv) == v0)
    assert(VersionedTable.latestVersion(spark, mv).contains(v0))
    // one delta → exactly one new view version; the cursor moved WITH it
    VersionedTable.delete(spark, src, col("id") === 1L)
    val v1 = MaterializedView.refresh(spark, mv)
    assert(v1 == v0 + 1)
    assert(VersionedTable.lastTxn(spark, mv, MaterializedView.App)
      .contains(VersionedTable.latestVersion(spark, src).get))
    // replaying the same refresh (crash re-run) is the upsert txn no-op
    assert(MaterializedView.refresh(spark, mv) == v1)
    assert(viewRows(mv) == fullAgg(src))
  }

  test("SUM null semantics maintained exactly: null inserts, all-null groups, last non-null leaving") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    // group "a" mixes values and nulls; group "b" is ALL-null (sum = NULL)
    VersionedTable.write(Seq(
      (1L, "a", 0L, Some(10L)), (2L, "a", 0L, None),
      (3L, "b", 0L, None), (4L, "b", 0L, None))
      .toDF("id", "g", "g2", "v"), src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    def sums(): Map[String, Any] = VersionedTable.read(spark, mv).collect()
      .map(r => r.getAs[String]("g") -> r.getAs[Any]("sum_v")).toMap
    // null-safe view-vs-recompute comparison (the shared helpers use
    // getLong, which rightly refuses NULL sums)
    def tracks(): Unit = {
      val full = VersionedTable.read(spark, src)
        .groupBy(col("g"), col("g2")).agg(count(lit(1)), sum(col("v")))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getAs[Any](3))).toMap
      val view = VersionedTable.read(spark, mv).collect()
        .map(r => (r.getAs[String]("g"), r.getAs[Long]("g2")) ->
          (r.getAs[Long](MaterializedView.CountCol),
            r.getAs[Any](MaterializedView.sumColName("v")))).toMap
      assert(view == full, s"view $view != recompute $full")
    }
    assert(sums() == Map("a" -> 10L, "b" -> null))
    // a NULL insert moves the count, never the sum
    VersionedTable.append(Seq((5L, "a", 0L, Option.empty[Long]))
      .toDF("id", "g", "g2", "v"), src)
    MaterializedView.refresh(spark, mv)
    tracks()
    assert(sums() == Map("a" -> 10L, "b" -> null))
    // deleting the LAST non-null contribution sends the sum back to NULL
    VersionedTable.delete(spark, src, col("id") === 1L)
    MaterializedView.refresh(spark, mv)
    assert(sums() == Map("a" -> null, "b" -> null))
    // and a value arriving in an all-null group revives it
    VersionedTable.append(Seq((6L, "b", 0L, Some(7L)))
      .toDF("id", "g", "g2", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(sums() == Map("a" -> null, "b" -> 7L))
    tracks()
  }

  test("NULL group values are refused loudly, at create and at refresh") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(Seq((1L, Option.empty[String], 0L, 1L))
      .toDF("id", "g", "g2", "v"), src, statsCols = Seq("id"))
    val e = intercept[IllegalArgumentException] {
      MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v")) }
    assert(e.getMessage.contains("NULL group value"), e.getMessage)
    // a clean create, then a null group key arriving through the feed
    val src2 = base + "/src2"; val mv2 = base + "/mv2"
    VersionedTable.write(Seq((1L, Option("x"), 0L, 1L))
      .toDF("id", "g", "g2", "v"), src2, statsCols = Seq("id"))
    MaterializedView.create(spark, src2, mv2, Seq("g", "g2"), Seq("v"))
    VersionedTable.append(Seq((2L, Option.empty[String], 0L, 2L))
      .toDF("id", "g", "g2", "v"), src2)
    val e2 = intercept[IllegalArgumentException] {
      MaterializedView.refresh(spark, mv2) }
    assert(e2.getMessage.contains("NULL group value"), e2.getMessage)
  }

  test("MIN/MAX: inserts fold without a repair scan; a deleted extremum repairs only its group") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 60L).map(i => (i, "g" + i % 3, 0L, i)).toDF("id", "g", "g2", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Nil,
      Seq("v"), where = None)
    def mm(): Map[String, (Any, Any)] = VersionedTable.read(spark, mv)
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Any]("min_v"), r.getAs[Any]("max_v"))).toMap
    def expect(): Map[String, (Any, Any)] = VersionedTable.read(spark, src)
      .groupBy(col("g")).agg(min(col("v")), max(col("v"))).collect()
      .map(r => r.getString(0) -> (r.getAs[Any](1), r.getAs[Any](2))).toMap
    assert(mm() == expect())
    val scans0 = MaterializedView.repairScans.get()
    // inserts extend both extremes: pure fold, NO source scan
    VersionedTable.append(Seq((100L, "g0", 0L, 0L), (101L, "g1", 0L, 999L))
      .toDF("id", "g", "g2", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(mm() == expect())
    assert(MaterializedView.repairScans.get() == scans0,
      "an insert-only delta must never scan the source")
    // delete a NON-extremum value: still no repair
    VersionedTable.delete(spark, src, col("id") === 30L) // v=30, not extremal
    MaterializedView.refresh(spark, mv)
    assert(mm() == expect())
    assert(MaterializedView.repairScans.get() == scans0,
      "deleting a non-extremum must never scan the source")
    // delete the stored MAX of g1 (999): exactly one repair scan, exact result
    VersionedTable.delete(spark, src, col("id") === 101L)
    MaterializedView.refresh(spark, mv)
    assert(mm() == expect())
    assert(MaterializedView.repairScans.get() == scans0 + 1,
      "a deleted extremum repairs through one key-filtered source scan")
    // delete an extremum AND re-insert an equal value in the same delta:
    // the extremum survives, so the fold suffices — no scan
    VersionedTable.delete(spark, src, col("id") === 100L) // g0's min 0 leaves
    VersionedTable.append(Seq((102L, "g0", 0L, 0L))       // and 0 returns
      .toDF("id", "g", "g2", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(mm() == expect())
    assert(MaterializedView.repairScans.get() == scans0 + 1,
      "an equal re-insert makes the deleted extremum moot — no scan")
  }

  test("filtered view: WHERE maintained exactly through DML, rows entering and leaving the predicate") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 100L).map(i => (i, "g" + i % 3, 0L, i)).toDF("id", "g", "g2", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"),
      where = Some("v % 2 = 0"))
    def filteredAgg(): Map[(String, Long), (Long, Long)] =
      VersionedTable.read(spark, src).filter(col("v") % 2 === 0)
        .groupBy(col("g"), col("g2")).agg(count(lit(1)), sum(col("v")))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
    assert(viewRows(mv) == filteredAgg())
    // deletes of in- and out-of-predicate rows
    VersionedTable.delete(spark, src, col("id") <= 20L)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv) == filteredAgg())
    // an UPDATE that moves rows INTO the predicate (odd v → even v) and
    // one that moves rows OUT (even → odd): the feed's delete+insert pairs
    // filter row-locally to exactly the membership change
    VersionedTable.update(spark, src, col("id").between(21L, 30L),
      Map("v" -> (col("v") * 2L)))        // 5 odd rows enter
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv) == filteredAgg())
    VersionedTable.update(spark, src, col("id").between(31L, 40L),
      Map("v" -> (col("v") * 2L + 1L)))   // 5 even rows leave
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv) == filteredAgg())
  }

  test("graft.mv.autoRefresh: every mutating source commit chains the views' refresh") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 40L).map(i => (i, "g" + i % 2, 0L, i)).toDF("id", "g", "g2", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    VersionedTable.setProperties(spark, src,
      Map(VersionedTable.MvAutoRefreshKey -> "true"))
    def fresh(): Boolean =
      VersionedTable.lastTxn(spark, mv, MaterializedView.App) ==
        VersionedTable.latestVersion(spark, src)
    // the property commit itself left the view behind — the FIRST hooked
    // mutation catches it up and every later one keeps it at the head
    VersionedTable.append(Seq((50L, "g0", 0L, 7L)).toDF("id", "g", "g2", "v"), src)
    assert(fresh(), "append must chain the refresh")
    assert(viewRows(mv) == fullAgg(src))
    VersionedTable.delete(spark, src, col("id") === 50L)
    assert(fresh(), "DELETE must chain the refresh")
    VersionedTable.update(spark, src, col("id") === 1L,
      Map("v" -> (col("v") + 100L)))
    assert(fresh(), "UPDATE must chain the refresh")
    VersionedTable.delete(spark, src, col("id") === 2L, 0.9)
    assert(fresh(), "DV delete must chain the refresh")
    VersionedTable.upsert(Seq((3L, "g1", 0L, 999L)).toDF("id", "g", "g2", "v"),
      src, keys = Seq("id"))
    assert(fresh(), "MERGE must chain the refresh")
    assert(viewRows(mv) == fullAgg(src))
    // without the property, mutations leave the view stale (the default)
    VersionedTable.setProperties(spark, src,
      Map.empty, unset = Seq(VersionedTable.MvAutoRefreshKey))
    VersionedTable.append(Seq((60L, "g0", 0L, 1L)).toDF("id", "g", "g2", "v"), src)
    assert(!fresh(), "auto-refresh must stay opt-in")
  }

  test("graft.mv.autoRefresh: an overwrite write of the source chains the refresh") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 40L).map(i => (i, "g" + i % 2, 0L, i)).toDF("id", "g", "g2", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    VersionedTable.setProperties(spark, src,
      Map(VersionedTable.MvAutoRefreshKey -> "true"))
    // a snapshot whose groups leave, arrive and change
    VersionedTable.write(
      (1L to 30L).map(i => (i, "g" + (i % 3 + 1), 1L, 2 * i)).toDF("id", "g", "g2", "v"),
      src)
    assert(VersionedTable.lastTxn(spark, mv, MaterializedView.App) ==
      VersionedTable.latestVersion(spark, src), "overwrite must chain the refresh")
    val twin = base + "/twin"
    MaterializedView.create(spark, src, twin, Seq("g", "g2"), Seq("v"))
    assert(viewRows(mv) == viewRows(twin))
    assert(viewRows(mv) == fullAgg(src))
  }

  test("graft.mv.autoRefresh on a DIM: dim commits chain the join views pinning it") {
    val base = tmp(); val fact = base + "/fact"; val dim = base + "/dim"
    val mv = base + "/mv"
    VersionedTable.write(
      (1L to 60L).map(i => (i, i % 5, i)).toDF("id", "k", "v"), fact,
      statsCols = Seq("id"))
    VersionedTable.write(
      (0L to 4L).map(k => (k, "r" + k % 2)).toDF("k", "g"), dim,
      statsCols = Seq("k"))
    MaterializedView.createJoined(spark, fact, dim, Seq("k" -> "k"), mv,
      Seq("g"), Seq("v"))
    VersionedTable.setProperties(spark, dim,
      Map(VersionedTable.MvAutoRefreshKey -> "true"))
    def truth(): Map[String, (Long, Long)] =
      VersionedTable.read(spark, fact)
        .join(VersionedTable.read(spark, dim), Seq("k"))
        .groupBy(col("g")).agg(count(lit(1)), sum(col("v")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def view(): Map[String, (Long, Long)] =
      VersionedTable.read(spark, mv).collect().map(r =>
        r.getAs[String]("g") -> (r.getAs[Long]("mv_count"),
          r.getAs[Long]("sum_v"))).toMap
    // a dim UPDATE chains refresh through the DIM-side roster: the
    // dim-delta pass folds it in with NO manual verb anywhere
    VersionedTable.update(spark, dim, col("k") === 2L,
      Map("g" -> lit("rX")))
    assert(view() == truth(), "dim update must auto-refresh the join view")
    assert(view().contains("rX"))
    // and a dim APPEND matching existing fact rows... needs a dangling
    // fact key first — append the fact row, refresh manually (the FACT
    // has no autoRefresh), then the dim row arrives and chains
    VersionedTable.append(Seq((100L, 9L, 50L)).toDF("id", "k", "v"), fact)
    MaterializedView.refresh(spark, mv)
    VersionedTable.append(Seq((9L, "rNEW")).toDF("k", "g"), dim)
    assert(view() == truth(), "dim append must auto-refresh the join view")
    assert(view().contains("rNEW"))
  }

  test("maintainStream: a live query keeps the view fresh across external DML, exactly once") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    val ckpt = base + "/ckpt"
    VersionedTable.write(
      (1L to 40L).map(i => (i, "g" + i % 2, 0L, i)).toDF("id", "g", "g2", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    // backlog accumulated BEFORE the stream starts (the external-writer
    // story): deletes and appends the plain stream mode would refuse
    VersionedTable.delete(spark, src, col("id") <= 5L)
    VersionedTable.append(Seq((50L, "g0", 0L, 9L)).toDF("id", "g", "g2", "v"), src)
    val q = MaterializedView.maintainStream(spark, mv, ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      assert(viewRows(mv) == fullAgg(src))
      val vAfterDrain = VersionedTable.latestVersion(spark, mv).get
      // live DML while the query runs
      VersionedTable.update(spark, src, col("id") === 10L,
        Map("v" -> (col("v") + 1000L)))
      q.processAllAvailable()
      assert(viewRows(mv) == fullAgg(src))
      assert(VersionedTable.latestVersion(spark, mv).contains(vAfterDrain + 1),
        "one source commit must land as exactly one view version")
      // no source motion → no view churn (the trigger stream reads no
      // data and refresh no-ops on an unchanged watermark)
      q.processAllAvailable()
      assert(VersionedTable.latestVersion(spark, mv).contains(vAfterDrain + 1))
    } finally q.stop()
    // restart from the checkpoint: still exactly-once, still fresh
    VersionedTable.append(Seq((51L, "g1", 0L, 4L)).toDF("id", "g", "g2", "v"), src)
    val q2 = MaterializedView.maintainStream(spark, mv, ckpt)
    try q2.awaitTermination() finally q2.stop() // AvailableNow drains and ends
    assert(viewRows(mv) == fullAgg(src))
    assert(VersionedTable.lastTxn(spark, mv, MaterializedView.App) ==
      VersionedTable.latestVersion(spark, src))
  }

  test("view content is write-fenced: direct mutations refuse, refresh still applies") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 20L).map(i => (i, "g" + i % 2, 0L, i)).toDF("id", "g", "g2", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    def refuses(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("derived"), e.getMessage)
    }
    val bogus = Seq(("gX", 0L, 99L, 9L, 9L)).toDF("g", "g2",
      MaterializedView.CountCol,
      MaterializedView.sumColName("v"), MaterializedView.nnColName("v"))
    refuses(VersionedTable.append(bogus, mv))
    refuses(VersionedTable.delete(spark, mv, col("g") === "g0"))
    refuses(VersionedTable.update(spark, mv, col("g") === "g0",
      Map(MaterializedView.CountCol -> lit(0L))))
    refuses(VersionedTable.delete(spark, mv, col("g") === "g0", 0.9))
    refuses(VersionedTable.upsert(bogus, mv, keys = Seq("g", "g2")))
    refuses(spark.sql(s"DELETE FROM graft.`$mv` WHERE g = 'g0'").collect())
    // the fence is for CONTENT, not maintenance: refresh still applies
    VersionedTable.delete(spark, src, col("id") <= 4L)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv) == fullAgg(src))
  }

  test("partitioned view: hive layout through create and refresh, rewrite prunes through it") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 90L).map(i => (i, "g" + i % 3, i % 2, i)).toDF("id", "g", "g2", "v"),
      src, statsCols = Seq("id"))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` PARTITIONED BY (g) AS " +
      s"SELECT g, g2, COUNT(*), SUM(v) FROM graft.`$src` GROUP BY g, g2")
    def files(): Seq[String] = VersionedTable.filesOf(spark, mv,
      VersionedTable.latestVersion(spark, mv).get)
    assert(files().nonEmpty && files().forall(_.contains("g=g")),
      files().mkString(","))
    assert(viewRows(mv) == fullAgg(src))
    // refresh keeps the partitioned layout (every CoW verb does)
    VersionedTable.delete(spark, src, col("id") % 4 === 0)
    MaterializedView.refresh(spark, mv)
    assert(files().forall(_.contains("g=g")), files().mkString(","))
    assert(viewRows(mv) == fullAgg(src))
    // a rewritten query with a residual on the PARTITION column reads the
    // view and prunes its directories; values match the source answer
    val q = spark.sql(s"SELECT g2, COUNT(*) AS n, SUM(v) AS s " +
      s"FROM graft.`$src` WHERE g = 'g1' GROUP BY g2")
    assert(org.apache.spark.sql.graft.GraftBatchShim.scanRootsOf(q)
      .map(_.toString).contains(mv))
    val expect = VersionedTable.read(spark, src).filter(col("g") === "g1")
      .groupBy(col("g2")).agg(count(lit(1)), sum(col("v"))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(q.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2))).toMap == expect)
    // partition columns must be group keys — only group keys exist
    val e = intercept[IllegalArgumentException] {
      MaterializedView.create(spark, src, base + "/mv2", Seq("g"), Seq("v"),
        Nil, None, partitionBy = Seq("g2")) }
    assert(e.getMessage.contains("GROUP BY columns"), e.getMessage)
  }

  test("FULL refresh recovers a view whose source history was vacuumed past the watermark") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 50L).map(i => (i, "g" + i % 3, 0L, i)).toDF("id", "g", "g2", "v"),
      src, statsCols = Seq("id"))
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    // the source moves several times WITHOUT refreshes, then its history
    // is reclaimed — the incremental diff's base manifests are gone
    VersionedTable.delete(spark, src, col("id") <= 10L)
    VersionedTable.append(Seq((60L, "g0", 0L, 6L)).toDF("id", "g", "g2", "v"), src)
    VersionedTable.vacuumRetain(spark, src, 0L)
    intercept[Exception] { MaterializedView.refresh(spark, mv) }
    // FULL refresh recomputes from the head snapshot, replaces the
    // content, and re-arms the watermark in the SAME commit
    val v = spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv` FULL")
      .collect().head.getLong(0)
    assert(viewRows(mv) == fullAgg(src))
    assert(VersionedTable.lastTxn(spark, mv, MaterializedView.App) ==
      VersionedTable.latestVersion(spark, src))
    // replay (crash re-run) of the same full refresh is the txn no-op
    assert(MaterializedView.fullRefresh(spark, mv) == v)
    // and the incremental path works again from the new watermark
    VersionedTable.append(Seq((61L, "g1", 0L, 7L)).toDF("id", "g", "g2", "v"), src)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv) == fullAgg(src))
  }

  test("join view: fact DML maintains fact ⋈ dim exactly; dim DML folds incrementally") {
    val base = tmp(); val fact = base + "/fact"; val dim = base + "/dim"
    val mv = base + "/mv"
    VersionedTable.write(
      (1L to 100L).map(i => (i, i % 10, i)).toDF("id", "k", "v"),
      fact, statsCols = Seq("id"))
    VersionedTable.write(
      (0L to 9L).map(k => (k, "region" + k % 3)).toDF("k", "g"),
      dim, statsCols = Seq("k"))
    def joinedAgg(): Map[String, (Long, Long)] =
      VersionedTable.read(spark, fact).as("f")
        .join(VersionedTable.read(spark, dim).as("d"), "k")
        .groupBy(col("g")).agg(count(lit(1)), sum(col("v")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def view(): Map[String, (Long, Long)] =
      VersionedTable.read(spark, mv).collect().map(r =>
        r.getAs[String]("g") -> (r.getAs[Long]("mv_count"),
          r.getAs[Long]("sum_v"))).toMap
    MaterializedView.createJoined(spark, fact, dim, Seq("k" -> "k"), mv,
      Seq("g"), Seq("v"))
    assert(view() == joinedAgg())
    // fact-side DML chain: delete, append (incl. a dangling fk that must
    // stay OUT of the view — inner join), update
    VersionedTable.delete(spark, fact, col("id") % 7 === 0)
    MaterializedView.refresh(spark, mv)
    assert(view() == joinedAgg())
    VersionedTable.append(
      Seq((200L, 3L, 50L), (201L, 99L, 1000L)).toDF("id", "k", "v"), fact)
    MaterializedView.refresh(spark, mv)
    assert(view() == joinedAgg())
    VersionedTable.update(spark, fact, col("id") <= 5L,
      Map("v" -> (col("v") + 100L)))
    MaterializedView.refresh(spark, mv)
    assert(view() == joinedAgg())
    // dim motion: ONE refresh folds the dim's change feed in (the pin
    // advances atomically with the merge), then runs the fact pass —
    // previously this refused and forced a FULL recompute
    VersionedTable.append(Seq((10L, "regionNEW")).toDF("k", "g"), dim)
    VersionedTable.append(Seq((300L, 10L, 7L)).toDF("id", "k", "v"), fact)
    MaterializedView.refresh(spark, mv)
    assert(view() == joinedAgg())
    assert(view().contains("regionNEW"))
    // dim UPDATE re-keys groups: every matched fact row leaves its old
    // group (delete side, old attrs) and enters the new (insert side)
    VersionedTable.update(spark, dim, col("k") === 3L,
      Map("g" -> lit("regionX")))
    MaterializedView.refresh(spark, mv)
    assert(view() == joinedAgg())
    assert(view().contains("regionX"))
    // dim DELETE retracts every matched fact row (inner join)
    VersionedTable.delete(spark, dim, col("k") === 9L)
    MaterializedView.refresh(spark, mv)
    assert(view() == joinedAgg())
    // and the incremental fact path works against the advanced pin
    VersionedTable.append(Seq((301L, 10L, 8L)).toDF("id", "k", "v"), fact)
    MaterializedView.refresh(spark, mv)
    assert(view() == joinedAgg())
  }

  test("maintainStream keeps a JOIN view fresh: the trigger rides the fact feed") {
    val base = tmp(); val fact = base + "/fact"; val dim = base + "/dim"
    val mv = base + "/mv"; val ckpt = base + "/ckpt"
    VersionedTable.write(
      (1L to 50L).map(i => (i, i % 5, i)).toDF("id", "k", "v"), fact,
      statsCols = Seq("id"))
    VersionedTable.write(
      (0L to 4L).map(k => (k, "r" + k % 2)).toDF("k", "g"), dim)
    MaterializedView.createJoined(spark, fact, dim, Seq("k" -> "k"), mv,
      Seq("g"), Seq("v"))
    def joinedAgg(): Map[String, (Long, Long)] =
      VersionedTable.read(spark, fact)
        .join(VersionedTable.read(spark, dim), Seq("k"))
        .groupBy(col("g")).agg(count(lit(1)), sum(col("v")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def view(): Map[String, (Long, Long)] =
      VersionedTable.read(spark, mv).collect().map(r =>
        r.getAs[String]("g") -> (r.getAs[Long]("mv_count"),
          r.getAs[Long]("sum_v"))).toMap
    // fact backlog before the stream starts
    VersionedTable.delete(spark, fact, col("id") % 4 === 0)
    val q = MaterializedView.maintainStream(spark, mv, ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      assert(view() == joinedAgg())
      // live fact DML: each refresh joins only the diff with the PINNED dim
      VersionedTable.append(Seq((100L, 2L, 30L)).toDF("id", "k", "v"), fact)
      q.processAllAvailable()
      assert(view() == joinedAgg())
      // live DIM DML: the dim feed triggers too, and the refresh's
      // dim-delta pass folds it in (pin advances, no FULL, no restart)
      VersionedTable.append(Seq((5L, "rNEW")).toDF("k", "g"), dim)
      VersionedTable.append(Seq((101L, 5L, 40L)).toDF("id", "k", "v"), fact)
      q.processAllAvailable()
      assert(view() == joinedAgg())
      assert(view().contains("rNEW"))
      VersionedTable.update(spark, dim, col("k") === 1L,
        Map("g" -> lit("rX")))
      q.processAllAvailable()
      assert(view() == joinedAgg())
      assert(view().contains("rX"))
    } finally q.stop()
  }

  test("multi-dim star view: delta refresh through both dims, dim deltas fold per dim") {
    val base = tmp(); val fact = base + "/fact"
    val d1 = base + "/d1"; val d2 = base + "/d2"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 200L).map(i => (i, i % 10, i % 4, i)).toDF("id", "k1", "k2", "v"),
      fact, statsCols = Seq("id"))
    VersionedTable.write(
      (0L to 9L).map(k => (k, "a" + k % 3)).toDF("k1", "g1"), d1,
      statsCols = Seq("k1"))
    VersionedTable.write(
      (0L to 3L).map(k => (k, "b" + k % 2)).toDF("k2", "g2"), d2,
      statsCols = Seq("k2"))
    def truth(): Map[(String, String), (Long, Long)] =
      VersionedTable.read(spark, fact)
        .join(VersionedTable.read(spark, d1), Seq("k1"))
        .join(VersionedTable.read(spark, d2), Seq("k2"))
        .groupBy(col("g1"), col("g2"))
        .agg(count(lit(1)), sum(col("v"))).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
    def view(): Map[(String, String), (Long, Long)] =
      VersionedTable.read(spark, mv).collect().map(r =>
        (r.getAs[String]("g1"), r.getAs[String]("g2")) ->
          (r.getAs[Long]("mv_count"), r.getAs[Long]("sum_v"))).toMap
    MaterializedView.createJoinedMulti(spark, fact,
      Seq(d1 -> Seq("k1" -> "k1"), d2 -> Seq("k2" -> "k2")), mv,
      Seq("g1", "g2"), Seq("v"))
    assert(view() == truth())
    // fact DML chain: each refresh joins only the diff with BOTH pinned
    // dims (a dangling k1 stays out — inner chain)
    VersionedTable.delete(spark, fact, col("id") % 6 === 0)
    MaterializedView.refresh(spark, mv)
    assert(view() == truth())
    VersionedTable.append(
      Seq((500L, 3L, 2L, 90L), (501L, 77L, 1L, 9L)).toDF("id", "k1", "k2", "v"),
      fact)
    MaterializedView.refresh(spark, mv)
    assert(view() == truth())
    // EITHER dim moving folds ITS change feed in — then the fact pass
    // runs against the advanced pins, all inside ONE refresh()
    VersionedTable.append(Seq((4L, "bNEW")).toDF("k2", "g2"), d2)
    VersionedTable.append(Seq((502L, 1L, 4L, 3L)).toDF("id", "k1", "k2", "v"),
      fact)
    MaterializedView.refresh(spark, mv)
    assert(view() == truth())
    assert(view().keys.exists(_._2 == "bNEW"))
    // BOTH dims moving: one delta pass per dim, chain-ordered, each pin
    // advancing atomically with its own merge commit
    VersionedTable.update(spark, d1, col("k1") === 2L,
      Map("g1" -> lit("aX")))
    VersionedTable.delete(spark, d2, col("k2") === 0L)
    MaterializedView.refresh(spark, mv)
    assert(view() == truth())
    assert(view().keys.exists(_._1 == "aX"))
    // FULL refresh remains the explicit rebuild verb (re-pins, same truth)
    MaterializedView.fullRefresh(spark, mv)
    assert(view() == truth())
    // the incremental path works again against the new pins
    VersionedTable.append(Seq((503L, 2L, 4L, 5L)).toDF("id", "k1", "k2", "v"),
      fact)
    MaterializedView.refresh(spark, mv)
    assert(view() == truth())
    // redefinition guard: different dim list refuses; same resumes
    val e2 = intercept[IllegalArgumentException] {
      MaterializedView.createJoinedMulti(spark, fact,
        Seq(d1 -> Seq("k1" -> "k1")), mv, Seq("g1", "g2"), Seq("v")) }
    assert(e2.getMessage.contains("different"), e2.getMessage)
    MaterializedView.createJoinedMulti(spark, fact,
      Seq(d1 -> Seq("k1" -> "k1"), d2 -> Seq("k2" -> "k2")), mv,
      Seq("g1", "g2"), Seq("v")) // idempotent resume
    assert(view() == truth())
    // second-dim name collision against the accumulated frame refuses
    val clash2 = base + "/clash2"
    VersionedTable.write(Seq((0L, "x")).toDF("k2", "g1"), clash2)
    val e3 = intercept[IllegalArgumentException] {
      MaterializedView.createJoinedMulti(spark, fact,
        Seq(d1 -> Seq("k1" -> "k1"), clash2 -> Seq("k2" -> "k2")),
        base + "/mvX", Seq("g1"), Seq("v")) }
    assert(e3.getMessage.contains("collide"), e3.getMessage)
    // the SQL DDL spells the same star with repeated JOIN clauses — and
    // maintains MIN/MAX: the extremum delete exercises the repair scan
    // THROUGH both pinned dims
    val mvSql = base + "/mvsql"
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mvSql` AS " +
      s"SELECT g1, g2, COUNT(*), SUM(v), MIN(v), MAX(v) FROM graft.`$fact` " +
      s"JOIN graft.`$d1` ON k1 = k1 JOIN graft.`$d2` ON k2 = k2 " +
      "GROUP BY g1, g2")
    def sqlView() = VersionedTable.read(spark, mvSql).collect().map(r =>
      (r.getAs[String]("g1"), r.getAs[String]("g2")) ->
        (r.getAs[Long]("mv_count"), r.getAs[Long]("sum_v"),
          r.getAs[Long]("min_v"), r.getAs[Long]("max_v"))).toMap
    def truthMm(): Map[(String, String), (Long, Long, Long, Long)] =
      VersionedTable.read(spark, fact)
        .join(VersionedTable.read(spark, d1), Seq("k1"))
        .join(VersionedTable.read(spark, d2), Seq("k2"))
        .groupBy(col("g1"), col("g2"))
        .agg(count(lit(1)), sum(col("v")), min(col("v")), max(col("v")))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(sqlView() == truthMm())
    // delete the global max rows: several groups lose their stored MAX,
    // forcing the per-group repair scan to re-join the star
    val mx = VersionedTable.read(spark, fact).agg(max(col("v")))
      .collect().head.getLong(0)
    VersionedTable.delete(spark, fact, col("v") >= mx - 30L)
    MaterializedView.refresh(spark, mvSql)
    assert(sqlView() == truthMm())
    MaterializedView.refresh(spark, mv) // keep the API view fresh too
    assert(view() == truth())
    // DESCRIBE DETAIL lists BOTH pinned dims with their live state
    val dd = spark.sql(s"DESCRIBE DETAIL graft.`$mvSql`").collect().head
      .getAs[String]("mv_join")
    assert(dd.contains(d1) && dd.contains(d2) &&
      dd.split(";").forall(_.endsWith("[armed]")), dd)
  }

  test("dim-delta refresh: MIN/MAX repair through a dim delta, WHERE on the joined frame, props-only dim commits") {
    val base = tmp(); val fact = base + "/fact"; val dim = base + "/dim"
    val mv = base + "/mv"
    VersionedTable.write(
      (1L to 50L).map(i => (i, i % 5, i)).toDF("id", "k", "v"),
      fact, statsCols = Seq("id", "k"))
    VersionedTable.write(
      (0L to 4L).map(k => (k, "r" + k % 2)).toDF("k", "g"), dim,
      statsCols = Seq("k"))
    MaterializedView.createJoined(spark, fact, dim, Seq("k" -> "k"), mv,
      Seq("g"), Nil, Seq("v"), Some("v <= 45"))
    def truth(): Map[String, (Any, Any)] =
      VersionedTable.read(spark, fact)
        .join(VersionedTable.read(spark, dim), Seq("k"))
        .filter(col("v") <= 45).groupBy(col("g"))
        .agg(min(col("v")), max(col("v"))).collect()
        .map(r => r.getString(0) -> (r.getAs[Any](1), r.getAs[Any](2))).toMap
    def view(): Map[String, (Any, Any)] = VersionedTable.read(spark, mv)
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Any]("min_v"), r.getAs[Any]("max_v"))).toMap
    assert(view() == truth())
    val scans0 = MaterializedView.repairScans.get()
    // dim UPDATE re-keys k=0's fact rows out of r0 — taking r0's stored
    // max (v=45) with them: the delete side of the dim delta triggers the
    // per-group repair, computed against fact@v0 ⋈ dim@HEAD; the insert
    // side folds r1's new extremes without a scan
    VersionedTable.update(spark, dim, col("k") === 0L,
      Map("g" -> lit("r1")))
    MaterializedView.refresh(spark, mv)
    assert(view() == truth())
    assert(MaterializedView.repairScans.get() == scans0 + 1,
      "the dim update removed r0's stored max — exactly one repair scan")
    // a props-only dim commit (no row changes) still advances the pin —
    // through an EMPTY delta — so refresh converges instead of recursing
    VersionedTable.setProperties(spark, dim, Map("comment" -> "dim notes"))
    MaterializedView.refresh(spark, mv)
    assert(view() == truth())
    // the fact path keeps working against the advanced pin, WHERE intact
    VersionedTable.append(
      Seq((200L, 1L, 7L), (201L, 1L, 999L)).toDF("id", "k", "v"), fact)
    MaterializedView.refresh(spark, mv)
    assert(view() == truth())
  }

  test("join view contracts refuse loudly: duplicate dim keys, colliding names") {
    val base = tmp(); val fact = base + "/fact"; val dup = base + "/dup"
    val clash = base + "/clash"
    VersionedTable.write(Seq((1L, 1L, 2L)).toDF("id", "k", "v"), fact)
    VersionedTable.write(Seq((1L, "a"), (1L, "b")).toDF("k", "g"), dup)
    val e1 = intercept[IllegalArgumentException] {
      MaterializedView.createJoined(spark, fact, dup, Seq("k" -> "k"),
        base + "/mv1", Seq("g"), Seq("v"))
    }
    assert(e1.getMessage.contains("not unique"), e1.getMessage)
    VersionedTable.write(Seq((1L, "a", 9L)).toDF("k", "g", "v"), clash)
    val e2 = intercept[IllegalArgumentException] {
      MaterializedView.createJoined(spark, fact, clash, Seq("k" -> "k"),
        base + "/mv2", Seq("g"), Seq("v"))
    }
    assert(e2.getMessage.contains("collide"), e2.getMessage)
  }

  test("refresh reads the DIFF, not the source: only changed files open") {
    val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
    // 8 single-file commits → 8 source files with disjoint id ranges
    (0 until 8).foreach { k =>
      val df = ((k * 100L + 1) to (k * 100L + 100))
        .map(i => (i, "g" + k, 0L, i)).toDF("id", "g", "g2", "v").coalesce(1)
      if (k == 0) VersionedTable.write(df, src, statsCols = Seq("id"))
      else VersionedTable.append(df, src)
    }
    MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"))
    // delete inside ONE file's id range: the diff is that file's marks
    VersionedTable.delete(spark, src, col("id").between(301L, 310L))
    val delta = VersionedTable.changes(spark, src,
      VersionedTable.lastTxn(spark, mv, MaterializedView.App).get,
      VersionedTable.latestVersion(spark, src).get)
    // the change feed is FILE-granular: the diff's rows come from the one
    // marked file (its group) — the other 7 files never contribute
    val groups = delta.select(col("g")).distinct().as[String].collect().toSet
    assert(groups == Set("g3"), groups.toString)
    MaterializedView.refresh(spark, mv)
    assert(viewRows(mv) == fullAgg(src))
  }

  test("one refresh scans the removed source file in exactly one job (plain and COUNT(DISTINCT) views)") {
    Seq(Nil, Seq("id")).foreach { distinctCols =>
      val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
      VersionedTable.write(
        (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b", i % 3, i))
          .toDF("id", "g", "g2", "v").repartitionByRange(4, col("id")),
        src, statsCols = Seq("id"))
      MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"),
        distinctCols = distinctCols)
      val v1 = VersionedTable.latestVersion(spark, src).get
      // 20 of one 25-row file's rows, past the fraction: rewrites that file
      VersionedTable.delete(spark, src, col("id") <= 20L)
      val removed = VersionedTable.filesOf(spark, src, v1)
        .diff(VersionedTable.filesOf(spark, src, v1 + 1))
      assert(removed.size == 1, removed)
      val jobs = OpenLoggingFs.jobsOpening(spark, s"$src/${removed.head}") {
        MaterializedView.refresh(spark, mv)
      }
      assert(jobs.size == 1, s"distinct=$distinctCols: jobs $jobs")
      assert(viewRows(mv) == fullAgg(src), s"distinct=$distinctCols")
    }
  }

  test("one refresh scans the marked source file in exactly one job (plain and COUNT(DISTINCT) views)") {
    Seq(Nil, Seq("id")).foreach { distinctCols =>
      val base = tmp(); val src = base + "/src"; val mv = base + "/mv"
      VersionedTable.write(
        (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b", i % 3, i))
          .toDF("id", "g", "g2", "v").repartitionByRange(4, col("id")),
        src, statsCols = Seq("id"))
      MaterializedView.create(spark, src, mv, Seq("g", "g2"), Seq("v"),
        distinctCols = distinctCols)
      val v1 = VersionedTable.latestVersion(spark, src).get
      // a MERGE matching 3 rows of one 25-row file marks them
      VersionedTable.upsert(Seq((1L, "c", 0L, 7L), (2L, "a", 5L, 8L), (3L, "b", 0L, 9L))
        .toDF("id", "g", "g2", "v"), src, Seq("id"))
      val before = VersionedTable.filesOf(spark, src, v1)
      assert(before.forall(VersionedTable.filesOf(spark, src, v1 + 1).contains))
      val marked = VersionedTable.history(spark, src)
        .filter(col("version") === v1 + 1).collect().head.getAs[Long]("num_dv_deleted")
      assert(marked == 3L, s"distinct=$distinctCols: the MERGE must mark, not rewrite")
      val file = VersionedTable.pruneInfo(spark, src, col("id") <= 3L, Some(v1))._1
      assert(file.size == 1, file)
      val jobs = OpenLoggingFs.jobsOpening(spark,
        new org.apache.hadoop.fs.Path(file.head).toUri.getPath) {
        MaterializedView.refresh(spark, mv)
      }
      assert(jobs.size == 1, s"distinct=$distinctCols: jobs $jobs")
      assert(viewRows(mv) == fullAgg(src), s"distinct=$distinctCols")
    }
  }
}
