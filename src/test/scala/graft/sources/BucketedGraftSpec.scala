package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bucketed (CLUSTERED BY) graft tables: the declared hash layout makes
  * joins/aggregations on the bucket key exchange-free, equality filters
  * prune to one bucket's files, and every CoW verb preserves the layout
  * because a row's bucket is a pure function of its column values. */
class BucketedGraftSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("bgraft").toString + "/t"

  /** Run `body` with broadcast joins OFF so exchange-elision claims are
    * proven on the shuffle-join plan, not trivially by a broadcast. */
  private def noBroadcast[A](body: => A): A = {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  /** A bare filter has no distribution requirement, so Spark's
    * DisableUnnecessaryBucketedScan prefers split-parallel reads over the
    * one-partition-per-bucket form (manifest min/max pruning still fires
    * there). Pin the bucketed form ON to assert the bucket-pruning
    * machinery itself. */
  private def bucketedScan[A](body: => A): A = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, saved)
  }

  private def bucketIdOf(rel: String): Option[Int] = {
    val m = "_(\\d+)(?:\\..*)?$".r.findFirstMatchIn(
      rel.substring(rel.lastIndexOf('/') + 1))
    m.map(_.group(1).toInt)
  }

  test("co-bucketed graft tables join with zero exchange; results exact") {
    val a = tmp(); val b = tmp()
    val orders = Tables.orders(spark, sf0001)
    val customer = Tables.customer(spark, sf0001)
    VersionedTable.writeBucketed(orders, a, Seq("o_custkey"), 8)
    VersionedTable.writeBucketed(customer, b, Seq("c_custkey"), 8)
    // every live file physically carries its bucket ordinal
    VersionedTable.filesOf(spark, a, VersionedTable.latestVersion(spark, a).get).foreach(r =>
      assert(bucketIdOf(r).exists(i => i >= 0 && i < 8), r))
    noBroadcast {
      val j = VersionedTable.read(spark, a)
        .join(VersionedTable.read(spark, b), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("v"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan) // honest: not a broadcast
      assert(!plan.contains("Exchange hashpartitioning(o_custkey") &&
        !plan.contains("Exchange hashpartitioning(c_custkey"),
        s"bucketed join sides must be exchange-free:\n$plan")
      val got = j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
    }
  }

  test("equality filter on the bucket column prunes to one bucket") {
    val p = tmp()
    VersionedTable.writeBucketed(Tables.orders(spark, sf0001), p,
      Seq("o_custkey"), 8)
    bucketedScan {
      val q = VersionedTable.read(spark, p).filter(col("o_custkey") === 42L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan)
      val expected = Tables.orders(spark, sf0001)
        .filter(col("o_custkey") === 42L).count()
      assert(q.count() == expected)
    }
  }

  test("CoW DELETE and MERGE re-bucket their rewrites; appends inherit") {
    val p = tmp()
    VersionedTable.writeBucketed(
      (1L to 400L).map(i => (i, i % 37, s"v$i")).toDF("id", "k", "v"),
      p, Seq("k"), 8)
    // append inherits the layout (no explicit bucket args)
    VersionedTable.append(
      (401L to 500L).map(i => (i, i % 37, s"v$i")).toDF("id", "k", "v"), p)
    // CoW delete: the rewrite restages through the bucket shuffle
    VersionedTable.delete(spark, p, col("id") <= 50L)
    // CoW upsert: updates + inserts land in their value-hashed buckets
    VersionedTable.upsert(
      Seq((60L, 60L % 37, "UPDATED"), (900L, 900L % 37, "NEW"))
        .toDF("id", "k", "v"), p, Seq("id"))
    VersionedTable.filesOf(spark, p, VersionedTable.latestVersion(spark, p).get).foreach(r =>
      assert(bucketIdOf(r).exists(i => i >= 0 && i < 8), r))
    val rows = VersionedTable.read(spark, p)
    assert(rows.count() == 451) // 500 - 50 + 1 new
    assert(rows.filter(col("id") === 60L).select("v").as[String].head() == "UPDATED")
    // rows are IN the bucket their values hash to: the bucket-pruned read
    // of every k must see exactly that k's rows
    noBroadcast {
      val self = rows.groupBy(col("k")).agg(count(lit(1)).as("n"))
      val plan = self.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(k"),
        s"bucketed aggregation must be exchange-free:\n$plan")
      val got = self.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = (51L to 500L).map(_ % 37).groupBy(identity)
        .map { case (k, xs) => k -> (xs.size + (if (k == 900L % 37) 1 else 0)).toLong }
      assert(got == exp)
    }
  }

  test("OPTIMIZE packs per bucket and keeps the layout live") {
    val p = tmp()
    VersionedTable.writeBucketed(
      (1L to 100L).map(i => (i, i % 11)).toDF("id", "k"), p, Seq("k"), 4)
    (0 until 3).foreach(g => VersionedTable.append(
      (1L to 50L).map(i => (1000L * g + i, i % 11)).toDF("id", "k"), p))
    VersionedTable.compact(spark, p)
    val files = VersionedTable.filesOf(spark, p, VersionedTable.latestVersion(spark, p).get)
    files.foreach(r => assert(bucketIdOf(r).exists(i => i >= 0 && i < 4), r))
    // packed: at most one file per bucket
    val perBucket = files.groupBy(bucketIdOf)
    assert(perBucket.values.forall(_.size == 1), files.toString)
    assert(VersionedTable.read(spark, p).count() == 250)
  }

  test("SORTED BY buckets: after OPTIMIZE the join is a pure streaming merge — no exchange, no sort") {
    val a = tmp(); val b = tmp()
    VersionedTable.writeBucketed(
      (1L to 300L).map(i => (i, s"a$i")).toDF("k", "va"), a,
      Seq("k"), 4, sortBy = Seq("k"))
    VersionedTable.writeBucketed(
      (200L to 500L).map(i => (i, s"b$i")).toDF("k", "vb")
        .withColumnRenamed("k", "k2"), b,
      Seq("k2"), 4, sortBy = Seq("k2"))
    // Spark reports sorted-bucket ordering only behind this legacy conf
    // (foreign writers can't be trusted to have sorted; graft's stage()
    // enforces the sort, so enabling it for graft reads is sound)
    val orderKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set(orderKey, "true")
    def joinPlan(): (String, Long) = noBroadcast {
      val j = VersionedTable.read(spark, a)
        .join(VersionedTable.read(spark, b), col("k") === col("k2"))
      (j.queryExecution.executedPlan.toString, j.count())
    }
    try {
    // one write = one file per bucket → Spark reports the scan ordering:
    // the SMJ runs with ZERO exchange and ZERO sort on either side
    val (p1, n1) = joinPlan()
    assert(p1.contains("SortMergeJoin"), p1)
    assert(!p1.contains("Exchange hashpartitioning"), p1)
    assert(!p1.contains("+- Sort "), s"sorted buckets must elide the SMJ sorts:\n$p1")
    assert(n1 == 101)
    // an append breaks the one-file-per-bucket invariant: Spark falls back
    // to sorting (correctness first), still no exchange — the appended key
    // lies inside the join's key range, so no stats pruning drops its file
    VersionedTable.append(Seq((450L, "a450")).toDF("k", "va"), a)
    val (p2, n2) = joinPlan()
    assert(p2.contains("Sort "), p2)
    assert(!p2.contains("Exchange hashpartitioning"), p2)
    assert(n2 == 102)
    // OPTIMIZE packs each bucket back to one sorted file → merge-only again
    VersionedTable.compact(spark, a)
    val (p3, n3) = joinPlan()
    assert(!p3.contains("+- Sort "), s"post-OPTIMIZE join must be sort-free:\n$p3")
    assert(!p3.contains("Exchange hashpartitioning"), p3)
    assert(n3 == 102)
    } finally spark.conf.unset(orderKey)
  }

  test("SQL surface: CLUSTERED BY INTO BUCKETS; DESCRIBE DETAIL; row tracking composes") {
    val p = tmp()
    spark.sql(s"CREATE TABLE graft.`$p` (k BIGINT, v STRING) " +
      "CLUSTERED BY (k) INTO 4 BUCKETS " +
      s"TBLPROPERTIES ('${VersionedTable.RowTrackingKey}'='true')")
    spark.sql(s"INSERT INTO graft.`$p` VALUES (1, 'a'), (2, 'b'), (15, 'c')")
    val d = spark.sql(s"DESCRIBE DETAIL graft.`$p`").collect().head
    assert(d.getAs[String]("bucket_columns") == "k")
    assert(d.getAs[Int]("num_buckets") == 4)
    assert(d.getAs[Boolean]("row_tracking"))
    assert(!d.getAs[String]("properties").contains("bucket"), d.toString)
    // the SQL-declared layout produces the same physical contract as
    // writeBucketed: files bucket-named, aggregation on k exchange-free
    VersionedTable.filesOf(spark, p, VersionedTable.latestVersion(spark, p).get)
      .foreach(r => assert(bucketIdOf(r).exists(i => i >= 0 && i < 4), r))
    noBroadcast {
      val agg = spark.sql(s"SELECT k, COUNT(*) FROM graft.`$p` GROUP BY k")
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning(k"), agg.queryExecution.executedPlan)
      assert(agg.count() == 3)
    }
    // row tracking rides the bucketed write path: stable distinct ids
    val ids = VersionedTable.readWithRowIds(spark, p)
      .select(VersionedTable.RowIdCol).as[Long].collect().sorted
    assert(ids.toSeq == Seq(0L, 1L, 2L), ids.toSeq.toString)
    // conflicting TBLPROPERTIES vs CLUSTERED BY refuses
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE graft.`${tmp()}` (k BIGINT) " +
        "CLUSTERED BY (k) INTO 4 BUCKETS " +
        s"TBLPROPERTIES ('${VersionedTable.NumBucketsKey}'='8')")
    }
  }

  test("the layout is contractual: refusals and the writer feature") {
    val p = tmp()
    VersionedTable.writeBucketed(
      Seq((1L, 2L)).toDF("k", "x"), p, Seq("k"), 4)
    // declared as a WRITER feature: a build without bucket support refuses
    // to mutate (readers unaffected)
    val (_, wf) = VersionedTable.protocolOf(spark, p)
    assert(wf.contains("bucketing"), wf.toString)
    intercept[IllegalArgumentException] { // re-create to re-bucket
      VersionedTable.writeBucketed(Seq((1L, 2L)).toDF("k", "x"), p, Seq("k"), 8) }
    intercept[IllegalArgumentException] { // no post-hoc declaration/shedding
      VersionedTable.setProperties(spark, p,
        Map(VersionedTable.NumBucketsKey -> "8")) }
    intercept[IllegalArgumentException] { // bucket hash is type-sensitive
      VersionedTable.widenColumn(spark, p, "k",
        org.apache.spark.sql.types.DecimalType(20, 0)) }
    intercept[IllegalArgumentException] { // layout hashes on the column
      VersionedTable.dropColumns(spark, p, Seq("k")) }
    intercept[IllegalArgumentException] { // bucket layout IS the clustering
      VersionedTable.zOrderBy(spark, p, Seq("k", "x")) }
    // rename FOLLOWS (the hint list rekeys) — and the layout keeps working
    VersionedTable.renameColumn(spark, p, "k", "key")
    VersionedTable.append(Seq((5L, 6L)).toDF("key", "x"), p)
    bucketedScan {
      val q = VersionedTable.read(spark, p).filter(col("key") === 5L)
      assert(q.queryExecution.executedPlan.toString
        .contains("SelectedBucketsCount: 1 out of 4"))
      assert(q.count() == 1)
    }
  }
}
