package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedTable

/** Partition census: GROUP BY partition columns answers from the
  * manifest's exact per-partition live row counts — zero data files
  * opened — including through DV-marked deletes, partition-only filters,
  * DISTINCT, and MIN/MAX of partition columns. Anything touching a data
  * column declines. */
class PartitionCensusSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("census").toString

  /** True when the plan reads NO files (LocalRelation answer). */
  private def scanFree(df: DataFrame): Boolean =
    org.apache.spark.sql.graft.GraftBatchShim.scanRootsOf(df).isEmpty &&
      df.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("GROUP BY partition column answers from the manifest, through deletes") {
    val base = tmp(); val t = base + "/t"
    VersionedTable.write(
      (1L to 200L).map(i => (i, "d" + i % 5, i % 7, i))
        .toDF("id", "day", "k", "v"),
      t, statsCols = Seq("id"), partitionBy = Seq("day"))
    def q = VersionedTable.read(spark, t)
      .groupBy($"day").agg(count(lit(1)).as("n"))
    assert(scanFree(q), q.queryExecution.optimizedPlan.toString)
    val expected = (0 to 4).map(d => s"[d$d,40]").sorted
    assert(sorted(q) == expected)
    // a DV-marked delete (merge-on-read: files keep their rows, the marks
    // subtract) changes the counts the census must report exactly
    VersionedTable.delete(spark, t, $"v" % 4 === 0)
    val q2 = VersionedTable.read(spark, t)
      .groupBy($"day").agg(count(lit(1)).as("n"))
    assert(scanFree(q2), q2.queryExecution.optimizedPlan.toString)
    // ground truth via a NON-aggregate read (a bare projection is a real
    // scan — the census rewrite only touches Aggregates)
    val truth = VersionedTable.read(spark, t).select($"day").collect()
      .groupBy(_.getString(0)).toSeq
      .map { case (d, rs) => s"[$d,${rs.length}]" }.sorted
    assert(sorted(q2) == truth,
      "census counts must equal the scanned ground truth")
    // TIME TRAVEL: the census of version 1 still reports pre-delete counts
    val qv1 = VersionedTable.read(spark, t, Some(1L))
      .groupBy($"day").agg(count(lit(1)).as("n"))
    assert(scanFree(qv1), qv1.queryExecution.optimizedPlan.toString)
    assert(sorted(qv1) == expected)
    // the SQL catalog surface rides the same relation → same census
    val qs = spark.sql(
      s"SELECT day, COUNT(*) AS n FROM graft.`$t` GROUP BY day")
    assert(scanFree(qs), qs.queryExecution.optimizedPlan.toString)
    assert(sorted(qs) == truth)
  }

  test("filters on partition columns, DISTINCT, MIN/MAX; data columns decline") {
    val base = tmp(); val t = base + "/t"
    VersionedTable.write(
      (1L to 120L).map(i => (i, "d" + i % 4, i % 3, i))
        .toDF("id", "day", "bucket", "v"),
      t, statsCols = Seq("id"), partitionBy = Seq("day", "bucket"))
    def rd = VersionedTable.read(spark, t)
    // partition-only filter evaluates against the census tuples
    val qf = rd.filter($"day" >= "d2").groupBy($"day")
      .agg(count(lit(1)).as("n"), count($"bucket").as("nb"))
    assert(scanFree(qf), qf.queryExecution.optimizedPlan.toString)
    assert(sorted(qf) == Seq("[d2,30,30]", "[d3,30,30]"))
    // DISTINCT over partition columns = SHOW PARTITIONS
    val qd = rd.select($"day", $"bucket").distinct()
    assert(scanFree(qd), qd.queryExecution.optimizedPlan.toString)
    assert(qd.count() == 12)
    // COUNT(DISTINCT partition cols): global and per group — "how many
    // days/buckets of data" without touching a file
    val qcd = rd.agg(countDistinct($"day").as("nd"),
      countDistinct($"day", $"bucket").as("ndb"), count(lit(1)).as("n"))
    assert(scanFree(qcd), qcd.queryExecution.optimizedPlan.toString)
    assert(qcd.collect().head.toString == "[4,12,120]")
    val qcg = rd.groupBy($"day").agg(countDistinct($"bucket").as("nb"))
    assert(scanFree(qcg), qcg.queryExecution.optimizedPlan.toString)
    assert(sorted(qcg) == Seq("[d0,3]", "[d1,3]", "[d2,3]", "[d3,3]"))
    // MIN/MAX of a partition column per group
    val qm = rd.groupBy($"day").agg(min($"bucket").as("mn"),
      max($"bucket").as("mx"), count(lit(1)).as("n"))
    assert(scanFree(qm), qm.queryExecution.optimizedPlan.toString)
    assert(sorted(qm) == Seq("[d0,0,2,30]", "[d1,0,2,30]",
      "[d2,0,2,30]", "[d3,0,2,30]"))
    // grouping on a DATA column declines
    assert(!scanFree(rd.groupBy($"v" % 2).agg(count(lit(1)).as("n"))))
    // an aggregate over a data column declines
    assert(!scanFree(rd.groupBy($"day").agg(sum($"v").as("s"))))
    // a filter touching a data column declines
    assert(!scanFree(rd.filter($"v" > 50L).groupBy($"day")
      .agg(count(lit(1)).as("n"))))
    // unpartitioned tables decline
    val u = base + "/u"
    VersionedTable.write((1L to 10L).map(i => (i, "g" + i % 2))
      .toDF("id", "g"), u, statsCols = Seq("id"))
    assert(!scanFree(VersionedTable.read(spark, u).groupBy($"g")
      .agg(count(lit(1)).as("n"))))
  }

  test("derived groupings: year/month over a date partition stay scan-free, values exact") {
    val base = tmp(); val t = base + "/t"
    VersionedTable.write(
      (1L to 180L).map(i => (i,
        java.sql.Date.valueOf(s"202${i % 3}-0${1 + (i % 6).toInt / 2}-15"), i))
        .toDF("id", "d", "v"),
      t, statsCols = Seq("id"), partitionBy = Seq("d"))
    def rd = VersionedTable.read(spark, t)
    // ground truth through a REAL scan (bare projections are never
    // census-rewritten)
    def truth(cols: DataFrame): Seq[String] =
      cols.collect().map(_.toString).sorted.toSeq
    // GROUP BY year(d): the derived key binds to the census tuple whether
    // Catalyst pulls it into a Project or leaves it inline
    val qy = rd.groupBy(year($"d").as("yr")).agg(count(lit(1)).as("n"))
    assert(scanFree(qy), qy.queryExecution.optimizedPlan.toString)
    val ty = truth(rd.select(year($"d").as("yr")).collect()
      .groupBy(_.getInt(0)).toSeq
      .map { case (y, rs) => (y, rs.length.toLong) }
      .toDF("yr", "n"))
    assert(sorted(qy) == ty)
    // two derived keys + MIN/MAX of the raw partition column per group
    val qym = rd.groupBy(year($"d").as("yr"), month($"d").as("mo"))
      .agg(count(lit(1)).as("n"), max($"d").as("mx"))
    assert(scanFree(qym), qym.queryExecution.optimizedPlan.toString)
    val tym = truth(rd.select(year($"d").as("yr"), month($"d").as("mo"),
        $"d").collect()
      .groupBy(r => (r.getInt(0), r.getInt(1))).toSeq
      .map { case ((y, m), rs) =>
        (y, m, rs.length.toLong, rs.map(_.getDate(2).toString).max) }
      .toDF("yr", "mo", "n", "mx")
      .select($"yr", $"mo", $"n", $"mx".cast("date")))
    assert(sorted(qym) == tym)
    // a derived FILTER evaluates against the census tuples too
    val qf = rd.filter(year($"d") === 2021)
      .groupBy(month($"d").as("mo")).agg(count(lit(1)).as("n"))
    assert(scanFree(qf), qf.queryExecution.optimizedPlan.toString)
    assert(sorted(qf).nonEmpty && sorted(qf) == truth(
      rd.filter(year($"d") === 2021).select(month($"d").as("mo")).collect()
        .groupBy(_.getInt(0)).toSeq
        .map { case (m, rs) => (m, rs.length.toLong) }.toDF("mo", "n")))
    // GLOBAL extrema of a derived value — the freshness probe by year
    val qg = rd.agg(max(year($"d")).as("mxy"), min(month($"d")).as("mnm"),
      count(lit(1)).as("n"))
    assert(scanFree(qg), qg.queryExecution.optimizedPlan.toString)
    assert(qg.collect().head.toString == "[2022,1,180]")
    // COUNT(DISTINCT derived) — "how many years / calendar buckets of
    // data"; COUNT(derived) counts non-null rows
    val qcd = rd.agg(countDistinct(year($"d")).as("ny"),
      countDistinct(year($"d"), month($"d")).as("nym"),
      count(month($"d")).as("nm"))
    assert(scanFree(qcd), qcd.queryExecution.optimizedPlan.toString)
    assert(qcd.collect().head.toString == "[3,6,180]")
    // SQL spelling
    val qs = spark.sql(
      s"SELECT year(d) AS yr, COUNT(*) AS n FROM graft.`$t` GROUP BY year(d)")
    assert(scanFree(qs), qs.queryExecution.optimizedPlan.toString)
    assert(sorted(qs) == ty)
    // a derived value mixing in a DATA column declines
    assert(!scanFree(rd.groupBy((year($"d") + $"v").as("k"))
      .agg(count(lit(1)).as("n"))))
  }

  test("GLOBAL MIN/MAX/COUNT of partition columns: the freshness probe is metadata") {
    val base = tmp(); val t = base + "/t"
    VersionedTable.write(
      (1L to 90L).map(i => (i, "d" + i % 3, i)).toDF("id", "day", "v"),
      t, statsCols = Seq("id"), partitionBy = Seq("day"))
    def rd = VersionedTable.read(spark, t)
    // the ops freshness probe: file stats never cover partition columns,
    // so this is the census's answer
    val qm = rd.agg(max($"day").as("latest"), min($"day").as("first"),
      count(lit(1)).as("n"))
    assert(scanFree(qm), qm.queryExecution.optimizedPlan.toString)
    assert(qm.collect().head.toString == "[d2,d0,90]")
    // through a partition-only filter
    val qf = rd.filter($"day" =!= "d1").agg(max($"day").as("latest"),
      count($"day").as("nd"))
    assert(scanFree(qf), qf.queryExecution.optimizedPlan.toString)
    assert(qf.collect().head.toString == "[d2,60]")
    // empty survivor set keeps SQL totality: COUNT 0, MAX null
    val qe = rd.filter($"day" === "zz").agg(count(lit(1)).as("n"),
      max($"day").as("mx"))
    assert(scanFree(qe), qe.queryExecution.optimizedPlan.toString)
    assert(qe.collect().head.toString == "[0,null]")
    // a data-column aggregate under a filter still scans
    assert(!scanFree(rd.filter($"day" === "d1").agg(sum($"v").as("s"))))
  }

  test("MIN/MAX of DATA columns answer from per-file stats, per partition and filtered-global") {
    val base = tmp(); val t = base + "/t"
    VersionedTable.write(
      (1L to 90L).map(i => (i, "d" + i % 3,
        if (i % 11 == 0) None else Some(i * 2)))
        .toDF("id", "day", "v")
        .repartition(4),
      t, statsCols = Seq("v"), partitionBy = Seq("day"))
    def rd = VersionedTable.read(spark, t)
    // per-partition MAX/MIN of a stats-covered data column: the per-day
    // value dashboard with zero files opened
    val q = rd.groupBy($"day").agg(max($"v").as("mx"), min($"v").as("mn"),
      count(lit(1)).as("n"))
    assert(scanFree(q), q.queryExecution.optimizedPlan.toString)
    // ground truth from a raw (non-aggregate) read
    val truth = rd.select($"day", $"v").collect()
      .groupBy(_.getString(0)).toSeq.map { case (d, rs) =>
        val vs = rs.filterNot(_.isNullAt(1)).map(_.getLong(1))
        s"[$d,${vs.max},${vs.min},${rs.length}]"
      }.sorted
    assert(sorted(q) == truth)
    // the filtered GLOBAL probe: max(value) for one day
    val qg = rd.filter($"day" === "d1").agg(max($"v").as("mx"))
    assert(scanFree(qg), qg.queryExecution.optimizedPlan.toString)
    assert(qg.collect().head.getLong(0) ==
      rd.filter($"day" === "d1").select($"v").collect()
        .filterNot(_.isNullAt(0)).map(_.getLong(0)).max)
    // a column WITHOUT stats declines
    assert(!scanFree(rd.groupBy($"day").agg(max($"id").as("m"))))
    // a DV mark could have deleted the extremum: data MIN/MAX declines,
    // while the pure COUNT census still answers (marks subtract exactly)
    VersionedTable.delete(spark, t, $"v" === 180L)
    assert(!scanFree(rd.groupBy($"day").agg(max($"v").as("m"))))
    val qc = rd.groupBy($"day").agg(count(lit(1)).as("n"))
    assert(scanFree(qc), qc.queryExecution.optimizedPlan.toString)
    assert(sorted(qc) == Seq("[d0,29]", "[d1,30]", "[d2,30]"))
  }

  test("SUM/COUNT of DATA columns answer from ANALYZE sums, per partition and filtered") {
    val base = tmp(); val t = base + "/t"
    VersionedTable.write(
      (1L to 90L).map(i => (i, "d" + i % 3,
        if (i % 11 == 0) None else Some(i * 2)))
        .toDF("id", "day", "v")
        .repartition(4),
      t, statsCols = Seq("v"), partitionBy = Seq("day"))
    def rd = VersionedTable.read(spark, t)
    def sums = rd.select($"day", $"v").collect()
      .groupBy(_.getString(0)).toSeq.map { case (d, rs) =>
        val vs = rs.filterNot(_.isNullAt(1)).map(_.getLong(1))
        (d, vs.sum, vs.length.toLong, rs.length.toLong)
      }
    // sums need an ANALYZE — before it, the aggregate scans (and is right)
    def q = rd.groupBy($"day").agg(sum($"v").as("s"),
      count($"v").as("nn"), count(lit(1)).as("n"))
    assert(!scanFree(q), "un-analyzed sums must scan")
    VersionedTable.analyzeNdv(spark, t, Seq("v"))
    assert(scanFree(q), q.queryExecution.optimizedPlan.toString)
    assert(sorted(q) ==
      sums.map { case (d, s, nn, n) => s"[$d,$s,$nn,$n]" }.sorted)
    // the filtered GLOBAL revenue probe: one day's total, zero files
    val qg = rd.filter($"day" === "d1")
      .agg(sum($"v").as("s"), count($"v").as("nn"))
    assert(scanFree(qg), qg.queryExecution.optimizedPlan.toString)
    val (_, s1, nn1, _) = sums.find(_._1 == "d1").get
    assert(qg.collect().head.toSeq == Seq(s1, nn1))
    // DV marks make every per-file sum unknowable — decline, stay right
    VersionedTable.delete(spark, t, $"v" === 4L,
      purgeFraction = 1.0)
    assert(!scanFree(q))
    assert(sorted(q) ==
      sums.map { case (d, s, nn, n) => s"[$d,$s,$nn,$n]" }.sorted,
      "post-DV the scanned answer must match the fresh ground truth")
  }

  test("AVG of DATA columns: exact-sum quotient, NULL totality, declines") {
    val base = tmp(); val t = base + "/t"
    // day d9 exists with an ALL-NULL v (AVG must be SQL NULL there)
    VersionedTable.write(
      ((1L to 90L).map(i => (i, "d" + i % 3,
        if (i % 11 == 0) None else Some(i * 2))) ++
        (91L to 95L).map(i => (i, "d9", None: Option[Long])))
        .toDF("id", "day", "v")
        .repartition(4),
      t, statsCols = Seq("v"), partitionBy = Seq("day"))
    VersionedTable.analyzeNdv(spark, t, Seq("v"))
    def rd = VersionedTable.read(spark, t)
    def q = rd.groupBy($"day").agg(avg($"v").as("a"), count(lit(1)).as("n"))
    assert(scanFree(q), q.queryExecution.optimizedPlan.toString)
    val truth = rd.select($"day", $"v").collect()
      .groupBy(_.getString(0)).toSeq.map { case (d, rs) =>
        val vs = rs.filterNot(_.isNullAt(1)).map(_.getLong(1))
        val a = if (vs.isEmpty) null
          else java.lang.Double.valueOf(vs.map(_.toDouble).sum / vs.length)
        s"[$d,$a,${rs.length}]"
      }.sorted
    assert(sorted(q) == truth, s"${sorted(q)}\nvs\n$truth")
    // the global filtered AVG dashboard: one day, zero files
    val qg = rd.filter($"day" === "d1").agg(avg($"v").as("a"))
    assert(scanFree(qg), qg.queryExecution.optimizedPlan.toString)
    // the all-null day answers NULL, scan-free
    val qn = rd.filter($"day" === "d9").agg(avg($"v").as("a"))
    assert(scanFree(qn))
    assert(qn.collect().head.isNullAt(0), "all-null AVG must be SQL NULL")
    // AVG(DISTINCT) and AVG of a DOUBLE column decline (no exact story)
    val qd = rd.groupBy($"day").agg(expr("avg(DISTINCT v)").as("a"))
    assert(!scanFree(qd), "AVG(DISTINCT) has no census answer — decline")
    val qf = rd.groupBy($"day").agg(avg($"v".cast("double")).as("a"))
    assert(!scanFree(qf), "a computed/double input declines")
  }

  test("ROLLUP / CUBE / GROUPING SETS answer from the census, subtotals included") {
    val base = tmp(); val t = base + "/t"
    VersionedTable.write(
      (1L to 120L).map(i => (i, "d" + i % 3, "h" + i % 2,
        if (i % 13 == 0) None else Some(i)))
        .toDF("id", "day", "half", "v").repartition(3),
      t, statsCols = Seq("v"), partitionBy = Seq("day", "half"))
    VersionedTable.analyzeNdv(spark, t, Seq("v"))
    def rd = VersionedTable.read(spark, t)
    def truth(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    // ROLLUP over both partition dims: per-(day,half), per-day, grand
    val roll = rd.rollup($"day", $"half")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"), count($"v").as("nn"))
    assert(scanFree(roll), roll.queryExecution.optimizedPlan.toString)
    // ground truth: Spark over a plain parquet copy of the same rows
    val raw = rd.select($"id", $"day", $"half", $"v")
    val copy = base + "/copy"
    raw.write.parquet(copy)
    val plain = spark.read.parquet(copy)
    assert(truth(roll) == truth(plain.rollup($"day", $"half")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"), count($"v").as("nn"))))
    // CUBE adds the per-half slice; GROUPING SETS in SQL; grouping_id()
    val cube = rd.cube($"day", $"half").agg(count(lit(1)).as("n"))
    assert(scanFree(cube), cube.queryExecution.optimizedPlan.toString)
    assert(truth(cube) ==
      truth(plain.cube($"day", $"half").agg(count(lit(1)).as("n"))))
    val gs = spark.sql(
      s"SELECT day, half, COUNT(*) AS n, GROUPING(day) AS gd " +
        s"FROM graft.`$t` GROUP BY GROUPING SETS ((day, half), (half), ())")
    assert(scanFree(gs), gs.queryExecution.optimizedPlan.toString)
    plain.createOrReplaceTempView("plain_gs")
    assert(truth(gs) == truth(spark.sql(
      "SELECT day, half, COUNT(*) AS n, GROUPING(day) AS gd " +
        "FROM plain_gs GROUP BY GROUPING SETS ((day, half), (half), ())")))
    // partition-only filters compose; data-column aggregates that cannot
    // answer (no stats) decline the whole rewrite
    val filtered = rd.filter($"day" =!= "d1").rollup($"half")
      .agg(sum($"v").as("s"))
    assert(scanFree(filtered), filtered.queryExecution.optimizedPlan.toString)
    assert(truth(filtered) == truth(plain.filter($"day" =!= "d1")
      .rollup($"half").agg(sum($"v").as("s"))))
    assert(!scanFree(rd.rollup($"day").agg(sum($"id").as("s"))),
      "an un-analyzed data column must decline the grouping-sets census")
    // a filter keeping NOTHING: the grouped aggregate emits no rows —
    // including the grand-total set — exactly like the unrewritten plan
    val empty = rd.filter($"day" === "nope").rollup($"half")
      .agg(count(lit(1)).as("n"))
    assert(scanFree(empty), empty.queryExecution.optimizedPlan.toString)
    assert(truth(empty) == truth(plain.filter($"day" === "nope")
      .rollup($"half").agg(count(lit(1)).as("n"))))
  }

  test("anchored table: data-column census stats compute DISTRIBUTED, zero driver parses") {
    val base = tmp(); val t = base + "/t"
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 4
    try {
      // 12 day dirs, one commit each → the head anchors at a parquet
      // checkpoint; v nullable; ANALYZE arms the per-file sums (its own
      // cost is fixture setup — the gate below resets the counter after)
      (0 until 12).foreach { d =>
        spark.range(d * 100L, (d + 1) * 100L)
          .select(lit(d.toLong).as("day"), col("id").as("ts"),
            when(col("id") % 13 === 0, lit(null)).otherwise(col("id") * 2)
              .cast("long").as("v")).coalesce(1)
          .write.format("graft-table").option("statsCols", "ts,v")
          .partitionBy("day").mode(if (d == 0) "overwrite" else "append")
          .save(t)
      }
      VersionedTable.analyzeNdv(spark, t, Seq("v"))
      def rd = spark.read.format("graft-table").load(t)
      assert(rd.inputFiles.length == 12)
      val plainRows = (0 until 12).flatMap(d =>
        (d * 100L until (d + 1) * 100L).map(i =>
          (d.toLong, i, if (i % 13 == 0) None else Some(i * 2))))
      VersionedTable.ckptStatsParses.set(0L)
      // grouped: COUNT(*) + SUM/COUNT/AVG of the nullable data column +
      // MIN/MAX of another data column, per partition — scan-free, with
      // the per-dir stats aggregated on EXECUTORS over the checkpoint
      val q = rd.filter($"day" >= 3L).groupBy($"day")
        .agg(count(lit(1)).as("n"), sum($"v").as("s"),
          count($"v").as("nn"), avg($"v").as("a"),
          min($"ts").as("mn"), max($"ts").as("mx"))
      assert(scanFree(q), q.queryExecution.optimizedPlan.toString)
      val truth = plainRows.filter(_._1 >= 3L).groupBy(_._1).toSeq
        .map { case (d, rs) =>
          val vs = rs.flatMap(_._3)
          s"[$d,${rs.size},${vs.sum},${vs.size}," +
            s"${vs.map(_.toDouble).sum / vs.size}," +
            s"${rs.map(_._2).min},${rs.map(_._2).max}]"
        }.sorted
      assert(sorted(q) == truth, s"${sorted(q)}\nvs\n$truth")
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "the distributed census walk must never materialize the " +
          "checkpoint stats column driver-side")
      // GLOBAL filtered: same channels through censusGlobal
      val qg = rd.filter($"day" >= 6L)
        .agg(sum($"v").as("s"), min($"ts").as("mn"), max($"ts").as("mx"))
      assert(scanFree(qg), qg.queryExecution.optimizedPlan.toString)
      val hits = plainRows.filter(_._1 >= 6L)
      assert(qg.collect().head.toSeq == Seq(hits.flatMap(_._3).sum,
        hits.map(_._2).min, hits.map(_._2).max))
      assert(VersionedTable.ckptStatsParses.get() == 0L)
      // ROLLUP rides the same distributed aggregates, subtotals included
      val qr = rd.rollup($"day").agg(count(lit(1)).as("n"),
        sum($"v").as("s"))
      assert(scanFree(qr), qr.queryExecution.optimizedPlan.toString)
      val perDay = plainRows.groupBy(_._1).toSeq.map { case (d, rs) =>
        s"[$d,${rs.size},${rs.flatMap(_._3).sum}]" }
      val grand = s"[null,${plainRows.size},${plainRows.flatMap(_._3).sum}]"
      assert(sorted(qr) == (perDay :+ grand).sorted)
      assert(VersionedTable.ckptStatsParses.get() == 0L)
      // an appended post-anchor file folds in driver-side from its
      // O(delta) statsAdds — still zero checkpoint parses
      spark.range(1200L, 1250L)
        .select(lit(3L).as("day"), col("id").as("ts"),
          (col("id") * 2).cast("long").as("v")).coalesce(1)
        .write.format("graft-table").option("statsCols", "ts,v")
        .partitionBy("day").mode("append").save(t)
      VersionedTable.analyzeNdv(spark, t, Seq("v"), incremental = true)
      VersionedTable.ckptStatsParses.set(0L)
      val q2 = rd.groupBy($"day").agg(count(lit(1)).as("n"),
        sum($"v").as("s"), max($"ts").as("mx"))
      assert(scanFree(q2), q2.queryExecution.optimizedPlan.toString)
      val day3 = q2.filter($"day" === 3L).collect().head
      val d3rows = plainRows.filter(_._1 == 3L)
      assert(day3.getLong(1) == d3rows.size + 50L)
      assert(day3.getLong(2) ==
        d3rows.flatMap(_._3).sum + (1200L until 1250L).map(_ * 2).sum)
      assert(day3.getLong(3) == 1249L)
      assert(VersionedTable.ckptStatsParses.get() == 0L)
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }
}
