package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedTable

/** Hybrid boundary COUNT: `COUNT(*) WHERE <single-column range>` reads
  * only the files straddling the range edges — fully-inside files answer
  * from manifest non-null counts, fully-outside (and all-null) files
  * contribute nothing, and the edge files run a real counting scan whose
  * result adds to the metadata total. */
class BoundaryCountSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("bcount").toString + "/t"

  private def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
    }.flatten

  private def filesRead(df: DataFrame): Long = {
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    scansIn(p).map(_.selectedPartitions.totalNumberOfFiles).sum
  }

  private def scanFree(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  private def withRuleOff[A](f: => A): A = {
    // the boundary count lives inside GraftMetadataCount's arm; the
    // metadata rules share no kill switch, so compare against a plain
    // parquet copy instead
    f
  }

  test("range count reads only the edge files; exact against a raw copy") {
    val path = tmp()
    // 16 narrow bands of v, nulls sprinkled in
    VersionedTable.write(
      spark.range(0, 65536).select(col("id").as("k"),
        when(col("id") % 13 === 0, lit(null)).otherwise(col("id"))
          .cast("long").as("v"))
        .repartitionByRange(16, col("k")),
      path, statsCols = Seq("v"))
    val raw = VersionedTable.read(spark, path).select($"k", $"v")
    val copyDir = java.nio.file.Files.createTempDirectory("bcopy").toString + "/c"
    raw.write.parquet(copyDir)
    val plain = spark.read.parquet(copyDir)
    def truth(c: org.apache.spark.sql.Column): Long = plain.filter(c).count()
    def q(c: org.apache.spark.sql.Column): DataFrame =
      VersionedTable.read(spark, path).filter(c)
        .agg(count(lit(1)).as("n"), count($"v").as("nv"))
    // a straddling range: two edge files scan, the middle answers from
    // the manifest
    val mid = q($"v" >= 10000L && $"v" < 50000L)
    val read = filesRead(mid)
    assert(read <= 2L && read >= 1L,
      s"only the edge files may scan: $read\n${mid.queryExecution.optimizedPlan}")
    val got = mid.collect().head
    assert(got.getLong(0) == truth($"v" >= 10000L && $"v" < 50000L))
    assert(got.getLong(1) == got.getLong(0),
      "COUNT(v) equals COUNT(*) under a v-range (matches are non-null)")
    // file-aligned bounds: fully metadata, zero scan
    val minMax = plain.agg(min($"v"), max($"v")).collect().head
    val all = q($"v" >= minMax.getLong(0) && $"v" <= minMax.getLong(1))
    assert(scanFree(all), all.queryExecution.optimizedPlan.toString)
    assert(all.collect().head.getLong(0) ==
      truth($"v" >= minMax.getLong(0) && $"v" <= minMax.getLong(1)))
    // IS NOT NULL alone: the per-file non-null counts, zero scan
    val nnq = q($"v".isNotNull)
    assert(scanFree(nnq), nnq.queryExecution.optimizedPlan.toString)
    assert(nnq.collect().head.getLong(0) == truth($"v".isNotNull))
    // out-of-range: zero scan, zero count
    val none = q($"v" > 10000000L)
    assert(scanFree(none))
    assert(none.collect().head.getLong(0) == 0L)
    // strict vs non-strict edges stay exact (boundary value on a file edge)
    Seq($"v" > 4095L && $"v" <= 8192L, $"v" >= 4095L && $"v" < 8192L,
      $"v" === 12345L).foreach { c =>
      assert(q(c).collect().head.getLong(0) == truth(c), c.toString)
    }
    // IS NULL — the data-quality probe: matching rows per file are the
    // complement (rows − nonNull), so the count is pure metadata
    val isNull = VersionedTable.read(spark, path).filter($"v".isNull)
      .agg(count(lit(1)).as("n"))
    assert(scanFree(isNull), isNull.queryExecution.optimizedPlan.toString)
    assert(isNull.collect().head.getLong(0) == truth($"v".isNull))
    // a column WITHOUT stats declines (nn unknowable) — exact via scan
    val kNull = VersionedTable.read(spark, path).filter($"k".isNull)
      .agg(count(lit(1)).as("n"))
    assert(!scanFree(kNull), "un-stats'd column must decline IS NULL")
    assert(kNull.collect().head.getLong(0) == 0L)
    // IS NULL beside a range conjunct declines (cross-column null-vs-
    // range overlap is not composable) — exact via the scan
    val mixedNull = VersionedTable.read(spark, path)
      .filter($"v".isNull && $"k" >= 10000L).agg(count(lit(1)).as("n"))
    assert(!scanFree(mixedNull))
    assert(mixedNull.collect().head.getLong(0) ==
      truth($"v".isNull && $"k" >= 10000L))
    // COUNT(v) WHERE v IS NULL is 0 — the rewrite declines it (matchCnt
    // is not that count), the scan answers exactly
    val cntCol = VersionedTable.read(spark, path).filter($"v".isNull)
      .agg(count($"v").as("nv"))
    assert(cntCol.collect().head.getLong(0) == 0L)
  }

  test("hybrid SUM: inside files answer from ANALYZE sums, edges scan") {
    val path = tmp()
    // k range-placed, never null; v (summed) has nulls; w = same col sum
    VersionedTable.write(
      spark.range(0, 65536).select(col("id").as("k"),
        when(col("id") % 13 === 0, lit(null)).otherwise(col("id") * 3)
          .cast("long").as("v"))
        .repartitionByRange(16, col("k")),
      path, statsCols = Seq("k", "v"))
    VersionedTable.analyzeNdv(spark, path, Seq("k", "v"))
    val raw = VersionedTable.read(spark, path).select($"k", $"v")
    val copyDir = java.nio.file.Files.createTempDirectory("bscopy").toString + "/c"
    raw.write.parquet(copyDir)
    val plain = spark.read.parquet(copyDir)
    def q(c: org.apache.spark.sql.Column): DataFrame =
      VersionedTable.read(spark, path).filter(c)
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"), sum($"k").as("sk"))
    def truth(c: org.apache.spark.sql.Column): Seq[Any] =
      plain.filter(c).agg(count(lit(1)), sum($"v"), sum($"k"))
        .collect().head.toSeq
    // straddling range on k: other-col SUM(v) needs k null-complete
    // (it is), same-col SUM(k) needs nothing — both exact, edge files only
    val mid = q($"k" >= 10000L && $"k" < 50000L)
    assert(filesRead(mid) <= 2L,
      s"only edges may scan:\n${mid.queryExecution.optimizedPlan}")
    assert(mid.collect().head.toSeq ==
      truth($"k" >= 10000L && $"k" < 50000L))
    // range on the NULLABLE v: SUM(k) is an other-col sum and v is NOT
    // null-complete — every inside file falls back to the scan...
    // unless only same-col slots ride. SUM(v) alone stays hybrid.
    val sameOnly = VersionedTable.read(spark, path)
      .filter($"v" >= 30000L && $"v" < 150000L)
      .agg(sum($"v").as("sv"))
    assert(filesRead(sameOnly) <= 2L,
      s"same-col sum under its own range:\n${sameOnly.queryExecution.optimizedPlan}")
    assert(sameOnly.collect().head.getLong(0) ==
      plain.filter($"v" >= 30000L && $"v" < 150000L)
        .agg(sum($"v")).collect().head.getLong(0))
    // SQL SUM totality: an out-of-range filter answers NULL, scan-free
    val none = q($"k" > 10000000L)
    assert(scanFree(none))
    val r = none.collect().head
    assert(r.getLong(0) == 0L && r.isNullAt(1) && r.isNullAt(2))
    // file-aligned: fully metadata
    val all = q($"k" >= 0L && $"k" < 65536L)
    assert(scanFree(all), all.queryExecution.optimizedPlan.toString)
    assert(all.collect().head.toSeq == truth($"k" >= 0L && $"k" < 65536L))
    // IS NULL on a stats-covered NEVER-NULL column: zero, scan-free
    val kNull = VersionedTable.read(spark, path).filter($"k".isNull)
      .agg(count(lit(1)).as("n"))
    assert(scanFree(kNull), kNull.queryExecution.optimizedPlan.toString)
    assert(kNull.collect().head.getLong(0) == 0L)
    // MIN/MAX join the hybrid: same-col from the classification bounds,
    // other-col under the null-complete gate — edges only, exact
    def qe(c: org.apache.spark.sql.Column): DataFrame =
      VersionedTable.read(spark, path).filter(c)
        .agg(min($"k").as("mnk"), max($"k").as("mxk"),
          min($"v").as("mnv"), max($"v").as("mxv"),
          count(lit(1)).as("n"))
    val ext = qe($"k" >= 10000L && $"k" < 50000L)
    assert(filesRead(ext) <= 2L,
      s"extrema ride the edge scan:\n${ext.queryExecution.optimizedPlan}")
    assert(ext.collect().head.toSeq ==
      plain.filter($"k" >= 10000L && $"k" < 50000L)
        .agg(min($"k"), max($"k"), min($"v"), max($"v"), count(lit(1)))
        .collect().head.toSeq)
    // aligned range: extrema fully metadata; empty range: SQL NULLs
    val extAll = qe($"k" >= 0L && $"k" < 65536L)
    assert(scanFree(extAll), extAll.queryExecution.optimizedPlan.toString)
    assert(extAll.collect().head.toSeq ==
      plain.agg(min($"k"), max($"k"), min($"v"), max($"v"), count(lit(1)))
        .collect().head.toSeq)
    val extNone = qe($"k" > 10000000L)
    assert(scanFree(extNone))
    val er = extNone.collect().head
    assert(er.isNullAt(0) && er.isNullAt(3) && er.getLong(4) == 0L)
  }

  test("multi-column ranges classify per column; nullable accounting stays exact") {
    val path = tmp()
    // k and v co-clustered (both functions of id), v nullable, w a second
    // nullable column — 16 bands
    VersionedTable.write(
      spark.range(0, 65536).select(col("id").as("k"),
        when(col("id") % 13 === 0, lit(null)).otherwise(col("id") * 3)
          .cast("long").as("v"),
        when(col("id") % 11 === 0, lit(null)).otherwise(col("id") * 5)
          .cast("long").as("w"))
        .repartitionByRange(16, col("k")),
      path, statsCols = Seq("k", "v", "w"))
    VersionedTable.analyzeNdv(spark, path, Seq("k", "v", "w"))
    val raw = VersionedTable.read(spark, path).select($"k", $"v", $"w")
    val copyDir = java.nio.file.Files.createTempDirectory("bmcopy").toString + "/c"
    raw.write.parquet(copyDir)
    val plain = spark.read.parquet(copyDir)
    def t = VersionedTable.read(spark, path)
    // BOTH columns bounded; exactly one (v) nullable: per-file matching
    // counts compose via nn(v); SUM(v) rides (its own nulls are the
    // filter's), SUM(k) must not (v's nulls cut unknown k values)
    val c2 = $"k" >= 10000L && $"v" >= 36000L && $"v" < 120000L
    val two = t.filter(c2).agg(count(lit(1)).as("n"), sum($"v").as("sv"))
    val readTwo = filesRead(two)
    assert(readTwo <= 3L && readTwo >= 1L,
      s"two-dimension edges only: $readTwo\n${two.queryExecution.optimizedPlan}")
    assert(two.collect().head.toSeq ==
      plain.filter(c2).agg(count(lit(1)), sum($"v")).collect().head.toSeq)
    val withK = t.filter(c2).agg(count(lit(1)).as("n"), sum($"k").as("sk"))
    assert(!scanFree(withK)) // and reads everything the filter keeps
    assert(withK.collect().head.toSeq ==
      plain.filter(c2).agg(count(lit(1)), sum($"k")).collect().head.toSeq)
    // an either-dimension ENTIRELY-FAILING file skips even when the other
    // dimension is partial: an impossible v range with a partial k bound
    val none = t.filter($"k" >= 10000L && $"v" > 100000000L)
      .agg(count(lit(1)).as("n"))
    assert(scanFree(none))
    assert(none.collect().head.getLong(0) == 0L)
    // TWO nullable cond columns: ANALYZE recorded the (v, w) JOINT null
    // count per file, so matching rows compose by inclusion-exclusion —
    // an all-covering two-nullable range answers scan-FREE and exact
    // (rows null in v, w, or both all drop; both-null rows must not be
    // double-subtracted — ids divisible by 143 are exactly those)
    val c3 = $"v" >= 0L && $"w" >= 0L
    val twoNull = t.filter(c3).agg(count(lit(1)).as("n"))
    assert(scanFree(twoNull),
      s"jn-armed two-nullable range must answer from metadata:\n" +
        twoNull.queryExecution.optimizedPlan)
    assert(twoNull.collect().head.getLong(0) == plain.filter(c3).count())
    // a straddling two-nullable range: edges scan, totals exact
    val c4 = $"v" >= 36000L && $"v" < 120000L && $"w" >= 0L
    val twoNullMid = t.filter(c4).agg(count(lit(1)).as("n"))
    assert(filesRead(twoNullMid) <= 3L)
    assert(twoNullMid.collect().head.getLong(0) == plain.filter(c4).count())
    // WITHOUT the recorded pair (footer stats only, no ANALYZE) the
    // two-nullable composition declines — exact via the scan
    val noJn = tmp()
    VersionedTable.write(raw, noJn, statsCols = Seq("v", "w"))
    val declined = VersionedTable.read(spark, noJn).filter(c3)
      .agg(count(lit(1)).as("n"))
    assert(!scanFree(declined),
      "un-analyzed two-nullable pair must keep scanning")
    assert(declined.collect().head.getLong(0) == plain.filter(c3).count())
  }

  test("IS NULL composing with ranges: the null probe stays metadata under conjuncts") {
    val path = tmp()
    // k range-placed and never null; v, w nullable — ANALYZE records the
    // pairwise joint-null counts the composition licenses
    VersionedTable.write(
      spark.range(0, 65536).select(col("id").as("k"),
        when(col("id") % 13 === 0, lit(null)).otherwise(col("id") * 3)
          .cast("long").as("v"),
        when(col("id") % 11 === 0, lit(null)).otherwise(col("id") * 5)
          .cast("long").as("w"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id"))
          .cast("long").as("u"))
        .repartitionByRange(16, col("k")),
      path, statsCols = Seq("k", "v", "w", "u"))
    VersionedTable.analyzeNdv(spark, path, Seq("k", "v", "w", "u"))
    val raw = VersionedTable.read(spark, path)
      .select($"k", $"v", $"w", $"u")
    val copyDir = java.nio.file.Files.createTempDirectory("bncopy").toString + "/c"
    raw.write.parquet(copyDir)
    val plain = spark.read.parquet(copyDir)
    def t = VersionedTable.read(spark, path)
    def truth(c: org.apache.spark.sql.Column): Long = plain.filter(c).count()
    // IS NULL beside a NEVER-NULL range column: matching rows per inside
    // file are exactly its v-null count — aligned range answers scan-free
    val aligned = $"v".isNull && $"k" >= 0L && $"k" < 65536L
    val qa = t.filter(aligned).agg(count(lit(1)).as("n"))
    assert(scanFree(qa), qa.queryExecution.optimizedPlan.toString)
    assert(qa.collect().head.getLong(0) == truth(aligned))
    // straddling range: only the edge files scan, total stays exact
    val mid = $"v".isNull && $"k" >= 10000L && $"k" < 50000L
    val qm = t.filter(mid).agg(count(lit(1)).as("n"))
    val readM = filesRead(qm)
    assert(readM <= 2L && readM >= 1L,
      s"IS NULL + range must scan edges only: $readM\n" +
        qm.queryExecution.optimizedPlan)
    assert(qm.collect().head.getLong(0) == truth(mid))
    // a NULLABLE range column composes through the joint-null stat:
    // matching = nulls(v) − bothNull(v, w) per inside file — scan-free
    // when the w range covers every file (ids ÷ 143 are the both-null rows
    // that must not double-count)
    val nullable = $"v".isNull && $"w" >= 0L
    val qn = t.filter(nullable).agg(count(lit(1)).as("n"))
    assert(scanFree(qn),
      s"jn-armed IS NULL + nullable range must answer from metadata:\n" +
        qn.queryExecution.optimizedPlan)
    assert(qn.collect().head.getLong(0) == truth(nullable))
    // COUNT(range column) rides: matching rows are non-null in w
    val qc = t.filter(nullable).agg(count($"w").as("nw"))
    assert(scanFree(qc), qc.queryExecution.optimizedPlan.toString)
    assert(qc.collect().head.getLong(0) == truth(nullable))
    // straddling nullable range: edges only, exact
    val nmid = $"v".isNull && $"w" >= 36000L && $"w" < 200000L
    val qnm = t.filter(nmid).agg(count(lit(1)).as("n"))
    assert(filesRead(qnm) <= 2L,
      s"straddling:\n${qnm.queryExecution.optimizedPlan}")
    assert(qnm.collect().head.getLong(0) == truth(nmid))
    // TWO nullable range columns beside the IS NULL: declines until the
    // SET stat for {u, v, w} exists (the 4-column ANALYZE recorded only
    // the full set) — exact via the scan
    val three = $"v".isNull && $"w" >= 0L && $"u" >= 0L
    val qt = t.filter(three).agg(count(lit(1)).as("n"))
    assert(!scanFree(qt),
      "two nullable range columns under IS NULL must scan without the set stat")
    assert(qt.collect().head.getLong(0) == truth(three))
    // a {u, v, w} set ANALYZE arms the composition: matching =
    // nullAny({u,v,w}) − nullAny({u,w}) subtracted from the v-null count
    // (the pair term derives from the recorded joint-null) — scan-free
    VersionedTable.analyzeNdv(spark, path, Seq("u", "v", "w"))
    val qt2 = t.filter(three).agg(count(lit(1)).as("n"))
    assert(scanFree(qt2),
      s"set-armed IS NULL + two nullable ranges must answer from " +
        s"metadata:\n${qt2.queryExecution.optimizedPlan}")
    assert(qt2.collect().head.getLong(0) == truth(three))
    // SUM under IS NULL still declines (sums of the null-complement are
    // not derivable) — exact via the scan
    val qs = t.filter(nullable).agg(sum($"w").as("sw"))
    assert(!scanFree(qs))
    assert(qs.collect().head.getLong(0) ==
      plain.filter(nullable).agg(sum($"w")).collect().head.getLong(0))
    // WITHOUT the recorded pair the nullable-range composition declines —
    // exact via the scan
    val noJn = tmp()
    VersionedTable.write(raw, noJn, statsCols = Seq("v", "w"))
    val declined = VersionedTable.read(spark, noJn).filter(nullable)
      .agg(count(lit(1)).as("n"))
    assert(!scanFree(declined),
      "un-analyzed pair must keep scanning under IS NULL + range")
    assert(declined.collect().head.getLong(0) == truth(nullable))
  }

  test("joint-null stat: incremental ANALYZE covers new files and un-recorded pairs") {
    val path = tmp()
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"),
        when(col("id") % 13 === 0, lit(null)).otherwise(col("id"))
          .cast("long").as("v"),
        when(col("id") % 11 === 0, lit(null)).otherwise(col("id"))
          .cast("long").as("w")).coalesce(1)
    VersionedTable.write(batch(0, 4096), path, statsCols = Seq("v", "w"))
    // two SINGLE-column analyzes leave the (v, w) pair unrecorded — a
    // subsequent incremental pair ANALYZE must treat the file as needy
    VersionedTable.analyzeNdv(spark, path, Seq("v"))
    VersionedTable.analyzeNdv(spark, path, Seq("w"))
    val (_, scanned1) =
      VersionedTable.analyzeNdvInfo(spark, path, Seq("v", "w"),
        incremental = true)
    assert(scanned1.nonEmpty,
      "missing joint-null pair must make the file needy")
    // append a band: incremental re-analyzes ONLY the new file
    VersionedTable.append(batch(4096, 8192), path, statsCols = Seq("v", "w"))
    val (_, scanned2) =
      VersionedTable.analyzeNdvInfo(spark, path, Seq("v", "w"),
        incremental = true)
    assert(scanned2.size == 1,
      s"incremental must scan only the appended file: $scanned2")
    // fully covered: nothing to scan
    val (_, scanned3) =
      VersionedTable.analyzeNdvInfo(spark, path, Seq("v", "w"),
        incremental = true)
    assert(scanned3.isEmpty)
    // and the composition fires across both files
    val q = VersionedTable.read(spark, path)
      .filter($"v" >= 0L && $"w" >= 0L).agg(count(lit(1)).as("n"))
    assert(scanFree(q), q.queryExecution.optimizedPlan.toString)
    assert(q.collect().head.getLong(0) ==
      (0L until 8192L).count(i => i % 13 != 0 && i % 11 != 0).toLong)
  }

  test("OR-of-ranges and IN classify as per-column interval unions") {
    val path = tmp()
    // deterministic 4096-aligned bands (repartitionByRange samples its
    // split points — the "file-aligned" cases below need exact edges)
    val src = spark.range(0, 65536).select(col("id").as("k"),
      when(col("id") % 13 === 0, lit(null)).otherwise(col("id"))
        .cast("long").as("v"), (col("id") % 3).as("m"))
    def band(b: Int) = src
      .filter(col("k") >= b * 4096L && col("k") < (b + 1) * 4096L)
      .coalesce(1)
    VersionedTable.write(band(0), path, statsCols = Seq("k", "v"))
    (1 until 16).foreach(b =>
      VersionedTable.append(band(b), path, statsCols = Seq("k", "v")))
    val raw = VersionedTable.read(spark, path).select($"k", $"v", $"m")
    val copyDir = java.nio.file.Files.createTempDirectory("borcopy").toString + "/c"
    raw.write.parquet(copyDir)
    val plain = spark.read.parquet(copyDir)
    def q(c: org.apache.spark.sql.Column): DataFrame =
      VersionedTable.read(spark, path).filter(c)
        .agg(count(lit(1)).as("n"))
    def truth(c: org.apache.spark.sql.Column): Long =
      plain.filter(c).count()
    // OR of two disjoint ranges on the SORT column: the middle 10 bands
    // neither fail nor cover — but both tails' interiors answer from
    // metadata and only the four edge files scan
    val tails = $"k" < 10000L || $"k" >= 55000L
    val or2 = q(tails)
    val read = filesRead(or2)
    assert(read <= 4L && read >= 1L,
      s"OR tails: only the edge files may scan, read $read\n" +
        or2.queryExecution.optimizedPlan)
    assert(or2.collect().head.getLong(0) == truth(tails))
    // file-aligned OR: zero scan
    val aligned = $"k" < 4096L || $"k" >= 61440L
    val orA = q(aligned)
    assert(scanFree(orA), orA.queryExecution.optimizedPlan.toString)
    assert(orA.collect().head.getLong(0) == truth(aligned))
    // IN on a clustered column: each point either sits inside a file
    // (that file scans — a point never covers a whole multi-value file)
    // or prunes; count stays exact
    val inC = $"k".isin(5L, 5000L, 30000L, 65000L)
    val qin = q(inC)
    assert(filesRead(qin) <= 4L)
    assert(qin.collect().head.getLong(0) == truth(inC))
    // IN composed with a range on ANOTHER column (both must classify)
    val mixed = $"k".isin(100L, 200L, 64000L) && $"v" >= 0L
    val qm = q(mixed)
    assert(qm.collect().head.getLong(0) == truth(mixed))
    // OR of a range and IN on the same column still composes
    val orIn = ($"k" < 3000L) || $"k".isin(40000L, 64123L)
    val qoi = q(orIn)
    assert(qoi.collect().head.getLong(0) == truth(orIn))
    // cross-column OR: per-file verdicts don't compose per column — the
    // boundary rewrite declines (no hybrid `inside + scan` shape; plain
    // data skipping may still prune files), result exact
    val cross = $"k" < 1000L || $"v" > 60000L
    val qc = q(cross)
    assert(!scanFree(qc))
    assert(!qc.queryExecution.optimizedPlan.toString.contains("__graft_b"),
      s"cross-column OR must decline the boundary rewrite:\n" +
        qc.queryExecution.optimizedPlan)
    assert(qc.collect().head.getLong(0) == truth(cross))
    // != is the two-range union: one point's file scans, everything else
    // answers from metadata (only the band holding 30000 reads)
    val neq = $"k" =!= 30000L
    val qneq = q(neq)
    assert(filesRead(qneq) <= 1L,
      s"!= must scan only the excluded point's file:\n" +
        qneq.queryExecution.optimizedPlan)
    assert(qneq.collect().head.getLong(0) == truth(neq))
    // != a value OUTSIDE the data: fully metadata
    val neqOut = q($"k" =!= -5L)
    assert(scanFree(neqOut), neqOut.queryExecution.optimizedPlan.toString)
    assert(neqOut.collect().head.getLong(0) == truth($"k" =!= -5L))
    // SUM/MIN/MAX ride an OR range the same way (inside tails from
    // metadata when ANALYZE'd)
    VersionedTable.analyzeNdv(spark, path, Seq("k", "v"))
    val full = VersionedTable.read(spark, path).filter(tails)
      .agg(count(lit(1)).as("n"), sum($"k").as("sk"),
        min($"k").as("mn"), max($"k").as("mx"))
    assert(filesRead(full) <= 4L,
      s"OR with sum/extrema:\n${full.queryExecution.optimizedPlan}")
    assert(full.collect().head.toSeq ==
      plain.filter(tails).agg(count(lit(1)), sum($"k"), min($"k"),
        max($"k")).collect().head.toSeq)
  }

  test("hybrid AVG: exact decimal partials, one rounding at the divide") {
    val path = tmp()
    // k range-placed never-null; v nullable; z entirely NULL (ANALYZE
    // records sum 0 / nn 0 for it — the SQL-NULL AVG case)
    VersionedTable.write(
      spark.range(0, 65536).select(col("id").as("k"),
        when(col("id") % 13 === 0, lit(null)).otherwise(col("id") * 3)
          .cast("long").as("v"),
        lit(null).cast("long").as("z"))
        .repartitionByRange(16, col("k")),
      path, statsCols = Seq("k", "v", "z"))
    VersionedTable.analyzeNdv(spark, path, Seq("k", "v", "z"))
    val raw = VersionedTable.read(spark, path).select($"k", $"v", $"z")
    val copyDir = java.nio.file.Files.createTempDirectory("bacopy").toString + "/c"
    raw.write.parquet(copyDir)
    val plain = spark.read.parquet(copyDir)
    def q(c: org.apache.spark.sql.Column): DataFrame =
      VersionedTable.read(spark, path).filter(c)
        .agg(avg($"k").as("ak"), avg($"v").as("av"), count(lit(1)).as("n"))
    def truth(c: org.apache.spark.sql.Column): Seq[Any] =
      plain.filter(c).agg(avg($"k"), avg($"v"), count(lit(1)))
        .collect().head.toSeq
    // straddling range: edges scan, AVG recombines exactly (sums here sit
    // far inside 2^53, so the rule-off double accumulation agrees too)
    val mid = q($"k" >= 10000L && $"k" < 50000L)
    assert(filesRead(mid) <= 2L,
      s"AVG must ride the edge scan:\n${mid.queryExecution.optimizedPlan}")
    assert(mid.collect().head.toSeq == truth($"k" >= 10000L && $"k" < 50000L))
    // EMPTY boundary (file-aligned): fully metadata
    val all = q($"k" >= 0L && $"k" < 65536L)
    assert(scanFree(all), all.queryExecution.optimizedPlan.toString)
    assert(all.collect().head.toSeq == truth($"k" >= 0L && $"k" < 65536L))
    // out-of-range: SQL NULL totality, scan-free
    val none = q($"k" > 10000000L)
    assert(scanFree(none))
    val r = none.collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 0L)
    // ALL-NULL avg column: SQL NULL beside live counts — both hybrid
    // (straddling) and metadata (aligned) shapes
    def qz(c: org.apache.spark.sql.Column): DataFrame =
      VersionedTable.read(spark, path).filter(c)
        .agg(avg($"z").as("az"), count(lit(1)).as("n"))
    val zMid = qz($"k" >= 10000L && $"k" < 50000L)
    assert(filesRead(zMid) <= 2L)
    val zr = zMid.collect().head
    assert(zr.isNullAt(0) && zr.getLong(1) == 40000L)
    val zAll = qz($"k" >= 0L && $"k" < 65536L)
    assert(scanFree(zAll), zAll.queryExecution.optimizedPlan.toString)
    assert(zAll.collect().head.isNullAt(0))
    // nullable v under its own range: same-col AVG stays hybrid
    val vOwn = VersionedTable.read(spark, path)
      .filter($"v" >= 30000L && $"v" < 150000L).agg(avg($"v").as("av"))
    assert(filesRead(vOwn) <= 2L,
      s"same-col AVG under its own range:\n${vOwn.queryExecution.optimizedPlan}")
    assert(vOwn.collect().head.getDouble(0) ==
      plain.filter($"v" >= 30000L && $"v" < 150000L)
        .agg(avg($"v")).collect().head.getDouble(0))
  }

  test("checkpoint-anchored table: classification runs DISTRIBUTED, edges only") {
    // the 100 TB posture: an anchored commit's stats live in the
    // checkpoint parquet, the lazy driver map is NOT paid for, and the
    // boundary walk must classify on executors — edges-only read with
    // ckptStatsParses untouched (VersionedTableSpec's lazy-stats contract)
    val path = tmp()
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 8
    try {
      // 16 single-file appends of narrow k-bands → v10 writes a parquet
      // checkpoint; v11..v16 are delta layers (their files classify from
      // driver-known statsAdds — the added-files pass)
      (0 until 16).foreach { b =>
        VersionedTable.append(
          spark.range(b * 4096L, (b + 1) * 4096L)
            .select(col("id").as("k"),
              when(col("id") % 13 === 0, lit(null)).otherwise(col("id") * 3)
                .cast("long").as("v")).coalesce(1),
          path, statsCols = Seq("k", "v"))
      }
      def t = VersionedTable.read(spark, path)
      assert(t.inputFiles.length == 16)
      val plainRows = (0L until 65536L).map(i =>
        (i, if (i % 13 == 0) None else Some(i * 3)))
      VersionedTable.ckptStatsParses.set(0L)
      val q = t.filter($"k" >= 10000L && $"k" < 50000L)
        .agg(count(lit(1)).as("n"), min($"k").as("mn"), max($"k").as("mx"))
      val read = filesRead(q)
      assert(read <= 2L && read >= 1L,
        s"anchored boundary count must read edges only: $read\n" +
          q.queryExecution.optimizedPlan)
      val got = q.collect().head
      val hits = plainRows.filter(r => r._1 >= 10000L && r._1 < 50000L)
      assert(got.getLong(0) == hits.size.toLong)
      assert(got.getLong(1) == hits.head._1 && got.getLong(2) == hits.last._1)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "the distributed walk must never materialize the checkpoint " +
          "stats column driver-side")
      // fully-aligned range: zero scan, still zero driver stats parses
      val all = t.filter($"k" >= 0L && $"k" < 65536L)
        .agg(count(lit(1)).as("n"), count($"k").as("nk"))
      assert(scanFree(all), all.queryExecution.optimizedPlan.toString)
      val gotAll = all.collect().head
      assert(gotAll.getLong(0) == 65536L && gotAll.getLong(1) == 65536L)
      assert(VersionedTable.ckptStatsParses.get() == 0L)
      // nullable-column range (v): same-col count stays exact through
      // the distributed classification too
      val vq = t.filter($"v" >= 30000L && $"v" < 150000L)
        .agg(count(lit(1)).as("n"))
      assert(vq.collect().head.getLong(0) ==
        plainRows.count(r => r._2.exists(v => v >= 30000L && v < 150000L)))
      assert(VersionedTable.ckptStatsParses.get() == 0L)
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("anchored + hive-partitioned: executors classify partition values from paths") {
    val path = tmp()
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 4
    try {
      // 12 day-dirs, one commit each → anchored at v10; day is a
      // PARTITION column whose per-file bounds the executors must
      // synthesize from the path segments
      (0 until 12).foreach { d =>
        spark.range(d * 100L, (d + 1) * 100L)
          .select(lit(d.toLong).as("day"), col("id").as("ts")).coalesce(1)
          .write.format("graft-table").option("statsCols", "ts")
          .partitionBy("day").mode(if (d == 0) "overwrite" else "append")
          .save(path)
      }
      def t = spark.read.format("graft-table").load(path)
      VersionedTable.ckptStatsParses.set(0L)
      val q = t.filter($"day" >= 3L && $"day" < 9L && $"ts" >= 350L)
        .agg(count(lit(1)).as("n"))
      val got = q.collect().head.getLong(0)
      assert(got == (350L until 900L).size.toLong, s"got $got")
      val read = filesRead(q)
      assert(read <= 1L,
        s"only the straddling day-3 file may scan: $read\n" +
          q.queryExecution.optimizedPlan)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "partition-value classification must not force driver stats")
      // GROUPED distributed walk: executors key each file by its path's
      // partition value; only the day-3 straddler scans
      val g = t.filter($"ts" >= 350L && $"ts" < 900L).groupBy($"day")
        .agg(count(lit(1)).as("n"), min($"ts").as("mn"))
      val gotG = g.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(gotG == (3L to 8L).map(d =>
        (d, if (d == 3L) 50L else 100L,
          if (d == 3L) 350L else d * 100L)).toSeq, gotG.toString)
      assert(filesRead(g) <= 1L,
        s"grouped anchored: edges only\n${g.queryExecution.optimizedPlan}")
      assert(VersionedTable.ckptStatsParses.get() == 0L)
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("GROUPED boundary: GROUP BY partition col under a data range, edges only") {
    val path = tmp()
    // 8 day-dirs, each two deterministic ts bands; v nullable; plus a
    // hive NULL-day file inside the range (the NULL group)
    val src = spark.range(0, 8000).select((col("id") / 1000)
      .cast("long").as("day"),
      col("id").as("ts"),
      when(col("id") % 13 === 0, lit(null)).otherwise(col("id") * 2)
        .cast("long").as("v"))
    var first = true
    for { d <- 0 until 8; lo <- Seq(true, false) } {
      src.filter(col("day") === d &&
        (if (lo) col("ts") % 1000 < 500 else col("ts") % 1000 >= 500))
        .coalesce(1)
        .write.format("graft-table").option("statsCols", "ts,v")
        .partitionBy("day").mode(if (first) "overwrite" else "append")
        .save(path)
      first = false
    }
    spark.range(20000, 20100)
      .select(lit(null).cast("long").as("day"), lit(3000L) + col("id") % 50,
        (col("id") * 2).cast("long"))
      .toDF("day", "ts", "v").coalesce(1)
      .write.format("graft-table").option("statsCols", "ts,v")
      .mode("append").save(path)
    VersionedTable.analyzeNdv(spark, path, Seq("ts", "v"))
    def t = spark.read.format("graft-table").load(path)
    val total = t.inputFiles.length
    assert(total == 17, s"fixture: $total files")
    val copyDir = java.nio.file.Files.createTempDirectory("bgcopy").toString + "/c"
    t.select($"day", $"ts", $"v").write.parquet(copyDir)
    val plain = spark.read.parquet(copyDir)
    def q(c: org.apache.spark.sql.Column, on: DataFrame): DataFrame =
      on.filter(c).groupBy($"day")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
          min($"ts").as("mn"), max($"ts").as("mx"), avg($"ts").as("at"))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // straddling range: day-1-low and day-6-high straddle (2 edge files);
    // days 2-5 + day-1-high + day-6-low + the NULL-day file answer from
    // metadata; days 0 and 7 drop out entirely
    val cond = $"ts" >= 1300L && $"ts" < 6700L
    val on = q(cond, t)
    val read = filesRead(on)
    assert(read <= 2L && read >= 1L,
      s"grouped boundary must read edges only: $read/$total\n" +
        on.queryExecution.optimizedPlan)
    assert(rows(on) == rows(q(cond, plain)),
      s"grouped hybrid mismatch:\ngot ${rows(on)}\nwant ${rows(q(cond, plain))}")
    assert(on.filter($"day".isNull).count() == 1L,
      "the NULL-day group must survive the metadata path")
    // file-aligned range: every group from metadata, zero scan
    val aligned = $"ts" >= 1500L && $"ts" < 6500L
    val onA = q(aligned, t)
    assert(scanFree(onA), onA.queryExecution.optimizedPlan.toString)
    assert(rows(onA) == rows(q(aligned, plain)))
    // entirely out-of-range: no groups at all (grouped-over-empty)
    val none = q($"ts" > 1000000L, t)
    assert(scanFree(none))
    assert(none.count() == 0L)
    // group col in the filter too (partition census handles pure
    // partition filters; the data range makes it boundary territory)
    val mixed = $"day" >= 2L && $"ts" >= 2200L && $"ts" < 5800L
    val onM = q(mixed, t)
    assert(rows(onM) == rows(q(mixed, plain)))
    // non-partition group column declines (exact via scan)
    val byData = t.filter(cond).groupBy($"v").agg(count(lit(1)).as("n"))
    assert(!byData.queryExecution.optimizedPlan.toString.contains("__graft_g"),
      "grouping by a data column must decline the grouped rewrite")
    assert(rows(byData) ==
      rows(plain.filter(cond).groupBy($"v").agg(count(lit(1)).as("n"))))
  }

  test("null-any set stat: three nullable columns compose from a 3+ column ANALYZE") {
    val path = tmp()
    // k range-placed never-null; a, b, c nullable on different moduli so
    // the null overlaps are non-trivial (pairwise AND triple)
    VersionedTable.write(
      spark.range(0, 65536).select(col("id").as("k"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id"))
          .cast("long").as("a"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 2)
          .cast("long").as("b"),
        when(col("id") % 11 === 0, lit(null)).otherwise(col("id") * 3)
          .cast("long").as("c"))
        .repartitionByRange(16, col("k")),
      path, statsCols = Seq("k", "a", "b", "c"))
    VersionedTable.analyzeNdv(spark, path, Seq("a", "b", "c"))
    val raw = VersionedTable.read(spark, path).select($"k", $"a", $"b", $"c")
    val copyDir = java.nio.file.Files.createTempDirectory("bacopy").toString + "/c"
    raw.write.parquet(copyDir)
    val plain = spark.read.parquet(copyDir)
    def t = VersionedTable.read(spark, path)
    def truth(cc: org.apache.spark.sql.Column): Long = plain.filter(cc).count()
    // covering ranges on all three: matching = rows − nullAny{a,b,c} per
    // file — scan-free and exact (the triple overlap at ids ÷ 385 must
    // not mis-count)
    val covering = $"a" >= 0L && $"b" >= 0L && $"c" >= 0L
    val q3 = t.filter(covering).agg(count(lit(1)).as("n"))
    assert(scanFree(q3),
      s"na-armed three-nullable range must answer from metadata:\n" +
        q3.queryExecution.optimizedPlan)
    assert(q3.collect().head.getLong(0) == truth(covering))
    // plus a never-null range column: the cond set {a,b,c,k} exceeds the
    // recorded set, but the file's NULLABLE subset {a,b,c} matches it —
    // straddling k range, edges only
    val mixed = $"a" >= 0L && $"b" >= 0L && $"c" >= 0L &&
      $"k" >= 10000L && $"k" < 50000L
    val qm = t.filter(mixed).agg(count(lit(1)).as("n"))
    val readM = filesRead(qm)
    assert(readM <= 2L && readM >= 1L,
      s"three-nullable + range must scan edges only: $readM\n" +
        qm.queryExecution.optimizedPlan)
    assert(qm.collect().head.getLong(0) == truth(mixed))
    // two-nullable falls back to the set stat when the PAIR is missing:
    // a and c straddled by a b-free filter — pair (a,c) was recorded by
    // the 3-col ANALYZE anyway, so force the subset path via all three
    // (covered above); here just pin the pair path still works
    val two = $"a" >= 0L && $"c" >= 0L
    val q2 = t.filter(two).agg(count(lit(1)).as("n"))
    assert(scanFree(q2))
    assert(q2.collect().head.getLong(0) == truth(two))
    // WITHOUT the recorded set (pairwise-only ANALYZE on another copy)
    // three nullables decline — exact via the scan
    val noNa = tmp()
    VersionedTable.write(raw, noNa, statsCols = Seq("a", "b", "c"))
    VersionedTable.analyzeNdv(spark, noNa, Seq("a", "b"))
    VersionedTable.analyzeNdv(spark, noNa, Seq("a", "c"))
    VersionedTable.analyzeNdv(spark, noNa, Seq("b", "c"))
    val declined = VersionedTable.read(spark, noNa).filter(covering)
      .agg(count(lit(1)).as("n"))
    assert(!scanFree(declined),
      "pairwise-only ANALYZE must keep scanning three nullables")
    assert(declined.collect().head.getLong(0) == truth(covering))
    // INCREMENTAL coverage: the pairwise-analyzed copy is needy for the
    // 3-col set (na unrecorded); after the set ANALYZE it fires, and an
    // append re-analyzes ONLY the new file
    val (_, scanned1) =
      VersionedTable.analyzeNdvInfo(spark, noNa, Seq("a", "b", "c"),
        incremental = true)
    assert(scanned1.nonEmpty, "missing na set must make files needy")
    val fired = VersionedTable.read(spark, noNa).filter(covering)
      .agg(count(lit(1)).as("n"))
    assert(scanFree(fired), fired.queryExecution.optimizedPlan.toString)
    assert(fired.collect().head.getLong(0) == truth(covering))
    VersionedTable.append(
      spark.range(65536, 66000).select(col("id").as("k"),
        col("id").cast("long").as("a"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 2)
          .cast("long").as("b"),
        col("id").cast("long").as("c")).coalesce(1),
      noNa, statsCols = Seq("a", "b", "c"))
    val (_, scanned2) =
      VersionedTable.analyzeNdvInfo(spark, noNa, Seq("a", "b", "c"),
        incremental = true)
    assert(scanned2.size == 1,
      s"incremental must scan only the appended file: $scanned2")
    val (_, scanned3) =
      VersionedTable.analyzeNdvInfo(spark, noNa, Seq("a", "b", "c"),
        incremental = true)
    assert(scanned3.isEmpty, "fully covered: nothing to scan")
  }

  test("anchored: jn/na stats ride the checkpoint merge, compose with zero driver parses") {
    val path = tmp()
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 8
    try {
      // 16 single-file band appends → the head anchors at a parquet
      // checkpoint; a, b, c nullable on different moduli
      (0 until 16).foreach { band =>
        VersionedTable.append(
          spark.range(band * 4096L, (band + 1) * 4096L)
            .select(col("id").as("k"),
              when(col("id") % 5 === 0, lit(null)).otherwise(col("id"))
                .cast("long").as("a"),
              when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 2)
                .cast("long").as("b"),
              when(col("id") % 11 === 0, lit(null)).otherwise(col("id") * 3)
                .cast("long").as("c")).coalesce(1),
          path, statsCols = Seq("k", "a", "b", "c"))
      }
      // the 3-col ANALYZE authors its pair AND set channels through
      // writeCkptFromAnchor's executor-side merge — the driver stats map
      // must never materialize, during ANALYZE or after
      VersionedTable.ckptStatsParses.set(0L)
      VersionedTable.analyzeNdv(spark, path, Seq("a", "b", "c"))
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "anchored ANALYZE must ride the executor-side checkpoint merge")
      def t = VersionedTable.read(spark, path)
      def expectCnt(p: Long => Boolean): Long =
        (0L until 65536L).count(i => p(i)).toLong
      // three-nullable covering ranges: the DISTRIBUTED walk reads the na
      // set stat from checkpoint rows ON EXECUTORS — scan-free, exact
      val q3 = t.filter($"a" >= 0L && $"b" >= 0L && $"c" >= 0L)
        .agg(count(lit(1)).as("n"))
      assert(scanFree(q3), q3.queryExecution.optimizedPlan.toString)
      assert(q3.collect().head.getLong(0) ==
        expectCnt(i => i % 5 != 0 && i % 7 != 0 && i % 11 != 0))
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "the distributed na composition must stay off the driver")
      // two-nullable pair stat through the same ride
      val q2 = t.filter($"a" >= 0L && $"b" >= 0L).agg(count(lit(1)).as("n"))
      assert(scanFree(q2))
      assert(q2.collect().head.getLong(0) ==
        expectCnt(i => i % 5 != 0 && i % 7 != 0))
      assert(VersionedTable.ckptStatsParses.get() == 0L)
      // an append + INCREMENTAL ANALYZE: needsSketch's na coverage and
      // the patch authoring both stay distributed (O(delta) driver work)
      VersionedTable.append(
        spark.range(65536L, 66000L).select(col("id").as("k"),
          col("id").cast("long").as("a"),
          when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 2)
            .cast("long").as("b"),
          col("id").cast("long").as("c")).coalesce(1),
        path, statsCols = Seq("k", "a", "b", "c"))
      VersionedTable.ckptStatsParses.set(0L)
      val (_, scanned) = VersionedTable.analyzeNdvInfo(spark, path,
        Seq("a", "b", "c"), incremental = true)
      assert(scanned.size == 1,
        s"incremental must scan only the appended file: $scanned")
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "incremental anchored ANALYZE must not parse checkpoint " +
          "stats driver-side")
      val q3b = t.filter($"a" >= 0L && $"b" >= 0L && $"c" >= 0L)
        .agg(count(lit(1)).as("n"))
      assert(scanFree(q3b))
      assert(q3b.collect().head.getLong(0) ==
        expectCnt(i => i % 5 != 0 && i % 7 != 0 && i % 11 != 0) +
          (65536L until 66000L).count(i => i % 7 != 0).toLong)
      assert(VersionedTable.ckptStatsParses.get() == 0L)
      // BARE global aggregates (no filter — the direct metadata path):
      // the table-level MIN/MAX/COUNT(col)/SUM channels must aggregate
      // DISTRIBUTED over the checkpoint, never per-file on the driver
      val qg = t.agg(count(lit(1)).as("n"), count($"a").as("na"),
        min($"k").as("mn"), max($"k").as("mx"), sum($"a").as("sa"),
        avg($"a").as("aa"))
      assert(scanFree(qg), qg.queryExecution.optimizedPlan.toString)
      val gr = qg.collect().head
      assert(gr.getLong(0) == 66000L)
      val nnA = expectCnt(i => i % 5 != 0) + 464L // appended a: never null
      assert(gr.getLong(1) == nnA)
      assert(gr.getLong(2) == 0L && gr.getLong(3) == 65999L)
      val sumA =
        (0L until 65536L).filter(_ % 5 != 0).sum + (65536L until 66000L).sum
      assert(gr.getLong(4) == sumA)
      assert(gr.getDouble(5) == BigDecimal(sumA).toDouble / nnA.toDouble)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "the direct global metadata path must not force the checkpoint " +
          "stats column driver-side")
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("GROUPED boundary: DERIVED group keys collapse partitions, edges only") {
    val path = tmp()
    // 8 day-dirs, each two deterministic ts bands; v nullable; plus a
    // hive NULL-day file inside the range (derived key of NULL is NULL)
    val src = spark.range(0, 8000).select((col("id") / 1000)
      .cast("long").as("day"),
      col("id").as("ts"),
      when(col("id") % 13 === 0, lit(null)).otherwise(col("id") * 2)
        .cast("long").as("v"))
    var first = true
    for { d <- 0 until 8; lo <- Seq(true, false) } {
      src.filter(col("day") === d &&
        (if (lo) col("ts") % 1000 < 500 else col("ts") % 1000 >= 500))
        .coalesce(1)
        .write.format("graft-table").option("statsCols", "ts,v")
        .partitionBy("day").mode(if (first) "overwrite" else "append")
        .save(path)
      first = false
    }
    spark.range(20000, 20100)
      .select(lit(null).cast("long").as("day"), lit(3000L) + col("id") % 50,
        (col("id") * 2).cast("long"))
      .toDF("day", "ts", "v").coalesce(1)
      .write.format("graft-table").option("statsCols", "ts,v")
      .mode("append").save(path)
    VersionedTable.analyzeNdv(spark, path, Seq("ts", "v"))
    def t = spark.read.format("graft-table").load(path)
    val total = t.inputFiles.length
    val copyDir = java.nio.file.Files.createTempDirectory("bdcopy").toString + "/c"
    t.select($"day", $"ts", $"v").write.parquet(copyDir)
    val plain = spark.read.parquet(copyDir)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // GROUP BY day % 3 — a row-local function of the partition value
    // collapsing {0,3,6}/{1,4,7}/{2,5} (and NULL day → NULL key): inside
    // totals merge across the collapsed partitions, edges only scan
    def q(c: org.apache.spark.sql.Column, on: DataFrame): DataFrame =
      on.filter(c).groupBy(($"day" % 3).as("d3"))
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
          min($"ts").as("mn"), max($"ts").as("mx"), avg($"ts").as("at"))
    val cond = $"ts" >= 1300L && $"ts" < 6700L
    val on = q(cond, t)
    val read = filesRead(on)
    assert(read <= 2L && read >= 1L,
      s"derived-key grouped boundary must read edges only: $read/$total\n" +
        on.queryExecution.optimizedPlan)
    assert(rows(on) == rows(q(cond, plain)),
      s"derived-key mismatch:\ngot ${rows(on)}\nwant ${rows(q(cond, plain))}")
    assert(on.filter($"d3".isNull).count() == 1L,
      "the NULL-day group must derive to the NULL key")
    // file-aligned range: scan-free, all groups from merged metadata
    val aligned = $"ts" >= 1500L && $"ts" < 6500L
    val onA = q(aligned, t)
    assert(scanFree(onA), onA.queryExecution.optimizedPlan.toString)
    assert(rows(onA) == rows(q(aligned, plain)))
    // the derived key composes with the IS NULL probe: per-group null
    // counts of v under a covering range, scan-free
    val nullProbe = t.filter($"v".isNull && $"ts" >= 0L)
      .groupBy(($"day" % 3).as("d3")).agg(count(lit(1)).as("n"))
    assert(scanFree(nullProbe),
      nullProbe.queryExecution.optimizedPlan.toString)
    assert(rows(nullProbe) ==
      rows(plain.filter($"v".isNull && $"ts" >= 0L)
        .groupBy(($"day" % 3).as("d3")).agg(count(lit(1)).as("n"))))
    // a derived key touching a DATA column declines (exact via scan)
    val byData = t.filter(cond).groupBy(($"v" % 3).as("v3"))
      .agg(count(lit(1)).as("n"))
    assert(!byData.queryExecution.optimizedPlan.toString.contains("__graft_g"),
      "derived keys over data columns must decline the grouped rewrite")
    assert(rows(byData) == rows(plain.filter(cond)
      .groupBy(($"v" % 3).as("v3")).agg(count(lit(1)).as("n"))))
  }

  test("GROUPED boundary: a zero-match Inside group emits NO row (phantom COUNT=0)") {
    val path = tmp()
    // day 0: v and w non-null sets DISJOINT (v on odd ids, w on even) —
    // under `v >= 0 AND w >= 0` the file classifies Inside via the
    // joint-null inclusion-exclusion with matchCnt = nnV + nnW − rows +
    // bothNull = 500 + 500 − 1000 + 0 = 0. SQL emits NO day-0 group; the
    // rewrite must not emit a phantom (day 0, COUNT 0) row.
    val day0 = spark.range(0, 1000).select(lit(0L).as("day"),
      col("id").as("ts"),
      when(col("id") % 2 === 0, lit(null)).otherwise(col("id"))
        .cast("long").as("v"),
      when(col("id") % 2 === 1, lit(null)).otherwise(col("id"))
        .cast("long").as("w"))
    val day1 = spark.range(1000, 2000).select(lit(1L).as("day"),
      col("id").as("ts"),
      when(col("id") % 13 === 0, lit(null)).otherwise(col("id"))
        .cast("long").as("v"),
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id"))
        .cast("long").as("w"))
    day0.coalesce(1).write.format("graft-table")
      .option("statsCols", "v,w").partitionBy("day")
      .mode("overwrite").save(path)
    day1.coalesce(1).write.format("graft-table")
      .option("statsCols", "v,w").partitionBy("day")
      .mode("append").save(path)
    VersionedTable.analyzeNdv(spark, path, Seq("v", "w"))
    def t = spark.read.format("graft-table").load(path)
    val copyDir = java.nio.file.Files.createTempDirectory("bpcopy")
      .toString + "/c"
    t.select($"day", $"ts", $"v", $"w").write.parquet(copyDir)
    val plain = spark.read.parquet(copyDir)
    val cond = $"v" >= 0L && $"w" >= 0L
    def q(on: DataFrame): DataFrame =
      on.filter(cond).groupBy($"day").agg(count(lit(1)).as("n"))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // pure-metadata path: both files classify Inside (jn-armed), zero scan
    val meta = q(t)
    assert(scanFree(meta), meta.queryExecution.optimizedPlan.toString)
    assert(rows(meta) == rows(q(plain)),
      s"phantom zero-match group:\ngot ${rows(meta)}\nwant ${rows(q(plain))}")
    assert(meta.filter($"day" === 0L).count() == 0L,
      "a group whose every row fails the filter must be ABSENT")
    // union path: an appended un-analyzed file makes day 2 a boundary
    // scan — day 0's phantom must not survive the re-aggregation either
    spark.range(2000, 3000).select(lit(2L).as("day"), col("id").as("ts"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id"))
        .cast("long").as("v"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id"))
        .cast("long").as("w"))
      .coalesce(1).write.format("graft-table")
      .option("statsCols", "v,w").partitionBy("day")
      .mode("append").save(path)
    val hybrid = q(t)
    assert(rows(hybrid) == rows(q(plain.union(
      spark.range(2000, 3000).select(lit(2L).as("day"), col("id").as("ts"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id"))
          .cast("long").as("v"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id"))
          .cast("long").as("w"))))),
      s"phantom group through the union path:\n${rows(hybrid)}")
    assert(hybrid.filter($"day" === 0L).count() == 0L)
  }

  test("non-finite double partition values decline at plan time, no throw") {
    import org.apache.spark.sql.types.DoubleType
    // NaN/Infinity have no BigDecimal image — the walk must decline
    // (mirroring DataSkipping.statValue's isFinite gate), not throw
    assert(BoundaryWalk.statDomainOf(
      java.lang.Double.valueOf(Double.NaN)).isEmpty)
    assert(BoundaryWalk.statDomainOf(
      java.lang.Float.valueOf(Float.PositiveInfinity)).isEmpty)
    assert(BoundaryWalk.statDomainOf(java.lang.Double.valueOf(1.5))
      .contains(BigDecimal(1.5)))
    val (fc, _) = BoundaryWalk.classifyFromStats(
      path = "x=NaN/part-0.parquet", rowsOpt = Some(10L),
      stats = Map.empty, dvMarkedRows = 0L,
      neededPart = Seq(("x", "x", DoubleType)), zone = None,
      ivs = Seq(BoundaryWalk.IvS("x", DoubleType,
        Seq(Seq((Some((0.0d, false)), None))))),
      sumCols = Nil, extCols = Nil)
    assert(fc == BoundaryWalk.Boundary,
      s"NaN partition value must fall to the boundary scan: $fc")
  }

  test("declines: two columns, COUNT(other col), non-count aggregates, DV files scan") {
    val path = tmp()
    VersionedTable.write(
      spark.range(0, 8192).select(col("id").as("k"), col("id").as("v"),
        (col("id") % 7).as("m")).repartitionByRange(8, col("k")),
      path, statsCols = Seq("v"))
    def t = VersionedTable.read(spark, path)
    // two-column condition: matching rows aren't derivable per column
    val two = t.filter($"v" >= 100L && $"m" === 3L).agg(count(lit(1)).as("n"))
    assert(!scanFree(two))
    assert(two.collect().head.getLong(0) ==
      (100L until 8192L).count(_ % 7 == 3).toLong)
    // COUNT(another column) under a v-range: not provable — full scan path
    val other = t.filter($"v" >= 100L).agg(count($"m").as("n"))
    assert(!scanFree(other))
    assert(other.collect().head.getLong(0) == 8092L)
    // SUM beside the COUNT without ANALYZE sums: inside files cannot
    // contribute, everything joins the scan — exact either way
    val mixed = t.filter($"v" >= 100L).agg(count(lit(1)).as("n"),
      sum($"v").as("s"))
    assert(mixed.collect().head.getLong(0) == 8092L)
    // DV marks: the marked file joins the boundary scan, totals stay exact
    VersionedTable.delete(spark, path, $"v" === 5000L,
      purgeFraction = 1.0)
    val afterDv = t.filter($"v" >= 1024L && $"v" < 7168L)
      .agg(count(lit(1)).as("n"))
    assert(afterDv.collect().head.getLong(0) == (7168L - 1024L - 1L),
      "the DV-deleted row must stay out of the hybrid total")
  }
}
