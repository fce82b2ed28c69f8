package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{sources, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CatalystAnd, AttributeReference, Expression, UnsafeProjection}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Catalyst-integrated batch reads for graft versioned tables — the piece
  * that makes `spark.read.format("graft-table").load(p).filter(pred)` prune
  * files AT PLAN TIME, the way Delta's TahoeFileIndex does. The pre-existing
  * `readWhere(predicate)` API pruned only when callers routed through it;
  * the reference's own idiom is read-then-filter
  * (`pipelines/gold/kpis_local.py:31,38`), which silently scanned every
  * live file. With a [[FileIndex]] the pushed data filters arrive inside
  * `listFiles` during physical planning, so ANY DataFrame filter — however
  * composed — prunes through the same manifest-stats machinery, and the
  * scan keeps Spark's vectorized parquet reader, column pruning, parquet
  * row-group pushdown and whole-stage codegen (a custom DSv2 reader would
  * re-implement all four).
  *
  * Lives in an `org.apache.spark.sql` subpackage solely for
  * `Dataset.ofRows`/`LogicalRelation` (both `private[sql]`), like the
  * streaming shim above it. No Spark internals are modified.
  */

/** Snapshot file index over one committed version: immutable, no listing,
  * no inference — the file list comes from the manifest, and `listFiles`
  * partitions it with the caller-supplied pruner (manifest min/max stats,
  * evaluated distributed for checkpoint-anchored commits).
  *
  * @param keep  pushed data filters => root-relative files that may hold
  *              matching rows (conservative; unknown shapes keep all)
  * @param liveRows exact live row count of this snapshot from the commit
  *                 manifest (per-file rows minus deletion-vector marks),
  *                 None when the index is not a whole snapshot (see
  *                 [[GraftFileIndex.restrictedTo]]). Powers
  *                 the metadata-only COUNT(*) rewrite (GraftMetadataCount)
  *                 — a plain .count() then answers without touching data.
  * @param partSchema the table's partition dimension (empty when
  *                 unpartitioned): files live in hive-style dirs under each
  *                 token dir, their values parsed from the path; filters on
  *                 these columns arrive as PARTITION filters and prune
  *                 whole directories here, before any footer or stat is
  *                 consulted.
  * @param physNameOf logical→physical column renaming for partition dir
  *                 names (column mapping writes physical names into paths)
  */
/** What the DISTRIBUTED boundary walk needs from a checkpoint-anchored
  * commit: the checkpoint parquet (bulk of the files — classified on
  * executors), the O(delta) removed/added bookkeeping (added files carry
  * driver-known stats by construction), and the DV mark counts (marked
  * files classify as boundary for data columns, but their partition
  * values and live-row counts stay exact). */
final case class GraftBoundaryDist(
    ckptRel: String,
    removed: Set[String],
    added: Seq[String],
    addedRows: Map[String, Long],
    addedStats: Map[String, Map[String, graft.sources.DataSkipping.ColStat]],
    dvRows: Map[String, Long])

private[graft] class GraftFileIndex(
    spark: SparkSession,
    root: Path,
    allFiles: Seq[String],
    keep: Option[Expression] => Seq[String],
    val liveRows: Option[Long] = None,
    partSchema: StructType = new StructType(),
    physNameOf: String => String = identity,
    val minMaxOf: String => Option[(Any, Any)] = _ => None,
    /** partition column → (generation expression SQL, declared session
      * zone when the expression is zone-dependent), for every PARTITION
      * column declared `GENERATED ALWAYS AS (...)` — the declaration
      * contract guarantees `p <=> f(base)` on every stored row, which is
      * what licenses [[GraftDerivePartitionFilters]] to turn base-column
      * predicates into directory-pruning partition predicates. */
    val generatedPartDefs: Map[String, (String, Option[String])] = Map.empty,
    /** Plan-time NDV per column from manifest KMV sketches (ANALYZE ...
      * COMPUTE NDV) — None for un-analyzed columns. Powers the CBO-lite
      * equality-selectivity estimate in [[GraftNdvJoinEstimation]]. */
    val ndvOf: String => Option[Long] = _ => None,
    /** Materialized-view paths registered over this table (the source-side
      * `graft.mv.views` roster) — candidates for the aggregate-rewrite rule
      * ([[graft.sql.GraftMvRewrite]]). Empty for tables with no views, so
      * the rule's match is O(1) on everything else. */
    val mvViews: Seq[String] = Nil,
    /** The committed version this relation pinned at build time — the
      * rewrite's freshness anchor (a view answers for THIS snapshot only
      * when its refresh watermark equals it). */
    val snapshotVersion: Option[Long] = None,
    /** Declared FOREIGN KEY pins (`graft.fk.*` props, serialized) — what
      * licenses [[graft.sql.GraftJoinElimination]] to drop a dim join a
      * query never reads from. Empty for tables without declarations, so
      * the rule's match is O(1) on everything else. */
    val fkProps: Map[String, String] = Map.empty,
    /** EXACT live rows per file (manifest rows minus deletion-vector
      * marks) — what licenses the partition-census rewrite
      * ([[graft.sql.GraftMetadataCount]]'s grouped case) to answer
      * GROUP-BY-partition-column aggregates without opening a data file. */
    val fileRows: Map[String, Long] = Map.empty,
    /** EXACT per-(file, column) min/max bounds from manifest stats, in the
      * stats domain — `None` when the file cannot answer exactly (DV
      * marks, missing/truncated stats), `Some(None)` when the column is
      * all-NULL in the file (contributes nothing to an extremum), else
      * `Some(Some((min, max)))`. Powers per-partition MIN/MAX of DATA
      * columns in the census rewrite. */
    val fileMinMaxOf: (String, String) => Option[Option[(Any, Any)]] =
      (_, _) => None,
    /** EXACT live NON-NULL value count per (file, column) — rows minus the
      * footer's null count. None when the file cannot answer exactly (DV
      * marks may have removed either kind of row; partial footer stats
      * make the null count itself unreliable). Powers the top-k prune
      * rule's "≥ k values past the threshold" proof. */
    val fileNonNullOf: (String, String) => Option[Long] = (_, _) => None,
    /** Validated CHECK constraints (name → predicate SQL) of the pinned
      * commit — what licenses [[graft.sql.GraftConstraintPruning]] to
      * drop query conjuncts the table already guarantees. Empty for
      * tables without constraints, so the rule's match is O(1). */
    val checkConstraints: Map[String, String] = Map.empty,
    /** EXACT live SUM per (file, column) from ANALYZE (integral/decimal
      * only; DV-marked files answer nothing) — powers the metadata-only
      * SUM(col) rewrite. */
    val fileSumOf: (String, String) => Option[BigDecimal] = (_, _) => None,
    /** Per-(file, column) ANALYZE sketch HASHES + hash-recipe: every
      * retained hash is the md5 of a REAL value in the file, so the count
      * of DISTINCT hashes LOWER-bounds the file's distinct values
      * (collisions only undercount, saturation only truncates, nulls
      * never enter a sketch). DV-marked files answer nothing — marks may
      * have removed any value. Powers the DENSE_RANK window group-limit
      * proof. */
    val fileNdvHashesOf: (String, String) => Option[(Seq[String], Int)] =
      (_, _) => None,
    /** True when iterating per-file stats on the DRIVER costs nothing
      * extra — inline-manifest commits, or an anchored commit whose lazy
      * stats map is already paid for. Rewrites that would fire on COMMON
      * shapes (the hybrid boundary aggregates: any count-with-filter)
      * must check this and decline rather than silently materialize a
      * million-file checkpoint's stats column driver-side. */
    val statsDriverCheap: () => Boolean = () => true,
    /** Checkpoint-anchored commits: what the DISTRIBUTED boundary walk
      * needs to classify every live file on EXECUTORS over the
      * checkpoint parquet — the lift of the `statsDriverCheap` decline
      * for exactly the tables (million-file, anchored) where the hybrid
      * boundary rewrite is worth the most. None for inline-manifest
      * commits (driver walk is free there) and for restricted copies
      * (a subset walk over the full checkpoint would answer from files
      * outside the subset). */
    val boundaryDist: Option[GraftBoundaryDist] = None,
    /** JOINT null count per (file, colA, colB) from ANALYZE — rows where
      * BOTH columns are null, the inclusion-exclusion term that composes
      * a two-nullable-column range filter's exact matching count. None
      * when unrecorded or the file is DV-marked. */
    val fileJointNullsOf: (String, String, String) => Option[Long] =
      (_, _, _) => None,
    /** Per-SET null-any count per (file, sorted column set) from a 3+
      * column ANALYZE — rows null in >= 1 set column; `rows − nullAny`
      * composes the matching count past two nullable cond columns. None
      * when unrecorded or the file is DV-marked. */
    val fileNullAnyOf: (String, Seq[String]) => Option[Long] =
      (_, _) => None)
    extends FileIndex {

  /** The manifest's live file keys — the top-k prune rule's iteration
    * domain (per-file hooks above are keyed by these). */
  def liveFiles: Seq[String] = allFiles

  /** Catalyst-internal partition value → the stats comparison domain —
    * shared with the distributed boundary walk
    * ([[graft.sql.BoundaryWalk.statDomainOf]]), which evaluates the same
    * conversion on executors. */
  private def statDomainOf(v: Any): Option[Any] =
    graft.sql.BoundaryWalk.statDomainOf(v)

  /** [[fileMinMaxOf]] that ALSO answers PARTITION columns: a file's
    * partition value is an exact min = max bound (true under DV marks too
    * — every surviving row still carries it), and the hive null dir is an
    * all-null column. Top-k thresholds on these prune whole DIRECTORIES
    * through the ordinary partition-filter path. */
  def topkBoundsOf(fk: String, column: String): Option[Option[(Any, Any)]] =
    partSchema.fieldNames.indexOf(column) match {
      case -1 => fileMinMaxOf(fk, column)
      case i => partValuesOf.get(fk).flatMap { row =>
        if (row.isNullAt(i)) Some(None)
        else statDomainOf(row.get(i, partSchema(i).dataType)).map(v =>
          Some((v, v)))
      }
    }

  /** [[fileNonNullOf]]'s partition-aware twin: every live row carries the
    * file's partition value, so the manifest's exact live count (DV marks
    * already subtracted) IS the non-null count. */
  def topkNonNullOf(fk: String, column: String): Option[Long] =
    partSchema.fieldNames.indexOf(column) match {
      case -1 => fileNonNullOf(fk, column)
      case i => partValuesOf.get(fk).flatMap { row =>
        if (row.isNullAt(i)) Some(0L) else fileRows.get(fk)
      }
    }

  /** [[fileNdvHashesOf]]'s partition-aware twin: a partition column has
    * exactly one value per file — synthesize a per-value token (prefixed
    * so it can never collide with an md5 hex) when the file has live
    * rows, an empty set when the partition value is NULL or every row is
    * dead, and nothing when liveness is unknowable. */
  def topkNdvHashesOf(fk: String, column: String): Option[(Seq[String], Int)] =
    partSchema.fieldNames.indexOf(column) match {
      case -1 => fileNdvHashesOf(fk, column)
      case i => fileRows.get(fk) match {
        case None => None
        case Some(n) if n <= 0L => Some((Nil, Int.MaxValue))
        case Some(_) => partValuesOf.get(fk).map { row =>
          if (row.isNullAt(i)) (Nil, Int.MaxValue)
          else (Seq("p:" + row.get(i, partSchema(i).dataType)), Int.MaxValue)
        }
      }
    }

  /** The DISTRIBUTED boundary walk: classify every live file against the
    * per-column intervals ON EXECUTORS over the checkpoint parquet —
    * stats JSON parses where the data sits, only the aggregated inside
    * totals and the (edge-sized) boundary file keys travel back. Files
    * added since the anchor classify on the driver from their
    * driver-known stats (O(delta) by construction). The per-file
    * decision procedure is [[graft.sql.BoundaryWalk.classifyFromStats]]
    * — byte-shared with the driver walk's hook contracts.
    *
    * Memoized per (intervals, slots) on this index instance: the
    * optimizer may revisit the same shape across fixpoint iterations,
    * and a second plan-time Spark job for an identical answer (the
    * snapshot is immutable) would be pure waste. Returns None on any
    * shipping failure — the rewrite then declines, never guesses. */
  private val boundaryDistMemo = new java.util.concurrent.ConcurrentHashMap[
    (Seq[graft.sql.BoundaryWalk.IvS], Seq[graft.sql.BoundaryWalk.SumS],
      Seq[graft.sql.BoundaryWalk.ExtS], Seq[String]),
    Option[graft.sql.BoundaryWalk.Agg]]()

  def boundaryDistWalk(ivs: Seq[graft.sql.BoundaryWalk.IvS],
      sumCols: Seq[graft.sql.BoundaryWalk.SumS],
      extCols: Seq[graft.sql.BoundaryWalk.ExtS],
      groupCols: Seq[String] = Nil)
      : Option[graft.sql.BoundaryWalk.Agg] =
    boundaryDist.flatMap { bd =>
      boundaryDistMemo.computeIfAbsent((ivs, sumCols, extCols, groupCols),
        _ => scala.util.Try {
          import graft.sql.BoundaryWalk
          val needed = (ivs.map(_.name) ++ sumCols.map(_.name) ++
            extCols.map(_.name)).distinct
          def partOf(n: String) = partSchema.fields.find(_.name == n)
            .map(f => (n, physNameOf(n), f.dataType))
          val neededPart: Seq[(String, String,
              org.apache.spark.sql.types.DataType)] =
            needed.flatMap(partOf)
          // every group column must be a partition column (the rule
          // gates on this; a miss here means a contract break — decline)
          val groupPart: Seq[(String, String,
              org.apache.spark.sql.types.DataType)] =
            groupCols.map(n => partOf(n).getOrElse(
              throw new IllegalStateException(s"not a partition col: $n")))
          val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
          // locals only — the closure must not capture `this`
          val removed = bd.removed
          val dvR = bd.dvRows
          val (ivsL, sumL, extL) = (ivs, sumCols, extCols)
          val ckptDf = spark.read
            .parquet(new Path(root, bd.ckptRel).toString)
            .select(org.apache.spark.sql.functions.col("path"),
              org.apache.spark.sql.functions.col("rows"),
              org.apache.spark.sql.functions.col("stats"))
          val partials: Array[BoundaryWalk.Agg] = ckptDf.rdd
            .mapPartitions { it =>
              var acc = BoundaryWalk.emptyAgg
              it.foreach { r =>
                val p = r.getString(0)
                if (!removed.contains(p)) {
                  val rowsOpt =
                    if (r.isNullAt(1)) None else Some(r.getLong(1))
                  val stats =
                    if (r.isNullAt(2))
                      Map.empty[String, graft.sources.DataSkipping.ColStat]
                    else graft.sources.DataSkipping.colsFromJson(r.getString(2))
                  val (fc, key) = BoundaryWalk.classifyFromStats(p, rowsOpt,
                    stats, dvR.getOrElse(p, 0L), neededPart, zone,
                    ivsL, sumL, extL, groupPart)
                  acc = BoundaryWalk.fold(extL, acc, p, key, fc)
                }
              }
              Iterator.single(acc)
            }
            .collect()
          val fromCkpt = partials.foldLeft(BoundaryWalk.emptyAgg)(
            BoundaryWalk.merge(extL, _, _))
          bd.added.foldLeft(fromCkpt) { (acc, fk) =>
            val (fc, key) = BoundaryWalk.classifyFromStats(fk,
              bd.addedRows.get(fk), bd.addedStats.getOrElse(fk, Map.empty),
              dvR.getOrElse(fk, 0L), neededPart, zone, ivsL, sumL, extL,
              groupPart)
            BoundaryWalk.fold(extL, acc, fk, key, fc)
          }
        }.toOption)
    }

  /** The DISTRIBUTED census-stats walk: per-(partition dir, data column)
    * aggregated bounds / non-null counts / ANALYZE sums, computed ON
    * EXECUTORS over the checkpoint parquet — what lets the partition-
    * census rewrites answer MIN/MAX/SUM/COUNT(col)/AVG of DATA columns on
    * an anchored table without materializing the stats column driver-side
    * (the census/top-k "force-on-win" lift). Refusal is sticky per
    * (dir, column) channel, replicating the driver census's
    * abandon-on-first-refusal exactly; the returned map is bounded by
    * PARTITION count x requested columns, the same ceiling as the census
    * itself. Memoized per requested column set on this index instance.
    * None on any shipping failure — consumers decline, never guess. */
  private val censusDistMemo = new java.util.concurrent.ConcurrentHashMap[
    Seq[String],
    Option[Map[String, Map[String, graft.sql.DistStats.ColAgg]]]]()

  def censusDistStats(cols: Seq[String])
      : Option[Map[String, Map[String, graft.sql.DistStats.ColAgg]]] =
    boundaryDist.flatMap { bd =>
      val cs = cols.distinct.sorted
      censusDistMemo.computeIfAbsent(cs, _ => scala.util.Try {
        import graft.sql.DistStats
        val partFields: Seq[(String, String,
            org.apache.spark.sql.types.DataType)] =
          partSchema.fields.toSeq.map(f =>
            (f.name, physNameOf(f.name), f.dataType))
        val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
        // locals only — the closure must not capture `this`
        val removed = bd.removed
        val dvR = bd.dvRows
        val csL = cs
        val pfL = partFields
        val ckptDf = spark.read
          .parquet(new Path(root, bd.ckptRel).toString)
          .select(org.apache.spark.sql.functions.col("path"),
            org.apache.spark.sql.functions.col("rows"),
            org.apache.spark.sql.functions.col("stats"))
        val partials = ckptDf.rdd.mapPartitions { it =>
          val acc = scala.collection.mutable.HashMap
            .empty[String, Array[DistStats.ColAgg]]
          it.foreach { r =>
            val p = r.getString(0)
            if (!removed.contains(p)) {
              val rowsOpt = if (r.isNullAt(1)) None else Some(r.getLong(1))
              val stats =
                if (r.isNullAt(2))
                  Map.empty[String, graft.sources.DataSkipping.ColStat]
                else graft.sources.DataSkipping.colsFromJson(r.getString(2))
              val sv = new DistStats.StatView(p, rowsOpt, stats,
                dvR.getOrElse(p, 0L), pfL, zone)
              val cur = acc.getOrElseUpdate(DistStats.partDirOf(p),
                Array.fill(csL.size)(DistStats.emptyColAgg))
              var i = 0
              while (i < csL.size) {
                cur(i) = DistStats.mergeColAgg(cur(i),
                  DistStats.colAggOf(sv, csL(i)))
                i += 1
              }
            }
          }
          Iterator.single(acc.toMap)
        }.collect()
        val merged = scala.collection.mutable.HashMap
          .empty[String, Array[graft.sql.DistStats.ColAgg]]
        partials.foreach(_.foreach { case (dir, aggs) =>
          merged.get(dir) match {
            case None => merged(dir) = aggs.clone()
            case Some(cur) =>
              var i = 0
              while (i < cs.size) {
                cur(i) = graft.sql.DistStats.mergeColAgg(cur(i), aggs(i))
                i += 1
              }
          }
        })
        // files ADDED since the anchor fold in driver-side — their stats
        // ride statsAdds (O(delta) by construction)
        bd.added.foreach { fk =>
          val sv = new graft.sql.DistStats.StatView(fk, bd.addedRows.get(fk),
            bd.addedStats.getOrElse(fk, Map.empty), bd.dvRows.getOrElse(fk, 0L),
            partFields, zone)
          val cur = merged.getOrElseUpdate(graft.sql.DistStats.partDirOf(fk),
            Array.fill(cs.size)(graft.sql.DistStats.emptyColAgg))
          var i = 0
          while (i < cs.size) {
            cur(i) = graft.sql.DistStats.mergeColAgg(cur(i),
              graft.sql.DistStats.colAggOf(sv, cs(i)))
            i += 1
          }
        }
        merged.iterator.map { case (dir, aggs) =>
          dir -> cs.zip(aggs).toMap
        }.toMap
      }.toOption)
    }

  /** The DISTRIBUTED top-k prefix proof: sort candidate files by their
    * bound and take the shortest prefix with >= k provable non-null
    * values — ON EXECUTORS over the checkpoint parquet, with only
    * per-partition minimal prefixes (O(k) each) and one profitability
    * far-edge traveling back; the driver re-walks the union, which
    * provably consumes the same files as a global walk would. Same-
    * direction `bounds` (stats domain) gate the prefix to fully-
    * satisfying files, exactly as sortColThreshold does; `partConds`
    * (bound over the partition schema) restrict the candidate population
    * to the census-surviving files, evaluated from the path's partition
    * values. Returns the stats-domain tau, None when unprovable,
    * unprofitable, or the walk cannot ship. Memoized per shape. */
  private val topkDistMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Boolean, Seq[(Any, Boolean)],
      Seq[org.apache.spark.sql.catalyst.expressions.Expression]),
    Option[Any]]()

  def topkDistThreshold(column: String, k: Int, desc: Boolean,
      bounds: Seq[(Any, Boolean)],
      partConds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[Any] =
    boundaryDist.flatMap { bd =>
      // the driver-side merge is O(partitions x k): a degenerate LIMIT
      // would turn it into the very driver materialization this path
      // exists to avoid — decline and scan instead
      if (k <= 0 || k > 100000) return None
      topkDistMemo.computeIfAbsent((column, k, desc, bounds, partConds),
        _ => scala.util.Try {
          import graft.sql.DistStats
          val statOrd = graft.sources.DataSkipping.statOrdering
          val partFields: Seq[(String, String,
              org.apache.spark.sql.types.DataType)] =
            partSchema.fields.toSeq.map(f =>
              (f.name, physNameOf(f.name), f.dataType))
          val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
          // locals only — the closure must not capture `this`
          val removed = bd.removed
          val dvR = bd.dvRows
          val (colL, kL, descL, boundsL, condsL) =
            (column, k, desc, bounds, partConds)
          val pfL = partFields
          def farBetter(a: Any, b: Any): Any =
            if (descL) { if (statOrd.lt(a, b)) a else b }
            else { if (statOrd.gt(a, b)) a else b }
          val ckptDf = spark.read
            .parquet(new Path(root, bd.ckptRel).toString)
            .select(org.apache.spark.sql.functions.col("path"),
              org.apache.spark.sql.functions.col("rows"),
              org.apache.spark.sql.functions.col("stats"))
          val partials: Array[(Vector[(Any, Long)], Option[Any])] =
            ckptDf.rdd.mapPartitions { it =>
              val preds = condsL.map(org.apache.spark.sql.catalyst
                .expressions.Predicate.createInterpreted)
              val heap = new DistStats.PrefixHeap(kL, descL)
              var farBest: Option[Any] = None
              it.foreach { r =>
                val p = r.getString(0)
                if (!removed.contains(p)) {
                  val rowsOpt =
                    if (r.isNullAt(1)) None else Some(r.getLong(1))
                  val stats =
                    if (r.isNullAt(2))
                      Map.empty[String, graft.sources.DataSkipping.ColStat]
                    else graft.sources.DataSkipping
                      .colsFromJson(r.getString(2))
                  val sv = new DistStats.StatView(p, rowsOpt, stats,
                    dvR.getOrElse(p, 0L), pfL, zone)
                  if (preds.forall(_.eval(sv.partRow))) {
                    DistStats.candOf(sv, colL, descL).foreach {
                      case (near, far, cnt) =>
                        // prefix: fully-satisfying files only; the
                        // profitability far-edge additionally admits
                        // PARTIALLY overlapping files (satAll(near)
                        // implies satAll(far) — near is the harder edge)
                        if (DistStats.satAll(near, descL, boundsL))
                          heap.add(near, cnt)
                        if (DistStats.satAll(far, descL, boundsL))
                          farBest = Some(farBest
                            .fold(far)(fb => farBetter(far, fb)))
                    }
                  }
                }
              }
              Iterator.single((heap.result, farBest))
            }.collect()
          var cands: Vector[(Any, Long)] = partials.flatMap(_._1).toVector
          var farBest: Option[Any] = partials.flatMap(_._2)
            .reduceOption(farBetter)
          // files ADDED since the anchor (O(delta)) fold in driver-side
          val predsD = partConds.map(org.apache.spark.sql.catalyst
            .expressions.Predicate.createInterpreted)
          bd.added.foreach { fk =>
            val sv = new graft.sql.DistStats.StatView(fk,
              bd.addedRows.get(fk), bd.addedStats.getOrElse(fk, Map.empty),
              bd.dvRows.getOrElse(fk, 0L), partFields, zone)
            if (predsD.forall(_.eval(sv.partRow))) {
              graft.sql.DistStats.candOf(sv, column, desc).foreach {
                case (near, far, cnt) =>
                  if (graft.sql.DistStats.satAll(near, desc, bounds))
                    cands = cands :+ ((near, cnt))
                  if (graft.sql.DistStats.satAll(far, desc, bounds))
                    farBest = Some(farBest.fold(far)(fb =>
                      if (desc) { if (statOrd.lt(far, fb)) far else fb }
                      else { if (statOrd.gt(far, fb)) far else fb }))
              }
            }
          }
          // profitable only when some not-already-skipped file falls
          // ENTIRELY past tau — the same check (and revisit fixpoint) as
          // the driver walks
          graft.sql.DistStats.prefixWalk(cands, k, desc).filter(t =>
            farBest.exists(f =>
              if (desc) statOrd.lt(f, t) else statOrd.gt(f, t)))
        }.toOption.flatten)
    }

  /** The DISTRIBUTED per-GROUP top-k prefix proofs — the window
    * group-limit's thresholds on a DATA sort column over an anchored
    * table: ONE checkpoint job keeps a [[graft.sql.DistStats.PrefixHeap]]
    * plus a profitability far-edge PER GROUP, routed by a driver-shipped
    * dir → group map (the census already knows every dir's group —
    * partition-level facts that never touch the stats column); only
    * O(groups × k) partials return, the driver re-walks each group's
    * union. Result: stats-domain tau per group index, None where
    * unprovable or unprofitable (that group keeps its bare disjunct).
    * Memoized per shape; None on any shipping failure. */
  private val topkGroupMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Boolean, Map[String, Int]),
    Option[Array[Option[Any]]]]()

  def topkGroupDistThresholds(column: String, k: Int, desc: Boolean,
      dirGroup: Map[String, Int], nGroups: Int)
      : Option[Array[Option[Any]]] =
    boundaryDist.flatMap { bd =>
      // same degenerate-LIMIT cap as the global walk: the driver merge
      // is O(groups × k)
      if (k <= 0 || k > 100000 || nGroups <= 0) return None
      topkGroupMemo.computeIfAbsent((column, k, desc, dirGroup),
        _ => scala.util.Try {
          import graft.sql.DistStats
          val statOrd = graft.sources.DataSkipping.statOrdering
          val pfL: Seq[(String, String,
              org.apache.spark.sql.types.DataType)] =
            partSchema.fields.toSeq.map(f =>
              (f.name, physNameOf(f.name), f.dataType))
          val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
          // locals only — the closure must not capture `this`
          val removed = bd.removed
          val dvR = bd.dvRows
          val (colL, kL, descL, dgL, ngL) =
            (column, k, desc, dirGroup, nGroups)
          def farBetter(a: Any, b: Any): Any =
            if (descL) { if (statOrd.lt(a, b)) a else b }
            else { if (statOrd.gt(a, b)) a else b }
          val ckptDf = spark.read
            .parquet(new Path(root, bd.ckptRel).toString)
            .select(org.apache.spark.sql.functions.col("path"),
              org.apache.spark.sql.functions.col("rows"),
              org.apache.spark.sql.functions.col("stats"))
          val partials: Array[(Array[Vector[(Any, Long)]],
              Array[Option[Any]])] =
            ckptDf.rdd.mapPartitions { it =>
              val heaps =
                Array.fill(ngL)(new DistStats.PrefixHeap(kL, descL))
              val far = Array.fill[Option[Any]](ngL)(None)
              it.foreach { r =>
                val p = r.getString(0)
                if (!removed.contains(p)) {
                  dgL.get(DistStats.partDirOf(p)).foreach { gi =>
                    val rowsOpt =
                      if (r.isNullAt(1)) None else Some(r.getLong(1))
                    val stats =
                      if (r.isNullAt(2))
                        Map.empty[String, graft.sources.DataSkipping.ColStat]
                      else graft.sources.DataSkipping
                        .colsFromJson(r.getString(2))
                    val sv = new DistStats.StatView(p, rowsOpt, stats,
                      dvR.getOrElse(p, 0L), pfL, zone)
                    DistStats.candOf(sv, colL, descL).foreach {
                      case (near, farE, cnt) =>
                        heaps(gi).add(near, cnt)
                        far(gi) =
                          Some(far(gi).fold(farE)(f => farBetter(farE, f)))
                    }
                  }
                }
              }
              Iterator.single((heaps.map(_.result), far))
            }.collect()
          val cands = Array.fill(nGroups)(Vector.empty[(Any, Long)])
          val far = Array.fill[Option[Any]](nGroups)(None)
          def foldFar(gi: Int, f: Any): Unit =
            far(gi) = Some(far(gi).fold(f)(cur =>
              if (desc) { if (statOrd.lt(f, cur)) f else cur }
              else { if (statOrd.gt(f, cur)) f else cur }))
          partials.foreach { case (hs, fs) =>
            var i = 0
            while (i < nGroups) {
              cands(i) = cands(i) ++ hs(i)
              fs(i).foreach(foldFar(i, _))
              i += 1
            }
          }
          // files ADDED since the anchor fold in driver-side (O(delta))
          bd.added.foreach { fk =>
            dirGroup.get(graft.sql.DistStats.partDirOf(fk)).foreach { gi =>
              val sv = new graft.sql.DistStats.StatView(fk,
                bd.addedRows.get(fk), bd.addedStats.getOrElse(fk, Map.empty),
                bd.dvRows.getOrElse(fk, 0L), pfL, zone)
              graft.sql.DistStats.candOf(sv, column, desc).foreach {
                case (near, farE, cnt) =>
                  cands(gi) = cands(gi) :+ ((near, cnt))
                  foldFar(gi, farE)
              }
            }
          }
          Array.tabulate(nGroups)(gi =>
            graft.sql.DistStats.prefixWalk(cands(gi), k, desc).filter(t =>
              far(gi).exists(f =>
                if (desc) statOrd.lt(f, t) else statOrd.gt(f, t))))
        }.toOption)
    }

  /** The DISTRIBUTED per-GROUP DENSE_RANK prefix proofs — the distinct
    * twin of [[topkGroupDistThresholds]]: each checkpoint partition keeps
    * a [[graft.sql.DistStats.DistinctPrefix]] (plus a profitability
    * far-edge) per group; only the minimal >= k-distinct prefixes travel
    * back (sketches are [[graft.sources.DataSkipping]]-small: 32 hashes
    * per file) and the driver re-walks each group's union — provably the
    * same tau as a full walk. A partition that overflows the buffer cap
    * without reaching k distinct poisons its group (None — decline,
    * never a truncated guess). `dirGroup` None = one group over every
    * live file (the non-partitioned window's global distinct prefix). */
  private val topkDistinctMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Boolean, Boolean, Option[Map[String, Int]]),
    Option[Array[Option[Any]]]]()

  def topkDistinctDistThresholds(column: String, k: Int, desc: Boolean,
      needRecipe: Boolean, dirGroup: Option[Map[String, Int]], nGroups: Int)
      : Option[Array[Option[Any]]] =
    boundaryDist.flatMap { bd =>
      if (k <= 0 || k > 10000 || nGroups <= 0) return None
      topkDistinctMemo.computeIfAbsent(
        (column, k, desc, needRecipe, dirGroup),
        _ => scala.util.Try {
          import graft.sql.DistStats
          val statOrd = graft.sources.DataSkipping.statOrdering
          val pfL: Seq[(String, String,
              org.apache.spark.sql.types.DataType)] =
            partSchema.fields.toSeq.map(f =>
              (f.name, physNameOf(f.name), f.dataType))
          val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
          // locals only — the closure must not capture `this`
          val removed = bd.removed
          val dvR = bd.dvRows
          val (colL, kL, descL, recL, dgL, ngL) =
            (column, k, desc, needRecipe, dirGroup, nGroups)
          val capL = math.max(64, 8 * k)
          def farBetter(a: Any, b: Any): Any =
            if (descL) { if (statOrd.lt(a, b)) a else b }
            else { if (statOrd.gt(a, b)) a else b }
          val ckptDf = spark.read
            .parquet(new Path(root, bd.ckptRel).toString)
            .select(org.apache.spark.sql.functions.col("path"),
              org.apache.spark.sql.functions.col("rows"),
              org.apache.spark.sql.functions.col("stats"))
          val partials: Array[(Array[(Vector[(Any, Seq[String])], Boolean)],
              Array[Option[Any]])] =
            ckptDf.rdd.mapPartitions { it =>
              val pre =
                Array.fill(ngL)(new DistStats.DistinctPrefix(kL, descL, capL))
              val far = Array.fill[Option[Any]](ngL)(None)
              it.foreach { r =>
                val p = r.getString(0)
                if (!removed.contains(p)) {
                  val giOpt = dgL match {
                    case None => Some(0)
                    case Some(m) => m.get(DistStats.partDirOf(p))
                  }
                  giOpt.foreach { gi =>
                    val rowsOpt =
                      if (r.isNullAt(1)) None else Some(r.getLong(1))
                    val stats =
                      if (r.isNullAt(2))
                        Map.empty[String, graft.sources.DataSkipping.ColStat]
                      else graft.sources.DataSkipping
                        .colsFromJson(r.getString(2))
                    val sv = new DistStats.StatView(p, rowsOpt, stats,
                      dvR.getOrElse(p, 0L), pfL, zone)
                    DistStats.distinctCandOf(sv, colL, descL, recL).foreach {
                      case (near, farE, hs) =>
                        pre(gi).add(near, hs)
                        far(gi) =
                          Some(far(gi).fold(farE)(f => farBetter(farE, f)))
                    }
                  }
                }
              }
              Iterator.single((pre.map(_.result), far))
            }.collect()
          val cands =
            Array.fill(nGroups)(Vector.empty[(Any, Seq[String])])
          val far = Array.fill[Option[Any]](nGroups)(None)
          val poisoned = Array.fill(nGroups)(false)
          def foldFar(gi: Int, f: Any): Unit =
            far(gi) = Some(far(gi).fold(f)(cur =>
              if (desc) { if (statOrd.lt(f, cur)) f else cur }
              else { if (statOrd.gt(f, cur)) f else cur }))
          partials.foreach { case (pres, fs) =>
            var i = 0
            while (i < nGroups) {
              val (buf, sat) = pres(i)
              if (sat) poisoned(i) = true
              cands(i) = cands(i) ++ buf
              fs(i).foreach(foldFar(i, _))
              i += 1
            }
          }
          // files ADDED since the anchor fold in driver-side (O(delta))
          bd.added.foreach { fk =>
            val giOpt = dirGroup match {
              case None => Some(0)
              case Some(m) => m.get(graft.sql.DistStats.partDirOf(fk))
            }
            giOpt.foreach { gi =>
              val sv = new graft.sql.DistStats.StatView(fk,
                bd.addedRows.get(fk), bd.addedStats.getOrElse(fk, Map.empty),
                bd.dvRows.getOrElse(fk, 0L), pfL, zone)
              graft.sql.DistStats.distinctCandOf(sv, column, desc,
                needRecipe).foreach { case (near, farE, hs) =>
                cands(gi) = cands(gi) :+ ((near, hs))
                foldFar(gi, farE)
              }
            }
          }
          Array.tabulate(nGroups)(gi =>
            if (poisoned(gi)) None
            else graft.sql.DistStats.distinctPrefixWalk(cands(gi), k, desc)
              .filter(t => far(gi).exists(f =>
                if (desc) statOrd.lt(f, t) else statOrd.gt(f, t))))
        }.toOption)
    }

  /** The DISTRIBUTED window-guard aggregation: per partition DIR, the
    * facts the group-limit fire guard needs on a DATA sort column —
    * live file count, files whose bounds survive the dir's EFFECTIVE
    * tau (unprovable stats survive — never pruned on a guess), and the
    * null-provability channel for the NULLS FIRST admission. `dirEff`
    * maps each ADMITTED dir to Some(stats-domain tau) or None =
    * admit-all; un-mapped dirs are skipped entirely (no group admits
    * their files). Result bounded by the mapped dir count. */
  private val topkGuardMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Boolean, Map[String, Option[Any]]),
    Option[Map[String, graft.sql.DistStats.GroupGuardAgg]]]()

  def topkGroupGuardStats(column: String, desc: Boolean,
      dirEff: Map[String, Option[Any]])
      : Option[Map[String, graft.sql.DistStats.GroupGuardAgg]] =
    boundaryDist.flatMap { bd =>
      topkGuardMemo.computeIfAbsent((column, desc, dirEff),
        _ => scala.util.Try {
          import graft.sql.DistStats
          val pfL: Seq[(String, String,
              org.apache.spark.sql.types.DataType)] =
            partSchema.fields.toSeq.map(f =>
              (f.name, physNameOf(f.name), f.dataType))
          val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
          // locals only — the closure must not capture `this`
          val removed = bd.removed
          val dvR = bd.dvRows
          val (colL, descL, deL) = (column, desc, dirEff)
          val ckptDf = spark.read
            .parquet(new Path(root, bd.ckptRel).toString)
            .select(org.apache.spark.sql.functions.col("path"),
              org.apache.spark.sql.functions.col("rows"),
              org.apache.spark.sql.functions.col("stats"))
          val partials: Array[Map[String, DistStats.GroupGuardAgg]] =
            ckptDf.rdd.mapPartitions { it =>
              val acc = scala.collection.mutable.HashMap
                .empty[String, DistStats.GroupGuardAgg]
              it.foreach { r =>
                val p = r.getString(0)
                if (!removed.contains(p)) {
                  val dir = DistStats.partDirOf(p)
                  deL.get(dir).foreach { eff =>
                    val rowsOpt =
                      if (r.isNullAt(1)) None else Some(r.getLong(1))
                    val stats =
                      if (r.isNullAt(2))
                        Map.empty[String, graft.sources.DataSkipping.ColStat]
                      else graft.sources.DataSkipping
                        .colsFromJson(r.getString(2))
                    val sv = new DistStats.StatView(p, rowsOpt, stats,
                      dvR.getOrElse(p, 0L), pfL, zone)
                    acc(dir) = DistStats.guardAggOf(sv, colL, descL, eff,
                      acc.getOrElse(dir, DistStats.emptyGuardAgg))
                  }
                }
              }
              Iterator.single(acc.toMap)
            }.collect()
          val merged = scala.collection.mutable.HashMap
            .empty[String, graft.sql.DistStats.GroupGuardAgg]
          partials.foreach(_.foreach { case (dir, agg) =>
            merged(dir) = merged.get(dir)
              .map(graft.sql.DistStats.mergeGuardAgg(_, agg))
              .getOrElse(agg)
          })
          // files ADDED since the anchor fold in driver-side (O(delta))
          bd.added.foreach { fk =>
            val dir = graft.sql.DistStats.partDirOf(fk)
            dirEff.get(dir).foreach { eff =>
              val sv = new graft.sql.DistStats.StatView(fk,
                bd.addedRows.get(fk), bd.addedStats.getOrElse(fk, Map.empty),
                bd.dvRows.getOrElse(fk, 0L), pfL, zone)
              merged(dir) = graft.sql.DistStats.guardAggOf(sv, column, desc,
                eff, merged.getOrElse(dir, graft.sql.DistStats.emptyGuardAgg))
            }
          }
          merged.toMap
        }.toOption)
    }

  /** STABLE function values of the two hooks above — the top-k rule's
    * memo is weakly keyed by the bounds function's identity, so it must
    * be one object per index, not a fresh eta-expansion per query. */
  val topkBounds: (String, String) => Option[Option[(Any, Any)]] =
    topkBoundsOf
  val topkNonNull: (String, String) => Option[Long] = topkNonNullOf

  /** TABLE-level exact non-null count of `column`: the per-file live
    * non-null counts summed across every live file — what turns a global
    * `COUNT(col)` into a manifest answer (the fourth metadata-only
    * aggregate, after COUNT(*)/MIN/MAX). None the moment ANY file cannot
    * answer exactly (DV marks, footer without null counts) — the query
    * then simply scans. Partition columns answer through the path values
    * (the hive null dir contributes 0). */
  def nonNullCountOf(column: String): Option[Long] = {
    var total = 0L
    val it = liveFiles.iterator
    while (it.hasNext) {
      topkNonNullOf(it.next(), column) match {
        case Some(n) => total += n
        case None => return None
      }
    }
    Some(total)
  }

  /** TABLE-level exact SUM of `column`: per-file ANALYZE sums summed over
    * every live file; PARTITION columns answer from path value × live
    * rows. None the moment any file cannot answer — the query scans. */
  def sumOf(column: String): Option[BigDecimal] = {
    val pi = partSchema.fieldNames.indexOf(column)
    var total = BigDecimal(0)
    val it = liveFiles.iterator
    while (it.hasNext) {
      val fk = it.next()
      val contrib: Option[BigDecimal] =
        if (pi < 0) fileSumOf(fk, column)
        else partValuesOf.get(fk).flatMap { row =>
          if (row.isNullAt(pi)) Some(BigDecimal(0)) // nulls add nothing
          else for {
            v <- statDomainOf(row.get(pi, partSchema(pi).dataType))
              .collect { case d: BigDecimal => d }
            n <- fileRows.get(fk)
          } yield v * BigDecimal(n)
        }
      contrib match {
        case Some(x) => total += x
        case None => return None
      }
    }
    Some(total)
  }

  /** One data column's census aggregate merged across every partition
    * dir — the single-column client of [[censusDistStats]] (memoized
    * there per column set). */
  private def mergedAggOf(c: String): Option[graft.sql.DistStats.ColAgg] =
    censusDistStats(Seq(c)).map(_.valuesIterator.flatMap(_.get(c))
      .foldLeft(graft.sql.DistStats.emptyColAgg)(
        graft.sql.DistStats.mergeColAgg))

  private def distDispatch(c: String): Boolean =
    !statsDriverCheap() && boundaryDist.isDefined &&
      !partSchema.fieldNames.contains(c)

  /** The TABLE-level metadata channels behind the LAZY-STATS dispatch —
    * STABLE function values (consumers memoize weakly by closure
    * identity): driver hooks when the stats map is inline/already paid
    * for or the column is a partition column (paths + manifest rows,
    * never the stats map), ONE distributed census job per column
    * otherwise. Sticky refusal semantics are identical on both paths
    * (DV marks, truncation, missing stats, all-null all decline), so
    * every consumer — global metadata answers, join-range inference,
    * reorder selectivity — stops forcing a million-file checkpoint's
    * stats column driver-side at plan time. */
  val colBoundsDispatched: String => Option[(Any, Any)] = c =>
    if (!distDispatch(c)) minMaxOf(c)
    else mergedAggOf(c).flatMap(_.bounds).flatten

  val colNonNullDispatched: String => Option[Long] = c =>
    if (!distDispatch(c)) nonNullCountOf(c)
    else mergedAggOf(c).flatMap(_.nn)

  val colSumDispatched: String => Option[BigDecimal] = c =>
    if (!distDispatch(c)) sumOf(c)
    else mergedAggOf(c).flatMap(_.sum)

  override val rootPaths: Seq[Path] = Seq(root)
  override def partitionSchema: StructType = partSchema
  override def refresh(): Unit = ()
  override def inputFiles: Array[String] =
    allFiles.map(r => new Path(root, r).toString).toArray

  /** FileStatus per live file, resolved with ONE listStatus per leaf data
    * dir (files are grouped under token-named dirs, one level deeper per
    * partition column — O(leaf dirs) driver RPCs, and the statuses
    * themselves are the documented driver-plans-files ceiling shared with
    * the manifest's file list). Lazy: a fully-pruned query on a cached
    * plan never pays it twice. */
  private lazy val statusOf: Map[String, FileStatus] = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val wanted = allFiles.toSet
    allFiles.map(r => r.substring(0, r.lastIndexOf('/'))).distinct.flatMap { d =>
      val dir = new Path(root, d)
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.flatMap { st =>
        val rel = s"$d/${st.getPath.getName}"
        if (wanted(rel)) Seq(rel -> st) else Seq.empty
      }
    }.toMap
  }

  /** Typed partition values per file, parsed from the hive-style path
    * segments (driver-side unescape — hive %-escaping, not URL '+' rules)
    * and cast under the session zone. */
  private lazy val partValuesOf: Map[String, InternalRow] =
    if (partSchema.isEmpty) Map.empty
    else {
      val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
      allFiles.map { rel =>
        val segs = rel.split('/')
        // every dir segment may carry a col=value pair: token dirs never
        // contain '=', and CONVERTed layouts have no token dir at all
        val kv = segs.dropRight(1).flatMap { seg =>
          val i = seg.indexOf('=')
          if (i > 0) Some(seg.substring(0, i) -> seg.substring(i + 1)) else None
        }.toMap
        rel -> InternalRow.fromSeq(partSchema.fields.toSeq.map { f =>
          kv.get(physNameOf(f.name))
            .filterNot(_ == "__HIVE_DEFAULT_PARTITION__") match {
            case None => null
            case Some(raw) =>
              graft.sources.DataSkipping.castPartValue(
                org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .unescapePathName(raw),
                f.dataType, zone)
          }
        })
      }.toMap
    }

  /** Real on-disk bytes of the live files — honest input for broadcast
    * decisions (a row-count × schema-width estimate underestimates text
    * corpora badly enough to broadcast a huge table). */
  override lazy val sizeInBytes: Long =
    math.max(1L, allFiles.flatMap(statusOf.get).map(_.getLen).sum)

  /** True on indexes produced by [[withSizeEstimate]] — guards the
    * estimation rule against re-application under the optimizer's
    * fix-point. */
  val estimated: Boolean = false

  /** A copy of this index restricted to a FILE SUBSET — the boundary-scan
    * half of the hybrid COUNT rewrite. Table-level hooks that answer for
    * the WHOLE snapshot (liveRows, mvViews) are blanked so no metadata
    * rule can answer the subset from full-table facts; per-file hooks
    * stay (they are keyed by file and remain exact); pushdown listing
    * composes with the subset. */
  def restrictedTo(subset: Seq[String]): GraftFileIndex = {
    val in = subset.toSet
    new GraftFileIndex(spark, root, allFiles.filter(in),
      p => keep(p).filter(in), liveRows = None, partSchema, physNameOf,
      minMaxOf, generatedPartDefs, ndvOf, Nil, None, fkProps,
      fileRows.filter(kv => in(kv._1)), fileMinMaxOf, fileNonNullOf,
      checkConstraints, fileSumOf, fileNdvHashesOf, statsDriverCheap,
      boundaryDist = None, fileJointNullsOf = fileJointNullsOf,
      fileNullAnyOf = fileNullAnyOf)
  }

  /** A copy of this index reporting `est` bytes — the CBO-lite selectivity
    * hook ([[GraftNdvJoinEstimation]]). The copy IS a GraftFileIndex, so
    * derive-filters, metadata hooks and listing behave identically; only
    * the size the join planner reads changes. */
  def withSizeEstimate(est: Long): GraftFileIndex =
    // every constructor argument forwards — dropping mvViews/snapshotVersion
    // here would make the MV-rewrite rule (injected AFTER estimation) stop
    // seeing the view roster on exactly the filtered plans estimation touches
    new GraftFileIndex(spark, root, allFiles, keep, liveRows, partSchema,
      physNameOf, minMaxOf, generatedPartDefs, ndvOf, mvViews,
      snapshotVersion, fkProps, fileRows, fileMinMaxOf, fileNonNullOf,
      checkConstraints, fileSumOf, fileNdvHashesOf, statsDriverCheap,
      boundaryDist, fileJointNullsOf, fileNullAnyOf) {
      override lazy val sizeInBytes: Long = est
      override val estimated: Boolean = true
    }

  /** The `col=value` path segments identifying a file's partition — the
    * census grouping key (InternalRow has no value-based hashCode). */
  private def partDirOf(rel: String): String = rel.split('/').dropRight(1)
    .filter(_.contains('=')).mkString("/")

  /** EXACT per-partition live-row census from the manifest: one (typed
    * partition-values row, live rows, member files) entry per partition
    * directory. None when the table is unpartitioned or any live file
    * predates row recording — the census must be exact or absent.
    * Zero-row partitions (fully DV-marked) are kept here; consumers drop
    * them (no underlying row ⇒ no group). Driver cost O(files), the same
    * ceiling as listing. */
  lazy val partitionCensus: Option[Seq[(InternalRow, Long, Seq[String])]] =
    if (partSchema.isEmpty || !allFiles.forall(fileRows.contains)) None
    else Some(allFiles.groupBy(partDirOf).map { case (_, fs) =>
      (partValuesOf(fs.head), fs.map(fileRows).sum, fs)
    }.toSeq)

  private def statusOrThrow(r: String): FileStatus =
    statusOf.getOrElse(r,
      throw new java.io.FileNotFoundException(
        s"${new Path(root, r)}: listed in the commit manifest but " +
          "missing on disk — the table's data files were modified " +
          "outside the commit log (external delete or failed vacuum)"))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = keep(dataFilters.reduceOption(CatalystAnd))
    // a manifest-listed file that is missing on disk is a read ERROR
    // (external deletion, failed vacuum, eventual consistency) — failing
    // loudly matches the plain parquet path (ignoreMissingFiles=false);
    // silently scanning the surviving subset would return partial results
    if (partSchema.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty,
        kept.map(statusOrThrow).toArray))
    else {
      // DIRECTORY pruning: evaluate the pushed partition filters against
      // each file's parsed partition values, driver-side, before any
      // data-file stat or footer — the 100 TB first lever. Unknown shapes
      // keep the partition (conservative, like the stats pruner).
      val pred = partitionFilters.reduceOption(CatalystAnd).map { e =>
        val bound = e.transform {
          case a: AttributeReference =>
            val idx = partSchema.fieldIndex(a.name)
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              idx, partSchema(idx).dataType, nullable = true)
        }
        org.apache.spark.sql.catalyst.expressions.Predicate.create(bound)
      }
      kept.groupBy(partValuesOf.getOrElse(_, InternalRow.empty)).toSeq
        .filter { case (row, _) => pred.forall(_.eval(row)) }
        .map { case (row, rels) =>
          PartitionDirectory(row, rels.map(statusOrThrow).toArray)
        }
    }
  }
}

/** ParquetFileFormat that understands graft's COLUMN MAPPING and DELETION
  * VECTORS, so the relation's user-facing schema stays logical and deleted
  * rows never surface:
  *
  *  - column mapping: requested/data schemas and pushed filters are
  *    rewritten logical→physical before delegating — reader output is
  *    positional, so rows come back already in logical order, and a
  *    re-added column's fresh physical name is simply absent from pre-drop
  *    files (parquet serves nulls, never the dropped column's stale bytes).
  *  - deletion vectors: files with marked rows are read with Spark's
  *    row-index temporary column appended (correct across splits and
  *    row-group pruning — it is how `_metadata.row_index` works) and the
  *    marked positions dropped by a per-row filter against a broadcast
  *    sorted-array mark set; the extra column is projected away. Batch
  *    (columnar) output is disabled only when marks exist, exactly like
  *    Delta's DV scan.
  */
private[graft] class GraftParquetFileFormat(
    val colMap: Map[String, String],
    @transient val dvThunk: Option[() => Broadcast[Map[String, Array[Long]]]],
    /** DECODED qualified table-root path prefix WITH trailing slash
      * ("/t/root/"): stripping it off a scanned file's decoded URI path
      * yields the manifest's root-relative key for ANY layout — token
      * dirs, hive dirs, and CONVERTed token-less trees at any depth. */
    val rootAbs: String = "")
    extends ParquetFileFormat {

  /** Marks are collected + broadcast LAZILY, at the first reader build
    * (physical planning of an executed query) — schema-only uses of the
    * relation (streaming-source creation resolves the schema twice) never
    * pay the sidecar scan. One broadcast per relation, however many times
    * the plan builds readers. Driver-only (`@transient`): the reader
    * FUNCTION closes over the broadcast; the format object never needs it
    * on executors. */
  @transient private lazy val dv: Option[Broadcast[Map[String, Array[Long]]]] =
    dvThunk.map(_())

  private def phys(n: String): String = colMap.getOrElse(n, n)
  private def physSchema(s: StructType): StructType =
    if (colMap.isEmpty) s else StructType(s.fields.map(f => f.copy(name = phys(f.name))))

  override def supportBatch(sparkSession: SparkSession, schema: StructType): Boolean =
    dvThunk.isEmpty && super.supportBatch(sparkSession, schema)

  override def toString: String = "GraftParquet"

  // distinct graft scans must not canonicalize equal (ParquetFileFormat
  // compares by class only; two snapshots can differ in mapping or marks)
  override def equals(other: Any): Boolean = other match {
    case g: GraftParquetFileFormat =>
      g.colMap == colMap && g.rootAbs == rootAbs &&
      ((g.dvThunk, dvThunk) match {
        case (None, None) => true
        case (Some(a), Some(b)) => a eq b
        case _ => false
      })
    case _ => false
  }
  override def hashCode(): Int =
    colMap.hashCode() ^ dvThunk.map(System.identityHashCode).getOrElse(0)

  /** Rename a pushed source filter's columns logical→physical. Exact per
    * node; an untranslatable subtree degrades SOUNDLY: And keeps the known
    * side (weaker filter), Or drops the whole filter — scan filters are
    * best-effort, the engine re-applies the full predicate above the scan.
    * Under Not, polarity flips, so `exact` forbids the And relaxation
    * there: Not(And(x, unknown)) → Not(x) would be STRONGER than the
    * original and could skip row groups holding matching rows. */
  private def physFilter(f: sources.Filter,
      exact: Boolean = false): Option[sources.Filter] = f match {
    case sources.EqualTo(a, v) => Some(sources.EqualTo(phys(a), v))
    case sources.EqualNullSafe(a, v) => Some(sources.EqualNullSafe(phys(a), v))
    case sources.GreaterThan(a, v) => Some(sources.GreaterThan(phys(a), v))
    case sources.GreaterThanOrEqual(a, v) => Some(sources.GreaterThanOrEqual(phys(a), v))
    case sources.LessThan(a, v) => Some(sources.LessThan(phys(a), v))
    case sources.LessThanOrEqual(a, v) => Some(sources.LessThanOrEqual(phys(a), v))
    case sources.In(a, vs) => Some(sources.In(phys(a), vs))
    case sources.IsNull(a) => Some(sources.IsNull(phys(a)))
    case sources.IsNotNull(a) => Some(sources.IsNotNull(phys(a)))
    case sources.StringStartsWith(a, v) => Some(sources.StringStartsWith(phys(a), v))
    case sources.StringEndsWith(a, v) => Some(sources.StringEndsWith(phys(a), v))
    case sources.StringContains(a, v) => Some(sources.StringContains(phys(a), v))
    case sources.And(l, r) => (physFilter(l, exact), physFilter(r, exact)) match {
      case (Some(x), Some(y)) => Some(sources.And(x, y))
      case _ if exact => None
      case (one, other) => one.orElse(other)
    }
    case sources.Or(l, r) => for { x <- physFilter(l, exact); y <- physFilter(r, exact) }
      yield sources.Or(x, y)
    case sources.Not(c) => physFilter(c, exact = true).map(sources.Not)
    case passthrough @ (_: sources.AlwaysTrue | _: sources.AlwaysFalse) => Some(passthrough)
    case _ => None
  }

  /** The manifest key of a scanned file: its path from the LAST token dir
    * ("d-token[/dt=X]/part-...parquet"), matching deletion-vector sidecar
    * keys in both the flat and the hive-partitioned layout. URI-decoded
    * segments equal the raw on-disk names, hence the manifest's relative
    * paths. Partition dirs always contain '=' and token dirs never do, so
    * the anchor cannot land on a partition segment. */
  private def fileKey(pf: PartitionedFile): String = {
    // decoded URI path on both sides: no encoding round-trip to get wrong
    val full = pf.toPath.toUri.getPath
    if (rootAbs.nonEmpty && full.startsWith(rootAbs))
      return full.substring(rootAbs.length)
    // legacy fallback (relations built before the root rode the format):
    // anchor on the token dir, else parent/name
    val segs = pf.toPath.toUri.getPath.split('/')
    val i = segs.lastIndexWhere(seg => seg.startsWith("d-") && !seg.contains('='))
    if (i >= 0) segs.drop(i).mkString("/")
    else s"${pf.toPath.getParent.getName}/${pf.toPath.getName}"
  }

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    val pFilters = if (colMap.isEmpty) filters else filters.flatMap(physFilter(_))
    // each delegate gets its OWN Configuration: the parquet reader writes
    // its requested schema INTO the conf it is given, and in local mode a
    // broadcast hands back the same object — two readers built over one
    // conf would both read the LAST-built schema, and the extra row-index
    // column then shifts every appended partition column (rows surface
    // with type-mismatched vectors)
    def delegate(required: StructType): PartitionedFile => Iterator[InternalRow] =
      super.buildReaderWithPartitionValues(sparkSession, physSchema(dataSchema),
        partitionSchema, physSchema(required), pFilters, options,
        new org.apache.hadoop.conf.Configuration(hadoopConf))
    dv match {
      case None => delegate(requiredSchema)
      case Some(marks) =>
        val idxName = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
        val existing = requiredSchema.fieldNames.indexOf(idxName)
        val withIdx =
          if (existing >= 0) requiredSchema
          else StructType(requiredSchema.fields :+
            StructField(idxName, LongType, nullable = true))
        val idxOrd = if (existing >= 0) existing else requiredSchema.length
        val plain = delegate(requiredSchema)
        val withRowIdx = delegate(withIdx)
        val appended = existing < 0
        (pf: PartitionedFile) => marks.value.get(fileKey(pf)) match {
          case None => plain(pf)
          case Some(dead) =>
            val live = withRowIdx(pf).filter(row =>
              java.util.Arrays.binarySearch(dead, row.getLong(idxOrd)) < 0)
            if (!appended) live
            else {
              // project the temp column back out (downstream expects
              // exactly requiredSchema + partition values; the reader
              // appends partition values AFTER the requested columns, so
              // the temp column sits at idxOrd, not necessarily last)
              val attrs = (withIdx.fields ++ partitionSchema.fields).toSeq.map(f =>
                AttributeReference(f.name, f.dataType, f.nullable)())
              val proj = UnsafeProjection.create(
                attrs.patch(idxOrd, Nil, 1), attrs)
              live.map(proj)
            }
        }
    }
  }
}

/** Builders the graft.sources side calls (the only place needing
  * `private[sql]` constructors). */
object GraftBatchShim {

  /** Decompose a (sorted) bucket transform — the classes are
    * `private[sql]`, so the graft catalog reads them through this shim.
    * Returns (numBuckets, bucket columns, sort columns); None for any
    * other transform. Multi-part column references refuse upstream. */
  def bucketTransformInfo(t: org.apache.spark.sql.connector.expressions.Transform)
      : Option[(Int, Seq[String], Seq[String])] = {
    import org.apache.spark.sql.connector.expressions.{BucketTransform, SortedBucketTransform}
    def names(rs: Seq[org.apache.spark.sql.connector.expressions.NamedReference])
        : Seq[String] = rs.map { r =>
      require(r.fieldNames.length == 1,
        s"bucket columns must be top-level (got $r)")
      r.fieldNames()(0)
    }
    t match {
      case b: BucketTransform =>
        Some((b.numBuckets.value.asInstanceOf[Number].intValue(),
          names(b.columns), Nil))
      case s: SortedBucketTransform =>
        Some((s.numBuckets.value.asInstanceOf[Number].intValue(),
          names(s.columns), names(s.sortedColumns)))
      case _ => None
    }
  }

  /** Run `body` over `df` REBASED into a cloned session carrying `confs`:
    * per-job conf isolation (same SparkContext, same cached data, own
    * SQLConf) without mutating the shared session — a concurrent writer
    * thread can never observe a transient override mid-job. The clone is
    * cheap (session-state copy, no context) and garbage once the job
    * ends. Needs `private[sql]`: both `cloneSession()` and
    * `Dataset.ofRows` are sql-private in classic. */
  def withSessionConfs[A](df: DataFrame, confs: Map[String, String])(
      body: DataFrame => A): A = {
    val classic = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cloned = classic.cloneSession()
    confs.foreach { case (k, v) => cloned.conf.set(k, v) }
    body(org.apache.spark.sql.classic.Dataset.ofRows(cloned,
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.logical))
  }

  /** The qualified-root prefix of `_metadata.file_path`, trailing slash
    * included. file_path renders scheme + ':' [+ '//' authority] + the
    * URI-RAW (percent-encoded) path — NOT `Path.toString` (decoded) and
    * NOT `toUri.toString` (empty authority renders '//'); empirically
    * pinned by MetaKeySpec. Append [[encRel]] of a manifest rel to get
    * that file's exact file_path. */
  def rootAbsOf(spark: SparkSession, root: Path): String = {
    val f = root.getFileSystem(spark.sessionState.newHadoopConf())
    val u = f.makeQualified(root).toUri
    val sb = new StringBuilder
    if (u.getScheme != null) sb.append(u.getScheme).append(':')
    if (u.getAuthority != null && u.getAuthority.nonEmpty)
      sb.append("//").append(u.getAuthority)
    sb.append(u.getRawPath).append('/')
    sb.toString
  }

  /** A manifest-relative path in file_path's encoding (URI raw). */
  def encRel(rel: String): String =
    new Path("/" + rel).toUri.getRawPath.stripPrefix("/")

  /** DECODED qualified-root path prefix ("/tmp/root/", scheme-less) — the
    * prefix of `pf.toPath.toUri.getPath`, for scan-side key recovery. */
  def rootPathOf(spark: SparkSession, root: Path): String = {
    val f = root.getFileSystem(spark.sessionState.newHadoopConf())
    f.makeQualified(root).toUri.getPath + "/"
  }

  def relation(
      spark: SparkSession,
      root: Path,
      logicalSchema: StructType,
      files: Seq[String],
      keep: Option[Expression] => Seq[String],
      colMap: Map[String, String],
      dvMarks: Option[() => Map[String, Array[Long]]],
      liveRows: Option[Long] = None,
      partitionCols: Seq[String] = Nil,
      minMaxOf: String => Option[(Any, Any)] = _ => None,
      generatedPartDefs: Map[String, (String, Option[String])] = Map.empty,
      ndvOf: String => Option[Long] = _ => None,
      bucketSpec: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = None,
      mvViews: Seq[String] = Nil,
      snapshotVersion: Option[Long] = None,
      fkProps: Map[String, String] = Map.empty,
      fileRows: Map[String, Long] = Map.empty,
      fileMinMaxOf: (String, String) => Option[Option[(Any, Any)]] =
        (_, _) => None,
      fileNonNullOf: (String, String) => Option[Long] = (_, _) => None,
      checkConstraints: Map[String, String] = Map.empty,
      fileSumOf: (String, String) => Option[BigDecimal] = (_, _) => None,
      fileNdvHashesOf: (String, String) => Option[(Seq[String], Int)] =
        (_, _) => None,
      statsDriverCheap: () => Boolean = () => true,
      boundaryDist: Option[GraftBoundaryDist] = None,
      fileJointNullsOf: (String, String, String) => Option[Long] =
        (_, _, _) => None,
      fileNullAnyOf: (String, Seq[String]) => Option[Long] =
        (_, _) => None)
      : BaseRelation = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // deferred: the sidecar collect + broadcast run at first reader build,
    // not at relation construction (schema-only reads never pay them)
    val bcThunk = dvMarks.map(f => () => session.sparkContext.broadcast(f()))
    // partitioned layout: the partition columns leave the data schema and
    // become the relation's partition dimension — their filters prune
    // DIRECTORIES in listFiles, their values come from the paths
    val partSet = partitionCols.toSet
    val partSchema = StructType(
      partitionCols.map(n => logicalSchema(logicalSchema.fieldIndex(n))))
    HadoopFsRelation(
      location = new GraftFileIndex(spark, root, files, keep, liveRows,
        partSchema.asNullable, n => colMap.getOrElse(n, n), minMaxOf,
        generatedPartDefs, ndvOf, mvViews, snapshotVersion, fkProps,
        fileRows, fileMinMaxOf, fileNonNullOf, checkConstraints, fileSumOf,
        fileNdvHashesOf, statsDriverCheap, boundaryDist, fileJointNullsOf,
        fileNullAnyOf),
      partitionSchema = partSchema.asNullable,
      // asNullable matches what spark.read.schema(...).parquet produced on
      // the pre-relation read path (DataSource forces it for file sources)
      dataSchema = StructType(
        logicalSchema.fields.filterNot(f => partSet(f.name))).asNullable,
      // the graft bucket layout (VersionedTable.BucketByKey): files carry
      // Spark's `_%05d` bucket ordinal, so the stock v1 bucketed-scan
      // machinery (bucket-grouped partitions, HashPartitioning report,
      // bucket pruning on equality) works unmodified
      bucketSpec = bucketSpec,
      fileFormat = new GraftParquetFileFormat(colMap, bcThunk,
        GraftBatchShim.rootPathOf(spark, root)),
      options = Map.empty)(session)
  }

  /** `StructType.asNullable` is `private[sql]` — re-exported for the
    * graft.sources fallback relation (its row schema comes from
    * `spark.read.schema(...)`, which forces nullable the same way). */
  def nullable(s: StructType): StructType = s.asNullable

  def ofRelation(spark: SparkSession, rel: BaseRelation): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LogicalRelation(rel))

  /** V1 relation node with a CALLER-CHOSEN output (the SQL-surface
    * conversion rule must preserve the V2 relation's attribute ids so
    * references above the swapped node keep binding). */
  def logicalRelation(rel: BaseRelation,
      output: Seq[AttributeReference]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    LogicalRelation(rel, output, None, isStreaming = false, stream = None)

  /** Execute an already-analyzed logical plan as a DataFrame (the MERGE
    * command's source side). `Dataset.ofRows` is `private[sql]`. */
  def ofPlan(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wrap a (possibly unresolved) expression as a user-facing Column —
    * the classic-session constructor is `private[sql]`. */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The exact live row count behind a plan node, when that node is a
    * graft snapshot relation whose manifest recorded per-file rows — the
    * manifest-answered COUNT(*) hook ([[GraftFileIndex.liveRows]]).
    * GraftFileIndex is package-private, so the match lives here. */
  def liveRowsOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[Long] =
    graftMetadataOf(plan).flatMap(_._1)

  /** The metadata hooks of a graft snapshot relation node: exact live row
    * count, exact per-column MIN/MAX from manifest stats (column name →
    * bounds in the stats domain: BigDecimal for numerics/date-days/
    * timestamp-micros, String for strings; None whenever the manifest
    * cannot answer EXACTLY — marks, truncation, missing stats), and the
    * exact table-level non-null count per column (for `COUNT(col)`). */
  def graftMetadataOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(Option[Long], String => Option[(Any, Any)],
        String => Option[Long], String => Option[BigDecimal])] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some((g.liveRows, g.colBoundsDispatched, g.colNonNullDispatched,
          g.colSumDispatched))
      case _ => None
    }

  /** Materialized-view rewrite hooks of a graft snapshot relation node:
    * (registered view paths, pinned source version). None when the node is
    * not a graft relation, has no registered views, or pinned no version —
    * the O(1) gate that keeps [[graft.sql.GraftMvRewrite]] from touching
    * any manifest for tables without views. */
  def mvRewriteInfoOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(Seq[String], Long)] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.mvViews.nonEmpty && g.snapshotVersion.isDefined =>
        Some((g.mvViews, g.snapshotVersion.get))
      case _ => None
    }

  /** FOREIGN-KEY elimination hooks of a graft relation node: (root path,
    * pinned version, serialized `graft.fk.*` declarations). None when the
    * node is not a graft relation or declares no keys — the O(1) gate
    * that keeps [[graft.sql.GraftJoinElimination]] from touching any
    * manifest for tables without declarations. */
  def fkInfoOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(Path, Long, Seq[String])] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.fkProps.nonEmpty && g.snapshotVersion.isDefined =>
        Some((g.rootPaths.head, g.snapshotVersion.get,
          g.fkProps.toSeq.sortBy(_._1).map(_._2)))
      case _ => None
    }

  /** (plan-time NDV per column, manifest live row count) of a graft
    * relation node — the eager-aggregation cost gate. None when the node
    * is not a graft relation or records no row count. */
  def ndvStatsOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(String => Option[Long], Long)] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.liveRows.isDefined =>
        Some((g.ndvOf, g.liveRows.get))
      case _ => None
    }

  /** TABLE-level exact column bounds of a graft relation node (stats
    * domain: BigDecimal for numerics, String for strings) — what lets
    * the join-reorder rule turn a RANGE filter conjunct into an interval
    * fraction of the column's span. */
  def graftColBoundsOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[String => Option[(Any, Any)]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some(g.colBoundsDispatched)
      case _ => None
    }

  /** Partition-census hooks of a graft snapshot relation node: the
    * PARTITION schema and the exact per-partition live-row census — what
    * the grouped metadata rewrite needs to answer GROUP-BY-partition-
    * column aggregates without a scan. None for unpartitioned tables or
    * manifests without per-file counts. */
  def graftPartitionCensusOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(org.apache.spark.sql.types.StructType,
        Seq[(org.apache.spark.sql.catalyst.InternalRow, Long, Seq[String])],
        (String, String) => Option[Option[(Any, Any)]])] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        g.partitionCensus.map(c => (g.partitionSchema, c, g.fileMinMaxOf))
      case _ => None
    }

  /** CHECK constraints of a graft snapshot relation node, with the node
    * itself (the analysis anchor for resolving the predicate SQL). None
    * when not a graft relation or no constraints are declared. */
  def graftConstraintsOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(Map[String, String],
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.checkConstraints.nonEmpty =>
        Some((g.checkConstraints, plan))
      case _ => None
    }

  /** Per-file SUM + non-null-count hooks of a graft snapshot relation
    * node — what lets the partition-census rewrite answer SUM(col)/
    * COUNT(col) of DATA columns per partition from the manifest. */
  def graftSumHooksOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[((String, String) => Option[BigDecimal],
        (String, String) => Option[Long])] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some((g.fileSumOf, g.topkNonNull))
      case _ => None
    }

  /** Top-k prune hooks of a graft snapshot relation node: (live file
    * keys, per-(file, column) exact bounds, per-(file, column) exact
    * non-null counts) — what [[graft.sql.GraftTopKPruning]] needs to
    * prove "at least k non-null values sit past this threshold" from the
    * manifest alone. None when the node is not a graft relation. */
  def topkStatsOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(Seq[String],
        (String, String) => Option[Option[(Any, Any)]],
        (String, String) => Option[Long])] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some((g.liveFiles, g.topkBounds, g.topkNonNull))
      case _ => None
    }

  /** Per-file LIVE row counts of a graft relation node (empty map when
    * any live file predates row recording) — the null-completeness gate
    * of the hybrid boundary SUM. */
  def graftFileRowsOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[Map[String, Long]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some(g.fileRows)
      case _ => None
    }

  /** Whether per-file stats iteration on the driver is free for this
    * graft relation node — the boundary rewrite's gate. */
  def graftStatsDriverCheap(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[Boolean] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some(g.statsDriverCheap())
      case _ => None
    }

  /** The DISTRIBUTED boundary walk of a checkpoint-anchored graft
    * relation node — the boundary rewrite's path when driver-side stats
    * iteration is NOT free ([[graftStatsDriverCheap]] false): executors
    * classify the checkpoint rows, only aggregated totals and the
    * boundary keys return. None for inline-manifest commits and
    * restricted copies. */
  def graftBoundaryDistOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(Seq[graft.sql.BoundaryWalk.IvS],
        Seq[graft.sql.BoundaryWalk.SumS], Seq[graft.sql.BoundaryWalk.ExtS],
        Seq[String])
        => Option[graft.sql.BoundaryWalk.Agg]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.boundaryDist.isDefined =>
        Some((ivs, sums, exts, groupCols) =>
          g.boundaryDistWalk(ivs, sums, exts, groupCols))
      case _ => None
    }

  /** Per-(file, colA, colB) JOINT null counts of a graft relation node —
    * the two-nullable boundary composition's inclusion-exclusion term. */
  def graftJointNullsOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(String, String, String) => Option[Long]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some(g.fileJointNullsOf)
      case _ => None
    }

  /** Per-(file, column set) null-any counts of a graft relation node —
    * the 3+-nullable boundary composition's per-set ANALYZE stat. */
  def graftNullAnyOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(String, Seq[String]) => Option[Long]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some(g.fileNullAnyOf)
      case _ => None
    }

  /** The DISTRIBUTED per-GROUP top-k prefix proofs of a checkpoint-
    * anchored graft relation node — the window group-limit's thresholds
    * on a DATA sort column: (column, k, desc, dir → group map, group
    * count) → stats-domain tau per group index. */
  def graftTopkGroupDistOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(String, Int, Boolean, Map[String, Int], Int) =>
        Option[Array[Option[Any]]]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.boundaryDist.isDefined =>
        Some((c, k, d, dg, n) => g.topkGroupDistThresholds(c, k, d, dg, n))
      case _ => None
    }

  /** The DISTRIBUTED per-GROUP DENSE_RANK prefix proofs of a
    * checkpoint-anchored graft relation node: (column, k, desc,
    * binary-recipe gate, optional dir → group map, group count) →
    * stats-domain tau per group index. */
  def graftTopkDistinctDistOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(String, Int, Boolean, Boolean, Option[Map[String, Int]],
        Int) => Option[Array[Option[Any]]]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.boundaryDist.isDefined =>
        Some((c, k, d, rec, dg, n) =>
          g.topkDistinctDistThresholds(c, k, d, rec, dg, n))
      case _ => None
    }

  /** The DISTRIBUTED window-guard aggregation of a checkpoint-anchored
    * graft relation node — per-dir survival facts for the group-limit
    * fire guard: (column, desc, dir → effective tau) → per-dir
    * aggregates. */
  def graftTopkGroupGuardOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(String, Boolean, Map[String, Option[Any]]) =>
        Option[Map[String, graft.sql.DistStats.GroupGuardAgg]]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.boundaryDist.isDefined =>
        Some((c, d, de) => g.topkGroupGuardStats(c, d, de))
      case _ => None
    }

  /** The DISTRIBUTED census-stats walk of a checkpoint-anchored graft
    * relation node — the partition-census rewrites' path when driver-side
    * stats iteration is NOT free: per-(partition dir, data column)
    * aggregates computed on executors over the checkpoint parquet. None
    * for inline-manifest commits (driver hooks are free there) and
    * restricted copies. */
  def graftCensusDistOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[Seq[String] =>
        Option[Map[String, Map[String, graft.sql.DistStats.ColAgg]]]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.boundaryDist.isDefined =>
        Some(cols => g.censusDistStats(cols))
      case _ => None
    }

  /** The DISTRIBUTED top-k prefix proof of a checkpoint-anchored graft
    * relation node — the top-k prune rule's path when driver-side stats
    * iteration is NOT free: (column, k, desc, same-direction stats-domain
    * bounds, partition conds) → stats-domain tau. */
  def graftTopkDistOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(String, Int, Boolean, Seq[(Any, Boolean)],
        Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => Option[Any]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.boundaryDist.isDefined =>
        Some((c, k, d, b, p) => g.topkDistThreshold(c, k, d, b, p))
      case _ => None
    }

  /** Partition column names of a graft relation node — the grouped
    * boundary rewrite's group-key gate (a group column must be a
    * partition column so every file knows its group). */
  def graftPartitionColsOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[Seq[String]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some(g.partitionSchema.fieldNames.toSeq)
      case _ => None
    }

  /** The same relation NODE restricted to a file subset (same output
    * attribute ids — the caller REPLACES the original node, never
    * duplicates it) — the boundary-scan half of the hybrid COUNT
    * rewrite. */
  def restrictScanTo(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      files: Seq[String])
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    plan match {
      case lr @ LogicalRelation(
          r @ HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some(lr.copy(relation = r.copy(location = g.restrictedTo(files))(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])))
      case _ => None
    }

  /** Per-(file, column) sketch hashes + recipe of a graft relation node
    * (partition-aware) — the DENSE_RANK group limit's distinct lower
    * bound. */
  def topkNdvHashesOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(String, String) => Option[(Seq[String], Int)]] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        Some(g.topkNdvHashesOf)
      case _ => None
    }

  /** (root path, pinned version) of ANY graft snapshot relation node — the
    * join rewrite's DIMENSION-side identity ([[mvRewriteInfoOf]] covers
    * only view-carrying fact relations). */
  def graftSnapshotOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(Path, Long)] =
    plan match {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _)
          if g.snapshotVersion.isDefined =>
        Some((g.rootPaths.head, g.snapshotVersion.get))
      case _ => None
    }

  /** Roots of every graft relation scanned by a DataFrame's OPTIMIZED plan
    * — the spec/assertion hook that pins which physical table a rewritten
    * query actually reads. */
  def scanRootsOf(df: org.apache.spark.sql.DataFrame): Seq[Path] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        g.rootPaths.head
    }

  /** The session catalog registered under `name`, if any — `CatalogManager`
    * is `private[sql]`, so the maintenance-statement commands resolve their
    * `cat.`/path`` reference through this shim. */
  def catalogPlugin(spark: SparkSession, name: String)
      : Option[org.apache.spark.sql.connector.catalog.CatalogPlugin] =
    scala.util.Try(spark.sessionState.catalogManager.catalog(name)).toOption
}

/** Optimizer rule: DERIVE partition filters from predicates on the BASE
  * column of a generated partition column (Delta's generated-column
  * partition pruning). A table declared
  * `p GENERATED ALWAYS AS (to_date(ts)) PARTITIONED BY (p)` is almost
  * always queried by `ts` — without derivation such a query scans every
  * partition, which at 100 TB is the difference between reading one day
  * and reading years. The declaration contract guarantees `p <=> f(ts)` on
  * every stored row ([[graft.sources.VersionedTable.setGeneratedColumn]]
  * re-validates existing rows; writes fill-or-enforce), so for a MONOTONE
  * f every range/equality predicate on ts implies a range/equality
  * predicate on p:
  *
  *   ts >= L  =>  p >= f(L) OR p IS NULL      (f non-decreasing)
  *   ts <= U  =>  p <= f(U) OR p IS NULL
  *   ts  = V  =>  p  = f(V) OR p IS NULL
  *
  * The `OR p IS NULL` keeps rows whose generation evaluated to NULL (then
  * `p <=> f(ts)` stored NULL) — dropping the null directory would be
  * wrong. Monotone shapes recognized (after RuntimeReplaceable
  * normalization): the identity, casts to DATE from timestamp/date types,
  * widening integral casts, `year`, `trunc`/`date_trunc` with a literal
  * unit, `floor(x / K)` for positive literal K, and `substring(s, 1, N)`
  * string prefixes. Anything else derives nothing — the rule is an
  * optimization, never a correctness dependency, and strict bounds keep
  * their strictness only where implied (a strict ts bound still derives a
  * NON-strict p bound: distinct ts values can share a partition value).
  *
  * Idempotent under the optimizer's fix-point: a derived conjunct is only
  * added when no semantically-equal conjunct is already present, and the
  * emitted `Or(cmp, IsNull)` shape is stable under the simplification
  * rules that run in the same batch.
  */
case class GraftDerivePartitionFilters(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, LocalRelation, Project}
  import org.apache.spark.sql.types._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        rel @ LogicalRelation(HadoopFsRelation(g: GraftFileIndex, _, _, _, _, _), _, _, _, _))
        if g.generatedPartDefs.nonEmpty =>
      val conjuncts = splitConjuncts(cond)
      val derived = g.generatedPartDefs.toSeq.sortBy(_._1).flatMap {
        case (pcol, (sql, zone)) =>
          deriveFor(pcol, sql, zone, rel.output, conjuncts)
      }.filterNot(d => conjuncts.exists(_.semanticEquals(d)))
      if (derived.isEmpty) f
      else Filter((conjuncts ++ derived).reduce(And), rel)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** The analyzed generation expression over the live base attribute, with
    * RuntimeReplaceable nodes normalized to their replacements (to_date
    * analyzes to one — its eval asserts otherwise). None when the SQL
    * references anything but exactly one resolvable base column. */
  private def analyzedGen(sql: String,
      output: Seq[Attribute]): Option[(Expression, Attribute)] =
    scala.util.Try {
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val refs = parsed.collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.nameParts.head
      }.distinct
      require(refs.size == 1)
      val base = output.find(_.name.equalsIgnoreCase(refs.head)).get
      val dummy = LocalRelation(Seq(base.asInstanceOf[AttributeReference]))
      val analyzed = spark.sessionState.analyzer
        .execute(Project(Seq(Alias(parsed, "__g")()), dummy))
      val gen = analyzed.asInstanceOf[Project].projectList.head
        .asInstanceOf[Alias].child
        .transformUp { case r: RuntimeReplaceable => r.replacement }
        // fold literal subtrees (the analyzer wraps divisor literals in
        // casts; the monotone matcher wants plain literals)
        .transformUp {
          case e if e.foldable && !e.isInstanceOf[Literal] =>
            Literal.create(e.eval(InternalRow.empty), e.dataType)
        }
      (gen, base)
    }.toOption

  /** Non-decreasing in `base`? Conservative whitelist — unknown shapes
    * derive nothing. */
  private def monotone(e: Expression, base: Attribute): Boolean = e match {
    case a: AttributeReference => a.exprId == base.exprId
    case c: Cast => (c.child.dataType, c.dataType) match {
      case (TimestampType | TimestampNTZType | DateType, DateType) =>
        monotone(c.child, base)
      case (ByteType | ShortType | IntegerType | LongType,
          IntegerType | LongType | DoubleType)
          // widening only — a narrowing integral cast wraps, not monotone
          if widthOf(c.child.dataType) <= widthOf(c.dataType) =>
        monotone(c.child, base)
      case _ => false
    }
    case Year(c) => monotone(c, base)
    case TruncTimestamp(Literal(_, _), c, _) => monotone(c, base)
    case TruncDate(c, Literal(_, _)) => monotone(c, base)
    case Floor(c) => monotone(c, base)
    case Divide(c, Literal(k: java.lang.Number, _), _)
        if k.doubleValue() > 0 => monotone(c, base)
    case Substring(c, Literal(p: java.lang.Integer, IntegerType),
        Literal(n: java.lang.Integer, IntegerType))
        if p == 1 && n >= 0 => monotone(c, base)
    case _ => false
  }

  private def widthOf(dt: DataType): Int = dt match {
    case ByteType => 1; case ShortType => 2; case IntegerType => 4
    case LongType => 8; case DoubleType => 16; case _ => 0
  }

  /** f(literal), evaluated at plan time; None on eval failure or a NULL
    * result (a NULL bound derives nothing useful). */
  private def evalGen(gen: Expression, base: Attribute,
      l: Literal): Option[Literal] = scala.util.Try {
    val sub = gen.transform {
      case a: AttributeReference if a.exprId == base.exprId => l
    }
    if (!sub.foldable) None
    else Option(sub.eval(InternalRow.empty))
      .map(v => Literal.create(v, gen.dataType))
  }.toOption.flatten

  private def deriveFor(pcol: String, sql: String, declaredZone: Option[String],
      output: Seq[Attribute], conjuncts: Seq[Expression]): Seq[Expression] = {
    val partAttr = output.find(_.name.equalsIgnoreCase(pcol))
      .getOrElse(return Nil)
    val (gen, base) = analyzedGen(sql, output).getOrElse(return Nil)
    if (!monotone(gen, base)) return Nil
    // a zone-dependent f (timestamp→date cast, trunc, ...) is only the
    // function the stored rows were filled with when this session runs
    // under the DECLARED zone — anything else (including a legacy table
    // with no recorded zone) must decline, or the derived bounds would
    // prune directories that hold matching rows
    if (graft.sources.VersionedTable.zoneDependentExpr(gen)) {
      val cur = spark.sessionState.conf.sessionLocalTimeZone
      if (!declaredZone.contains(cur)) return Nil
    }
    def guard(cmp: Expression): Expression = Or(cmp, IsNull(partAttr))
    def attrIs(e: Expression): Boolean = e match {
      case a: AttributeReference => a.exprId == base.exprId
      case _ => false
    }
    conjuncts.flatMap {
      case EqualTo(b, l: Literal) if attrIs(b) =>
        evalGen(gen, base, l).map(fl => guard(EqualTo(partAttr, fl)))
      case EqualTo(l: Literal, b) if attrIs(b) =>
        evalGen(gen, base, l).map(fl => guard(EqualTo(partAttr, fl)))
      case GreaterThanOrEqual(b, l: Literal) if attrIs(b) =>
        evalGen(gen, base, l).map(fl => guard(GreaterThanOrEqual(partAttr, fl)))
      case GreaterThan(b, l: Literal) if attrIs(b) =>
        evalGen(gen, base, l).map(fl => guard(GreaterThanOrEqual(partAttr, fl)))
      case LessThanOrEqual(b, l: Literal) if attrIs(b) =>
        evalGen(gen, base, l).map(fl => guard(LessThanOrEqual(partAttr, fl)))
      case LessThan(b, l: Literal) if attrIs(b) =>
        evalGen(gen, base, l).map(fl => guard(LessThanOrEqual(partAttr, fl)))
      // literal-first comparisons flip the bound direction
      case GreaterThanOrEqual(l: Literal, b) if attrIs(b) =>
        evalGen(gen, base, l).map(fl => guard(LessThanOrEqual(partAttr, fl)))
      case GreaterThan(l: Literal, b) if attrIs(b) =>
        evalGen(gen, base, l).map(fl => guard(LessThanOrEqual(partAttr, fl)))
      case LessThanOrEqual(l: Literal, b) if attrIs(b) =>
        evalGen(gen, base, l).map(fl => guard(GreaterThanOrEqual(partAttr, fl)))
      case LessThan(l: Literal, b) if attrIs(b) =>
        evalGen(gen, base, l).map(fl => guard(GreaterThanOrEqual(partAttr, fl)))
      case _ => Nil
    }
  }
}
