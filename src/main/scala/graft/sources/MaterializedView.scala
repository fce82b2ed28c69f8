package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized views over graft tables — the
  * DLT/Databricks materialized-view story on this engine's own change
  * feed: the view is a graft table holding `GROUP BY` aggregates of a
  * source graft table, and REFRESH applies only the source's CHANGES
  * since the last refresh (one [[VersionedTable.changes]] diff + one
  * MERGE), never a full recompute.
  *
  * Maintained aggregates: COUNT(*), SUM(col), MIN(col), MAX(col) per
  * group (AVG derives as sum/count at query time). COUNT and SUM are
  * fully delta-repairable — an insert contributes +1/+value, a delete
  * −1/−value, an update is its delete+insert pair — so their delta is one
  * aggregation of the change feed with a sign column. MIN/MAX fold
  * monotonically on inserts (`least`/`greatest`), and a delete that
  * removes the stored extremum — with no equal value re-inserted in the
  * same delta — triggers a PER-GROUP REPAIR: only the affected groups
  * recompute from the source, through a scan filtered to their keys.
  * That is exactly how warehouse engines maintain MIN/MAX views
  * (monotone fold + targeted recompute), and it bounds repair cost to
  * O(affected groups' data), never O(table).
  *
  * SUM's SQL null semantics are maintained EXACTLY: every maintained
  * value column rides with a non-null contribution count `nn_<col>`, and
  * the merged aggregate goes back to NULL when that count reaches zero —
  * so a group whose every value is NULL reports NULL (not 0), and an
  * inserted NULL row changes the count but never the sum/min/max, same
  * as recomputing would.
  *
  * An optional `WHERE` predicate ([[WhereKey]]) restricts the view to the
  * rows that satisfy it — applied to the create snapshot and to every
  * refresh's change feed. Exactness rests on the predicate being
  * ROW-LOCAL and STABLE, so non-deterministic and clock-reading
  * predicates are refused at create.
  *
  * NULL GROUP VALUES ARE REFUSED (create and refresh both check): the
  * refresh MERGE addresses view rows by key EQUALITY, and SQL equality
  * never matches NULL — a null-keyed group could not be updated in
  * place. Coalesce or filter null keys upstream (the same restriction
  * warehouse engines put on clustering/merge keys).
  *
  * Exactly-once bookkeeping rides the manifest txn map, not a property:
  * the refresh MERGE commits under `(graft.mv, sourceVersion)`, so the
  * progress cursor ([[VersionedTable.lastTxn]]) is ATOMIC with the commit
  * that applied the delta — a crashed refresh re-run is the upsert replay
  * no-op, never a double-count.
  *
  * Registered views feed [[graft.sql.GraftMvRewrite]]: a GROUP BY query
  * over the SOURCE whose grouping columns, filter, and aggregates the
  * view covers is answered from the view when its watermark equals the
  * queried snapshot — the aggregate-rewrite story that makes a 100 TB
  * fact's daily dashboard read kilobytes.
  *
  * Scale shape at 100 TB: refresh cost is O(changed source files) to read
  * the diff (changes() is file-granular, and a source MERGE done by
  * marks contributes only its applied and marked rows) + O(touched view
  * files) to merge it (MERGE file selection on the group keys, which are
  * the view's stats columns) + O(repaired groups' source data) when a
  * MIN/MAX extremum was deleted — a view over a 100 TB fact whose daily
  * delta touches one partition refreshes by reading that partition's files
  * and merging into the handful of view files whose key bounds admit the
  * changed groups. */
object MaterializedView {

  /** txn app id carried by the create snapshot and every refresh MERGE;
    * batchId = the SOURCE version the view reflects. */
  val App = "graft.mv"

  val SourceKey = "graft.mv.source"
  val GroupByKey = "graft.mv.groupBy"
  val SumColsKey = "graft.mv.sumCols"
  val MinMaxColsKey = "graft.mv.minMaxCols"

  /** Optional EXPRESSION group keys: `alias -> SQL` pairs recorded when
    * the view groups by derived values (`to_date(ts) AS day`, the
    * canonical daily rollup). Aliases are the view's columns — everything
    * name-based (MERGE keys, stats columns, partitioning) works on them
    * unchanged; the expressions evaluate the keys on the snapshot, the
    * change feed, and the repair scan. Row-local and stable required,
    * same contract (and same refusals) as [[WhereKey]]. Plain-column
    * views record nothing here. Items are joined with the ASCII record
    * separator, alias and SQL with the unit separator — SQL text may
    * contain commas. */
  val GroupExprsKey = "graft.mv.groupExprs"
  private val Rs = '\u001E'; private val Us = '\u001F'

  private[graft] def groupExprsIn(props: Map[String, String]): Map[String, String] =
    props.get(GroupExprsKey).filter(_.nonEmpty).toSeq
      .flatMap(_.split(Rs).toSeq.map { item =>
        val Array(a, sql) = item.split(Us.toString, 2); a -> sql
      }).toMap

  /** Optional hive-partition dimension of the VIEW itself (must be a
    * subset of the GROUP BY columns): view rows land in one directory per
    * partition value, so the refresh MERGE's CoW selection prunes whole
    * DIRECTORIES (on top of the key-bound file pruning the group-key
    * stats already give), residual group-column filters over a rewritten
    * query prune the same way, and partition-scoped OPTIMIZE works. Right
    * for views with a coarse leading dimension (date, tenant); pointless
    * below a few files per partition value. */
  val PartitionByKey = "graft.mv.partitionBy"

  /** Optional row predicate (SQL text) the view maintains OVER — applied
    * to the create snapshot and to every refresh's change feed. Exactness
    * rests on the predicate being ROW-LOCAL and STABLE: membership of a
    * row is decided by that row alone, identically at every refresh, so
    * filtering the feed's insert/delete pairs filters the delta exactly.
    * Non-deterministic and clock-reading predicates are refused at create
    * (rand() changes per evaluation; current_date() changes per refresh —
    * either would let a row enter the view it could never leave). */
  val WhereKey = "graft.mv.where"

  /** SOURCE-side roster of registered view paths — what the relation
    * builder hands the aggregate-rewrite rule ([[graft.sql.GraftMvRewrite]])
    * as rewrite candidates. Registered BEFORE the create snapshot reads,
    * so the view's watermark can equal the source head from version one. */
  val ViewsKey = "graft.mv.views"

  /** DIM-side roster of join views that PIN this table — read ONLY by the
    * `graft.mv.autoRefresh` post-commit hook (a dim commit then chains
    * the view's refresh, whose dim-delta pass folds it in), deliberately
    * NOT by the rewrite's candidate machinery: a dim-side ViewsKey entry
    * would shadow the fact-first orientation the join matcher tries.
    * Registered BEFORE the dim is pinned, so the roster commit can never
    * stale the pin it precedes (the ForeignKeys.ReferencedByKey posture). */
  val DimViewsKey = "graft.mv.dimViews"

  private[graft] def dimViewsIn(props: Map[String, String]): Seq[String] =
    props.get(DimViewsKey).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** JOIN views (the star-schema dashboard shape): the view aggregates
    * `fact INNER JOIN dim ON fk = pk` instead of the bare fact. The FACT
    * is the [[SourceKey]] source (its change feed drives the incremental
    * refresh, exactly as for plain views); the DIMENSION is a second graft
    * table, pinned at its version in [[JoinsKey]]:
    *
    *  - the dim's join keys must be UNIQUE (a primary key) — checked with
    *    one O(dim) aggregate at create and at every FULL refresh; without
    *    it a fact row would contribute once per matching dim row and the
    *    fact-delta maintenance would be wrong;
    *  - incremental refresh joins the fact's change feed with the dim AT
    *    THE PINNED VERSION — each fact insert/delete pairs with exactly
    *    the dim row it paired with at create, so signs cancel exactly;
    *  - a dim that MOVED refuses the incremental path loudly (its changed
    *    rows would need per-group repair across the whole fact) — FULL
    *    refresh re-pins the head and re-validates uniqueness;
    *  - the rewrite answers `Aggregate(fact ⋈ dim)` queries only when the
    *    fact watermark matches the queried fact snapshot AND the queried
    *    dim snapshot is exactly the pinned one.
    *
    * At 100 TB this is the shape that matters: the fact's daily delta
    * joins a broadcast-sized dim, and the dashboard's star aggregate reads
    * the view's kilobytes instead of re-joining the fact. */
  /** Every joined dimension of a join view, in join order:
    * `dim<GS>keysRaw<GS>pin` items joined by `<FS>`, where `keysRaw` is
    * `fk<US>pk` pairs joined by `<RS>` (fact column = dim column) and
    * `pin` the dim version the view's content was built against. The
    * distinct helpers of a join view carry their own copy of it. */
  val JoinsKey = "graft.mv.joins"
  private val Fs = '\u001C'; private val Gs = '\u001D'

  private def parseKeys(keysRaw: String): Seq[(String, String)] =
    keysRaw.split(Rs.toString).toSeq.map { item =>
      val Array(fk, pk) = item.split(Us.toString, 2); (fk, pk)
    }

  /** EVERY joined dimension of the view, in join order ([[JoinsKey]]);
    * empty for a plain view. The ONE accessor all maintenance and rewrite
    * paths read. */
  private[graft] def joinsIn(props: Map[String, String])
      : Seq[(String, Seq[(String, String)], Long)] =
    props.get(JoinsKey).filter(_.nonEmpty).toSeq
      .flatMap(_.split(Fs.toString).toSeq).map { item =>
        val Array(dim, keysRaw, v) = item.split(Gs.toString, 3)
        (dim, parseKeys(keysRaw), v.toLong)
      }

  private def keysRawOf(keys: Seq[(String, String)]): String =
    keys.map { case (fk, pk) => s"$fk$Us$pk" }.mkString(Rs.toString)

  private def serializeJoins(
      joins: Seq[(String, Seq[(String, String)], Long)]): String =
    joins.map { case (dim, keys, v) => s"$dim$Gs${keysRawOf(keys)}$Gs$v" }
      .mkString(Fs.toString)

  /** `fact ⋈ dim` with the dim's key columns dropped (the fact's fk
    * carries the value — equal by the join). Shared by the create
    * snapshot, the refresh delta, the repair scan, and the rewrite's
    * definition resolution, so the joined column space is identical
    * everywhere. */
  private[graft] def joinFrames(fact: DataFrame, dim: DataFrame,
      keys: Seq[(String, String)]): DataFrame = {
    val cond = keys.map { case (fk, pk) => fact(fk) === dim(pk) }
      .reduce(_ && _)
    keys.map(_._2).foldLeft(fact.join(dim, cond, "inner")) { (d, pk) =>
      d.drop(dim(pk))
    }
  }

  private[graft] def viewsIn(props: Map[String, String]): Seq[String] =
    props.get(ViewsKey).toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** The maintained row count per group; sums land as `sum_<col>`,
    * extrema as `min_<col>`/`max_<col>`, and every maintained value
    * column's non-null contribution count as `nn_<col>`. */
  val CountCol = "mv_count"
  def sumColName(c: String): String = s"sum_$c"
  def minColName(c: String): String = s"min_$c"
  def maxColName(c: String): String = s"max_$c"
  def nnColName(c: String): String = s"nn_$c"
  def ndvColName(c: String): String = s"ndv_$c"
  /** Tuple form: COUNT(DISTINCT a, b) stores as `ndv_a_b`. */
  def ndvColName(cols: Seq[String]): String = s"ndv_${cols.mkString("_")}"

  /** Columns maintained as EXACT `COUNT(DISTINCT col)` (comma-separated).
    * Unlike COUNT/SUM, a distinct count is not a signed-delta fold — a
    * deleted row only moves it when it was the value's LAST occurrence in
    * its group — so each column keeps a companion HELPER table
    * ([[distinctHelperPath]]) of (group keys, value, occurrence count)
    * rows, itself maintained by the same signed delta; the view's
    * `ndv_<col>` then repairs per TOUCHED group by counting the group's
    * live helper rows (a key-filtered scan of the helper — the helper is
    * already one row per distinct value, never per source row). NULL
    * values are ignored, matching SQL COUNT(DISTINCT). JOIN views
    * maintain their helpers through BOTH passes: the fact pass folds the
    * joined change feed under the shared (App, v) watermark, and the dim
    * pass folds `fact ⋈ dimDelta` (linear in the dim multiset — the same
    * exactness argument as the view's own aggregates) with the helper's
    * OWN dim-pin copy as the idempotence token, advanced atomically with
    * each fold. */
  val DistinctColsKey = "graft.mv.distinctCols"

  /** Present on a HELPER table: the distinct column it tracks. Helpers
    * carry [[SourceKey]] → the VIEW path, which arms the content write
    * fence for free; this marker makes refresh/DESCRIBE tell them apart
    * from real views. */
  val HelperOfKey = "graft.mv.helperOf"

  /** The helper's occurrence-count column. */
  val HelperCntCol = "mv_cnt"

  def distinctHelperPath(mvPath: String, c: String): String =
    mvPath.stripSuffix("/") + s"_distinct_$c"
  def distinctHelperPath(mvPath: String, cols: Seq[String]): String =
    distinctHelperPath(mvPath, cols.mkString("_"))

  /** The stored distinct ENTRIES: each a column tuple — `user_id` or
    * `user_id|session_id` (COUNT(DISTINCT a, b)), pipe-joined in the
    * comma-separated [[DistinctColsKey]] list. */
  private[graft] def distinctsIn(props: Map[String, String]): Seq[Seq[String]] =
    colsOf(props, DistinctColsKey)
      .map(_.split('|').toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)

  /** Diagnostic: number of per-group MIN/MAX repair scans refresh has run
    * (spec-asserts that folds never scan the source and that an
    * extremum-delete scans exactly once). */
  val repairScans = new java.util.concurrent.atomic.AtomicLong(0L)

  private def aggFrame(src: DataFrame, groupBy: Seq[String],
      sumCols: Seq[String], minMaxCols: Seq[String],
      distincts: Seq[Seq[String]] = Nil): DataFrame = {
    val nnCols = (sumCols ++ minMaxCols).distinct
    src.groupBy(groupBy.map(col): _*)
      .agg(count(lit(1)).as(CountCol),
        (sumCols.map(c => sum(col(c)).as(sumColName(c))) ++
          minMaxCols.flatMap(c => Seq(min(col(c)).as(minColName(c)),
            max(col(c)).as(maxColName(c)))) ++
          nnCols.map(c => count(col(c)).as(nnColName(c))) ++
          distincts.map(t => countDistinct(col(t.head), t.tail.map(col): _*)
            .as(ndvColName(t)))): _*)
  }

  /** One helper's full content from a source-shaped snapshot: one row per
    * (group, live value tuple) with its occurrence count. Tuples with ANY
    * null component are out, matching SQL COUNT(DISTINCT a, b). */
  private def helperFrame(snap: DataFrame, groupBy: Seq[String],
      exprOf: Map[String, String], t: Seq[String]): DataFrame =
    keyed(snap, groupBy, exprOf, t)
      .filter(t.map(col(_).isNotNull).reduce(_ && _))
      .groupBy((groupBy ++ t).map(col): _*)
      .agg(count(lit(1)).as(HelperCntCol))

  /** Project a source-shaped frame to the view's key space: every group
    * alias becomes its evaluated expression (or the plain column), value
    * columns ride along — the one place expression group keys are
    * computed, shared by the create snapshot, the refresh delta, and the
    * MIN/MAX repair scan. */
  private def keyed(df: DataFrame, groupBy: Seq[String],
      exprOf: Map[String, String], valueCols: Seq[String]): DataFrame =
    df.select((groupBy.map(a =>
      exprOf.get(a).map(s => expr(s)).getOrElse(col(a)).as(a)) ++
      valueCols.map(col)): _*)

  /** The row-local-and-stable contract every view expression (predicate
    * and group key alike) must satisfy — anything else would decide a
    * row's group or membership differently across refreshes. */
  private def checkRowLocal(
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String, kind: String, sql: String): Unit = {
    require(cond.deterministic,
      s"materialized view $what: $kind '$sql' is non-deterministic — " +
        "it must evaluate identically at every refresh")
    val clock = cond.collectFirst {
      case e if e.getClass.getSimpleName.matches(
        "CurrentDate|CurrentTimestamp|CurrentTimeZone|Now|LocalTimestamp|CurrentTime") => e
    }
    require(clock.isEmpty,
      s"materialized view $what: $kind '$sql' reads the clock " +
        s"(${clock.get.prettyName}) — it would evaluate differently at " +
        "each refresh, so rows could land in state they can never leave")
  }

  /** Validate + apply the view predicate (see [[WhereKey]]). */
  private def applyWhere(df: DataFrame, where: Option[String],
      what: String): DataFrame = where match {
    case None => df
    case Some(sql) =>
      val filtered = df.filter(expr(sql))
      import org.apache.spark.sql.catalyst.plans.logical.Filter
      filtered.queryExecution.analyzed.collectFirst { case Filter(cond, _) =>
        checkRowLocal(cond, what, "WHERE", sql)
      }
      filtered
  }

  /** Validate expression group keys against the source frame: resolvable,
    * deterministic, clock-free. */
  private def validateGroupExprs(df: DataFrame,
      exprOf: Map[String, String], what: String): Unit =
    if (exprOf.nonEmpty) {
      import org.apache.spark.sql.catalyst.expressions.Alias
      import org.apache.spark.sql.catalyst.plans.logical.Project
      val proj = df.select(exprOf.toSeq.map { case (a, sql) =>
        expr(sql).as(a) }: _*).queryExecution.analyzed
      proj.collectFirst { case Project(items, _) =>
        items.foreach {
          case al @ Alias(e, a) =>
            checkRowLocal(e, what, s"group key $a", exprOf.getOrElse(a, al.sql))
          case _ => ()
        }
      }
    }

  /** Loud null-group-key gate — `frame` is already one row per group
    * (O(groups), not O(rows)). */
  private def refuseNullGroups(frame: DataFrame, groupBy: Seq[String],
      what: String): Unit = {
    val nulls = frame
      .filter(groupBy.map(col(_).isNull).reduce(_ || _)).limit(1).count()
    require(nulls == 0L,
      s"materialized view $what: NULL group value(s) in (${groupBy.mkString(",")}) — " +
        "the refresh MERGE addresses groups by key equality, which never " +
        "matches NULL; coalesce or filter null keys upstream")
  }

  /** CREATE MATERIALIZED VIEW: one full aggregation of the source's head
    * snapshot, committed with the txn watermark pinned to the source
    * version it read. Idempotent/resumable: an existing view just gets
    * its definition properties (re)asserted — under the SAME definition
    * only (redefinition refused). `partitionBy` lays the VIEW out
    * hive-partitioned (see [[PartitionByKey]]); `groupKeyExprs` makes a
    * group alias a DERIVED key (see [[GroupExprsKey]] — the
    * `to_date(ts) AS day` daily rollup). */
  def create(spark: SparkSession, srcPath: String, mvPath: String,
      groupBy: Seq[String], sumCols: Seq[String], minMaxCols: Seq[String] = Nil,
      where: Option[String] = None, partitionBy: Seq[String] = Nil,
      groupKeyExprs: Map[String, String] = Map.empty,
      distinctCols: Seq[String] = Nil): Long =
    createImpl(spark, srcPath, mvPath, groupBy, sumCols, minMaxCols,
      where, partitionBy, groupKeyExprs, joins = Nil,
      distinctCols = distinctCols)

  /** CREATE a JOIN materialized view over `fact INNER JOIN dim` (see
    * [[JoinsKey]]): group/value columns come from the JOINED frame (the
    * fact's columns plus the dim's non-key columns). The dim is pinned at
    * its current head; its join keys are validated UNIQUE and its non-key
    * column names validated collision-free against the fact's — both
    * refused loudly, before any side effect. */
  def createJoined(spark: SparkSession, factPath: String, dimPath: String,
      joinKeys: Seq[(String, String)], mvPath: String,
      groupBy: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil, where: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      groupKeyExprs: Map[String, String] = Map.empty,
      distinctCols: Seq[String] = Nil): Long =
    createJoinedMulti(spark, factPath, Seq(dimPath -> joinKeys), mvPath,
      groupBy, sumCols, minMaxCols, where, partitionBy, groupKeyExprs,
      distinctCols)

  /** CREATE a MULTI-DIMENSION star view over `fact ⋈ dim1 ⋈ dim2 ⋈ …`:
    * dims join IN ORDER onto the accumulated frame, so later dims may key
    * off earlier dims' columns (snowflakes) as well as the fact. Each
    * dim's keys are validated UNIQUE and its non-key names
    * collision-checked against everything already joined; every dim is
    * pinned at its current head. */
  def createJoinedMulti(spark: SparkSession, factPath: String,
      dims: Seq[(String, Seq[(String, String)])], mvPath: String,
      groupBy: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil, where: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      groupKeyExprs: Map[String, String] = Map.empty,
      distinctCols: Seq[String] = Nil): Long = {
    require(dims.nonEmpty && dims.forall(_._2.nonEmpty),
      "join materialized view needs at least one dimension with join keys")
    // register on every DIM's roster FIRST: the roster commit bumps the
    // dim, so doing it before the pins are read means it can never stale
    // the pin it precedes — and the dim's own autoRefresh hook can then
    // chain this view's refresh when the dim commits
    dims.foreach { case (dimPath, _) =>
      val roster = dimViewsIn(VersionedTable.propertiesOf(spark, dimPath))
      if (!roster.contains(mvPath))
        VersionedTable.setProperties(spark, dimPath,
          Map(DimViewsKey -> (roster :+ mvPath).mkString(",")))
    }
    val joins = pinAndValidate(spark, factPath, dims,
      s"create over $factPath ⋈ ${dims.map(_._1).mkString(" ⋈ ")}")
    createImpl(spark, factPath, mvPath, groupBy, sumCols, minMaxCols,
      where, partitionBy, groupKeyExprs, joins = joins,
      distinctCols = distinctCols)
  }

  /** Pin every dim at its head and validate the chain IN ORDER, each dim
    * against the accumulated column space (fact ∪ earlier dims). */
  private def pinAndValidate(spark: SparkSession, factPath: String,
      dims: Seq[(String, Seq[(String, String)])], what: String)
      : Seq[(String, Seq[(String, String)], Long)] = {
    var taken = VersionedTable.read(spark, factPath).columns.toSet
    dims.map { case (dimPath, keys) =>
      val dimV = VersionedTable.latestVersion(spark, dimPath).getOrElse(
        throw new IllegalArgumentException(
          s"$dimPath has no committed versions"))
      validateJoin(spark, taken, dimPath, keys, dimV, what)
      taken ++= VersionedTable.read(spark, dimPath, Some(dimV))
        .columns.toSet -- keys.map(_._2)
      (dimPath, keys, dimV)
    }
  }

  /** The join contract, checked at create and FULL refresh: key columns
    * exist on both sides (`takenCols` is the accumulated frame — the fact
    * plus every earlier dim), the dim's non-key names don't collide with
    * anything already joined (the joined frame must have unambiguous
    * names), and the dim's key tuple is UNIQUE — one O(dim) aggregate,
    * the price of exact fact-delta maintenance. */
  private def validateJoin(spark: SparkSession, takenCols: Set[String],
      dimPath: String, keys: Seq[(String, String)], dimV: Long,
      what: String): Unit = {
    val dim = VersionedTable.read(spark, dimPath, Some(dimV))
    val dimCols = dim.columns.toSet
    val missF = keys.map(_._1).filterNot(takenCols)
    val missD = keys.map(_._2).filterNot(dimCols)
    require(missF.isEmpty && missD.isEmpty,
      s"materialized view $what: join key column(s) " +
        s"${(missF ++ missD).mkString(",")} missing")
    val clash = (dimCols -- keys.map(_._2)).intersect(takenCols)
    require(clash.isEmpty,
      s"materialized view $what: dim column(s) ${clash.mkString(",")} " +
        "collide with already-joined columns — the joined frame needs " +
        "unambiguous names; rename or drop them on one side")
    val dupes = dim.groupBy(keys.map(k => col(k._2)): _*)
      .count().filter(col("count") > 1L).limit(1).count()
    require(dupes == 0L,
      s"materialized view $what: dim join key " +
        s"(${keys.map(_._2).mkString(",")}) is not unique in $dimPath@$dimV " +
        "— a fact row would contribute once per matching dim row, so " +
        "fact-delta maintenance would be wrong")
  }

  /** Fold every pinned dim onto the fact frame, in join order. */
  private[graft] def joinAll(spark: SparkSession, fact: DataFrame,
      joins: Seq[(String, Seq[(String, String)], Long)]): DataFrame =
    joins.foldLeft(fact) { case (df, (dim, keys, dimV)) =>
      joinFrames(df, VersionedTable.read(spark, dim, Some(dimV)), keys)
    }

  private def createImpl(spark: SparkSession, srcPath: String, mvPath: String,
      groupBy: Seq[String], sumCols: Seq[String], minMaxCols: Seq[String],
      where: Option[String], partitionBy: Seq[String],
      groupKeyExprs: Map[String, String],
      joins: Seq[(String, Seq[(String, String)], Long)],
      distinctCols: Seq[String] = Nil): Long = {
    require(groupBy.nonEmpty, "materialized view needs GROUP BY columns")
    // entries are column TUPLES — "u" or "u|s" for COUNT(DISTINCT u, s)
    val distincts: Seq[Seq[String]] =
      distinctCols.map(_.split('|').toSeq.map(_.trim).filter(_.nonEmpty))
    require(distincts.forall(_.nonEmpty),
      "empty COUNT(DISTINCT) column tuple")
    // ndv column names and helper paths join tuple columns with '_', so
    // COUNT(DISTINCT a, b) and COUNT(DISTINCT a_b) would collide on both
    // ndv_a_b and the <mv>_distinct_a_b helper — refuse up front with the
    // colliding spellings named, instead of an opaque duplicate-column
    // error downstream (and a silently-overwritten helper registration)
    locally {
      val collided = distincts.groupBy(ndvColName).filter(_._2.size > 1)
      require(collided.isEmpty,
        s"COUNT(DISTINCT) tuples ${collided.values.flatten
          .map(_.mkString("(", ",", ")")).mkString(" and ")} collide on " +
          s"view column/helper name ${collided.keys.mkString(",")} — " +
          "'_'-joined tuple spellings must be pairwise distinct")
    }
    require(distincts.flatten.forall(!groupBy.contains(_)),
      s"COUNT(DISTINCT) over a GROUP BY column " +
        s"(${distincts.flatten.filter(groupBy.contains).mkString(",")}) " +
        "is constant per group — drop it from the view definition")
    require(partitionBy.forall(groupBy.contains),
      s"materialized view partition column(s) " +
        s"${partitionBy.filterNot(groupBy.contains).mkString(",")} must be " +
        "GROUP BY columns — only group keys exist on the view")
    require(groupKeyExprs.keySet.subsetOf(groupBy.toSet),
      s"group key expression alias(es) " +
        s"${(groupKeyExprs.keySet -- groupBy).mkString(",")} are not GROUP " +
        "BY columns")
    // all reads below go through the (possibly joined) source frame, so
    // predicates and group keys may reference dim columns too
    def srcFrame(asOf: Option[Long]): DataFrame =
      joinAll(spark, VersionedTable.read(spark, srcPath, asOf), joins)
    // validate predicate and key expressions BEFORE any side effect (a
    // refused create must leave zero trace — no registration, no view)
    where.foreach(_ => applyWhere(srcFrame(None),
      where, s"create over $srcPath"))
    validateGroupExprs(srcFrame(None), groupKeyExprs,
      s"create over $srcPath")
    // register the view on the SOURCE first (its props feed the rewrite
    // rule's candidate list), so the snapshot read below — at the version
    // the registration produced or later — can leave the view fresh enough
    // to answer for the source head immediately
    val registered = viewsIn(VersionedTable.propertiesOf(spark, srcPath))
    if (!registered.contains(mvPath))
      VersionedTable.setProperties(spark, srcPath,
        Map(ViewsKey -> (registered :+ mvPath).mkString(",")))
    val v = VersionedTable.latestVersion(spark, srcPath).getOrElse(
      throw new IllegalArgumentException(s"$srcPath has no committed versions"))
    // idempotent resume, NOT redefinition: an existing view's content was
    // built under its stored definition — silently re-pointing the props
    // would desynchronize them (absent keys pass: a create that crashed
    // between snapshot and props resumes here)
    if (VersionedTable.latestVersion(spark, mvPath).isDefined) {
      val p = VersionedTable.propertiesOf(spark, mvPath)
      // join DEFINITION = dims + keys, not pins (FULL refresh moves pins).
      // Absent join props pass ONLY while SourceKey is also absent (a
      // create that crashed between snapshot and props resumes here);
      // once SourceKey exists the original create COMPLETED, so absent
      // join props mean the view genuinely has no joins — re-running
      // create WITH joins against it is a redefinition, not a resume.
      val createCompleted = p.contains(SourceKey)
      val joinPropsPresent =
        p.contains(JoinsKey) || createCompleted
      require(p.get(SourceKey).forall(_ == srcPath) &&
          p.get(GroupByKey).forall(_ == groupBy.mkString(",")) &&
          p.get(SumColsKey).forall(_ == sumCols.mkString(",")) &&
          p.get(MinMaxColsKey).forall(_ == minMaxCols.mkString(",")) &&
          // like joins: once the create COMPLETED, an absent key means NO
          // distinct cols — re-creating WITH them is a redefinition
          (p.contains(DistinctColsKey) || !createCompleted ||
            distinctCols.isEmpty) &&
          p.get(DistinctColsKey).forall(_ == distinctCols.mkString(",")) &&
          p.get(WhereKey).forall(_ == where.getOrElse("")) &&
          p.get(PartitionByKey).forall(_ == partitionBy.mkString(",")) &&
          p.get(GroupExprsKey).forall(_ == serializeExprs(groupKeyExprs)) &&
          (!joinPropsPresent ||
            joinsIn(p).map { case (d, k, _) => (d, k) } ==
              joins.map { case (d, k, _) => (d, k) }),
        s"materialized view $mvPath already exists with a different " +
          "definition — drop and re-create to redefine")
    }
    if (VersionedTable.latestVersion(spark, mvPath).isEmpty) {
      val snap = applyWhere(srcFrame(Some(v)), where, s"create over $srcPath")
      val agg = aggFrame(keyed(snap, groupBy, groupKeyExprs,
        (sumCols ++ minMaxCols ++ distincts.flatten).distinct), groupBy,
        sumCols, minMaxCols, distincts)
      refuseNullGroups(agg, groupBy, s"create over $srcPath")
      // group keys are the view's stats columns: the refresh MERGE's CoW
      // file selection prunes on exactly these (directory pruning on top
      // when the view is partitioned)
      VersionedTable.commitSnapshot(agg, mvPath, App, v, statsCols = groupBy,
        partitionBy = partitionBy)
    }
    // distinct helpers — built AT the view's watermark (a resumed create
    // may find the source past the version the view snapshot read), each
    // with the same (App, watermark) txn so a crashed create resumes as a
    // replay no-op; props re-asserted idempotently after the content.
    // JOIN views: each helper carries its OWN copy of the dim-pin
    // encoding — the dim-delta pass's idempotence token (its fold has no
    // fact-watermark move to replay-guard on), advanced atomically with
    // each helper fold. Initialized only when absent: a resume must not
    // rewind pins a refresh has already advanced.
    val helperPinProps = pinPropsOf(joins)
    distincts.foreach { t =>
      val hp = distinctHelperPath(mvPath, t)
      if (VersionedTable.latestVersion(spark, hp).isEmpty) {
        val wm = VersionedTable.lastTxn(spark, mvPath, App).getOrElse(v)
        VersionedTable.commitSnapshot(
          helperFrame(applyWhere(srcFrame(Some(wm)), where,
            s"create over $srcPath"), groupBy, groupKeyExprs, t),
          hp, App, wm, statsCols = groupBy)
      }
      val hExisting = VersionedTable.propertiesOf(spark, hp)
      VersionedTable.setProperties(spark, hp, Map(
        SourceKey -> mvPath, HelperOfKey -> t.mkString("|")) ++
        helperPinProps.filter { case (k, _) => !hExisting.contains(k) })
    }
    VersionedTable.setProperties(spark, mvPath, Map(
      SourceKey -> srcPath,
      GroupByKey -> groupBy.mkString(","),
      SumColsKey -> sumCols.mkString(","),
      MinMaxColsKey -> minMaxCols.mkString(","),
      DistinctColsKey -> distinctCols.mkString(","),
      PartitionByKey -> partitionBy.mkString(","),
      GroupExprsKey -> serializeExprs(groupKeyExprs),
      // stored even when absent ("") so the redefinition guard catches a
      // WHERE being ADDED to a view created without one
      WhereKey -> where.getOrElse("")) ++ pinPropsOf(joins))
  }

  private def serializeExprs(exprOf: Map[String, String]): String =
    exprOf.toSeq.sortBy(_._1).map { case (a, s) => s"$a$Us$s" }.mkString(Rs.toString)

  private def colsOf(props: Map[String, String], k: String): Seq[String] =
    props.get(k).toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** REFRESH: diff the source between the view's txn watermark and the
    * source head, aggregate the diff with an insert=+1/delete=−1 sign,
    * and MERGE the per-group delta into the view — new groups insert,
    * emptied groups tombstone out, untouched view files carry by
    * reference. MIN/MAX fold on inserts; groups whose stored extremum was
    * deleted (without an equal re-insert) recompute from a key-filtered
    * source scan. No-op (current version) when the source hasn't moved.
    * The change feed is evaluated ONCE per refresh: its column-pruned,
    * keyed rows are cached for the merge, and every consumer (the delta
    * aggregate, each COUNT(DISTINCT) helper's delta, the NULL-group check,
    * the MERGE's probe and cache) reads that copy.
    * Crash-safe: a re-run of an applied (App, version) is the upsert
    * replay no-op.
    *
    * Concurrency-safe two ways: a per-view JVM lock serializes the
    * in-process races (the `graft.mv.autoRefresh` hook vs a manual
    * REFRESH), and the MERGE carries a `txnExpected` precondition checked
    * atomically inside the commit CAS loop — the delta computed from
    * watermark v0 lands ONLY on a view still at v0. Without it, two
    * refreshes reading the same v0 could commit deltas (v0,v1] then
    * (v0,v2]: the second passes the replay guard (v2 > v1) yet was
    * computed without the first's effects on the stored view — a group
    * whose (v0,v1] change was reverted by v2 keeps the first delta's
    * value while the watermark advances. On conflict the refresh
    * recomputes from the NEW watermark and retries. */
  def refresh(spark: SparkSession, mvPath: String): Long = {
    val lock = refreshLocks.computeIfAbsent(mvPath, _ => new Object)
    // an external process moved the watermark (or, for a join view, the
    // dim PIN) between our read and our commit — the recompute picks up the
    // new v0 / pin (often a versions-never-rewind no-op if it covered our
    // window)
    lock.synchronized {
      VersionedTable.recomputeOnConflict(refreshOnce(spark, mvPath))
    }
  }

  private val refreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def refreshOnce(spark: SparkSession, mvPath: String): Long = {
    val props = VersionedTable.propertiesOf(spark, mvPath)
    val src = props.getOrElse(SourceKey, throw new IllegalArgumentException(
      s"$mvPath is not a materialized view (no $SourceKey property)"))
    require(!props.contains(HelperOfKey),
      s"$mvPath is an internal distinct-value helper of $src — " +
        "REFRESH the view itself; its refresh maintains the helper")
    val v0 = VersionedTable.lastTxn(spark, mvPath, App).getOrElse(
      throw new IllegalStateException(s"$mvPath carries no $App watermark"))
    val cur = VersionedTable.latestVersion(spark, mvPath).get
    // JOIN views: a MOVED dim folds ITS change feed in FIRST — one pass
    // per dim, each a separate merge commit advancing that dim's pin
    // atomically — so the fact pass below always joins fresh pins
    val joins = joinsIn(props)
    joins.foreach { case (dim, _, _) =>
      require(VersionedTable.latestVersion(spark, dim).isDefined,
        s"$mvPath: join dimension $dim has no committed versions")
    }
    val moved = joins.find { case (dim, _, pin) =>
      !VersionedTable.latestVersion(spark, dim).contains(pin) }
    moved.foreach { m =>
      applyDimDelta(spark, mvPath, props, src, joins, m, v0)
      // props changed (the pin advanced): re-enter for the next moved dim
      // or the fact pass, both against fresh pins
      return refreshOnce(spark, mvPath)
    }
    val v1 = VersionedTable.latestVersion(spark, src).getOrElse(
      throw new IllegalArgumentException(s"$src has no committed versions"))
    if (v1 <= v0) return cur // source unchanged (versions never rewind)
    def withDim(fact: DataFrame): DataFrame = joinAll(spark, fact, joins)
    // the fact pass CAS-es on the pins too (propsExpected): a concurrent
    // dim-delta commit between our props read and this merge would
    // otherwise land a delta joined against pins the view no longer holds
    mergeDelta(spark, mvPath, props,
      chg = withDim(VersionedTable.changes(spark, src, v0, v1)),
      repairSrc = () => withDim(VersionedTable.read(spark, src, Some(v1))),
      what = s"refresh of $mvPath",
      txn = Some(App -> v1), txnExpected = App -> v0,
      propsExpected = pinPropsOf(joins))
  }

  /** The PIN encoding of `joins` as view (or helper) props; plain views
    * carry nothing. Also the `propsExpected` CAS every incremental merge
    * carries, so a delta computed against these pins can only land on a
    * view still AT them. */
  private def pinPropsOf(joins: Seq[(String, Seq[(String, String)], Long)])
      : Map[String, String] =
    if (joins.isEmpty) Map.empty else Map(JoinsKey -> serializeJoins(joins))

  /** Accumulated column space (fact ∪ dims joined BEFORE `until`) — what
    * [[validateJoin]] checks a dim's keys and names against, chain-ordered
    * like create. */
  private def takenBefore(spark: SparkSession, src: String,
      joins: Seq[(String, Seq[(String, String)], Long)], until: String)
      : Set[String] = {
    var t = VersionedTable.read(spark, src).columns.toSet
    joins.takeWhile(_._1 != until).foreach { case (d, ks, dv) =>
      t ++= VersionedTable.read(spark, d, Some(dv)).columns.toSet --
        ks.map(_._2)
    }
    t
  }

  /** Fold ONE moved dimension's change feed into the view — the
    * incremental answer to the most common star-schema event, a dim
    * update, which previously refused and forced a FULL (O(fact))
    * refresh.
    *
    * EXACTNESS: the view aggregates `fact ⋈ dim ⋈ …`, which is LINEAR in
    * the dim's row multiset (each fact row pairs with the matching dim
    * rows), so `dim@head = dim@pin − deletes + inserts` gives
    * `Agg(fact ⋈ dim@head) = Agg(fact ⋈ dim@pin) − Agg(fact ⋈ deletes) +
    * Agg(fact ⋈ inserts)` — exactly the signed-delta shape the fact pass
    * already merges: a deleted dim row retracts every fact row it matched
    * (carrying its OLD attributes, so retractions leave the old groups),
    * an inserted one contributes them under the NEW attributes, and a dim
    * UPDATE is its delete/insert pair, so re-keyed groups repair with
    * signs cancelling exactly. The fact reads AT THE VIEW'S WATERMARK v0
    * (the state the stored aggregates reflect — the fact's own motion is
    * the NEXT pass's job); other dims join at their CURRENT stored pins
    * (dims already advanced by earlier passes contribute their new
    * state). MIN/MAX extremum losses repair per group from
    * `fact@v0 ⋈ dim@head ⋈ others@pins` — the refresh's TARGET state.
    *
    * SCALE SHAPE: the delta inner-joins the fact to ONLY the changed dim
    * keys; when those keys are real fact columns and few
    * (≤ [[VersionedTable.MaxInKeys]]), an IN-list pre-filter reaches the
    * fact scan so data skipping prunes fact files — the same stats-pruned
    * candidate-file trick the CoW merge uses. Cost is O(fact rows
    * matching changed keys) + O(touched view files), never O(fact).
    *
    * The merge commit advances the dim's pin ATOMICALLY (`propsAdd`)
    * under BOTH preconditions: the fact watermark is still v0
    * (`txnExpected` — the delta joined fact@v0) and the stored pins are
    * the ones this delta was computed against (`propsExpected` — a racing
    * dim refresh recomputes and retries). The fact watermark itself
    * carries unchanged (txn = None): only the pin moves. */
  private def applyDimDelta(spark: SparkSession, mvPath: String,
      props: Map[String, String], src: String,
      joins: Seq[(String, Seq[(String, String)], Long)],
      moved: (String, Seq[(String, String)], Long), v0: Long): Long = {
    val (dim, keys, pin) = moved
    val head = VersionedTable.latestVersion(spark, dim).get
    require(head > pin,
      s"$mvPath: join dimension $dim is at version $head BEHIND its pin " +
        s"$pin — history rewound; run fullRefresh to re-pin")
    // the contract holds only while the dim key stays unique — re-check
    // at the head before trusting its inserts (same O(dim) price as
    // create; collisions/missing keys from dim schema changes also refuse)
    validateJoin(spark, takenBefore(spark, src, joins, until = dim),
      dim, keys, head, s"dim-delta refresh of $mvPath")
    val dimDelta = VersionedTable.changes(spark, dim, pin, head)
    val fact0 = VersionedTable.read(spark, src, Some(v0))
    // IN-list pre-filter (pruning only — the join is the exact match):
    // applies when every fact-side key is a REAL fact column (not an
    // earlier dim's, as in a snowflake) and the changed key set inlines
    val factSide = {
      val factCols = fact0.columns.toSet
      if (!keys.forall(k => factCols(k._1))) fact0
      else {
        val changed = dimDelta.select(keys.map(k => col(k._2)): _*)
          .distinct().limit(VersionedTable.MaxInKeys + 1).collect()
        if (changed.length > VersionedTable.MaxInKeys) fact0
        else keys.zipWithIndex.foldLeft(fact0) { case (df, ((fk, _), i)) =>
          val vals = changed.map(_.get(i)).distinct.filter(_ != null)
          // every changed key NULL in this component ⇒ the equi-join can
          // never match ⇒ the delta is empty (the commit still lands to
          // advance the pin)
          if (vals.isEmpty) df.filter(lit(false))
          else df.filter(col(fk).isin(vals: _*))
        }
      }
    }
    // the chain join with the moved dim's frame replaced by its change
    // feed — `_change_type` rides through to sign each contribution
    val chg = joins.foldLeft(factSide) { case (df, (d, ks, dv)) =>
      joinFrames(df,
        if (d == dim) dimDelta
        else VersionedTable.read(spark, d, Some(dv)), ks)
    }
    def repairSrc(): DataFrame = joins.foldLeft(fact0) {
      case (df, (d, ks, dv)) =>
        joinFrames(df, VersionedTable.read(spark, d,
          Some(if (d == dim) head else dv)), ks)
    }
    mergeDelta(spark, mvPath, props, chg, () => repairSrc(),
      what = s"dim-delta refresh of $mvPath ($dim $pin→$head)",
      txn = None, txnExpected = App -> v0,
      propsAdd = pinPropsOf(joins.map(j =>
        if (j._1 == dim) (j._1, j._2, head) else j)),
      propsExpected = pinPropsOf(joins))
  }

  /** The signed-delta → MERGE core shared by the fact pass and the dim
    * pass: aggregate `chg` (source-shaped rows + `_change_type`) per
    * group with insert=+1/delete=−1 signs, fold into the stored view,
    * repair MIN/MAX groups whose stored extremum left (from `repairSrc`,
    * full rows at the refresh's TARGET state, key-filtered), and commit
    * one CoW MERGE under the given txn/props preconditions. */
  private def mergeDelta(spark: SparkSession, mvPath: String,
      props: Map[String, String], chg: DataFrame,
      repairSrc: () => DataFrame, what: String,
      txn: Option[(String, Long)], txnExpected: (String, Long),
      propsAdd: Map[String, String] = Map.empty,
      propsExpected: Map[String, String] = Map.empty): Long = {
    // the ONE evaluation of the change feed this refresh makes: the delta
    // aggregate, each distinct helper's delta, the NULL-group refusal and
    // the MERGE's own probe and cache all read this column-pruned copy
    val valueCols = (colsOf(props, SumColsKey) ++ colsOf(props, MinMaxColsKey) ++
      distinctsIn(props).flatten).distinct
    val keyedChg = keyed(
      applyWhere(chg, props.get(WhereKey).filter(_.nonEmpty), what),
      colsOf(props, GroupByKey), groupExprsIn(props),
      valueCols :+ "_change_type").cache()
    try mergeKeyed(spark, mvPath, props, keyedChg, repairSrc, what, txn,
      txnExpected, propsAdd, propsExpected)
    finally keyedChg.unpersist()
  }

  /** [[mergeDelta]]'s body over the cached, keyed change feed. */
  private def mergeKeyed(spark: SparkSession, mvPath: String,
      props: Map[String, String], keyedChg: DataFrame,
      repairSrc: () => DataFrame, what: String,
      txn: Option[(String, Long)], txnExpected: (String, Long),
      propsAdd: Map[String, String],
      propsExpected: Map[String, String]): Long = {
    val groupBy = colsOf(props, GroupByKey)
    val sumCols = colsOf(props, SumColsKey)
    val minMaxCols = colsOf(props, MinMaxColsKey)
    val distincts = distinctsIn(props)
    val nnCols = (sumCols ++ minMaxCols).distinct
    val where = props.get(WhereKey).filter(_.nonEmpty)
    val isIns = col("_change_type") === "insert"
    val sign = when(isIns, lit(1L)).otherwise(lit(-1L))
    def ins(c: String): Column = when(isIns, col(c)) // else null: min/max skip
    def del(c: String): Column = when(!isIns, col(c))
    val exprOf = groupExprsIn(props)
    val delta0 = keyedChg
      .groupBy(groupBy.map(col): _*)
      .agg(sum(sign).as("d_count"),
        (sumCols.map(c => sum(sign * col(c)).as(s"d_$c")) ++
          minMaxCols.flatMap(c => Seq(
            min(ins(c)).as(s"imin_$c"), max(ins(c)).as(s"imax_$c"),
            min(del(c)).as(s"dmin_$c"), max(del(c)).as(s"dmax_$c"))) ++
          // non-null contribution delta: NULL values move the row count
          // but never the aggregates — tracked so a merged aggregate can
          // return to SQL-NULL when its last non-null contribution leaves
          nnCols.map(c =>
            sum(when(col(c).isNotNull, sign).otherwise(lit(0L))).as(s"dnn_$c"))): _*)
      // a group whose inserts and deletes cancel exactly contributes
      // nothing — dropping it keeps the MERGE's CoW selection tight.
      // (For MIN/MAX, equal insert/delete extremes with zero count and nn
      // movement mean the extremum value is still present: droppable.)
      .filter(col("d_count") =!= 0L ||
        (sumCols.map(c => coalesce(col(s"d_$c"), lit(0)) =!= lit(0)) ++
          minMaxCols.flatMap(c => Seq(
            !(col(s"imin_$c") <=> col(s"dmin_$c")),
            !(col(s"imax_$c") <=> col(s"dmax_$c")))) ++
          nnCols.map(c => col(s"dnn_$c") =!= 0L))
          .foldLeft(lit(false))(_ || _))
    // COUNT(DISTINCT) maintenance: per column, fold the per-(group, value)
    // signed delta into the HELPER (occurrence counts; rows at zero leave),
    // then recount each TOUCHED group's live helper rows — the new exact
    // ndv. Runs BEFORE the view merge so a crash between the two replays
    // cleanly: the helper may be one refresh AHEAD of the view (its merge
    // then skips via the txn watermark), never behind. A value-swap that
    // cancels in every other aggregate (delete c=1, insert c=2, same
    // count) still moves the distinct count, so touched groups UNION into
    // the delta (outer join; fills keep the fold arithmetic intact).
    val ndvFrames: Seq[DataFrame] = distincts.map { t =>
      val nm = t.mkString("_")
      val hp = distinctHelperPath(mvPath, t)
      val h0 = VersionedTable.lastTxn(spark, hp, App).getOrElse(
        throw new IllegalStateException(
          s"$hp carries no ${App} watermark — run a FULL refresh"))
      val hDelta = keyedChg.filter(t.map(col(_).isNotNull).reduce(_ && _))
        .groupBy((groupBy ++ t).map(col): _*)
        .agg(sum(sign).as("d_cnt"))
        .filter(col("d_cnt") =!= 0L)
      val target = txn.map(_._2)
      // JOIN views: the helper's own pin copy is the DIM pass's
      // idempotence token (txn = None there — no fact-watermark move to
      // replay-guard on). A crash between the helper fold and the view
      // merge leaves the helper's pins AHEAD; the replay detects the
      // already-advanced pins and skips, mirroring the fact pass's
      // watermark skip. Both passes CAS the helper on the same expected
      // pin encoding the view merge CASes on.
      val hProps =
        if (propsAdd.isEmpty && propsExpected.isEmpty) Map.empty[String, String]
        else VersionedTable.propertiesOf(spark, hp)
      val pinApplied = propsAdd.nonEmpty &&
        propsAdd.forall { case (k, pv) => hProps.get(k).contains(pv) }
      if (target.exists(h0 >= _) || (txn.isEmpty && pinApplied)) {
        // already applied by a crashed prior attempt — the view merge
        // below is the half that still needs to land
      } else {
        require(h0 == txnExpected._2,
          s"$hp watermark $h0 out of step with the view's " +
            s"${txnExpected._2} — run REFRESH ... FULL to rebuild")
        require(propsExpected.forall { case (k, pv) =>
            hProps.get(k).contains(pv) },
          s"$hp dim pins out of step with the view's — run REFRESH ... " +
            "FULL to rebuild")
        val curH = VersionedTable.read(spark, hp)
          .select((groupBy ++ t :+ HelperCntCol).map(col): _*)
        val mergedH = hDelta.join(curH, groupBy ++ t, "left")
          .select((groupBy ++ t).map(col) ++ Seq(
            (coalesce(col(HelperCntCol), lit(0L)) + col("d_cnt"))
              .as(HelperCntCol)): _*)
        val prevFence = VersionedTable.mvMaintenance.get()
        VersionedTable.mvMaintenance.set(true)
        try VersionedTable.upsert(mergedH, hp, keys = groupBy ++ t,
          evolveSchema = false, latestBy = None, statsCols = groupBy,
          txn = txn.map { case (a, v) => (a, v) },
          deleteWhere = Some(col(HelperCntCol) === 0L),
          guardBy = None,
          txnExpected = Some(txnExpected._1 -> h0),
          propsAdd = propsAdd,
          propsExpected = propsExpected)
        finally VersionedTable.mvMaintenance.set(prevFence)
      }
      // exact new ndv per touched group, from the helper's LIVE rows
      // (groups whose values all left produce no row → 0 via the fill)
      val tKeys = hDelta.select(groupBy.map(col): _*).distinct()
      val recount = VersionedTable.read(spark, hp)
        .join(broadcast(tKeys), groupBy)
        .groupBy(groupBy.map(col): _*)
        .agg(count(lit(1)).as(s"r_ndv_$nm"))
      tKeys.join(recount, groupBy, "left")
        .select(groupBy.map(col) ++ Seq(
          coalesce(col(s"r_ndv_$nm"), lit(0L)).as(s"r_ndv_$nm"),
          lit(true).as(s"t_ndv_$nm")): _*)
    }
    val delta = ndvFrames.foldLeft(delta0) { (d, h) =>
      val joinedD = d.join(h, groupBy, "full_outer")
      // groups touched ONLY in distinct space enter with null fold inputs:
      // zero-fill the ones the merged select reads un-coalesced
      nnCols.foldLeft(
        joinedD.withColumn("d_count", coalesce(col("d_count"), lit(0L)))) {
        (dd, c) => dd.withColumn(s"dnn_$c", coalesce(col(s"dnn_$c"), lit(0L)))
      }
    }
    refuseNullGroups(delta, groupBy, what)
    val viewCols = Seq(CountCol) ++ sumCols.map(sumColName) ++
      minMaxCols.flatMap(c => Seq(minColName(c), maxColName(c))) ++
      nnCols.map(nnColName) ++ distincts.map(ndvColName)
    val curView = VersionedTable.read(spark, mvPath).select(
      (groupBy ++ viewCols).map(col): _*)
    def nnNew(c: String): Column =
      coalesce(col(nnColName(c)), lit(0L)) + col(s"dnn_$c")
    // a stored MIN is lost when a delete reaches it and no insert ties or
    // beats it (an insert BELOW the deleted extremum makes the fold exact
    // again); symmetric for MAX — only those groups pay a source scan
    def lostMin(c: String): Column =
      (col(s"dmin_$c") <=> col(minColName(c))) && col(minColName(c)).isNotNull &&
        (col(s"imin_$c").isNull || col(s"imin_$c") > col(s"dmin_$c"))
    def lostMax(c: String): Column =
      (col(s"dmax_$c") <=> col(maxColName(c))) && col(maxColName(c)).isNotNull &&
        (col(s"imax_$c").isNull || col(s"imax_$c") < col(s"dmax_$c"))
    val repairFlag =
      if (minMaxCols.isEmpty) lit(false)
      else minMaxCols.flatMap(c => Seq(lostMin(c), lostMax(c)))
        .reduce(_ || _) && (coalesce(col(CountCol), lit(0L)) + col("d_count")) > 0L
    val joined = delta.join(curView, groupBy, "left")
      .withColumn("__graft_repair", repairFlag)
    // the no-repair shape still carries the repair columns (null) so the
    // merged select below resolves identically on both paths
    def noRepair(df: DataFrame): DataFrame =
      minMaxCols.foldLeft(df.withColumn("__graft_repaired", lit(false))) {
        (d, c) =>
          val dt = curView.schema(minColName(c)).dataType
          d.withColumn(s"rmin_$c", lit(null).cast(dt))
            .withColumn(s"rmax_$c", lit(null).cast(dt))
      }
    val withRepair =
      if (minMaxCols.isEmpty) joined
      else {
        val keys = joined.filter(col("__graft_repair"))
          .select(groupBy.map(col): _*)
        if (keys.isEmpty) noRepair(joined)
        else {
          repairScans.incrementAndGet()
          // recompute ONLY the affected groups from the refresh's TARGET
          // state, through a key-filtered scan
          val rep = keyed(applyWhere(repairSrc(), where, what),
              groupBy, exprOf, minMaxCols)
            .join(broadcast(keys), groupBy)
            .groupBy(groupBy.map(col): _*)
            .agg(min(col(minMaxCols.head)).as(s"rmin_${minMaxCols.head}"),
              (Seq(max(col(minMaxCols.head)).as(s"rmax_${minMaxCols.head}")) ++
                minMaxCols.tail.flatMap(c => Seq(min(col(c)).as(s"rmin_$c"),
                  max(col(c)).as(s"rmax_$c")))): _*)
            .withColumn("__graft_repaired", lit(true))
          joined.join(rep, groupBy, "left")
            .withColumn("__graft_repaired",
              coalesce(col("__graft_repaired"), lit(false)))
        }
      }
    val merged = withRepair.select(groupBy.map(col) ++ Seq(
        (coalesce(col(CountCol), lit(0L)) + col("d_count")).as(CountCol)) ++
        sumCols.map { c =>
          val dt = curView.schema(sumColName(c)).dataType
          val zero = lit(0).cast(dt)
          when(nnNew(c) === 0L, lit(null).cast(dt))
            .otherwise((coalesce(col(sumColName(c)), zero) +
              coalesce(col(s"d_$c"), zero)).cast(dt))
            .as(sumColName(c))
        } ++
        minMaxCols.flatMap { c =>
          val dt = curView.schema(minColName(c)).dataType
          def pick(repaired: String, folded: Column) =
            when(nnNew(c) === 0L, lit(null).cast(dt))
              .otherwise(when(col("__graft_repaired"), col(repaired))
                .otherwise(folded))
          Seq(
            pick(s"rmin_$c", least(col(minColName(c)), col(s"imin_$c")))
              .as(minColName(c)),
            pick(s"rmax_$c", greatest(col(maxColName(c)), col(s"imax_$c")))
              .as(maxColName(c)))
        } ++
        nnCols.map(c => nnNew(c).as(nnColName(c))) ++
        // touched groups take the helper recount; untouched keep their
        // stored ndv (new groups are always touched when they carry any
        // non-null value; an all-null newcomer is correctly 0)
        distincts.map { t =>
          val nm = t.mkString("_")
          when(col(s"t_ndv_$nm"), col(s"r_ndv_$nm"))
            .otherwise(coalesce(col(ndvColName(t)), lit(0L)))
            .as(ndvColName(t))
        }: _*)
    // the view-content write fence opens only for the refresh itself —
    // every other mutator on the view path refuses (derived content).
    // Saved/restored, not cleared: an auto-refresh chained off THIS
    // upsert's hook (a view over a view) must not drop the outer bypass
    val prev = VersionedTable.mvMaintenance.get()
    VersionedTable.mvMaintenance.set(true)
    try VersionedTable.upsert(merged, mvPath, keys = groupBy,
      evolveSchema = false, latestBy = None, statsCols = groupBy,
      txn = txn,
      deleteWhere = Some(col(CountCol) === 0L),
      guardBy = None,
      // atomic with the commit: the delta was computed from the given
      // watermark (and, for join views, the given pins) — it may land
      // only on a view still AT them
      txnExpected = Some(txnExpected),
      propsAdd = propsAdd,
      propsExpected = propsExpected)
    finally VersionedTable.mvMaintenance.set(prev)
  }

  /** FULL refresh: recompute the whole aggregate from the source's head
    * snapshot and REPLACE the view's content in one snapshot commit — the
    * recovery verb for when the incremental path is gone: the source's
    * history was VACUUMed past the view's watermark (changes() needs the
    * old manifests and throws), or an operator suspects drift. The commit
    * carries the same (App, sourceVersion) txn marker as an incremental
    * refresh, so it is exactly-once under replay and the rewrite's
    * freshness gate re-arms on it; a view already AT the source head is a
    * txn-replay no-op. Costs O(source) — the thing incremental refresh
    * exists to avoid — so it is a deliberate verb, never a fallback the
    * engine takes silently. */
  def fullRefresh(spark: SparkSession, mvPath: String): Long = {
    val props = VersionedTable.propertiesOf(spark, mvPath)
    val src = props.getOrElse(SourceKey, throw new IllegalArgumentException(
      s"$mvPath is not a materialized view (no $SourceKey property)"))
    require(!props.contains(HelperOfKey),
      s"$mvPath is an internal distinct-value helper of $src — " +
        "REFRESH the view itself; its refresh maintains the helper")
    val groupBy = colsOf(props, GroupByKey)
    val sumCols = colsOf(props, SumColsKey)
    val minMaxCols = colsOf(props, MinMaxColsKey)
    val distincts = distinctsIn(props)
    val exprOf = groupExprsIn(props)
    val where = props.get(WhereKey).filter(_.nonEmpty)
    val partitionBy = colsOf(props, PartitionByKey)
    val v1 = VersionedTable.latestVersion(spark, src).getOrElse(
      throw new IllegalArgumentException(s"$src has no committed versions"))
    // JOIN views: FULL refresh is the dim-moved recovery verb — re-pin
    // every dim's HEAD (re-validating the uniqueness/collision contract,
    // chain-ordered) and rebuild against them
    val storedJoins = joinsIn(props)
    val rePinned = if (storedJoins.isEmpty) Nil
      else pinAndValidate(spark, src,
        storedJoins.map { case (d, k, _) => (d, k) },
        s"full refresh of $mvPath")
    def withDim(fact: DataFrame): DataFrame = joinAll(spark, fact, rePinned)
    val snap = applyWhere(withDim(VersionedTable.read(spark, src, Some(v1))),
      where, s"full refresh of $mvPath")
    val agg = aggFrame(keyed(snap, groupBy, exprOf,
      (sumCols ++ minMaxCols ++ distincts.flatten).distinct), groupBy,
      sumCols, minMaxCols, distincts)
    refuseNullGroups(agg, groupBy, s"full refresh of $mvPath")
    // the re-pinned dim versions, in the stored encoding — landed on the
    // view AND on every helper (whose own pin copy is the dim pass's
    // idempotence token)
    val pinAdd = pinPropsOf(rePinned)
    // distinct HELPERS rebuild FIRST (each replay-safe under the same
    // (App, v1) txn): a crash between a helper and the view leaves the
    // helper AHEAD, which the incremental path detects and skips — the
    // reverse order would leave it BEHIND, which nothing could repair
    // short of another FULL refresh. A helper at the fact watermark but
    // on STALE pins (dim moved, fact didn't) rebuilds too — without a
    // txn marker, like the view's own pin-stale commit below.
    distincts.foreach { t =>
      val hp = distinctHelperPath(mvPath, t)
      val hWm = VersionedTable.lastTxn(spark, hp, App)
      val hPinFresh = pinAdd.forall { case (k, pv) =>
        VersionedTable.propertiesOf(spark, hp).get(k).contains(pv) }
      if (!hWm.exists(_ >= v1) || !hPinFresh) {
        val prevH = VersionedTable.mvMaintenance.get()
        VersionedTable.mvMaintenance.set(true)
        try VersionedTable.insert(
          helperFrame(snap, groupBy, exprOf, t), hp, overwrite = true,
          statsCols = groupBy,
          txn = if (hWm.exists(_ >= v1)) None else Some(App -> v1),
          propsAdd = Map(
            SourceKey -> mvPath, HelperOfKey -> t.mkString("|")) ++ pinAdd)
        finally VersionedTable.mvMaintenance.set(prevH)
      }
    }
    // replay/no-op accounting must consider BOTH cursors: the fact
    // watermark (the txn map) and, for join views, the dim pin. A view
    // already at the fact head with a fresh pin is the no-op; at the fact
    // head with a STALE pin (dim moved, fact didn't) the commit must land
    // anyway — the fact-version batchId alone would replay-no-op — so it
    // goes in WITHOUT a txn marker (the watermark carries unchanged).
    val wm = VersionedTable.lastTxn(spark, mvPath, App)
    val pinFresh = rePinned.forall { case (dim, _, dimV) =>
      storedJoins.exists(j => j._1 == dim && j._3 == dimV) }
    if (wm.contains(v1) && pinFresh)
      return VersionedTable.latestVersion(spark, mvPath).get
    val prev = VersionedTable.mvMaintenance.get()
    VersionedTable.mvMaintenance.set(true)
    // the re-pinned dim versions land IN the snapshot commit — a separate
    // props commit would leave a crash window where the content (built
    // against the new dims) and the pins (still the old ones) disagree
    try VersionedTable.insert(agg, mvPath, overwrite = true,
      statsCols = groupBy, partitionBy = partitionBy,
      txn = if (wm.exists(_ >= v1)) None else Some(App -> v1),
      propsAdd = pinAdd)
    finally VersionedTable.mvMaintenance.set(prev)
  }

  /** Predicate helper for deleteWhere-style callers/tests. */
  def dead: Column = col(CountCol) === 0L

  /** STREAMING maintenance: a long-running query that refreshes the view
    * whenever the source commits — the continuous sibling of the
    * `graft.mv.autoRefresh` hook for sources written by OTHER processes.
    *
    * Shape: a change-feed stream on the source acts purely as a
    * CHANGE-DETECTION TRIGGER with the source's own rate control
    * (`maxVersionsPerTrigger` etc. via the format's offset machinery);
    * the foreachBatch sink never touches the batch DataFrame, so the
    * trigger stream reads ZERO data — [[refresh]] pulls its own diff,
    * and its manifest-txn watermark makes each application exactly-once
    * REGARDLESS of Spark's batch replay (a re-delivered trigger is the
    * versions-never-rewind no-op). The stream starts at the view's
    * current watermark, so history already folded into the view is never
    * re-listed. Change-feed mode matters: a plain stream refuses
    * non-append commits, and DELETE/UPDATE are exactly the commits a
    * view must see.
    *
    * JOIN views watch their DIMENSIONS too: each pinned dim contributes
    * its own change-feed trigger (starting at the pin), unioned into the
    * one query as zero-data tick frames — a dim commit now triggers the
    * same refresh(), whose dim-delta pass folds it in incrementally. A
    * later FULL refresh re-pins without restarting the stream (the feeds
    * are triggers, not state — refresh always pulls its own diff).
    *
    * `Trigger.AvailableNow` drains the backlog and stops (the scheduled
    * catch-up shape); `Trigger.ProcessingTime` keeps the view
    * continuously fresh. */
  def maintainStream(spark: SparkSession, mvPath: String,
      checkpointLocation: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val props = VersionedTable.propertiesOf(spark, mvPath)
    val src = props.getOrElse(SourceKey, throw new IllegalArgumentException(
      s"$mvPath is not a materialized view (no $SourceKey property)"))
    val wm = VersionedTable.lastTxn(spark, mvPath, App).getOrElse(
      throw new IllegalStateException(s"$mvPath carries no $App watermark"))
    // the sink never touches the rows, so every feed projects to one
    // literal column — schemas align for the union and ZERO data is read
    def tick(path: String, from: Long): DataFrame =
      spark.readStream.format("graft-table")
        .option("readChangeFeed", "true")
        .option("startingVersion", from.toString)
        .load(path)
        .select(org.apache.spark.sql.functions.lit(1).as("tick"))
    val feeds = joinsIn(props).foldLeft(tick(src, wm)) {
      case (f, (dim, _, pin)) => f.unionByName(tick(dim, pin))
    }
    feeds
      .writeStream
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        refresh(spark, mvPath); ()
      }
      .start()
  }
}
