package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.GraftBatchShim
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, DoubleType, IntegerType, LongType, ShortType}

/** EAGER AGGREGATION (Yan & Larson's eager group-by): push a partial
  * aggregate below a star join —
  *
  * {{{ SELECT d.g, COUNT(*), SUM(f.v)
  *     FROM fact f JOIN dim d ON f.fk = d.pk GROUP BY d.g }}}
  *
  * becomes `(SELECT fk, COUNT(*) c, SUM(v) s FROM fact GROUP BY fk) ⋈ dim`
  * re-aggregated by `d.g` — the join's fact side shrinks from O(fact
  * rows) to O(distinct join keys) BEFORE the shuffle/broadcast, which at
  * 100 TB is the difference between shuffling the fact and shuffling a
  * rollup of it.
  *
  * MULTI-JOIN STARS: the fact side is found by DESCENDING the join tree —
  * `fact ⋈ dim1 ⋈ dim2 GROUP BY d1.g, d2.h` pre-aggregates the fact on
  * (fk1, fk2) below BOTH joins, whatever association order the optimizer
  * chose. Replication distributes through each join level identically for
  * the partial and for the raw rows (by induction on the path), so the
  * single-join exactness argument carries level by level. The descent
  * follows the side holding every aggregate input; joins off the path
  * (snowflaked dims) stay opaque.
  *
  * EXACTNESS needs no uniqueness or integrity: a fact row that joins k
  * dim rows contributes its values to k (dim-side) groups, and so does
  * its partial — replication distributes over COUNT-as-SUM, SUM, MIN and
  * MAX. What it does need:
  *  - INNER joins along the fact path (null-keyed fact rows drop
  *    identically on both shapes), LEFT joins with the fact on the LEFT,
  *    or RIGHT joins with the fact on the RIGHT — the spelling BI tools
  *    emit when the fact is written second (an unmatched fact row and its
  *    unmatched partial surface the same null-dim-group row; the fact on
  *    an outer join's preserved-null side is declined — COUNT(*) counts
  *    unmatched preserved rows a null partial would skip). The fact ARM
  *    may itself be a LeftSemi/LeftAnti join: semi/anti only FILTER fact
  *    rows, so the partial plants above them (aggregate-after-filter),
  *    below the dim joins;
  *  - every aggregate input from ONE side (the fact), as COUNT(*)/
  *    COUNT(col)/SUM(integral|decimal)/MIN/MAX/AVG(integral|decimal) —
  *    float/double SUM and AVG decline (re-associating float partials is
  *    not bit-exact). DECIMAL partial sums re-associate exactly — the
  *    re-sum carries 10 extra digits (Spark's own two-phase aggregation
  *    makes the same re-association with the same headroom) and casts
  *    back to the original SUM type, going NULL on overflow exactly where
  *    the unrewritten SUM would. AVG decomposes into exact SUM + COUNT
  *    partials, recombined with the same Divide/cast tree
  *    [[Average.evaluateExpression]] builds — for integral inputs the
  *    decomposed sum is EXACT (long), where the original accumulates in
  *    double: values agree whenever the total is double-representable
  *    (≤2^53), beyond which the original is itself order-nondeterministic;
  *  - the join conditions' fact-side references and the fact-side group
  *    columns all become partial group keys;
  *  - a grouped aggregate (the global COUNT over an empty join would
  *    come back NULL from a SUM re-aggregate).
  *
  * COST GATE: eager aggregation only helps when the partial collapses
  * many rows, so the rule fires only on a PROVEN key-cardinality bound
  * under `spark.graft.eagerAgg.maxKeyRatio` (default 0.5) of the
  * manifest row count — no bound, no transform (the same exact-or-
  * decline posture as every other graft rule). Three bound sources, so
  * un-ANALYZE'd tables still qualify when other validated state already
  * proves the cardinality:
  *  1. ANALYZE'd NDV sketches, per key, product-bounded;
  *  2. a validated FOREIGN KEY pin on a key (at this exact snapshot):
  *     the fact's key values are drawn from the pinned dim's key set, so
  *     NDV(key) ≤ dim live rows + 1 (a possible null group);
  *  3. a registered materialized view over this table — unfiltered,
  *     join-free, plain-column groups covering every partial key, its
  *     watermark AT this snapshot: its group count IS the distinct count
  *     of its group tuple, which bounds the partial key tuple from above
  *     (fewer columns, coarser tuples). Bounds the TUPLE directly, so it
  *     fires where a per-key product would overshoot.
  * Fixpoint-safe: the
  * rewritten fact side is an Aggregate, which the fact-side walk
  * refuses. Runs AFTER the MV rewrite and join elimination in the
  * extension list, so strictly-better transforms win. Disable with
  * `spark.graft.eagerAgg.enabled=false`.
  */
case class GraftEagerAggregation(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private def enabled: Boolean = spark.sessionState.conf
    .getConfString("spark.graft.eagerAgg.enabled", "true").toBoolean

  private def maxKeyRatio: Double = spark.sessionState.conf
    .getConfString("spark.graft.eagerAgg.maxKeyRatio", "0.5").toDouble

  /** How deep the fact path may descend through the join tree — far above
    * any sane star (fact ⋈ 6 dims associated worst-case), just a cycle
    * guard. */
  private val MaxDepth = 6

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      // column pruning may interpose attribute-only Projects — the outer
      // aggregate references only its own attrs, all still present on the
      // join output, so they drop from the rewritten shape
      case agg @ Aggregate(groups, aggs, child, _) if groups.nonEmpty =>
        stripProjects(child) match {
          case j: Join => rewrite(groups, aggs, j).getOrElse(agg)
          case _ => agg
        }
    }
  }

  private def stripProjects(plan: LogicalPlan): LogicalPlan = plan match {
    case Project(items, child)
        if items.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(child)
    case other => other
  }

  /** (relation node, ndv per column name, live row count) of the fact
    * relation under attribute-only projects / filters / semi-anti joins
    * (semi/anti only REMOVE rows, like a Filter — the recorded live count
    * then over-states the rows, which can only make the gate stricter).
    * Aggregates (including our own rewrite's partial) refuse the walk —
    * fixpoint safety. */
  private def factStats(plan: LogicalPlan)
      : Option[(LogicalPlan, String => Option[Long], Long)] =
    GraftBatchShim.ndvStatsOf(plan)
      .map { case (ndvOf, rows) => (plan, ndvOf, rows) }
      .orElse(plan match {
        case Project(items, child)
            if items.forall(_.isInstanceOf[AttributeReference]) =>
          factStats(child)
        case Filter(_, child) => factStats(child)
        case Join(l, _, LeftSemi | LeftAnti, _, _) => factStats(l)
        case _ => None
      })

  private sealed trait Agg
  private case class CountStar(id: ExprId, name: String) extends Agg
  private case class CountCol(id: ExprId, name: String,
      a: AttributeReference) extends Agg
  private case class SumCol(id: ExprId, name: String,
      a: AttributeReference, dt: DataType) extends Agg
  private case class MinCol(id: ExprId, name: String,
      a: AttributeReference) extends Agg
  private case class MaxCol(id: ExprId, name: String,
      a: AttributeReference) extends Agg
  private case class AvgCol(id: ExprId, name: String,
      a: AttributeReference, dt: DataType) extends Agg
  private case class GroupRef(a: AttributeReference) extends Agg

  private def isExactIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def rewrite(groups: Seq[Expression], aggs: Seq[NamedExpression],
      j: Join): Option[LogicalPlan] = {
    // group columns must be plain attributes of some side
    val groupAttrs = groups.map {
      case a: AttributeReference => a
      case _ => return None
    }
    // classify outputs; each aggregate input must be a plain attribute —
    // fact-side membership is established by the descent (the chosen path
    // must carry every one of them)
    val outs: Seq[Agg] = aggs.map {
      case a: AttributeReference => GroupRef(a)
      case al @ Alias(AggregateExpression(Count(Seq(l: Literal)), _, false, None, _), n)
          if l.value != null =>
        CountStar(al.exprId, n)
      case al @ Alias(AggregateExpression(Count(Seq(a: AttributeReference)), _, false, None, _), n) =>
        CountCol(al.exprId, n, a)
      case al @ Alias(AggregateExpression(Sum(a: AttributeReference, em), _, false, None, _), n)
          if em.evalMode != EvalMode.TRY &&
            (al.dataType == LongType || al.dataType.isInstanceOf[DecimalType]) =>
        // TRY declines: a try_sum partial that overflowed to NULL would be
        // SKIPPED by the re-sum (a wrong value, not a NULL)
        SumCol(al.exprId, n, a, al.dataType)
      case al @ Alias(AggregateExpression(Min(a: AttributeReference), _, false, None, _), n) =>
        MinCol(al.exprId, n, a)
      case al @ Alias(AggregateExpression(Max(a: AttributeReference), _, false, None, _), n) =>
        MaxCol(al.exprId, n, a)
      // AVG decomposes into exact SUM + COUNT(non-null) partials. LEGACY
      // and ANSI only (overflow surfaces as null/throw identically from
      // the re-sum's cast; TRY nulls at a different granularity —
      // declined), and only exact input types: integral (long partial
      // sum) or decimal (the partial sum IS Average's own sumDataType).
      case al @ Alias(AggregateExpression(Average(a: AttributeReference, em), _, false, None, _), n)
          if em != EvalMode.TRY &&
            (isExactIntegral(a.dataType) || a.dataType.isInstanceOf[DecimalType]) =>
        AvgCol(al.exprId, n, a, al.dataType)
      case _ => return None
    }
    if (!outs.exists(o => !o.isInstanceOf[GroupRef])) return None
    val aggInputs = AttributeSet(outs.collect {
      case CountCol(_, _, a) => a
      case SumCol(_, _, a, _) => a
      case MinCol(_, _, a) => a
      case MaxCol(_, _, a) => a
      case AvgCol(_, _, a, _) => a
    })
    // every group column must come out of the join
    if (!groupAttrs.forall(j.outputSet.contains)) return None
    plant(j, Nil, groupAttrs, aggInputs, outs, MaxDepth)
      .map { case (newChild, pAttr) =>
        Aggregate(groupAttrs, reAggregate(outs, pAttr), newChild)
      }
  }

  /** Descend the join tree along the fact path, planting the partial
    * aggregate at the fact leaf and rebuilding the joins above it.
    * `keys` accumulates the fact-side attributes every enclosing join
    * condition references — they become partial group keys so the
    * rebuilt conditions keep binding (original attribute ids pass
    * through the partial). */
  private def plant(plan: LogicalPlan, keys: Seq[AttributeReference],
      groupAttrs: Seq[AttributeReference], aggInputs: AttributeSet,
      outs: Seq[Agg], depth: Int, descended: Boolean = false)
      : Option[(LogicalPlan, Map[ExprId, Seq[Attribute]])] = {
    if (depth <= 0) return None
    // leaf attempt: a graft relation with a proven key bound (under
    // projects/filters/semi-anti arms) holding every aggregate input and
    // every accumulated key — but ONLY after descending through at least
    // one join: a partial planted at the root of the descent is the
    // identity split (the same grouping, nothing pushed below anything),
    // which over a semi-arm fact (itself a Join the rule can match)
    // would re-split its own partial forever
    if (descended && aggInputs.subsetOf(plan.outputSet) &&
        keys.forall(plan.outputSet.contains)) {
      factStats(plan) match {
        case Some((node, ndvOf, liveRows)) =>
          return buildPartial(plan, keys, groupAttrs, outs, node, ndvOf,
            liveRows)
        case None => ()
      }
    }
    plan match {
      case Join(l, r, jt, Some(cond), hint)
          if (jt == Inner || jt == LeftOuter || jt == RightOuter) &&
            cond.deterministic =>
        // candidate fact sides: both for INNER; only the PRESERVED side
        // for outer joins (an unmatched preserved row must keep counting,
        // which a null partial on the other side would skip)
        val sides: Seq[Boolean] = jt match {
          case Inner => Seq(true, false)
          case LeftOuter => Seq(true)
          case _ => Seq(false) // RightOuter: the fact is on the RIGHT
        }
        sides.iterator.flatMap { onLeft =>
          val (side, other) = if (onLeft) (l, r) else (r, l)
          if (!aggInputs.subsetOf(side.outputSet)) None
          else {
            // enclosing keys must all route to one side or the other;
            // those on the fact side descend, the rest pass through above
            val (mine, theirs) = keys.partition(side.outputSet.contains)
            if (!theirs.forall(other.outputSet.contains)) None
            else {
              val condKeys = cond.references.toSeq.collect {
                case a: AttributeReference if side.outputSet.contains(a) => a
              }
              plant(side, dedup(mine ++ condKeys), groupAttrs, aggInputs,
                outs, depth - 1, descended = true)
                .map { case (newSide, pAttr) =>
                val nj = if (onLeft) Join(newSide, other, jt, Some(cond), hint)
                         else Join(other, newSide, jt, Some(cond), hint)
                (nj, pAttr)
              }
            }
          }
        }.nextOption()
      case Project(items, child)
          if items.forall(_.isInstanceOf[AttributeReference]) =>
        plant(child, keys, groupAttrs, aggInputs, outs, depth - 1, descended)
      case _ => None
    }
  }

  private def dedup(as: Seq[AttributeReference]): Seq[AttributeReference] =
    as.groupBy(_.exprId).map(_._2.head).toSeq

  /** The partial aggregate at the fact leaf: keys pass through with their
    * ORIGINAL attribute ids (every rebuilt join condition keeps binding);
    * each output's partial aliases map back through `pAttr`. */
  /** The cost gate: true when the partial keys' distinct count is PROVEN
    * ≤ `budget`. Per-key bounds multiply (sketch NDV, else a validated FK
    * pin at this exact snapshot: key values ⊆ pinned dim's key set, so
    * NDV ≤ dim live rows + 1 for a null group); when the product path
    * fails, a registered covering view bounds the whole tuple by its
    * group count. A wrong decline costs a missed optimization, never
    * correctness — but every bound here is exact, not an estimate. */
  private def gateHolds(factKeys: Seq[AttributeReference],
      relNode: LogicalPlan, ndvOf: String => Option[Long],
      budget: Double): Boolean = {
    lazy val fkBound: Map[String, Long] =
      GraftBatchShim.fkInfoOf(relNode) match {
        case Some((_, snapV, raw)) =>
          raw.flatMap(graft.sources.ForeignKeys.parse)
            .filter(d => d.factPin == snapV && d.fkCols.size == 1)
            .flatMap { d =>
              scala.util.Try(graft.sources.VersionedTable.countRows(
                spark, d.dimPath, Some(d.dimPin))).toOption
                .map(n => d.fkCols.head -> (n + 1L))
            }.toMap
        case None => Map.empty
      }
    val perKey = factKeys.map(k => ndvOf(k.name).orElse(fkBound.get(k.name)))
    val productOk = perKey.forall(_.isDefined) && {
      var p = 1.0
      perKey.flatten.forall { n =>
        p *= math.max(1L, n).toDouble; p <= budget
      }
    }
    productOk || viewTupleBound(relNode, factKeys).exists(_ <= budget)
  }

  /** Group count of a registered materialized view that PROVES the key
    * tuple's cardinality: the view must be unfiltered and join-free (its
    * groups then partition exactly this table's rows), group by plain
    * columns covering every partial key (a coarser tuple never has more
    * distinct values), and its watermark must equal the relation's pinned
    * snapshot (the group count describes exactly this data). */
  private def viewTupleBound(relNode: LogicalPlan,
      factKeys: Seq[AttributeReference]): Option[Long] = {
    import graft.sources.{MaterializedView => MV, VersionedTable => VT}
    GraftBatchShim.mvRewriteInfoOf(relNode).flatMap { case (views, snapV) =>
      views.iterator.flatMap { mv =>
        scala.util.Try {
          val props = VT.propertiesOf(spark, mv)
          val groupBy = props.get(MV.GroupByKey).toSeq
            .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).toSet
          val derived = MV.groupExprsIn(props).keySet
          val covers = factKeys.forall(k =>
            groupBy.contains(k.name) && !derived.contains(k.name))
          val plain = props.get(MV.WhereKey).forall(_.isEmpty) &&
            MV.joinsIn(props).isEmpty
          val fresh = VT.lastTxn(spark, mv, MV.App).contains(snapV)
          if (covers && plain && fresh) Some(VT.countRows(spark, mv)) else None
        }.toOption.flatten
      }.nextOption()
    }
  }

  private def buildPartial(factSide: LogicalPlan,
      keys: Seq[AttributeReference], groupAttrs: Seq[AttributeReference],
      outs: Seq[Agg], relNode: LogicalPlan,
      ndvOf: String => Option[Long], liveRows: Long)
      : Option[(LogicalPlan, Map[ExprId, Seq[Attribute]])] = {
    val factKeys = dedup(keys ++ groupAttrs.filter(factSide.outputSet.contains))
    if (factKeys.isEmpty) return None
    // COST GATE: a PROVEN cardinality bound for the partial keys, under
    // budget — sketches per key, FK-pin per key, or a covering view's
    // group count for the whole tuple (see the class doc)
    if (liveRows <= 0L) return None
    if (!gateHolds(factKeys, relNode, ndvOf, maxKeyRatio * liveRows))
      return None
    val pAliases: Seq[(Agg, Seq[Alias])] = outs.map {
      case o @ CountStar(_, _) =>
        o -> Seq(Alias(new Count(Seq(Literal(1)))
          .toAggregateExpression(), "p_cnt")())
      case o @ CountCol(_, _, a) =>
        o -> Seq(Alias(new Count(Seq(a)).toAggregateExpression(),
          s"p_nn_${a.name}")())
      case o @ SumCol(_, _, a, _) =>
        o -> Seq(Alias(new Sum(a).toAggregateExpression(),
          s"p_sum_${a.name}")())
      case o @ MinCol(_, _, a) =>
        o -> Seq(Alias(Min(a).toAggregateExpression(),
          s"p_min_${a.name}")())
      case o @ MaxCol(_, _, a) =>
        o -> Seq(Alias(Max(a).toAggregateExpression(),
          s"p_max_${a.name}")())
      case o @ AvgCol(_, _, a, _) =>
        o -> Seq(
          Alias(new Sum(a).toAggregateExpression(), s"p_asum_${a.name}")(),
          Alias(new Count(Seq(a)).toAggregateExpression(),
            s"p_acnt_${a.name}")())
      case o => o -> Nil
    }
    val partial = Aggregate(factKeys,
      factKeys ++ pAliases.flatMap(_._2), factSide)
    val pAttr: Map[ExprId, Seq[Attribute]] = pAliases.collect {
      case (o: CountStar, als) => o.id -> als.map(_.toAttribute)
      case (o: CountCol, als) => o.id -> als.map(_.toAttribute)
      case (o: SumCol, als) => o.id -> als.map(_.toAttribute)
      case (o: MinCol, als) => o.id -> als.map(_.toAttribute)
      case (o: MaxCol, als) => o.id -> als.map(_.toAttribute)
      case (o: AvgCol, als) => o.id -> als.map(_.toAttribute)
    }.toMap
    Some((partial, pAttr))
  }

  private def reAggregate(outs: Seq[Agg],
      pAttr: Map[ExprId, Seq[Attribute]]): Seq[NamedExpression] = {
    def reSum(a: Attribute): Expression = new Sum(a).toAggregateExpression()
    /** Re-summed partial cast back to the ORIGINAL output type: identity
      * for long, a precision-narrowing cast for decimal that goes NULL on
      * overflow exactly where the unrewritten SUM's CheckOverflowInSum
      * would (ANSI throws in both). */
    def reSumAs(a: Attribute, dt: DataType): Expression = {
      val s = reSum(a)
      if (s.dataType == dt) s else Cast(s, dt)
    }
    outs.map {
      case GroupRef(a) => a
      case CountStar(id, n) => Alias(reSum(pAttr(id).head), n)(exprId = id)
      case CountCol(id, n, _) => Alias(reSum(pAttr(id).head), n)(exprId = id)
      case SumCol(id, n, _, dt) =>
        Alias(reSumAs(pAttr(id).head, dt), n)(exprId = id)
      case MinCol(id, n, _) =>
        Alias(Min(pAttr(id).head).toAggregateExpression(), n)(exprId = id)
      case MaxCol(id, n, _) =>
        Alias(Max(pAttr(id).head).toAggregateExpression(), n)(exprId = id)
      case AvgCol(id, n, a, dt) =>
        val Seq(sumP, cntP) = pAttr(id)
        val cnt = reSum(cntP)
        // mirror Average.evaluateExpression's recombination tree so the
        // division/rounding semantics are the original's
        val e = a.dataType match {
          case d: DecimalType =>
            // Average's own sumDataType / LongDecimal divisor types
            val sumDT = DecimalType(math.min(d.precision + 10, 38), d.scale)
            Cast(Divide(reSumAs(sumP, sumDT),
              Cast(cnt, DecimalType(20, 0)), EvalMode.LEGACY), dt)
          case _ =>
            Divide(Cast(reSum(sumP), DoubleType), Cast(cnt, DoubleType),
              EvalMode.LEGACY)
        }
        Alias(e, n)(exprId = id)
    }
  }
}
