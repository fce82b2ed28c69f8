package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedTable

/** Top-k file pruning: ORDER BY c LIMIT k proves a manifest threshold and
  * the scan reads only the files that can still contribute — soundly
  * across directions and null orderings, declining on anything that would
  * invalidate the count. */
class TopKPruningSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("topk").toString

  /** Files the scan carrying `col` selects — descending into materialized
    * AQE query stages (QueryStageExec is a leaf plain collect stops at). */
  private def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] =
    p.collect {
      case s: FileSourceScanExec => Seq(s)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
    }.flatten

  private def filesRead(df: DataFrame, col: String): Long = {
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    scansIn(p).filter(_.output.exists(_.name == col))
      .map(_.selectedPartitions.totalNumberOfFiles).sum
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def withRuleOff[A](f: => A): A = {
    spark.conf.set("spark.graft.topk.enabled", "false")
    try f finally spark.conf.set("spark.graft.topk.enabled", "true")
  }

  test("ORDER BY LIMIT reads only contributing files, both directions") {
    val path = tmp() + "/t"
    // range-placed: 16 files, each a narrow band of k
    VersionedTable.write(
      spark.range(0, 65536).select(col("id").as("k"), col("id").as("v"))
        .repartitionByRange(16, col("k")),
      path, statsCols = Seq("k"))
    def t = VersionedTable.read(spark, path)
    val desc = t.orderBy(col("k").desc).limit(10)
    val descRows = rows(desc)
    assert(filesRead(desc, "v") < 16L && filesRead(desc, "v") >= 1L,
      "descending top-k must prune to the high band")
    val asc = t.orderBy(col("k").asc).limit(10)
    val ascRows = rows(asc)
    assert(filesRead(asc, "v") < 16L)
    withRuleOff {
      assert(rows(t.orderBy(col("k").desc).limit(10)) == descRows)
      assert(rows(t.orderBy(col("k").asc).limit(10)) == ascRows)
      assert(filesRead(t.orderBy(col("k").desc).limit(10), "v") == 16L)
    }
    // secondary sort keys ride along: pruning is on the FIRST key only
    val multi = t.orderBy(col("k").desc, col("v").asc).limit(7)
    assert(filesRead(multi, "v") < 16L)
    withRuleOff {
      assert(rows(t.orderBy(col("k").desc, col("v").asc).limit(7))
        == rows(multi))
    }
    // Project between Limit and Sort (orderBy then select) still fires
    val proj = t.orderBy(col("k").desc).select(col("v")).limit(5)
    assert(filesRead(proj, "v") < 16L)
    withRuleOff {
      assert(rows(t.orderBy(col("k").desc).select(col("v")).limit(5))
        == rows(proj))
    }
  }

  test("null orderings: NULLS FIRST keeps nulls, NULLS LAST prunes them") {
    val path = tmp() + "/n"
    // 8 value bands plus nulls concentrated in their own file
    val vals = spark.range(0, 4096)
      .select(col("id").as("pk"), col("id").cast("double").as("c"))
      .repartitionByRange(8, col("c"))
    val nulls = spark.range(4096, 4196)
      .select(col("id").as("pk"), lit(null).cast("double").as("c"))
      .repartition(1)
    VersionedTable.write(vals, path, statsCols = Seq("c"))
    VersionedTable.append(nulls, path, statsCols = Seq("c"))
    def t = VersionedTable.read(spark, path)
    // ASC default = NULLS FIRST: the 100 nulls lead, then the smallest
    // values — the injected conjunct must be null-tolerant and the
    // null-file must survive while high bands prune
    val nf = t.orderBy(col("c").asc).limit(150)
    val nfRows = rows(nf.orderBy(col("c").asc_nulls_first, col("pk")))
    val nfRead = filesRead(nf, "pk")
    assert(nfRead < 9L, s"high value bands must prune, read $nfRead")
    withRuleOff {
      val off = t.orderBy(col("c").asc).limit(150)
      assert(rows(off.orderBy(col("c").asc_nulls_first, col("pk"))) == nfRows)
    }
    assert(nf.filter(col("c").isNull).count() == 100L,
      "NULLS FIRST top-150 must keep all 100 null rows")
    // DESC default = NULLS LAST: nulls never reach the top k, the null
    // file itself prunes (its stats say: nothing ≥ τ, no null exemption)
    val nl = t.orderBy(col("c").desc).limit(50)
    assert(filesRead(nl, "pk") < 9L)
    assert(nl.filter(col("c").isNull).count() == 0L)
    withRuleOff {
      assert(rows(t.orderBy(col("c").desc).limit(50)) == rows(nl))
    }
  }

  test("partition-column top-k prunes whole directories") {
    val path = tmp() + "/p"
    spark.range(0, 4096)
      .select((col("id") % 8).as("p"), col("id").as("v"))
      .write.format("graft-table").partitionBy("p").save(path)
    def t = spark.read.format("graft-table").load(path)
    val total = t.inputFiles.length
    val desc = t.orderBy(col("p").desc, col("v").asc).limit(100)
    val descRows = rows(desc)
    assert(filesRead(desc, "v") < total,
      s"partition top-k must prune dirs: read ${filesRead(desc, "v")}/$total")
    withRuleOff {
      val off = t.orderBy(col("p").desc, col("v").asc).limit(100)
      assert(rows(off) == descRows)
      assert(filesRead(off, "v") == total)
    }
    // the hive null directory: ASC NULLS FIRST keeps it, DESC prunes it
    spark.range(4096, 4296)
      .select(lit(null).cast("long").as("p"), col("id").as("v"))
      .write.format("graft-table").mode("append").save(path)
    val nf = t.orderBy(col("p").asc, col("v").asc).limit(250)
    assert(nf.filter(col("p").isNull).count() == 200L,
      "NULLS FIRST top-250 must keep all 200 null-partition rows")
    withRuleOff {
      assert(rows(t.orderBy(col("p").asc, col("v").asc).limit(250)) == rows(nf))
    }
    val nl = t.orderBy(col("p").desc, col("v").asc).limit(50)
    assert(nl.filter(col("p").isNull).count() == 0L)
    withRuleOff {
      assert(rows(t.orderBy(col("p").desc, col("v").asc).limit(50)) == rows(nl))
    }
  }

  test("window group-limit: top-k per partition dir prunes per group") {
    import org.apache.spark.sql.expressions.{Window => W}
    val path = tmp() + "/w"
    // 4 partition dirs; within each, v is range-placed over 4 files so the
    // per-group top-k needs only each dir's high band
    spark.range(0, 8192)
      .select((col("id") % 4).as("p"), col("id").as("v"),
        (col("id") * 7 % 13).as("x"))
      .repartitionByRange(16, col("id") % 4, col("id"))
      .write.format("graft-table").option("statsCols", "v")
      .partitionBy("p").save(path)
    def t = spark.read.format("graft-table").load(path)
    val total = t.inputFiles.length
    def q(fn: org.apache.spark.sql.Column): DataFrame = t
      .withColumn("rn", fn.over(W.partitionBy(col("p")).orderBy(col("v").desc)))
      .filter(col("rn") <= 5)
      .select(col("p"), col("v"), col("rn"))
    val on = q(row_number())
    val onRows = rows(on).sorted
    val read = filesRead(on, "v")
    assert(read > 0 && read < total,
      s"per-group top-k must prune each dir's low bands: $read/$total")
    withRuleOff {
      val off = q(row_number())
      assert(rows(off).sorted == onRows)
      assert(filesRead(off, "v") == total)
    }
    // RANK is admissible (its selected rows stay within the k-by-
    // multiplicity prefix); DENSE_RANK needs the DISTINCT proof, which
    // needs sketches — un-analyzed it declines
    assert(filesRead(q(rank()), "v") < total)
    withRuleOff {
      assert(rows(q(rank())).sorted == rows(q(rank())).sorted)
    }
    assert(filesRead(q(dense_rank()), "v") == total,
      "dense_rank without sketches has no sound distinct bound — decline")
    // ANALYZE arms the sketch lower bounds: v is near-unique, so each
    // group's newest band alone proves >= 5 distinct values past tau
    graft.sources.VersionedTable.analyzeNdv(spark, path, Seq("v"))
    val dOn = q(dense_rank())
    val dRows = rows(dOn).sorted
    assert(filesRead(dOn, "v") < total,
      s"analyzed dense_rank must prune: ${filesRead(dOn, "v")}/$total")
    withRuleOff {
      val dOff = q(dense_rank())
      assert(rows(dOff).sorted == dRows)
      assert(filesRead(dOff, "v") == total)
    }
    // a second window aggregate over the same spec would be computed over
    // the filtered rows — the rule must decline the whole window
    val two = t
      .withColumn("rn", row_number().over(W.partitionBy(col("p")).orderBy(col("v").desc)))
      .withColumn("s", sum(col("v")).over(W.partitionBy(col("p"))))
      .filter(col("rn") <= 5)
    assert(filesRead(two, "v") == total,
      "extra window aggregates must decline the prune")
    withRuleOff {
      assert(rows(two).sorted == rows(t
        .withColumn("rn", row_number().over(W.partitionBy(col("p")).orderBy(col("v").desc)))
        .withColumn("s", sum(col("v")).over(W.partitionBy(col("p"))))
        .filter(col("rn") <= 5)).sorted)
    }
    // global window (no PARTITION BY) behaves like ORDER BY + LIMIT
    val g = t.withColumn("rn", row_number().over(W.orderBy(col("v").desc)))
      .filter(col("rn") === 3)
    assert(filesRead(g, "v") < total)
    withRuleOff {
      assert(rows(t.withColumn("rn",
        row_number().over(W.orderBy(col("v").desc)))
        .filter(col("rn") === 3)) == rows(g))
    }
  }

  test("partition-only WHERE: the prefix proof runs on the surviving dirs") {
    val path = tmp() + "/f"
    // 8 day-dirs; within each, ts is range-placed over EXACTLY 2 files.
    // Deterministic placement: repartitionByRange samples with a seed
    // derived from rdd.id, which drifts with whatever suites ran before —
    // under full-suite load that produced 17-23 files with day-straddling
    // bands and flaky read counts (the r16 1-in-3 flake). A union of
    // explicitly-sliced single-partition legs places every row the same
    // way every run.
    val base = spark.range(0, 8192)
      .select((col("id") % 8).as("day"), col("id").as("ts"),
        (col("id") % 5).as("m"))
    for { d <- 0 until 8; lo <- Seq(true, false) } {
      base.filter(col("day") === d &&
        (if (lo) col("ts") < 4096 else col("ts") >= 4096)).coalesce(1)
        .write.format("graft-table").option("statsCols", "ts")
        .partitionBy("day").mode(if (d == 0 && lo) "overwrite" else "append")
        .save(path)
    }
    def t = spark.read.format("graft-table").load(path)
    val total = t.inputFiles.length
    assert(total == 16, s"fixture must place exactly 2 files/day, got $total")
    // the dashboard shape: WHERE day >= d ORDER BY ts DESC LIMIT k.
    // τ is proved over the SURVIVING dirs only — and the partition filter
    // itself already prunes the others, so the read set is the newest
    // band within day >= 6
    def q() = t.filter(col("day") >= 6).orderBy(col("ts").desc).limit(10)
    val on = q()
    val onRows = rows(on)
    val read = filesRead(on, "m")
    assert(read < 4L && read >= 1L,
      s"filtered top-k must prune within the surviving dirs: $read/$total")
    val injected = on.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _)
          if c.exists {
            case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
                a: org.apache.spark.sql.catalyst.expressions.AttributeReference, _)
                if a.name == "ts" => true
            case _ => false
          } => c
    }
    assert(injected.nonEmpty,
      s"expected a ts >= τ conjunct:\n${on.queryExecution.optimizedPlan}")
    withRuleOff {
      assert(rows(q()) == onRows)
    }
    // τ must respect the filter: the global top-10 (day 7's high band)
    // differs from day >= 6's top-10 only in content, but a filter
    // EXCLUDING the newest dirs must re-prove τ over old dirs — the
    // result still matches the rule-off plan
    def qOld() = t.filter(col("day") <= 1).orderBy(col("ts").desc).limit(10)
    val oldRows = rows(qOld())
    withRuleOff { assert(rows(qOld()) == oldRows) }
    assert(oldRows.forall(r => r.endsWith(",0]") || r.endsWith(",1]")),
      s"day <= 1 top-k must come from days 0/1: $oldRows")
    // MIXED partition + sort-column bounds — the full dashboard shape:
    // the tolerant census walk binds day >= 6 exactly and the ts bound
    // joins the fully-inside proof; only the surviving dirs' top band
    // reads
    def qm() = t.filter(col("day") >= 6 && col("ts") >= 4000L)
      .orderBy(col("ts").desc).limit(10)
    val onM = qm()
    val onMRows = rows(onM)
    val readM = filesRead(onM, "m")
    assert(readM <= 2L && readM >= 1L,
      s"mixed filters must prune to the surviving dirs' top band: $readM/$total")
    withRuleOff { assert(rows(qm()) == onMRows) }
    // opposite-direction ts bound poisons the proof — decline, exact
    def qo() = t.filter(col("day") >= 6 && col("ts") <= 5000L)
      .orderBy(col("ts").desc).limit(10)
    val onO = qo(); val onORows = rows(onO)
    withRuleOff { assert(rows(qo()) == onORows) }
    // a data-column conjunct ANYWHERE in the filter declines the proof
    val mixed = t.filter(col("day") >= 6 && col("m") === 3)
      .orderBy(col("ts").desc).limit(10)
    val mixedInjected = mixed.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _)
          if c.exists {
            case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
                a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
                org.apache.spark.sql.catalyst.expressions.Literal(_, _))
                if a.name == "ts" => true
            case _ => false
          } => c
    }
    assert(mixedInjected.isEmpty,
      "a data-column conjunct invalidates the count — must decline")
    withRuleOff {
      assert(rows(t.filter(col("day") >= 6 && col("m") === 3)
        .orderBy(col("ts").desc).limit(10)) == rows(mixed))
    }
  }

  test("window group-limit over DERIVED window keys (year-style)") {
    import org.apache.spark.sql.expressions.{Window => W}
    val path = tmp() + "/y"
    // 8 day-dirs mapping to 2 derived epochs (day / 4); ts range-placed
    spark.range(0, 8192)
      .select((col("id") % 8).as("day"), col("id").as("ts"))
      .repartitionByRange(16, col("id") % 8, col("id"))
      .write.format("graft-table").option("statsCols", "ts")
      .partitionBy("day").save(path)
    def t = spark.read.format("graft-table").load(path)
    val total = t.inputFiles.length
    def q() = t
      .withColumn("rn", row_number().over(
        W.partitionBy(col("day") / 4).orderBy(col("ts").desc)))
      .filter(col("rn") <= 5)
      .select(col("day"), col("ts"), col("rn"))
    val on = q()
    val onRows = rows(on).sorted
    val read = filesRead(on, "ts")
    assert(read > 0 && read < total,
      s"derived-key group limit must prune each epoch's low bands: $read/$total")
    withRuleOff {
      val off = q()
      assert(rows(off).sorted == onRows)
      assert(filesRead(off, "ts") == total)
    }
    // composes with a partition-only WHERE below the window
    def qf() = t.filter(col("day") >= 2)
      .withColumn("rn", row_number().over(
        W.partitionBy(col("day") / 4).orderBy(col("ts").desc)))
      .filter(col("rn") <= 5)
      .select(col("day"), col("ts"), col("rn"))
    val onF = qf()
    val onFRows = rows(onF).sorted
    assert(filesRead(onF, "ts") < total)
    withRuleOff { assert(rows(qf()).sorted == onFRows) }
  }

  test("DERIVED sort keys: ORDER BY f(partition col) LIMIT prunes directories") {
    val path = tmp() + "/ds"
    // 10 day-dirs → derived epoch day/4 ∈ {0,1,2}; newest epoch = days 8,9
    spark.range(0, 4000)
      .select((col("id") % 10).as("day"), col("id").as("v"))
      .repartitionByRange(10, col("id") % 10)
      .write.format("graft-table").partitionBy("day").save(path)
    def t = spark.read.format("graft-table").load(path)
    val total = t.inputFiles.length
    def q() = t.orderBy((col("day") / 4).desc, col("v").asc).limit(100)
    val on = q()
    val onRows = rows(on)
    val read = filesRead(on, "v")
    assert(read < total && read >= 1,
      s"derived-key top-k must prune older epochs: $read/$total")
    withRuleOff {
      val off = q()
      assert(rows(off) == onRows)
      assert(filesRead(off, "v") == total)
    }
    // composes with a partition-only WHERE (the filter shrinks the census
    // before the entry-prefix proof)
    def qf() = t.filter(col("day") < 8)
      .orderBy((col("day") / 4).desc, col("v").asc).limit(50)
    val onF = qf()
    val onFRows = rows(onF)
    assert(filesRead(onF, "v") < total)
    withRuleOff { assert(rows(qf()) == onFRows) }
    // ASC takes the oldest epoch instead
    def qa() = t.orderBy((col("day") / 4).asc, col("v").asc).limit(50)
    val onA = qa()
    val onARows = rows(onA)
    assert(filesRead(onA, "v") < total)
    withRuleOff { assert(rows(qa()) == onARows) }
    // k past the provable total declines
    assert(filesRead(t.orderBy((col("day") / 4).desc).limit(100000), "v")
      == total)
    // a NON-monotonic derived key (day % 3) stays exact: ranges widen to
    // whatever they must, results still match the rule-off plan
    def qm() = t.orderBy((col("day") % 3).desc, col("v").asc).limit(40)
    val onM = qm()
    val onMRows = rows(onM)
    withRuleOff { assert(rows(qm()) == onMRows) }
  }

  test("SORT-COLUMN data filter: same-direction bounds prove τ, others decline") {
    val path = tmp() + "/sc"
    // 16 narrow bands of ts; the dashboard shape WHERE ts >= d ORDER BY
    // ts DESC LIMIT k must prove τ over the fully-inside files only and
    // still collapse the read to the top band
    // deterministic band placement (repartitionByRange samples with an
    // rdd.id-derived seed — see the partition-only WHERE fixture note)
    val bands = spark.range(0, 65536)
      .select(col("id").as("ts"), (col("id") % 9).as("m"))
    def band(b: Int) = bands
      .filter(col("ts") >= b * 4096L && col("ts") < (b + 1) * 4096L)
      .coalesce(1)
    VersionedTable.write(band(0), path, statsCols = Seq("ts"))
    (1 until 16).foreach(b =>
      VersionedTable.append(band(b), path, statsCols = Seq("ts")))
    def t = VersionedTable.read(spark, path)
    assert(t.inputFiles.length == 16)
    def hasGeTau(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c
      }.exists { c =>
        def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
            : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
          e match {
            case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
              split(a) ++ split(b)
            case x => Seq(x)
          }
        split(c).count {
          case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
              a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
              org.apache.spark.sql.catalyst.expressions.Literal(_, _))
              if a.name == "ts" => true
          case _ => false
        } >= 2 // the user's own ts >= d plus the injected ts >= τ
      }
    def q() = t.filter(col("ts") >= 10000L).orderBy(col("ts").desc).limit(10)
    val on = q()
    val onRows = rows(on)
    assert(hasGeTau(on),
      s"expected an injected ts >= τ under the user filter:\n${on.queryExecution.optimizedPlan}")
    val read = filesRead(on, "m")
    assert(read <= 2L && read >= 1L,
      s"the top band alone answers: read $read/16")
    withRuleOff { assert(rows(q()) == onRows) }
    // strict user bound still fires; ASC mirrors with <=
    def qs() = t.filter(col("ts") > 60000L).orderBy(col("ts").desc).limit(10)
    val onS = qs(); val onSRows = rows(onS)
    assert(filesRead(onS, "m") <= 2L)
    withRuleOff { assert(rows(qs()) == onSRows) }
    def qa() = t.filter(col("ts") <= 50000L).orderBy(col("ts").asc).limit(10)
    val onA = qa(); val onARows = rows(onA)
    assert(filesRead(onA, "m") <= 2L)
    withRuleOff { assert(rows(qa()) == onARows) }
    // OPPOSITE-direction bound declines: its per-file selectivity is
    // unknowable — no injected conjunct, results exact
    def qo() = t.filter(col("ts") <= 30000L).orderBy(col("ts").desc).limit(10)
    val onO = qo(); val onORows = rows(onO)
    assert(!hasGeTau(onO) && onORows.size == 10)
    withRuleOff { assert(rows(qo()) == onORows) }
    // a RANGE (both directions) declines too — the <= conjunct poisons it
    def qr() = t.filter(col("ts") >= 10000L && col("ts") <= 30000L)
      .orderBy(col("ts").desc).limit(10)
    val onR = qr(); val onRRows = rows(onR)
    assert(!hasGeTau(onR))
    withRuleOff { assert(rows(qr()) == onRRows) }
  }

  test("anchored table: the prefix proof runs DISTRIBUTED, zero driver stats parses") {
    val path = tmp() + "/a"
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 8
    try {
      // 16 single-file band appends → the head anchors at a parquet
      // checkpoint and the lazy driver stats map is NOT paid for
      (0 until 16).foreach { b =>
        VersionedTable.append(
          spark.range(b * 4096L, (b + 1) * 4096L)
            .select(col("id").as("k"), col("id").as("v")).coalesce(1),
          path, statsCols = Seq("k"))
      }
      def t = VersionedTable.read(spark, path)
      assert(t.inputFiles.length == 16)
      VersionedTable.ckptStatsParses.set(0L)
      // plain top-k, both directions: prunes to the edge bands with the
      // prefix proof computed on executors
      val desc = t.orderBy(col("k").desc).limit(10)
      val descRows = rows(desc)
      val readDesc = filesRead(desc, "v")
      assert(readDesc < 16L && readDesc >= 1L,
        s"anchored descending top-k must prune: $readDesc")
      val asc = t.orderBy(col("k").asc).limit(10)
      val ascRows = rows(asc)
      assert(filesRead(asc, "v") < 16L)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "the distributed prefix walk must never materialize the " +
          "checkpoint stats column driver-side")
      withRuleOff {
        assert(rows(t.orderBy(col("k").desc).limit(10)) == descRows)
        assert(rows(t.orderBy(col("k").asc).limit(10)) == ascRows)
      }
      // SORT-COLUMN data filter (same-direction bound): the bound gates
      // the prefix to fully-satisfying files, still distributed
      val bounded = t.filter(col("k") >= 30000L)
        .orderBy(col("k").desc).limit(10)
      val boundedRows = rows(bounded)
      assert(filesRead(bounded, "v") < 9L,
        s"bounded anchored top-k: ${filesRead(bounded, "v")}")
      withRuleOff {
        assert(rows(t.filter(col("k") >= 30000L)
          .orderBy(col("k").desc).limit(10)) == boundedRows)
      }
      assert(VersionedTable.ckptStatsParses.get() == 0L)
      // a LIMIT past the distributed walk's k cap declines cleanly (scan,
      // not a driver-side materialization) — correct either way
      val big = t.orderBy(col("k").desc).limit(200000)
      assert(big.count() == 65536L)
      assert(VersionedTable.ckptStatsParses.get() == 0L)
      // GLOBAL DENSE_RANK (no window partition): ANALYZE arms the
      // sketches and the DISTRIBUTED distinct-prefix walk proves the
      // top-10-distinct threshold — pruned read, zero driver parses
      VersionedTable.analyzeNdv(spark, path, Seq("k"))
      VersionedTable.ckptStatsParses.set(0L)
      import org.apache.spark.sql.expressions.{Window => W}
      def qdr() = t.withColumn("rn",
          dense_rank().over(W.orderBy(col("k").desc)))
        .filter(col("rn") <= 10).select(col("k"))
      val onDr = qdr()
      assert(filesRead(onDr, "k") < 16L,
        s"global dense_rank must prune: ${filesRead(onDr, "k")}/16\n" +
          onDr.queryExecution.optimizedPlan)
      val gotDr = rows(onDr)
      assert(gotDr.size == 10)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "the global distinct-prefix walk must stay off the driver")
      withRuleOff(assert(rows(qdr()) == gotDr))
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("anchored + partitioned: filtered and mixed top-k stay distributed") {
    val path = tmp() + "/ap"
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 4
    try {
      // 12 day dirs, one commit each, ts increasing with day → anchored
      (0 until 12).foreach { d =>
        spark.range(d * 100L, (d + 1) * 100L)
          .select(lit(d.toLong).as("day"), col("id").as("ts"),
            col("id").as("pk")).coalesce(1)
          .write.format("graft-table").option("statsCols", "ts")
          .partitionBy("day").mode(if (d == 0) "overwrite" else "append")
          .save(path)
      }
      def t = spark.read.format("graft-table").load(path)
      assert(t.inputFiles.length == 12)
      VersionedTable.ckptStatsParses.set(0L)
      // partition-only WHERE: the prefix proof runs over the surviving
      // dirs' files, selected executor-side from the path values
      val filtered = t.filter(col("day") >= 3L && col("day") < 9L)
        .orderBy(col("ts").desc).limit(5)
      val fRows = rows(filtered)
      val fRead = filesRead(filtered, "pk")
      assert(fRead < 6L && fRead >= 1L,
        s"filtered anchored top-k must prune to the day-8 edge: $fRead")
      assert(fRows.size == 5 && fRows ==
        (899L to 895L by -1L).map(ts => s"[$ts,$ts,8]"))
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "partition-filtered prefix proof must stay off the driver")
      // MIXED: partition conjunct AND same-direction sort bound
      val mixed = t.filter(col("day") >= 3L && col("ts") >= 350L)
        .orderBy(col("ts").desc).limit(5)
      val mRows = rows(mixed)
      assert(mRows == (1199L to 1195L by -1L).map(ts => s"[$ts,$ts,11]"))
      assert(filesRead(mixed, "pk") < 9L)
      assert(VersionedTable.ckptStatsParses.get() == 0L)
      // window group-limit on a DATA sort column: anchored-unforced
      // tables DECLINE (the per-group walk is a known next lift) — the
      // answer must come from a real scan, never a driver stats parse
      import org.apache.spark.sql.expressions.{Window => W}
      // window group-limit on a DATA sort column, SINGLE file per group:
      // the distributed guard proves nothing would be eliminated (each
      // group's only file holds its own top-2) — unprofitable, scans,
      // still zero driver stats parses
      val win = t.withColumn("rn", row_number().over(
        W.partitionBy(col("day")).orderBy(col("ts").desc)))
        .filter(col("rn") <= 2).select(col("day"), col("ts"))
      assert(win.count() == 24L)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "the unprofitable window group-limit must not force driver stats")
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("anchored window group-limit: per-group proofs and guard run DISTRIBUTED") {
    val path = tmp() + "/aw"
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 8
    try {
      // 6 day dirs × 3 single-file ts bands each (18 commits) → anchored;
      // the top-2 per day lives entirely in the day's HIGH band
      for { d <- 0 until 6; b <- 0 until 3 } {
        spark.range(d * 300L + b * 100L, d * 300L + (b + 1) * 100L)
          .select(lit(d.toLong).as("day"), col("id").as("ts"),
            col("id").as("pk")).coalesce(1)
          .write.format("graft-table").option("statsCols", "ts")
          .partitionBy("day")
          .mode(if (d == 0 && b == 0) "overwrite" else "append").save(path)
      }
      def t = spark.read.format("graft-table").load(path)
      assert(t.inputFiles.length == 18)
      VersionedTable.ckptStatsParses.set(0L)
      import org.apache.spark.sql.expressions.{Window => W}
      def q() = t.withColumn("rn", row_number().over(
        W.partitionBy(col("day")).orderBy(col("ts").desc)))
        .filter(col("rn") <= 2).select(col("day"), col("ts"))
      val on = q()
      val read = filesRead(on, "ts")
      assert(read <= 6L && read >= 1L,
        s"per-group proofs must prune to the high bands: $read/18\n" +
          on.queryExecution.optimizedPlan)
      val got = rows(on)
      assert(got.size == 12)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "the distributed group proofs + guard must never materialize " +
          "the checkpoint stats column driver-side")
      withRuleOff(assert(rows(q()) == got))
      // DERIVED window key over the partition column: groups collapse
      // (day % 2), proofs still distributed, still pruned
      def qd() = t.withColumn("rn", row_number().over(
        W.partitionBy(col("day") % 2).orderBy(col("ts").desc)))
        .filter(col("rn") <= 2).select(col("day"), col("ts"))
      val onD = qd()
      assert(filesRead(onD, "ts") < 18L,
        s"derived-key group proofs must prune:\n" +
          onD.queryExecution.optimizedPlan)
      val gotD = rows(onD)
      assert(gotD.size == 4)
      assert(VersionedTable.ckptStatsParses.get() == 0L)
      withRuleOff(assert(rows(qd()) == gotD))
      // an appended post-anchor file folds into the proofs driver-side
      // from O(delta) statsAdds — day 0's new high band shifts its top-2
      spark.range(5000L, 5100L)
        .select(lit(0L).as("day"), col("id").as("ts"), col("id").as("pk"))
        .coalesce(1).write.format("graft-table").option("statsCols", "ts")
        .partitionBy("day").mode("append").save(path)
      VersionedTable.ckptStatsParses.set(0L)
      val on2 = q()
      val got2 = rows(on2)
      assert(got2.size == 12 && got2.exists(_.contains("5099")),
        s"the appended band must win day 0's top-2: $got2")
      assert(VersionedTable.ckptStatsParses.get() == 0L)
      withRuleOff(assert(rows(q()) == got2))
      // DENSE_RANK without sketches: no distinct proof exists — correct
      // via the scan, still zero driver parses
      def qdr() = t.withColumn("rn", dense_rank().over(
        W.partitionBy(col("day")).orderBy(col("ts").desc)))
        .filter(col("rn") <= 2).select(col("day"), col("ts"))
      assert(qdr().count() == 12L)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "the un-sketched DENSE_RANK must not force driver stats")
      // ANALYZE arms the sketches (riding the anchored executor-side
      // merge) and the DISTINCT-prefix proofs run DISTRIBUTED: each
      // day's top-2 distinct values live in its high band — pruned read,
      // zero driver parses
      VersionedTable.analyzeNdv(spark, path, Seq("ts"))
      VersionedTable.ckptStatsParses.set(0L)
      val onDr = qdr()
      val readDr = filesRead(onDr, "ts")
      assert(readDr <= 7L && readDr >= 1L,
        s"dense_rank distinct proofs must prune: $readDr/19\n" +
          onDr.queryExecution.optimizedPlan)
      val gotDr = rows(onDr)
      assert(gotDr.size == 12)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "the distributed distinct-prefix walk must never materialize " +
          "the checkpoint stats column driver-side")
      withRuleOff(assert(rows(qdr()) == gotDr))
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("declines: filters, k past provable rows, DV-marked files") {
    val path = tmp() + "/d"
    VersionedTable.write(
      spark.range(0, 4096).select(col("id").as("k"), (col("id") % 7).as("m"))
        .repartitionByRange(8, col("k")),
      path, statsCols = Seq("k"))
    def t = VersionedTable.read(spark, path)
    // a filter between sort and scan invalidates the count — decline
    // (every file read; the filter itself prunes nothing on m)
    val filtered = t.filter(col("m") === 3).orderBy(col("k").desc).limit(5)
    val planStr = filtered.queryExecution.optimizedPlan.toString
    assert(filesRead(filtered, "m") == 8L,
      s"a filtered top-k must not inject a threshold:\n$planStr")
    // k beyond the provable non-null total — decline
    assert(filesRead(t.orderBy(col("k").desc).limit(100000), "m") == 8L)
    // DV marks make per-file counts unprovable: after a point DELETE the
    // marked file stops counting; with every OTHER file still provable
    // the top-k threshold (computed over the survivors) stays sound
    VersionedTable.delete(spark, path, col("k") === 4095L,
      purgeFraction = 1.0)
    val afterDv = t.orderBy(col("k").desc).limit(5)
    val got = rows(afterDv)
    withRuleOff {
      assert(rows(t.orderBy(col("k").desc).limit(5)) == got)
    }
    assert(got.size == 5 && !got.exists(_.startsWith("[4095,")),
      s"deleted row must not resurface: $got")
  }
}
