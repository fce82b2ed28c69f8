package perfbench

import java.io.File
import java.time.{LocalDate, ZoneOffset, ZonedDateTime}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.creatorops.{Bronze, Generator, Gold, Pipeline, Silver}
import graft.sources.TableIO

/** The medallion pipeline, timed the way `RunPipeline` runs it: a full
  * `Pipeline.runAll` into a fresh warehouse, then the late-data window
  * (`runSilverRange` + `runGoldRange`) over a second bronze batch that holds
  * new events, re-sent corrections and exact re-sends, all dated inside a
  * two-day window (one seventh of the timeline).
  *
  * A pass is both timed ops on a warehouse of its own. One pass is
  * measured, in a fresh JVM, with no warm-up: that is what a batch job
  * launched from the CLI pays on every run. Inputs are capped at a fixed
  * event count so every seed gives the same volume. */
object PipelineWorkload extends Workload {
  val Tenants = 16
  val TimelineDays = 14
  val Events = 2000L
  val CorruptionRate = 0.02
  val EndDay = LocalDate.parse("2026-06-30")
  val WindowStart = EndDay.minusDays(9)
  val WindowEnd = EndDay.minusDays(8)
  val SetupRuns = 3
  val FullRunOp = "Pipeline.runAll"

  def config(seed: Long): Generator.Config = Generator.Config(seed = seed, tenants = Tenants,
    timelineDays = TimelineDays, endDay = EndDay, targetTotalEvents = Some(Events),
    corruptionRate = CorruptionRate)

  /** `RunPipeline`'s session settings. */
  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("creatorops-pipeline")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.storage.memoryMapThreshold", "2g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(run: Run, seed: Long): Outcome = {
    val spark = run.spark
    // set-up: the generator writes the NDJSON input; repeated so its
    // reported time is a median
    val gens = (1 to SetupRuns).map { i =>
      val dir = run.dir(s"input_$i").getPath
      val t0 = System.nanoTime()
      val n = Generator.writeNdjson(spark, config(seed), dir)
      (dir, n, (System.nanoTime() - t0) / 1e9)
    }
    val genS = Stats.median(gens.map(_._3))
    val (input, events, _) = gens.last
    val inputBytes = ProcIo.bytesUnder(new File(input))

    // the late batch is ingested tomorrow, so the silver window reads it alone
    val ingestDay = LocalDate.now(ZoneOffset.UTC).plusDays(1)
    val stamp = java.sql.Timestamp.from(
      ZonedDateTime.of(ingestDay.atTime(12, 0), ZoneOffset.UTC).toInstant)
    val raw = spark.read.json(input).persist()
    val expected = injected(raw)
    val batch = lateBatch(raw, seed).persist()
    val batchRows = batch.count()
    raw.unpersist()
    val batchBytes = batch.select(sum(length(to_json(struct(col("*")))))).first().getLong(0).toDouble
    val touched = batch.select(col("p_event_date")).distinct().count()

    var wh: Pipeline.Warehouse = null
    val warmUpS = run.passes(warmUps = 0, minPasses = 1, maxPasses = 1) { i =>
      Option(wh).foreach(w => ProcIo.delete(new File(w.root)))
      wh = Pipeline.Warehouse(run.dir(s"warehouse_$i").getPath)
      val counts = run.timed("pipeline.full", FullRunOp, Tracer.ByWritePath)(
        Pipeline.runAll(spark, Seq(input), wh.root))
      counts.foreach(c => run.check("conservation")(conservation(expected, c)))
      run.untimed("late batch", Tracer.ByWritePath)(
        TableIO.write(Bronze.fromRaw(batch, "late_batch", Some(stamp)), wh.bronze,
          SaveMode.Append, partitionBy = Seq("p_ingest_date")))
      run.timed("pipeline.window", "Pipeline.runSilverRange+runGoldRange", Tracer.ByWritePath) {
        Pipeline.runSilverRange(spark, wh.root, ingestDay.toString, ingestDay.toString)
        Pipeline.runGoldRange(spark, wh.root, WindowStart.toString, WindowEnd.toString)
      }
    }
    batch.unpersist()
    val stored = ProcIo.bytesUnder(new File(wh.root))

    // correctness of the last pass: the window's result equals a full
    // recompute
    val silver = TableIO.read(spark, wh.silverEvents).persist()
    run.check("incremental equals full: silver")(same(
      silver.select("event_id", "event_hash", "ingested_at"),
      Silver.transform(TableIO.read(spark, wh.bronze)).events
        .select("event_id", "event_hash", "ingested_at")))
    for ((kpi, path, f) <- golds(wh))
      run.check(s"incremental equals full: $kpi")(same(TableIO.read(spark, path), f(silver)))
    silver.unpersist()

    def median(kind: String) = Stats.median(run.timedSamples.filter(_.kind == kind).map(_.seconds))
    val (fullS, windowS) = (median("pipeline.full"), median("pipeline.window"))
    Outcome(
      setupSeconds = genS + warmUpS,
      inputBytes = inputBytes + batchBytes,
      newInputBytes = inputBytes + batchBytes,
      writtenBytes = run.perPass(_ => true)(_.written),
      storedBytes = stored,
      inputs = Map("events" -> events, "input_bytes" -> inputBytes, "late_rows" -> batchRows,
        "late_bytes" -> batchBytes, "window" -> s"$WindowStart..$WindowEnd",
        "tenants" -> Tenants, "timeline_days" -> TimelineDays),
      report = Map(
        "full_s" -> (fullS, "s"), "window_s" -> (windowS, "s"),
        "events_per_s" -> (events / fullS, "1/s"),
        "window_events_per_s" -> (batchRows / windowS, "1/s")),
      detail = Map("generator_s" -> gens.map(_._3), "warm_up_s" -> warmUpS),
      layers = Map(
        "generator.s" -> genS,
        "generator.events" -> events.toDouble,
        "merge.partitions_touched" -> touched.toDouble))
  }

  /** Second bronze batch, built from the first run's own input: every
    * `reader_engagement` event of the window re-emitted under a new id (new
    * events), `chapter_written` events with a corrected word count (same id,
    * newer ingest: keep-latest must pick them), and `scene_revised` events
    * re-sent unchanged (duplicates). Only well-formed events are used. */
  private def lateBatch(raw: DataFrame, seed: Long): DataFrame = {
    // the partition value is a string: corrupted events sit under p_event_date=not-a-time
    val inWindow = raw.filter(!malformed &&
      col("p_event_date").cast("string").between(WindowStart.toString, WindowEnd.toString))
    def pick(pct: Int): Column = pmod(xxhash64(lit(seed), col("eventId")), lit(100)) < pct
    val fresh = inWindow.filter(col("eventType") === "reader_engagement" && pick(50))
      .withColumn("eventId", concat(col("eventId"), lit("L")))
    val corrected = inWindow.filter(col("eventType") === "chapter_written" && pick(60))
      .withColumn("metrics", col("metrics").withField("wordCount",
        (col("metrics.wordCount").cast("int") + 100).cast("string")))
    val resent = inWindow.filter(col("eventType") === "scene_revised" && pick(30))
    fresh.unionByName(corrected).unionByName(resent)
  }

  /** Generator-injected corruption (`Generator.corrupt`), matched on the
    * raw input independently of silver's classifier. */
  private def malformed: Column =
    col("eventId").isNull || col("eventType") === "bogus_type" ||
      col("occurredAt") === "not-a-time" || col("tenant.tenantId").isNull ||
      col("stage") === "NOT_A_STAGE"

  /** (raw rows, injected corruption, well-formed rows, distinct well-formed
    * ids) of the generator's output. */
  private def injected(raw: DataFrame): (Long, Long, Long, Long) = {
    val r = raw.agg(count(lit(1)), count(when(malformed, 1)),
      count(when(!malformed, 1)), countDistinct(when(!malformed, col("eventId")))).first()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** bronze = silver + rejects + removed duplicates, rejects = injected. */
  private def conservation(expected: (Long, Long, Long, Long), c: Pipeline.Counts): Boolean = {
    val (rows, injected, valid, distinct) = expected
    c.bronze == rows && c.rejects == injected && c.silver == distinct &&
      c.bronze == c.silver + c.rejects + (valid - distinct)
  }

  private def golds(wh: Pipeline.Warehouse): Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("velocity", wh.velocity, Gold.writingVelocity(_)),
    ("churn", wh.churn, Gold.revisionChurn(_)),
    ("bands", wh.engagementBands, Gold.engagementBands(_)),
    ("dropoff", wh.dropoff, Gold.dropoffRate(_)),
    ("bottlenecks", wh.bottlenecks, Gold.stageBottlenecks(_)),
    ("post_release", wh.postRelease, Gold.postReleaseEngagement(_)))

  /** Multiset equality by column name, doubles rounded to `digits`
    * decimals: both sides sum the same values in different orders. One job:
    * rows counted +1 on one side and -1 on the other must all cancel. */
  def same(a: DataFrame, b: DataFrame, digits: Int = 6): Boolean = {
    val cols = a.columns.sorted
    cols.sameElements(b.columns.sorted) && {
      def norm(df: DataFrame, side: Int) = df.select(cols.map { c =>
        if (df.schema(c).dataType == DoubleType) round(col(c), digits).as(c) else col(c)
      } :+ lit(side).as("__side"): _*)
      norm(a, 1).unionByName(norm(b, -1))
        .groupBy(cols.map(col): _*).agg(sum(col("__side")).as("__n"))
        .filter(col("__n") =!= 0).isEmpty
    }
  }
}
