package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.creatorops.Fixtures

class StreamingSpec extends SparkSpec {

  private def writeStreamDir(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("stream-in").toString
    Files.write(java.nio.file.Paths.get(s"$dir/batch0.ndjson"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("file-source stream → shared silver contract → windowed velocity") {
    val lines = Seq(
      Fixtures.valid(id = "S1", occurredAt = "2026-01-15T10:00:00Z",
        metrics = """{"wordCount": "100"}"""),
      Fixtures.valid(id = "S2", occurredAt = "2026-01-15T11:00:00Z",
        metrics = """{"wordCount": "200"}"""),
      Fixtures.valid(id = "S3", occurredAt = "2026-01-16T09:00:00Z",
        metrics = """{"wordCount": "50"}"""),
      """{"eventId": "BAD", "eventType": "bogus", "eventVersion": 1}""")
    val in = writeStreamDir(lines)

    val raw = spark.readStream.text(in)
    val agg = StreamingSilver.velocity(StreamingSilver.silverStream(raw))
    val q = agg.writeStream
      .format("memory").queryName("vel_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val rows = spark.table("vel_out")
      .select("window_start", "chapters_written", "words_written")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(
      ("2026-01-15 00:00:00.0", 2L, 300L),
      ("2026-01-16 00:00:00.0", 1L, 50L)))
  }

  test("streaming velocity equals batch writingVelocity on replayed generated volume") {
    import org.apache.spark.sql.functions._
    import graft.creatorops.{Bronze, Generator, Gold, Silver}
    // generated (not hand-fixture) volume; two tenants keeps it quick
    val cfg = Generator.Config(seed = 7L, tenants = 2)
    val lines = Generator.eventsJson(spark, cfg).collect().map(_.getString(0)).toSeq
    assert(lines.size > 200)

    // batch truth: full bronze→silver→gold run over ALL lines, rolled up to
    // the streaming aggregate's (day, tenant, author) grain
    val all = writeStreamDir(lines)
    val batch = Gold.writingVelocity(
        Silver.transform(Bronze.ingest(spark, Seq(s"$all/batch0.ndjson"))).events)
      .groupBy(col("p_event_date"), col("tenant_id"), col("author_id"))
      .agg(sum(col("chapters_written")).as("chapters_written"),
        sum(col("words_written")).as("words_written"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet

    // streaming: same lines split into an on-time batch and a LATE batch
    // (every 3rd line arrives a micro-batch later, out of event-time order)
    val (late, onTime) = lines.zipWithIndex.partition(_._2 % 3 == 0)
    val dir = writeStreamDir(onTime.map(_._1))
    val agg = StreamingSilver.velocity(StreamingSilver.silverStream(spark.readStream.text(dir)))
    val q = agg.writeStream
      .format("memory").queryName("vel_diff").outputMode("complete").start()
    try {
      q.processAllAvailable()
      Files.write(java.nio.file.Paths.get(s"$dir/batch1.ndjson"),
        late.map(_._1).mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("vel_diff")
      .select(to_date(col("window_start")).as("d"), col("tenant_id"), col("author_id"),
        col("chapters_written"), col("words_written"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("streaming dedup drops replayed event ids within the watermark") {
    val dir = Files.createTempDirectory("stream-dedup").toString
    Files.write(java.nio.file.Paths.get(s"$dir/b0.ndjson"),
      Seq(
        Fixtures.valid(id = "D1", metrics = """{"wordCount": "10"}"""),
        Fixtures.valid(id = "D1", metrics = """{"wordCount": "10"}"""),  // dup in batch
        Fixtures.valid(id = "D2", metrics = """{"wordCount": "20"}"""))
        .mkString("\n").getBytes("UTF-8"))
    val deduped = StreamingSilver.dedupedStream(
      StreamingSilver.silverStream(spark.readStream.text(dir)))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // replay D1 in a later micro-batch → still dropped (state retained)
      Files.write(java.nio.file.Paths.get(s"$dir/b1.ndjson"),
        Seq(Fixtures.valid(id = "D1", metrics = """{"wordCount": "10"}"""),
          Fixtures.valid(id = "D3", metrics = """{"wordCount": "30"}"""))
          .mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("D1", "D2", "D3"))
  }

  test("streaming upsert sink: each micro-batch merges into a versioned table") {
    import graft.sources.VersionedTable
    val dir = Files.createTempDirectory("stream-vt").toString
    val table = Files.createTempDirectory("stream-vt-out").toString + "/t"
    Files.write(java.nio.file.Paths.get(s"$dir/b0.ndjson"),
      Seq(
        Fixtures.valid(id = "U1", metrics = """{"wordCount": "10"}"""),
        Fixtures.valid(id = "U2", metrics = """{"wordCount": "20"}"""))
        .mkString("\n").getBytes("UTF-8"))
    val silver = StreamingSilver.silverStream(spark.readStream.text(dir))
      .select("event_id", "word_count")
    val q = StreamingSilver.sinkToVersioned(silver, table, Seq("event_id"))
    try {
      q.processAllAvailable()
      // batch 2 updates U2 and adds U3
      Files.write(java.nio.file.Paths.get(s"$dir/b1.ndjson"),
        Seq(
          Fixtures.valid(id = "U2", metrics = """{"wordCount": "99"}"""),
          Fixtures.valid(id = "U3", metrics = """{"wordCount": "30"}"""))
          .mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
    } finally q.stop()
    val now = VersionedTable.read(spark, table)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(now == Map("U1" -> 10, "U2" -> 99, "U3" -> 30), now.toString)
    // each micro-batch committed one version; the pre-merge state time-travels
    val vs = VersionedTable.versions(spark, table)
    assert(vs.size == 2, vs.toString)
    val v1 = VersionedTable.read(spark, table, Some(vs.head))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(v1 == Map("U1" -> 10, "U2" -> 20), v1.toString)
  }

  test("stream-stream interval join matches batch semantics with bounded state") {
    val dir = Files.createTempDirectory("stream-ss").toString
    // story A: draft + one chapter inside the 7-day horizon, one outside;
    // story B: chapter with NO draft (must drop — inner join)
    Files.write(java.nio.file.Paths.get(s"$dir/b0.ndjson"),
      Seq(
        Fixtures.valid(id = "DA", eventType = "draft_created", stage = "DRAFT",
          storyId = "sto_A", occurredAt = "2026-01-10T00:00:00Z", metrics = "{}"),
        Fixtures.valid(id = "CA1", eventType = "chapter_written", storyId = "sto_A",
          occurredAt = "2026-01-12T00:00:00Z", metrics = """{"wordCount": "500"}"""),
        Fixtures.valid(id = "CA2", eventType = "chapter_written", storyId = "sto_A",
          occurredAt = "2026-01-25T00:00:00Z", metrics = """{"wordCount": "700"}"""),
        Fixtures.valid(id = "CB1", eventType = "chapter_written", storyId = "sto_B",
          occurredAt = "2026-01-12T00:00:00Z", metrics = """{"wordCount": "900"}"""))
        .mkString("\n").getBytes("UTF-8"))
    val joined = StreamingSilver.draftChapterJoin(
      StreamingSilver.silverStream(spark.readStream.text(dir)))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ss_join")
      .select("draft_event_id", "chapter_event_id", "word_count")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("DA", "CA1", 500)), got.toString)
    // differential: the same function over the same data as a BATCH frame
    // (watermarks are no-ops in batch) produces the identical join
    val batch = StreamingSilver.draftChapterJoin(
      StreamingSilver.silverStream(spark.read.text(dir)))
      .select("draft_event_id", "chapter_event_id", "word_count")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(batch == got)
  }

  test("session_window streaming agg: gap-merged sessions close at the watermark") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("sess-in").toString
    // user A: two bursts 3 min apart (one session under a 10-min gap) then
    // a burst 30 min later (a second session); user B: one event
    Files.write(java.nio.file.Paths.get(s"$dir/b0.csv"),
      Seq("A,2026-01-15T10:00:00", "A,2026-01-15T10:03:00",
        "A,2026-01-15T10:33:00", "B,2026-01-15T10:05:00")
        .mkString("\n").getBytes("UTF-8"))
    val q = spark.readStream.schema("user STRING, ts TIMESTAMP").csv(dir)
      .withWatermark("ts", "5 minutes")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user"), col("session_window.start").as("start"),
        col("n_events"))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance the watermark past every open session to flush them
      Files.write(java.nio.file.Paths.get(s"$dir/b1.csv"),
        "B,2026-01-15T12:00:00".getBytes("UTF-8"))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .collect().map(r => (r.getString(0),
          r.getTimestamp(1).toString, r.getLong(2))).toSet
      assert(got == Set(
        ("A", "2026-01-15 10:00:00.0", 2L), // burst pair gap-merged
        ("A", "2026-01-15 10:33:00.0", 1L), // 30-min gap → new session
        ("B", "2026-01-15 10:05:00.0", 1L)), got.toString)
    } finally q.stop()
  }

  test("restart replay: a re-delivered micro-batch is a no-op (exactly-once sink)") {
    import graft.sources.VersionedTable
    val dir = Files.createTempDirectory("stream-rr").toString
    val table = Files.createTempDirectory("stream-rr-out").toString + "/t"
    val ckpt = Files.createTempDirectory("stream-rr-ckpt").toString
    Files.write(java.nio.file.Paths.get(s"$dir/b0.ndjson"),
      Seq(
        Fixtures.valid(id = "R1", metrics = """{"wordCount": "10"}"""),
        Fixtures.valid(id = "R2", metrics = """{"wordCount": "20"}"""))
        .mkString("\n").getBytes("UTF-8"))
    def startSink() = StreamingSilver.sinkToVersioned(
      StreamingSilver.silverStream(spark.readStream.text(dir))
        .select("event_id", "word_count"),
      table, Seq("event_id"), latestBy = None, appId = "rr-app",
      checkpoint = Some(ckpt))
    val q1 = startSink()
    try q1.processAllAvailable() finally q1.stop()
    // stop() can return before the query deregisters; a restart on the SAME
    // checkpoint is rejected while the old run is still listed active
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    assert(VersionedTable.versions(spark, table) == Seq(1L))
    // CRASH WINDOW: the table commit landed but the engine died BEFORE
    // recording batch 0 complete — restart re-delivers batch 0 (foreachBatch
    // is at-least-once). Simulate by removing the completion marker.
    val marker = java.nio.file.Paths.get(s"$ckpt/commits/0")
    assert(java.nio.file.Files.deleteIfExists(marker), "checkpoint layout changed?")
    // the checksum checkpoint manager keeps a .crc sibling; left behind it
    // makes the replayed commit write look like a concurrent writer
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$ckpt/commits/.0.crc"))
    val q2 = startSink()
    try {
      q2.processAllAvailable()
      // the replayed batch 0 must be a no-op: same single version, same rows
      assert(VersionedTable.versions(spark, table) == Seq(1L),
        "replayed batch must not commit a duplicate version")
      val rows = VersionedTable.read(spark, table)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(rows == Map("R1" -> 10, "R2" -> 20), rows.toString)
      // and the stream keeps working: fresh data commits the next version
      Files.write(java.nio.file.Paths.get(s"$dir/b1.ndjson"),
        Seq(Fixtures.valid(id = "R3", metrics = """{"wordCount": "30"}"""))
          .mkString("\n").getBytes("UTF-8"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(VersionedTable.versions(spark, table).size == 2)
    assert(VersionedTable.read(spark, table).count() == 3)
  }

  test("flatMapGroupsWithState accumulates per-author totals across batches") {
    val dir = Files.createTempDirectory("stream-in2").toString
    Files.write(java.nio.file.Paths.get(s"$dir/b0.ndjson"),
      Seq(
        Fixtures.valid(id = "A1", authorId = "authA", metrics = """{"wordCount": "10"}"""),
        Fixtures.valid(id = "A2", authorId = "authA", metrics = """{"wordCount": "20"}"""),
        Fixtures.valid(id = "B1", authorId = "authB", metrics = """{"wordCount": "5"}"""))
        .mkString("\n").getBytes("UTF-8"))

    val totals = StreamingSilver.authorTotals(
      StreamingSilver.silverStream(spark.readStream.text(dir)))
    val q = totals.toDF().writeStream
      .format("memory").queryName("totals_out").outputMode("update").start()
    try {
      q.processAllAvailable()
      // second batch arrives later → state carries over
      Files.write(java.nio.file.Paths.get(s"$dir/b1.ndjson"),
        Seq(Fixtures.valid(id = "A3", authorId = "authA", metrics = """{"wordCount": "30"}"""))
          .mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
    } finally q.stop()

    val last = spark.table("totals_out")
      .groupBy("author_id")
      .agg(org.apache.spark.sql.functions.max("words").as("words"),
        org.apache.spark.sql.functions.max("events").as("events"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(last("authA") == (60L, 3L))
    assert(last("authB") == (5L, 1L))
  }

  test("versioned table as a streaming SOURCE: committed versions arrive as micro-batches") {
    import graft.sources.VersionedTable
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("vtsrc").toString + "/t"
    VersionedTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), table)
    val stream = spark.readStream.format("graft-table").load(table)
    val q = stream.writeStream.format("memory").queryName("vt_src")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("vt_src").count() == 2)
      // a new committed version arrives as exactly its appended rows
      VersionedTable.append(Seq((3, "c")).toDF("id", "v"), table)
      q.processAllAvailable()
      val got = spark.table("vt_src").collect()
        .map(r => r.getInt(0) -> r.getString(1)).toSet
      assert(got == Set(1 -> "a", 2 -> "b", 3 -> "c"), got.toString)
      assert(spark.table("vt_src").count() == 3, "no duplicates across batches")
      // a deletion-vector commit adds no files → empty batch, no failure
      // (purgeFraction=1.0: this must stay a pure mark commit even though
      // the marked row is a large fraction of its tiny file)
      VersionedTable.delete(spark, table, col("id") === 1, purgeFraction = 1.0)
      q.processAllAvailable()
      assert(spark.table("vt_src").count() == 3)
    } finally q.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    // a REWRITING commit poisons the file-level changelog: the default
    // source must refuse rather than silently emit wrong rows
    VersionedTable.upsert(Seq((2, "B2")).toDF("id", "v"), table, Seq("id"))
    val q2 = spark.readStream.format("graft-table")
      .option("startingVersion", (VersionedTable.latestVersion(spark, table).get - 1).toString)
      .load(table)
      .writeStream.format("memory").queryName("vt_src2").outputMode("append").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(err.getMessage.contains("non-append commit") ||
      Option(err.getCause).exists(_.getMessage.contains("non-append commit")),
      err.getMessage)
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    // ignoreChanges re-emits the rewritten file whole (Delta's semantics)
    val q3 = spark.readStream.format("graft-table")
      .option("ignoreChanges", "true").load(table)
      .writeStream.format("memory").queryName("vt_src3").outputMode("append").start()
    try q3.processAllAvailable() finally q3.stop()
    val all = spark.table("vt_src3").collect().map(r => r.getInt(0) -> r.getString(1)).toSet
    assert(all.contains(2 -> "B2"))
  }

  test("versioned table as a streaming SOURCE: a MERGE done by marks is refused per commit; an append then a DV delete streams") {
    import graft.sources.VersionedTable
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("vtsrcm").toString + "/t"
    VersionedTable.write((1 to 10).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), table)
    def drain(name: String, opts: (String, String)*): Set[(Int, String)] = {
      val q = spark.readStream.format("graft-table").options(opts.toMap).load(table)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      while (spark.streams.active.nonEmpty) Thread.sleep(50)
      spark.table(name).collect().map(r => r.getInt(0) -> r.getString(1)).toSet
    }
    // an append, then a DV delete of one of the file's rows, in ONE batch
    // from version 1: neither commit both adds files and marks carried rows
    VersionedTable.append(Seq((11, "v11")).toDF("id", "v"), table)
    VersionedTable.delete(spark, table, col("id") === 10)
    assert(drain("vt_srcm1", "startingVersion" -> "2") == Set(11 -> "v11"))
    // a MERGE matching 1 of 10 rows stays under the rewrite fraction: it
    // marks the row and adds the applied one — no file is removed, yet the
    // file-level changelog must refuse it
    val before = VersionedTable.filesOf(spark, table, 3L)
    VersionedTable.upsert(Seq((2, "B2")).toDF("id", "v"), table, Seq("id"))
    assert(before.forall(VersionedTable.filesOf(spark, table, 4L).contains))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain("vt_srcm2", "startingVersion" -> "4")
    }
    assert(err.getMessage.contains("non-append commit") ||
      Option(err.getCause).exists(_.getMessage.contains("non-append commit")),
      err.getMessage)
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    // ignoreChanges emits the MERGE's applied rows as appends
    assert(drain("vt_srcm3", "startingVersion" -> "4", "ignoreChanges" -> "true") ==
      Set(2 -> "B2"))
  }

  test("table→table streaming ETL: source tails bronze, exactly-once sink merges silver") {
    import graft.sources.VersionedTable
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, upper}
    val bronze = Files.createTempDirectory("etl-b").toString + "/t"
    val silver = Files.createTempDirectory("etl-s").toString + "/t"
    val ckpt = Files.createTempDirectory("etl-ckpt").toString
    VersionedTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), bronze)
    def startEtl() = StreamingSilver.sinkToVersioned(
      spark.readStream.format("graft-table").load(bronze)
        .select(col("id"), upper(col("v")).as("v")),
      silver, Seq("id"), latestBy = None, appId = "etl",
      checkpoint = Some(ckpt))
    val q = startEtl()
    try {
      q.processAllAvailable()
      VersionedTable.append(Seq((2, "b2"), (3, "c")).toDF("id", "v"), bronze)
      q.processAllAvailable()
    } finally q.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    val mid = VersionedTable.read(spark, silver)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(mid == Map(1 -> "A", 2 -> "B2", 3 -> "C"), mid.toString)
    // RESTART from the checkpoint (exercises the serialized-offset path):
    // only versions committed while the query was down arrive, no replays
    VersionedTable.append(Seq((4, "d")).toDF("id", "v"), bronze)
    val q2 = startEtl()
    try q2.processAllAvailable() finally q2.stop()
    val fin = VersionedTable.read(spark, silver)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(fin == Map(1 -> "A", 2 -> "B2", 3 -> "C", 4 -> "D"), fin.toString)
    // silver saw exactly one merge commit per non-empty bronze batch
    assert(VersionedTable.versions(spark, silver).size == 3)
  }

  test("transformWithState (Spark 4 StatefulProcessor) matches flatMapGroupsWithState") {
    val dir = Files.createTempDirectory("stream-tws").toString
    Files.write(java.nio.file.Paths.get(s"$dir/b0.ndjson"),
      Seq(
        Fixtures.valid(id = "T1", authorId = "authA", metrics = """{"wordCount": "10"}"""),
        Fixtures.valid(id = "T2", authorId = "authA", metrics = """{"wordCount": "20"}"""),
        Fixtures.valid(id = "T3", authorId = "authB", metrics = """{"wordCount": "5"}"""))
        .mkString("\n").getBytes("UTF-8"))
    // the new API runs only on the RocksDB state store
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val totals = StreamingSilver.authorTotalsTws(
        StreamingSilver.silverStream(spark.readStream.text(dir)))
      val q = totals.toDF().writeStream
        .format("memory").queryName("tws_out").outputMode("update").start()
      try {
        q.processAllAvailable()
        // state carries across micro-batches, as with the old API
        Files.write(java.nio.file.Paths.get(s"$dir/b1.ndjson"),
          Seq(Fixtures.valid(id = "T4", authorId = "authA",
            metrics = """{"wordCount": "30"}"""))
            .mkString("\n").getBytes("UTF-8"))
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("tws_out")
        .groupBy("author_id")
        .agg(org.apache.spark.sql.functions.max("words").as("words"),
          org.apache.spark.sql.functions.max("events").as("events"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(last("authA") == (60L, 3L), last.toString)
      assert(last("authB") == (5L, 1L), last.toString)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("source rate control: backlog drains in bounded batches, exactly-once") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val bronze = Files.createTempDirectory("rc-b").toString + "/t"
    val ckpt = Files.createTempDirectory("rc-ckpt").toString
    // 10-commit backlog, one file per commit
    (1 to 10).foreach(i =>
      VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1), bronze))
    def reader = spark.readStream.format("graft-table")
      .option("maxVersionsPerTrigger", "3").load(bronze)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    def collectBatch(df: org.apache.spark.sql.DataFrame, bid: Long): Unit = {
      val ids = df.select("id").as[Int].collect().toSeq
      seen.synchronized { if (ids.nonEmpty) seen += ids }
    }
    // ONE trigger processes only the first 3 versions, not the whole backlog
    val q1 = reader.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(collectBatch _)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    q1.awaitTermination()
    assert(seen.toSeq == Seq(Seq(1, 2, 3)),
      s"a throttled trigger must take exactly maxVersionsPerTrigger commits: $seen")
    // MID-DRAIN RESTART from the checkpoint: the rest arrives in bounded
    // batches, no replay of versions 1..3, no loss
    val q2 = reader.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(collectBatch _).start()
    try q2.processAllAvailable() finally q2.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    assert(seen.flatten.sorted == (1 to 10), s"no dup, no loss across restart: $seen")
    assert(seen.forall(_.size <= 3), s"every batch bounded by the throttle: $seen")
    assert(seen.size >= 4, s"10 versions at <=3/trigger need >=4 batches: $seen")
    // POST-DRAIN RESTART: the throttle anchor must recover from the
    // engine's committed-batch replay, not reset below the committed
    // offset (which would wedge every restart on a non-append refusal)
    (11 to 13).foreach(i =>
      VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1), bronze))
    val q2b = reader.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(collectBatch _).start()
    try q2b.processAllAvailable() finally q2b.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    assert(seen.flatten.sorted == (1 to 13),
      s"post-drain restart must resume forward, never regress: $seen")
    assert(seen.forall(_.size <= 3), seen.toString)
    // maxFilesPerTrigger: same backlog, file-budgeted batches of <= 2
    val q3 = spark.readStream.format("graft-table")
      .option("maxFilesPerTrigger", "2").load(bronze)
      .writeStream.format("memory").queryName("rc_out3").start()
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.table("rc_out3").select("id").as[Int].collect().toSet == (1 to 13).toSet)
    val fsizes = q3.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(fsizes.nonEmpty && fsizes.forall(_ <= 2L), fsizes.mkString(","))
  }

  test("mid-stream DROP/re-ADD COLUMN fails the query instead of serving nulls") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.types.{IntegerType, StructField}
    import spark.implicits._
    val table = Files.createTempDirectory("cmguard").toString + "/t"
    VersionedTable.write(Seq((1L, 10)).toDF("id", "v").coalesce(1), table)
    val q = spark.readStream.format("graft-table").load(table)
      .writeStream.format("memory").queryName("cm_guard").outputMode("append").start()
    try {
      q.processAllAvailable()
      // DDL while the query runs: metadata-only commits add no files, so
      // the non-append guard can't fire — the MAPPING guard must, or the
      // next batch would bind pre-DDL appends under the new physical name
      // and stream the column as null
      VersionedTable.dropColumns(spark, table, Seq("v"))
      VersionedTable.addColumns(spark, table, Seq(StructField("v", IntegerType)))
      VersionedTable.append(Seq((2L, 20)).toDF("id", "v"), table)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = Option(ex.getCause).fold(ex.getMessage)(_.getMessage)
      assert(msg.contains("column mapping"), s"wrong failure: $msg")
    } finally q.stop()
  }

  test("mid-stream TYPE WIDENING fails the query with the remedy named") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    val table = Files.createTempDirectory("widenguard").toString + "/t"
    VersionedTable.write(Seq((1, 10L)).toDF("v", "id").coalesce(1), table)
    val q = spark.readStream.format("graft-table").load(table)
      .writeStream.format("memory").queryName("widen_guard").outputMode("append").start()
    try {
      q.processAllAvailable()
      // widening is metadata-only (no files added → non-append guard blind);
      // the post-widen APPEND stores int64 where the pinned schema says int —
      // a narrowing parquet read. The typed guard must fail the batch.
      VersionedTable.widenColumn(spark, table, "v", LongType)
      VersionedTable.append(Seq((2L, 20L)).toDF("v", "id"), table)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = Option(ex.getCause).fold(ex.getMessage)(_.getMessage)
      assert(msg.contains("type(s) changed"), s"wrong failure: $msg")
      assert(msg.contains("Restart the query"), s"missing remedy: $msg")
    } finally q.stop()
    // a FRESH stream (pinned wide) reads the narrow backlog + wide appends
    val q2 = spark.readStream.format("graft-table").load(table)
      .writeStream.format("memory").queryName("widen_fresh").outputMode("append").start()
    try {
      q2.processAllAvailable()
      val got = spark.table("widen_fresh").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 10L), (2L, 20L)), got.toString)
    } finally q2.stop()
  }

  test("file-budget walk stops at full manifests instead of resolving them") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val table = Files.createTempDirectory("rcwalk").toString + "/t"
    // 12-commit backlog, one file each; v1 and v10 carry FULL manifests
    // (genesis / checkpoint cadence), the rest are deltas
    (1 to 12).foreach(i =>
      VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1), table))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = spark.readStream.format("graft-table")
      .option("maxFilesPerTrigger", "100").load(table)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count().toInt
        seen.synchronized { if (n > 0) seen += n }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    // the throttle walk reads per-version appended counts from DELTA
    // manifests only (files_add — one tiny JSON parse each); the full
    // manifests at v1/v10 are batch boundaries, never per-version full
    // file-list resolutions (a ckpt-anchored one costs a Spark job EACH —
    // O(backlog) jobs in one getOffset). Deterministic batch shape:
    // [v1], [v2..v9], [v10], [v11..v12].
    assert(seen.toSeq == Seq(1, 8, 1, 2),
      s"walk must batch deltas cheaply and break at full manifests: $seen")
  }

  test("streaming a column-mapped table: re-added columns stream real values") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.types.{IntegerType, StructField}
    import spark.implicits._
    val table = Files.createTempDirectory("cmsrc").toString + "/t"
    VersionedTable.write(Seq((1L, 10)).toDF("id", "v").coalesce(1), table)
    VersionedTable.dropColumns(spark, table, Seq("v"))                        // v2
    VersionedTable.addColumns(spark, table, Seq(StructField("v", IntegerType))) // v3
    val startV = VersionedTable.latestVersion(spark, table).get
    // appends after the re-add store the column under its FRESH physical
    // name; the stream must surface the real values, not nulls
    VersionedTable.append(Seq((2L, 20), (3L, 30)).toDF("id", "v"), table)     // v4
    val q = spark.readStream.format("graft-table")
      .option("startingVersion", (startV + 1).toString).load(table)
      .writeStream.format("memory").queryName("cm_src").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    val got = spark.table("cm_src").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got == Map(2L -> Some(20), 3L -> Some(30)),
      s"column-mapped appends must stream real values: $got")
  }

  test("a fresh stream over HISTORICAL DDL catches up: nulls pre-drop, values after") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.types.{IntegerType, StructField}
    import spark.implicits._
    val table = Files.createTempDirectory("cmhist").toString + "/t"
    VersionedTable.write(Seq((1L, 10)).toDF("id", "v").coalesce(1), table)    // v1
    VersionedTable.dropColumns(spark, table, Seq("v"))                        // v2
    VersionedTable.addColumns(spark, table, Seq(StructField("v", IntegerType))) // v3
    VersionedTable.append(Seq((2L, 20)).toDF("id", "v"), table)               // v4
    // stream from GENESIS: the DROP/re-ADD is history, not a mid-run
    // change. The guard must not fire (the pin predates nothing — every
    // batch is at or before the pinned version), and pre-drop files must
    // bind the PINNED mapping: the re-added column streams as null there,
    // exactly like a batch read — never the dropped column's stale bytes,
    // and never a permanent mapping-changed failure.
    val q = spark.readStream.format("graft-table").load(table)
      .writeStream.format("memory").queryName("cm_hist").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    val got = spark.table("cm_hist").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got == Map(1L -> None, 2L -> Some(20)),
      s"historical DDL: pre-drop files stream nulls, post-DDL appends values: $got")
    // throttled to one version per trigger, each historical batch crosses
    // the guard individually — still no spurious failure
    val q2 = spark.readStream.format("graft-table")
      .option("maxVersionsPerTrigger", "1").load(table)
      .writeStream.format("memory").queryName("cm_hist2").outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    val got2 = spark.table("cm_hist2").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got2 == got, s"per-version batches must agree with the drain: $got2")
  }

  test("change-feed streaming source: row-level CDC over non-append commits") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val table = Files.createTempDirectory("cdfsrc").toString + "/t"
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1), table, Seq("id"))                                       // v1
    val q = spark.readStream.format("graft-table")
      .option("readChangeFeed", "true").option("maxVersionsPerTrigger", "1")
      .load(table)
      .writeStream.format("memory").queryName("cdf_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      VersionedTable.append(Seq((3L, "c")).toDF("id", "v").coalesce(1), table) // v2
      // MERGE rewrite — the file-level source REFUSES this; CDF emits the
      // row-level delete+insert pair instead
      VersionedTable.upsert(Seq((2L, "B")).toDF("id", "v"), table, Seq("id")) // v3
      // merge-on-read DV delete — zero files rewritten, still a CDC delete
      VersionedTable.delete(spark, table, col("id") === 1L, 1.0)    // v4
      q.processAllAvailable()
    } finally q.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    val got = spark.table("cdf_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    val expected = Seq(
      (1L, "a", "insert"), (2L, "b", "insert"),  // initial snapshot (v1)
      (3L, "c", "insert"),                       // append (v2)
      (2L, "b", "delete"), (2L, "B", "insert"),  // MERGE rewrite (v3)
      (1L, "a", "delete")                        // DV delete (v4)
    ).sorted
    assert(got == expected, s"CDC rows:\n${got.mkString("\n")}")
    // replaying the feed from scratch folds to the live table state:
    // inserts ∖ deletes (multiset) == current rows
    val live = VersionedTable.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val residual = got.filter(_._3 == "insert").map(t => (t._1, t._2))
      .diff(got.filter(_._3 == "delete").map(t => (t._1, t._2)))
    assert(residual.toMap == live && residual.size == live.size,
      s"folded $residual vs live $live")
    // a USER-SUPPLIED schema (without the tag) still gets _change_type
    // appended — sourceSchema and the Source must agree on column count
    val userSchema = VersionedTable.read(spark, table).schema
    val q2 = spark.readStream.schema(userSchema).format("graft-table")
      .option("readChangeFeed", "true").load(table)
      .writeStream.format("memory").queryName("cdf_out2").outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    assert(spark.table("cdf_out2").columns.toSeq ==
      userSchema.fieldNames.toSeq :+ "_change_type")
    assert(spark.table("cdf_out2").count() == live.size,
      "initial snapshot under a user schema must serve the live rows as inserts")
  }

  test("graft-table streaming SINK: exactly-once appends without foreachBatch") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val dir = Files.createTempDirectory("snk-in").toString
    val table = Files.createTempDirectory("snk-out").toString + "/t"
    val ckpt = Files.createTempDirectory("snk-ckpt").toString
    Files.write(java.nio.file.Paths.get(s"$dir/b0.txt"), "r1\nr2".getBytes("UTF-8"))
    def start() = spark.readStream.text(dir)
      .writeStream.format("graft-table")
      .option("checkpointLocation", ckpt).start(table)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    assert(VersionedTable.versions(spark, table) == Seq(1L))
    // CRASH WINDOW: commit landed, engine died before marking batch 0
    // complete — the restart re-delivers batch 0; the sink's (queryId,
    // batchId) watermark must make the replay a no-op
    assert(java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$ckpt/commits/0")), "checkpoint layout changed?")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$ckpt/commits/.0.crc"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(VersionedTable.versions(spark, table) == Seq(1L),
        "replayed batch must not commit a duplicate version")
      Files.write(java.nio.file.Paths.get(s"$dir/b1.txt"), "r3".getBytes("UTF-8"))
      q2.processAllAvailable()
    } finally q2.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    assert(VersionedTable.versions(spark, table).size == 2)
    assert(VersionedTable.read(spark, table).select("value").as[String]
      .collect().sorted.toSeq == Seq("r1", "r2", "r3"))
  }

  test("streaming sink onto an IDENTITY table: fill per batch, replay never double-allocates") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val dir = Files.createTempDirectory("snkid-in").toString
    val table = Files.createTempDirectory("snkid-out").toString + "/t"
    val ckpt = Files.createTempDirectory("snkid-ckpt").toString
    VersionedTable.write(Seq.empty[(Long, String)].toDF("id", "value"), table)
    VersionedTable.declareIdentityColumn(spark, table, "id")
    Files.write(java.nio.file.Paths.get(s"$dir/b0.txt"), "r1\nr2".getBytes("UTF-8"))
    def start() = spark.readStream.text(dir)
      .writeStream.format("graft-table")
      .option("checkpointLocation", ckpt).start(table)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    assert(VersionedTable.read(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "r1"), (2L, "r2")))
    // crash window: commit landed, batch-0 completion marker lost — the
    // replayed batch must neither commit NOR advance the high-water mark
    assert(java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$ckpt/commits/0")), "checkpoint layout changed?")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$ckpt/commits/.0.crc"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(VersionedTable.propertiesOf(spark, table)
        .get("graft.identityHwm.id").contains("3"),
        "replay must not re-allocate")
      Files.write(java.nio.file.Paths.get(s"$dir/b1.txt"), "r3".getBytes("UTF-8"))
      q2.processAllAvailable()
    } finally q2.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    assert(VersionedTable.read(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "r1"), (2L, "r2"), (3L, "r3")))
  }

  test("APPLY CHANGES INTO: CDC stream applies with cross-batch out-of-order tolerance") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-in").toString
    val table = Files.createTempDirectory("cdc-out").toString + "/t"
    val ckpt = Files.createTempDirectory("cdc-ckpt").toString
    def writeBatch(name: String, rows: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(s"$dir/$name.csv"),
        rows.mkString("\n").getBytes("UTF-8"))
    // batch 0: inserts (k1 seq1, k2 seq1) + an intra-batch supersede for k1
    writeBatch("b0", Seq("k1,1,a,upsert", "k1,2,b,upsert", "k2,1,c,upsert"))
    val q = StreamingSilver.applyChangesInto(
      spark.readStream.schema("k STRING, seq LONG, v STRING, op STRING").csv(dir),
      table, Seq("k"), sequenceBy = "seq", checkpoint = Some(ckpt))
    def state(): Map[String, (Long, String)] =
      VersionedTable.read(spark, table).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    try {
      q.processAllAvailable()
      // the op marker is bookkeeping — it must NOT land in the target
      assert(VersionedTable.read(spark, table).columns.toSeq ==
        Seq("k", "seq", "v"))
      assert(state() == Map("k1" -> (2L, "b"), "k2" -> (1L, "c")), state().toString)
      // batch 1: a LATE update for k1 (seq 1 < stored 2) must be ignored;
      // a newer delete removes k2; k3 inserts
      writeBatch("b1", Seq("k1,1,stale,upsert", "k2,5,x,delete", "k3,1,d,upsert"))
      q.processAllAvailable()
      assert(state() == Map("k1" -> (2L, "b"), "k3" -> (1L, "d")), state().toString)
      // batch 2: k1 advances; a re-insert of the DELETED k2 applies even
      // with a sequence below the tombstone's — the tombstone row itself is
      // gone from the table, so there is no stored sequence to compare
      // (the documented semantic without tombstone retention)
      writeBatch("b2", Seq("k1,3,final,upsert", "k2,2,back,upsert"))
      q.processAllAvailable()
      assert(state() == Map("k1" -> (3L, "final"), "k2" -> (2L, "back"),
        "k3" -> (1L, "d")), state().toString)
    } finally q.stop()
  }

  test("graft-table streaming SINK: Complete mode commits snapshot versions") {
    import graft.sources.VersionedTable
    val dir = Files.createTempDirectory("snkc-in").toString
    val table = Files.createTempDirectory("snkc-out").toString + "/t"
    val ckpt = Files.createTempDirectory("snkc-ckpt").toString
    Files.write(java.nio.file.Paths.get(s"$dir/b0.txt"), "a\nb\na".getBytes("UTF-8"))
    val q = spark.readStream.text(dir)
      .groupBy("value").count()
      .writeStream.format("graft-table").outputMode("complete")
      .option("checkpointLocation", ckpt).start(table)
    try {
      q.processAllAvailable()
      val v1 = VersionedTable.read(spark, table).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(v1 == Map("a" -> 2L, "b" -> 1L), v1.toString)
      Files.write(java.nio.file.Paths.get(s"$dir/b1.txt"), "b".getBytes("UTF-8"))
      q.processAllAvailable()
    } finally q.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    // each batch is a full snapshot; the log keeps the old one travelable
    val latest = VersionedTable.read(spark, table).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(latest == Map("a" -> 2L, "b" -> 2L), latest.toString)
    val firstV = VersionedTable.versions(spark, table).min
    assert(VersionedTable.read(spark, table, Some(firstV)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 2L, "b" -> 1L))
    // Update mode is refused with guidance
    val ex = intercept[Exception] {
      spark.readStream.text(dir).groupBy("value").count()
        .writeStream.format("graft-table").outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("snkc-ckpt2").toString).start(table)
    }
    assert(ex.getMessage.contains("foreachBatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("foreachBatch")), ex.getMessage)
  }

  test("startingTimestamp: the stream begins at the first version at-or-after the instant") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val p = Files.createTempDirectory("stream-sts").toString + "/t"
    VersionedTable.append(Seq((1L, "a")).toDF("id", "s"), p)             // v1
    Thread.sleep(15L)
    val mid = System.currentTimeMillis()
    Thread.sleep(15L)
    VersionedTable.append(Seq((2L, "b")).toDF("id", "s"), p)             // v2
    VersionedTable.append(Seq((3L, "c")).toDF("id", "s"), p)             // v3
    val q = spark.readStream.format("graft-table")
      .option("path", p)
      .option("startingTimestamp",
        java.time.Instant.ofEpochMilli(mid).toString)
      .load()
      .writeStream.format("memory").queryName("sts_out").start()
    try q.processAllAvailable() finally q.stop()
    // v1 predates the instant and is excluded; v2/v3 stream
    assert(spark.table("sts_out").collect().map(_.toString).toSet ==
      Set("[2,b]", "[3,c]"))
    // both options together are refused
    intercept[Exception] {
      spark.readStream.format("graft-table").option("path", p)
        .option("startingVersion", "1").option("startingTimestamp", "2026-01-01")
        .load().writeStream.format("noop").start().processAllAvailable()
    }
  }

  test("recovery-replayed batch predating a re-partitioning overwrite is refused") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    import graft.sources.VersionedTable
    val p = Files.createTempDirectory("stream-replay").toString + "/t"
    VersionedTable.append(Seq((1L, "d1")).toDF("id", "dt"), p)            // v1 flat
    VersionedTable.append(Seq((2L, "d1")).toDF("id", "dt"), p)            // v2 flat
    VersionedTable.write(Seq((1L, "d1"), (2L, "d1")).toDF("id", "dt"),
      p, Nil, Seq("dt"))                                                  // v3 re-partitions
    // a source created AFTER the overwrite pins the partitioned layout; a
    // recovery-replayed batch ending at v2 holds FLAT files — reading them
    // under the pinned layout would stream dt as silent NULL, so it throws
    val src = new VersionedTableSource(spark, p, startingVersion = 0L,
      ignoreChanges = true)
    val e = intercept[IllegalStateException] {
      src.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    }
    assert(e.getMessage.contains("partition layout"), e.getMessage)
    // a replayed batch under the SAME layout is served, not refused
    assert(src.getBatch(Some(LongOffset(2L)), LongOffset(3L)).isStreaming)
  }

  test("streaming incremental dedup: micro-batches probe the persisted band index exactly-once") {
    import org.apache.spark.sql.functions._
    import graft.sources.VersionedTable
    val dir = Files.createTempDirectory("sdedup-in").toString
    val idx = Files.createTempDirectory("sdedup-idx").toString + "/t"
    val dec = Files.createTempDirectory("sdedup-dec").toString + "/t"
    val ckpt = Files.createTempDirectory("sdedup-ckpt").toString
    val tA = "a b c d e f g h"
    val tB = "x y z w v u t s"
    val tC = "one two three four five six"
    val tD = "p q r s t u v w"
    def writeBatch(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$dir/$name.csv"),
        rows.map { case (i, t) => s"$i;$t" }.mkString("\n").getBytes("UTF-8"))
    writeBatch("b0", Seq(1L -> tA, 2L -> tB))
    val q = StreamingSilver.incrementalDedupSink(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("sep", ";").csv(dir),
      idx, dec, checkpoint = Some(ckpt))
    def decisions(): Map[Long, (Boolean, Option[Long], Long)] =
      VersionedTable.read(spark, dec).collect().map(r =>
        r.getAs[Long]("doc_id") -> ((r.getAs[Boolean]("is_dup"),
          Option(r.get(r.fieldIndex("dup_of"))).map(_.asInstanceOf[Long]),
          r.getAs[Long]("n_dups")))).toMap
    def indexDocs(): Set[Long] =
      VersionedTable.read(spark, idx).select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
    try {
      q.processAllAvailable()
      assert(decisions() == Map(1L -> ((false, None, 0L)),
        2L -> ((false, None, 0L))), decisions().toString)
      assert(indexDocs() == Set(1L, 2L))
      // batch 1: doc 10 duplicates HISTORY (doc 1); doc 11 is fresh
      writeBatch("b1", Seq(10L -> tA, 11L -> tC))
      q.processAllAvailable()
      assert(decisions()(10L) == ((true, Some(1L), 1L)), decisions().toString)
      assert(decisions()(11L) == ((false, None, 0L)))
      // the duplicate never entered the index — only survivors grow it
      assert(indexDocs() == Set(1L, 2L, 11L))
      // batch 2: doc 20 duplicates doc 10's text — but doc 10 is NOT in
      // the index, so the match lands on the original (doc 1); docs 21/22
      // are identical WITHIN the batch: first occurrence survives
      writeBatch("b2", Seq(20L -> tA, 21L -> tD, 22L -> tD))
      q.processAllAvailable()
      assert(decisions()(20L) == ((true, Some(1L), 1L)), decisions().toString)
      assert(decisions()(21L) == ((false, None, 0L)))
      assert(decisions()(22L) == ((true, Some(21L), 1L)), decisions().toString)
      assert(indexDocs() == Set(1L, 2L, 11L, 21L))
    } finally q.stop()
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
    // REPLAY: re-running batch 2's work directly is a full no-op on both
    // tables (per-table txn keys) — the crash-between-commits contract
    val decHead = VersionedTable.latestVersion(spark, dec).get
    val idxHead = VersionedTable.latestVersion(spark, idx).get
    import spark.implicits._
    StreamingSilver.dedupMicroBatch(
      Seq(20L -> tA, 21L -> tD, 22L -> tD).toDF("doc_id", "text"),
      batchId = 2L, idx, dec, appId = "graft-stream-dedup")
    assert(VersionedTable.latestVersion(spark, dec).contains(decHead))
    assert(VersionedTable.latestVersion(spark, idx).contains(idxHead))
  }
}
