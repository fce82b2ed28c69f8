package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  test("write/read/time-travel across versions") {
    val path = java.nio.file.Files.createTempDirectory("vt").toString + "/t"
    assert(VersionedTable.versions(spark, path).isEmpty)
    val v1 = VersionedTable.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    val v2 = VersionedTable.write(Seq((1, "a"), (2, "B"), (3, "c")).toDF("id", "v"), path)
    assert((v1, v2) == (1L, 2L))
    assert(VersionedTable.read(spark, path).count() == 3)           // latest
    assert(VersionedTable.read(spark, path, Some(1L)).count() == 2) // time travel
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, path, Some(9L))
    }
  }

  test("a committed version that nets to zero rows stays readable (manifest schema)") {
    val path = java.nio.file.Files.createTempDirectory("vt").toString + "/t"
    VersionedTable.write(Seq((1, "a")).toDF("id", "v"), path)
    val empty = Seq((1, "a")).toDF("id", "v").filter(lit(false))
    val v2 = VersionedTable.write(empty, path)
    val got = VersionedTable.read(spark, path, Some(v2))
    assert(got.count() == 0)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("concurrent writers: every commit wins a distinct version, none are lost") {
    val path = java.nio.file.Files.createTempDirectory("vt").toString + "/t"
    val writers = 4
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    import scala.jdk.CollectionConverters._
    val futures = (1 to writers).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await()
          VersionedTable.write(Seq((i, s"w$i")).toDF("id", "v"), path)
        }
      })
    }
    gate.countDown()
    val got = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).sorted
    pool.shutdown()
    assert(got == (1L to writers.toLong), got.toString) // contiguous, all distinct
    assert(VersionedTable.versions(spark, path) == (1L to writers.toLong))
    // every version is readable and carries exactly its writer's snapshot
    val snapshots = (1L to writers.toLong).map(v =>
      VersionedTable.read(spark, path, Some(v)).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet)
    assert(snapshots.toSet == (1 to writers).map(i => Set((i, s"w$i"))).toSet)
  }

  test("concurrent upserts: optimistic retry means no lost update") {
    val path = java.nio.file.Files.createTempDirectory("vt").toString + "/t"
    VersionedTable.write(Seq((0, "base")).toDF("id", "v"), path)
    val writers = 4
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val futures = (1 to writers).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await()
          VersionedTable.upsert(Seq((i, s"u$i")).toDF("id", "v"), path, Seq("id"))
        }
      })
    }
    gate.countDown()
    val got = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).sorted
    pool.shutdown()
    assert(got == (2L to (writers + 1).toLong), got.toString)
    // the final head contains the base row AND all four upserts — a lost
    // race recomputed its merge instead of clobbering the other writer
    val head = VersionedTable.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(head == (Set((0, "base")) ++ (1 to writers).map(i => (i, s"u$i"))), head.toString)
  }

  test("change feed tags inserts and deletes between versions") {
    val path = java.nio.file.Files.createTempDirectory("vt").toString + "/t"
    VersionedTable.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    VersionedTable.write(Seq((1, "a"), (2, "B"), (3, "c")).toDF("id", "v"), path)
    val ch = VersionedTable.changes(spark, path, 1L, 2L)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    // unchanged (1,a) absent; update = delete old + insert new
    assert(ch == Set((2, "B", "insert"), (3, "c", "insert"), (2, "b", "delete")))
  }

  test("upsert replaces matched keys, appends new ones, and keeps history") {
    val path = java.nio.file.Files.createTempDirectory("vt").toString + "/t"
    VersionedTable.upsert(Seq((1, "a"), (2, "b")).toDF("id", "v"), path, Seq("id"))
    val v2 = VersionedTable.upsert(Seq((2, "B2"), (3, "c")).toDF("id", "v"), path, Seq("id"))
    assert(v2 == 2L)
    val now = VersionedTable.read(spark, path)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(now == Set((1, "a"), (2, "B2"), (3, "c")))
    // pre-merge snapshot still served by time travel
    val before = VersionedTable.read(spark, path, Some(1L))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(before == Set((1, "a"), (2, "b")))
  }

  test("upsert with schema evolution keeps new columns, null-fills old rows") {
    val path = java.nio.file.Files.createTempDirectory("vt").toString + "/t"
    VersionedTable.upsert(Seq((1, "a")).toDF("id", "v"), path, Seq("id"))
    // new batch carries an extra column
    VersionedTable.upsert(
      Seq((2, "b", "extra")).toDF("id", "v", "tag"), path, Seq("id"),
      evolveSchema = true)
    val now = VersionedTable.read(spark, path).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(now == Seq((1, "a", None), (2, "b", Some("extra"))), now.toString)
    // pre-evolution version still time-travels with ITS recorded schema —
    // the manifest pins schema per version, so widening the head never
    // rewrites history
    val v1 = VersionedTable.read(spark, path, Some(1L))
    assert(v1.schema.fieldNames.toSeq == Seq("id", "v"), v1.schema.treeString)
    assert(v1.count() == 1)
    // change feed across the evolution aligns columns (missing side = null)
    val ch = VersionedTable.changes(spark, path, 1L, 2L).collect()
      .map(r => (r.getAs[Int]("id"), Option(r.getAs[String]("tag")),
        r.getAs[String]("_change_type"))).toSet
    assert(ch == Set((2, Some("extra"), "insert")), ch.toString)
    // without evolution, mismatched schemas must fail loudly
    intercept[Exception] {
      VersionedTable.upsert(
        Seq((3, "c", 1.0)).toDF("id", "v", "other"), path, Seq("id"))
    }
  }

  // ---- file-granular write path (round-5: copy-on-write MERGE family) ----

  /** All data files of a version, absolute, via the public pruning surface
    * (lit(true) can never skip a file). */
  private def filesOf(path: String, asOf: Option[Long] = None): Set[String] =
    VersionedTable.pruneInfo(spark, path, lit(true), asOf)._1.toSet

  private def localFile(f: String): java.io.File =
    new java.io.File(new org.apache.hadoop.fs.Path(f).toUri.getPath)

  /** Per data file (root-relative key), the deletion-vector marks version
    * `v` records, read from the manifest's bytes (`dv_rows`). */
  private def marksAt(path: String, v: Long): Map[String, Long] = {
    val mf = new java.io.File(path, f"_graft_log/$v%08d.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(mf)
    import scala.jdk.CollectionConverters._
    Option(node.get("dv_rows")).toSeq.flatMap(_.fields().asScala)
      .map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  /** Content digest of every data file of version `v`, by root-relative key. */
  private def digestsAt(path: String, v: Long): Map[String, String] =
    VersionedTable.filesOf(spark, path, v).map { k =>
      val bytes = java.nio.file.Files.readAllBytes(new java.io.File(path, k).toPath)
      k -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
    }.toMap

  /** Rows of the data files version `v` adds over version `v - 1`. */
  private def addedRows(path: String, v: Long): Long = {
    val added = VersionedTable.filesOf(spark, path, v)
      .diff(VersionedTable.filesOf(spark, path, v - 1))
    if (added.isEmpty) 0L else spark.read.parquet(added.map(a => s"$path/$a"): _*).count()
  }

  /** Canonical paths of the files version `v` marks rows of. */
  private def markedTiles(path: String, v: Long): Set[String] =
    marksAt(path, v).keySet.map(k => new java.io.File(path, k).getCanonicalPath)

  /** Canonical paths of the files of version 1 whose stats admit `p`. */
  private def tilesHolding(path: String, p: org.apache.spark.sql.Column): Set[String] =
    VersionedTable.pruneInfo(spark, path, p, Some(1L))._1.map(localFile(_).getCanonicalPath).toSet

  /** Range-clustered 4-file table over id 0..999 with id stats recorded. */
  private def rangeTable(path: String): Unit = {
    val df = spark.range(0, 1000).select(col("id"),
      concat(lit("v"), col("id")).as("v"))
    VersionedTable.write(df.repartitionByRange(4, col("id")), path, Seq("id"))
  }

  test("copy-on-write upsert rewrites ONLY files whose key bounds admit matches") {
    val path = java.nio.file.Files.createTempDirectory("cow").toString + "/t"
    rangeTable(path)
    val v1Files = filesOf(path)
    assert(v1Files.size == 4)
    val v1Digests = digestsAt(path, 1L)
    // update keys all inside ONE range tile (ids 100..105)
    val updates = spark.range(100, 106).select(col("id"), lit("UPDATED").as("v"))
    val v2 = VersionedTable.upsert(updates, path, Seq("id"))
    val v2Files = filesOf(path)
    // file-identity audit: 6 of 250 rows match, under the rewrite fraction,
    // so NO data file is removed — every tile is carried by reference with
    // its bytes untouched, only the matched tile gains marks (6), and the
    // added files hold exactly the 6 applied rows
    assert(v1Files.subsetOf(v2Files), s"no data file removed: ${v1Files -- v2Files}")
    assert(addedRows(path, 2L) == 6L, "only the applied rows are staged")
    assert(digestsAt(path, 2L).filter(kv => v1Digests.contains(kv._1)) == v1Digests)
    val marks = marksAt(path, 2L)
    assert(marks.values.toSeq == Seq(6L), marks.toString)
    assert(markedTiles(path, 2L) == tilesHolding(path, col("id").between(100, 105)),
      "only the matched tile is marked")
    // result is still the correct MERGE
    val got = VersionedTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (0L until 1000L).map(i =>
      (i, if (i >= 100 && i <= 105) "UPDATED" else s"v$i")).toSet
    assert(got == want)
    // pre-merge snapshot intact
    assert(VersionedTable.read(spark, path, Some(1L)).count() == 1000)
    assert(v2 == 2L)
    // data skipping still live on the merged version (stats carried + recomputed)
    val (_, skipped) = VersionedTable.pruneInfo(spark, path, col("id") === 900L)
    assert(skipped.nonEmpty, "merged version must keep pruning")
  }

  test("pure-insert upsert carries EVERY existing file (zero rewrite)") {
    val path = java.nio.file.Files.createTempDirectory("cow").toString + "/t"
    rangeTable(path)
    val v1Files = filesOf(path)
    val mtimes = v1Files.map(f => f -> localFile(f).lastModified()).toMap
    // keys provably outside every file's [min, max]
    val inserts = spark.range(5000, 5003).select(col("id"), lit("new").as("v"))
    VersionedTable.upsert(inserts, path, Seq("id"))
    val v2Files = filesOf(path)
    assert(v1Files.subsetOf(v2Files), "all base files carried by reference")
    v1Files.foreach { f =>
      assert(localFile(f).lastModified() == mtimes(f),
        s"carried file must be byte-untouched: $f")
    }
    assert(VersionedTable.read(spark, path).count() == 1003)
  }

  test("upsert matching one z-tile of a z-ordered table rewrites only that tile's files") {
    val path = java.nio.file.Files.createTempDirectory("cowz").toString + "/t"
    val grid = spark.range(0, 256 * 256).select(
      (col("id") % 256).cast("int").as("a"),
      (col("id") / 256).cast("int").as("b"),
      col("id").as("payload"))
    // z-placed: every file covers one aligned z-tile → narrow (a, b) bounds
    VersionedTable.write(TableIO.zPlaced(grid, Seq("a", "b"), 8), path, Seq("a", "b"))
    val v1Files = filesOf(path)
    assert(v1Files.size >= 8, s"need a multi-file layout, got ${v1Files.size}")
    val v1Digests = digestsAt(path, 1L)
    // update keys confined to one small z-box
    val box = col("a").between(8, 11) && col("b").between(8, 11)
    val updates = grid.filter(box)
      .select(col("a"), col("b"), lit(-1L).as("payload"))
    VersionedTable.upsert(updates, path, Seq("a", "b"))
    val v2Files = filesOf(path)
    // 16 matched rows are far under the rewrite fraction of their tile: no
    // data file is removed, every file keeps its bytes, only the matched
    // tile(s) gain marks — 16 in all — and only the 16 applied rows are staged
    assert(v1Files.subsetOf(v2Files), s"no data file removed: ${v1Files -- v2Files}")
    assert(addedRows(path, 2L) == 16L, "only the applied rows are staged")
    assert(digestsAt(path, 2L).filter(kv => v1Digests.contains(kv._1)) == v1Digests)
    val marked = markedTiles(path, 2L)
    assert(marked.nonEmpty && marked.subsetOf(tilesHolding(path, box)),
      s"only the matched tile's files are marked: $marked")
    assert(marked.size <= 2,
      s"a one-tile upsert must not mark the table: marked ${marked.size} of ${v1Files.size}")
    assert(marksAt(path, 2L).values.sum == 16L)
    // MERGE result correct
    val got = VersionedTable.read(spark, path)
    assert(got.filter(col("payload") === -1L).count() == 16)
    assert(got.count() == 256L * 256)
    val untouched = got.filter(!(col("a").between(8, 11) && col("b").between(8, 11)))
    assert(untouched.filter(col("payload") =!= col("a") + col("b") * 256).count() == 0)
  }

  test("OPTIMIZE ZORDER BY re-clusters a random layout into a prunable one") {
    val path = java.nio.file.Files.createTempDirectory("zob").toString + "/t"
    val grid = spark.range(0, 256 * 256).select(
      (col("id") % 256).cast("int").as("a"),
      (col("id") / 256).cast("int").as("b"),
      col("id").as("payload"))
    // random round-robin layout: every file spans the full (a, b) domain,
    // so even WITH stats nothing is skippable
    VersionedTable.write(grid.repartition(16), path, Seq("a", "b"))
    val box = col("a").between(10, 20) && col("b").between(200, 210)
    assert(VersionedTable.pruneInfo(spark, path, box)._2.isEmpty,
      "random layout must not prune (sanity)")
    val v2 = VersionedTable.zOrderBy(spark, path, Seq("a", "b"), bits = 8)
    assert(v2 == 2L)
    // after ZORDER the same box predicate skips files
    val (kept, skipped) = VersionedTable.pruneInfo(spark, path, box)
    assert(skipped.nonEmpty, "z-ordered layout must prune the box predicate")
    assert(kept.nonEmpty)
    // row multiset unchanged across the re-cluster; history intact
    val a = VersionedTable.read(spark, path)
    val b = VersionedTable.read(spark, path, Some(1L))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(VersionedTable.readWhere(spark, path, box).count() == 11 * 11)
    assert(VersionedTable.countRows(spark, path) == 256L * 256)
  }

  test("row-level DELETE marks only intersecting files; old version intact") {
    val path = java.nio.file.Files.createTempDirectory("del").toString + "/t"
    rangeTable(path)
    val v1Files = filesOf(path)
    val v2 = VersionedTable.delete(spark, path, col("id").between(300, 309))
    assert(v2 == 2L)
    val v2Files = filesOf(path)
    // 10 of the tile's 250 rows, under the rewrite fraction: every file is
    // carried byte-identical and only the one intersecting tile is marked
    assert(v2Files == v1Files, s"no data file added or removed: ${v2Files -- v1Files}")
    assert(digestsAt(path, 2L) == digestsAt(path, 1L))
    assert(markedTiles(path, 2L) == tilesHolding(path, col("id").between(300, 309)) &&
      marksAt(path, 2L).values.toSeq == Seq(10L), "only the one intersecting tile marked")
    val now = VersionedTable.read(spark, path)
    assert(now.count() == 990)
    assert(now.filter(col("id").between(300, 309)).count() == 0)
    // untouched rows identical (multiset compare via exceptAll both ways)
    val expect = spark.range(0, 1000).select(col("id"),
      concat(lit("v"), col("id")).as("v")).filter(!col("id").between(300, 309))
    assert(now.exceptAll(expect).count() == 0 && expect.exceptAll(now).count() == 0)
    // pre-delete snapshot still time-travelable; change feed shows the deletes
    assert(VersionedTable.read(spark, path, Some(1L)).count() == 1000)
    val ch = VersionedTable.changes(spark, path, 1L, 2L).collect()
    assert(ch.length == 10 && ch.forall(_.getAs[String]("_change_type") == "delete"))
    // a provably-empty delete is a no-op: no new version
    val v3 = VersionedTable.delete(spark, path, col("id") === 999999L)
    assert(v3 == v2 && VersionedTable.versions(spark, path) == Seq(1L, 2L))
    // NULL-predicate rows survive (DELETE drops only p=TRUE rows)
    val p2 = java.nio.file.Files.createTempDirectory("del").toString + "/t"
    VersionedTable.write(Seq((1, Some("x")), (2, None), (3, Some("kill")))
      .toDF("id", "s"), p2)
    VersionedTable.delete(spark, p2, col("s") === "kill")
    val left = VersionedTable.read(spark, p2).select("id").as[Int].collect().toSet
    assert(left == Set(1, 2), "p=NULL row must survive DELETE")
    // candidate files holding no matching LIVE row commit nothing
    assert(VersionedTable.delete(spark, path, col("id") === 305L) == v2)
    assert(VersionedTable.versions(spark, path) == Seq(1L, 2L))
    // past the fraction (200 of the first tile's 250 rows) that one tile is
    // rewritten as its 50 survivors, unmarked; the marked tile keeps its
    // marks and the other two their bytes
    val v4 = VersionedTable.delete(spark, path, col("id") < 200L)
    val v4Files = filesOf(path)
    assert(v4 == 3L && v4Files.size == 4 && (v4Files intersect v2Files).size == 3)
    assert(addedRows(path, 3L) == 50L)
    assert(marksAt(path, 3L) == marksAt(path, 2L))
    assert(VersionedTable.read(spark, path).count() == 790L)
  }

  test("OPTIMIZE compacts small files into a new version; history + stats survive") {
    val path = java.nio.file.Files.createTempDirectory("opt").toString + "/t"
    // 16 tiny files, id stats recorded
    VersionedTable.write(
      spark.range(0, 2000).select(col("id"), concat(lit("v"), col("id")).as("v"))
        .repartition(16),
      path, Seq("id"))
    val before = filesOf(path)
    assert(before.size == 16)
    val v2 = VersionedTable.compact(spark, path, targetBytes = 1L << 30)
    assert(v2 == 2L)
    val after = filesOf(path)
    assert(after.size < before.size && after.size <= 2, s"got ${after.size} files")
    // read identical across the compaction
    val a = VersionedTable.read(spark, path)
    val b = VersionedTable.read(spark, path, Some(1L))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // stats recomputed for packed files: an impossible predicate skips ALL
    val (kept, skipped) = VersionedTable.pruneInfo(spark, path, col("id") < 0L)
    assert(kept.isEmpty && skipped.size == after.size,
      "compacted files must carry recomputed stats")
    // metadata row counts recomputed too
    assert(VersionedTable.countRows(spark, path) == 2000L)
    // compacting an already-compact table is a no-op
    assert(VersionedTable.compact(spark, path, targetBytes = 1L << 30) == v2)
  }

  test("countRows answers from the manifest with zero data-file reads") {
    val path = java.nio.file.Files.createTempDirectory("cnt").toString + "/t"
    rangeTable(path)
    VersionedTable.upsert(
      spark.range(2000, 2010).select(col("id"), lit("n").as("v")), path, Seq("id"))
    VersionedTable.delete(spark, path, col("id").between(0, 9))
    assert(VersionedTable.countRows(spark, path) == 1000L)
    assert(VersionedTable.countRows(spark, path, Some(2L)) == 1010L)
    assert(VersionedTable.countRows(spark, path, Some(3L)) == 1000L)
    assert(VersionedTable.countRows(spark, path) ==
      VersionedTable.read(spark, path).count())
    // the proof it never opens data: physically destroy every data file —
    // the metadata count still answers
    filesOf(path).foreach(f => localFile(f).delete())
    assert(VersionedTable.countRows(spark, path) == 1000L)
  }

  test("commitBatch is exactly-once per (appId, batchId): replay is a no-op") {
    val path = java.nio.file.Files.createTempDirectory("txn").toString + "/t"
    val b0 = Seq((1, "a")).toDF("id", "v")
    val v1 = VersionedTable.commitBatch(b0, path, "appA", 0L)
    assert(v1 == 1L)
    // replayed batch 0 (restart re-delivery): same version, no new rows
    assert(VersionedTable.commitBatch(b0, path, "appA", 0L) == v1)
    assert(VersionedTable.versions(spark, path) == Seq(1L))
    assert(VersionedTable.read(spark, path).count() == 1)
    // next batch commits normally
    val v2 = VersionedTable.commitBatch(Seq((2, "b")).toDF("id", "v"), path, "appA", 1L)
    assert(v2 == 2L && VersionedTable.read(spark, path).count() == 2)
    // an interleaved snapshot write must not erase the watermark
    VersionedTable.write(Seq((9, "z")).toDF("id", "v"), path)
    assert(VersionedTable.commitBatch(b0, path, "appA", 1L) == 3L,
      "older batch replay after unrelated write stays a no-op")
    assert(VersionedTable.read(spark, path).count() == 1)
    // a DIFFERENT app's batch 0 is independent
    val v4 = VersionedTable.commitBatch(Seq((3, "c")).toDF("id", "v"), path, "appB", 0L)
    assert(v4 == 4L)
    // upsert honors the same txn marker (streaming MERGE sink idempotence)
    val p2 = java.nio.file.Files.createTempDirectory("txn").toString + "/t"
    VersionedTable.upsert(Seq((1, "a")).toDF("id", "v"), p2, Seq("id"),
      evolveSchema = false, latestBy = None, Nil, Some("app" -> 0L))
    VersionedTable.upsert(Seq((1, "REPLAY")).toDF("id", "v"), p2, Seq("id"),
      evolveSchema = false, latestBy = None, Nil, Some("app" -> 0L))
    assert(VersionedTable.versions(spark, p2) == Seq(1L))
    assert(VersionedTable.read(spark, p2).select("v").as[String].collect().toSeq == Seq("a"))
  }

  test("upsert txnExpected: a stale-watermark delta refuses instead of applying") {
    val path = java.nio.file.Files.createTempDirectory("txe").toString + "/t"
    def up(df: org.apache.spark.sql.DataFrame, bid: Long,
        expect: Option[Long]): Long =
      VersionedTable.upsert(df, path, Seq("id"), evolveSchema = false,
        latestBy = None, statsCols = Nil, txn = Some("mv" -> bid),
        deleteWhere = None, guardBy = None,
        txnExpected = expect.map("mv" -> _))
    up(Seq((1, "a")).toDF("id", "v"), 5L, None) // watermark now 5
    // matching precondition lands
    assert(up(Seq((1, "b")).toDF("id", "v"), 6L, Some(5L)) == 2L)
    // a FULL replay (batch <= watermark) stays the no-op even with a stale
    // precondition — the replay check precedes it
    assert(up(Seq((1, "STALE")).toDF("id", "v"), 6L, Some(5L)) == 2L)
    assert(VersionedTable.read(spark, path).select("v")
      .as[String].collect().toSeq == Seq("b"))
    // a NEW batch computed against watermark 5 after the move to 6 is the
    // lost-window race: it must refuse, not silently apply a stale delta
    val e = intercept[VersionedTable.ConcurrentTxnException] {
      up(Seq((1, "c")).toDF("id", "v"), 7L, Some(5L))
    }
    assert(e.expected == 5L && e.stored.contains(6L))
    // recomputed against the real watermark: lands
    assert(up(Seq((1, "c")).toDF("id", "v"), 7L, Some(6L)) == 3L)
  }

  test("deletion vectors: merge-on-read DELETE rewrites ZERO files") {
    val path = java.nio.file.Files.createTempDirectory("dv").toString + "/t"
    rangeTable(path)
    val v1Files = filesOf(path)
    val v2 = VersionedTable.delete(spark, path, col("id").between(100, 149))
    assert(v2 == 2L)
    // the whole point: EVERY data file carried byte-identical
    assert(filesOf(path) == v1Files, "DV delete must not touch any data file")
    val now = VersionedTable.read(spark, path)
    assert(now.count() == 950)
    assert(now.filter(col("id").between(100, 149)).count() == 0)
    assert(now.filter(col("id") === 99L).count() == 1)
    // metadata count subtracts the marks; history reports them
    assert(VersionedTable.countRows(spark, path) == 950L)
    val h = VersionedTable.history(spark, path).orderBy("version").collect()
    assert(h(1).getLong(4) == 50L, h.mkString(";"))
    // pre-delete snapshot intact; change feed shows the marked rows
    assert(VersionedTable.read(spark, path, Some(1L)).count() == 1000)
    val ch = VersionedTable.changes(spark, path, 1L, 2L).collect()
    assert(ch.length == 50 && ch.forall(_.getAs[String]("_change_type") == "delete"))
    // a second, OVERLAPPING dv delete marks only still-live rows
    VersionedTable.delete(spark, path, col("id").between(140, 159))
    assert(VersionedTable.countRows(spark, path) == 940L)
    assert(VersionedTable.read(spark, path).count() == 940)
    // CoW upsert over marked keys: the touched file materializes its DVs
    VersionedTable.upsert(
      spark.range(100, 106).select(col("id"), lit("BACK").as("v")), path, Seq("id"))
    val afterUp = VersionedTable.read(spark, path)
    assert(afterUp.count() == 946)
    assert(afterUp.filter(col("v") === "BACK").count() == 6)
    assert(afterUp.filter(col("id").between(106, 159)).count() == 0,
      "marks on the rewritten file must not resurrect other deleted rows")
    assert(VersionedTable.countRows(spark, path) == 946L)
    // OPTIMIZE purges every remaining mark (files rewritten)
    VersionedTable.compact(spark, path, targetBytes = 1L << 30)
    val hc = VersionedTable.history(spark, path).orderBy(col("version").desc).first()
    assert(hc.getLong(4) == 0L, "compaction must materialize deletion vectors")
    assert(VersionedTable.read(spark, path).count() == 946)
    assert(VersionedTable.countRows(spark, path) == 946L)
  }

  test("automatic DV purge: past-threshold files materialize, anti-join disappears") {
    val path = java.nio.file.Files.createTempDirectory("dvpurge").toString + "/t"
    rangeTable(path) // 1000 rows, 4 files of 250
    val v1Files = filesOf(path)
    // 150/250 = 60% of one file > DefaultDvPurgeFraction: the marks must
    // NOT land — that file rewrites to its 100 survivors in the same commit
    VersionedTable.delete(spark, path, col("id") < 150)
    assert(VersionedTable.read(spark, path).count() == 850)
    assert(VersionedTable.countRows(spark, path) == 850L)
    val h2 = VersionedTable.history(spark, path).orderBy(col("version").desc).first()
    assert(h2.getLong(4) == 0L, "auto-purge must leave zero deletion-vector marks")
    assert((filesOf(path) intersect v1Files).size == 3, "only the hot file rewrites")
    assert(!VersionedTable.read(spark, path).queryExecution.executedPlan.toString
      .contains("LeftAnti"), "purged table must read as a plain scan")
    // BELOW-threshold marks still take the merge-on-read path
    VersionedTable.delete(spark, path, col("id") === 500L)
    val v2Files = filesOf(path)
    val h3 = VersionedTable.history(spark, path).orderBy(col("version").desc).first()
    assert(h3.getLong(4) == 1L)
    assert(VersionedTable.read(spark, path).count() == 849)
    // explicit maintenance purge materializes whatever accumulated
    VersionedTable.purgeDeletes(spark, path)
    val h4 = VersionedTable.history(spark, path).orderBy(col("version").desc).first()
    assert(h4.getLong(4) == 0L)
    assert(VersionedTable.read(spark, path).count() == 849)
    assert(VersionedTable.countRows(spark, path) == 849L)
    assert(!VersionedTable.read(spark, path).queryExecution.executedPlan.toString
      .contains("LeftAnti"))
    assert((filesOf(path) intersect v2Files).size == 3, "purge rewrites only marked files")
    // opt-out: purgeFraction=1.0 keeps even heavy deletes merge-on-read
    VersionedTable.delete(spark, path, col("id") >= 800, purgeFraction = 1.0)
    val h5 = VersionedTable.history(spark, path).orderBy(col("version").desc).first()
    assert(h5.getLong(4) == 200L, h5.toString)
    assert(VersionedTable.read(spark, path).count() == 649)
  }

  test("deletion-vector sidecars survive vacuum while their version is live") {
    val path = java.nio.file.Files.createTempDirectory("dvv").toString + "/t"
    rangeTable(path)
    VersionedTable.delete(spark, path, col("id") < 10)
    VersionedTable.vacuum(spark, path, keepLast = 1, orphanRetentionMs = 0L)
    assert(VersionedTable.versions(spark, path) == Seq(2L))
    val now = VersionedTable.read(spark, path)
    assert(now.count() == 990 && now.filter(col("id") < 10).count() == 0)
    assert(VersionedTable.countRows(spark, path) == 990L)
    // a provably-empty dv delete is a no-op
    assert(VersionedTable.delete(spark, path, col("id") === 999999L) == 2L)
  }

  test("MERGE delete clause: one commit applies a CDC batch with tombstones") {
    val path = java.nio.file.Files.createTempDirectory("cdc").toString + "/t"
    rangeTable(path)
    val v1Files = filesOf(path)
    // one CDC batch: update id=100, insert id=2000, delete ids 101/102
    // (tombstone = null payload, the WHEN MATCHED THEN DELETE condition)
    val cdc = Seq((100L, Some("UPD")), (2000L, Some("NEW")),
      (101L, None), (102L, None)).toDF("id", "v")
    VersionedTable.upsert(cdc, path, Seq("id"), evolveSchema = false,
      latestBy = None, Nil, None, deleteWhere = Some(col("v").isNull))
    val now = VersionedTable.read(spark, path)
    assert(now.count() == 999) // 1000 - 2 deleted + 1 inserted
    assert(now.filter(col("id").isin(101L, 102L)).count() == 0)
    assert(now.filter(col("id") === 100L).select("v").as[String].head() == "UPD")
    assert(now.filter(col("id") === 2000L).count() == 1)
    // merge-on-read: no data file removed, only the matched tile marked
    // (its 3 matched rows), only the 2 applied rows staged
    assert(v1Files.subsetOf(filesOf(path)) && addedRows(path, 2L) == 2L)
    assert(markedTiles(path, 2L) == tilesHolding(path, col("id").between(100, 102)))
    assert(marksAt(path, 2L).values.sum == 3L)
    // change feed reports the tombstoned rows as deletes
    val ch = VersionedTable.changes(spark, path, 1L, 2L).collect()
    val dels = ch.filter(_.getAs[String]("_change_type") == "delete").map(_.getLong(0)).toSet
    assert(dels == Set(100L, 101L, 102L)) // 100 = update (delete old + insert new)
    // a tombstone for an ABSENT key is a no-op, not an insert
    VersionedTable.upsert(Seq((555555L, Option.empty[String])).toDF("id", "v"),
      path, Seq("id"), evolveSchema = false, latestBy = None, Nil, None,
      deleteWhere = Some(col("v").isNull))
    assert(VersionedTable.read(spark, path).filter(col("id") === 555555L).count() == 0)
  }

  test("change feed is file-granular: carried files are never even read") {
    val path = java.nio.file.Files.createTempDirectory("cdfg").toString + "/t"
    rangeTable(path)
    val v1Files = filesOf(path)
    VersionedTable.upsert( // marks 6 rows of 1 tile, carries all 4
      spark.range(100, 106).select(col("id"), lit("U").as("v")), path, Seq("id"))
    val marked = markedTiles(path, 2L)
    assert(marked == tilesHolding(path, col("id").between(100, 105)))
    assert(v1Files.subsetOf(filesOf(path)))
    val carried = v1Files.filterNot(f => marked(localFile(f).getCanonicalPath))
    assert(carried.size == 3)
    val ch = VersionedTable.changes(spark, path, 1L, 2L)
    val got = ch.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = (100L to 105L).flatMap(i =>
      Seq((i, s"v$i", "delete"), (i, "U", "insert"))).toSet
    assert(got == want, got.toString)
    // the diff's physical inputs exclude every carried file
    val inputs = ch.inputFiles.toSet
    assert(inputs.nonEmpty && carried.forall(cf => !inputs.contains(cf)),
      s"carried files must not be scanned by the diff: ${inputs.mkString(",")}")
    // DV-delta changes: marks added on a CARRIED file surface as deletes
    VersionedTable.delete(spark, path, col("id").between(300, 304))
    val ch2 = VersionedTable.changes(spark, path, 2L, 3L).collect()
    assert(ch2.length == 5 && ch2.forall(_.getAs[String]("_change_type") == "delete"))
    assert(ch2.map(_.getLong(0)).toSet == (300L to 304L).toSet)
  }

  test("change feed across RESTORE: shrunk and swapped DV marks diff both ways") {
    val path = java.nio.file.Files.createTempDirectory("cdfr").toString + "/t"
    VersionedTable.write(
      spark.range(1, 11).select(col("id"), concat(lit("v"), col("id")).as("v"))
        .coalesce(1), path)
    VersionedTable.delete(spark, path, col("id") <= 3) // v2: marks {1,2,3}
    VersionedTable.restore(spark, path, 1L)                      // v3: marks gone
    // RESTORE across a dv-delete: the un-deleted rows are CDF inserts
    val ch = VersionedTable.changes(spark, path, 2L, 3L).collect()
    assert(ch.length == 3, ch.mkString(";"))
    assert(ch.forall(_.getAs[String]("_change_type") == "insert"))
    assert(ch.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // swap at EQUAL count: v4 marks {8,9,10}; diff v2 -> v4 must surface
    // both directions even though each side marks exactly 3 rows
    VersionedTable.delete(spark, path, col("id") >= 8)
    val ch2 = VersionedTable.changes(spark, path, 2L, 4L).collect()
    val ins = ch2.filter(_.getAs[String]("_change_type") == "insert").map(_.getLong(0)).toSet
    val del = ch2.filter(_.getAs[String]("_change_type") == "delete").map(_.getLong(0)).toSet
    assert(ins == Set(1L, 2L, 3L), ch2.mkString(";"))
    assert(del == Set(8L, 9L, 10L), ch2.mkString(";"))
    // replay invariant: from-version rows + feed = to-version rows (multiset)
    val before = VersionedTable.read(spark, path, Some(2L)).select("id", "v")
    val after = VersionedTable.read(spark, path, Some(4L)).select("id", "v")
    val feed = VersionedTable.changes(spark, path, 2L, 4L)
    val replayed = before
      .unionByName(feed.filter(col("_change_type") === "insert").select("id", "v"))
      .exceptAll(feed.filter(col("_change_type") === "delete").select("id", "v"))
    assert(replayed.exceptAll(after).count() == 0 && after.exceptAll(replayed).count() == 0)
    // unchanged-marks fast path still holds: same dv list => pure file diff
    val ch3 = VersionedTable.changes(spark, path, 4L, 4L)
    assert(ch3.count() == 0)
  }

  test("ADD/DROP COLUMN are metadata-only commits: zero bytes move") {
    import org.apache.spark.sql.types.{IntegerType, StructField}
    val path = java.nio.file.Files.createTempDirectory("ddl").toString + "/t"
    rangeTable(path)
    val v1Files = filesOf(path)
    // ADD: same files, new nullable column reads as null
    val v2 = VersionedTable.addColumns(spark, path, Seq(StructField("score", IntegerType)))
    assert(v2 == 2L && filesOf(path) == v1Files, "ADD COLUMN must not touch data")
    val now = VersionedTable.read(spark, path)
    assert(now.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(now.filter(col("score").isNotNull).count() == 0)
    // upsert can then populate it (schemas now match)
    VersionedTable.upsert(
      spark.range(0, 3).select(col("id"), lit("U").as("v"), lit(7).as("score")),
      path, Seq("id"), evolveSchema = false)
    assert(VersionedTable.read(spark, path).filter(col("score") === 7).count() == 3)
    // old version still reads its own schema
    assert(VersionedTable.read(spark, path, Some(1L)).schema.fieldNames.toSeq == Seq("id", "v"))
    // DROP: column disappears without rewriting carried files; its stats go
    val before = filesOf(path)
    VersionedTable.dropColumns(spark, path, Seq("v"))
    assert(filesOf(path) == before, "DROP COLUMN must not touch data")
    val dropped = VersionedTable.read(spark, path)
    assert(dropped.schema.fieldNames.toSeq == Seq("id", "score"))
    assert(dropped.count() == 1000)
    // name collision / unknown column fail loudly
    intercept[IllegalArgumentException] {
      VersionedTable.addColumns(spark, path, Seq(StructField("id", IntegerType)))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumns(spark, path, Seq("nope"))
    }
  }

  test("column mapping: DROP then re-ADD binds fresh physical name, no resurrection") {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField}
    val path = java.nio.file.Files.createTempDirectory("colmap").toString + "/t"
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), path)
    VersionedTable.dropColumns(spark, path, Seq("v"))                      // v2
    VersionedTable.addColumns(spark, path, Seq(StructField("v", StringType))) // v3
    // same-name, same-type re-add: carried files must serve NULLS, not the
    // stale pre-drop bytes their physical column still holds
    val reAdded = VersionedTable.read(spark, path)
    assert(reAdded.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(reAdded.filter(col("v").isNotNull).count() == 0,
      "re-added column resurrected stale data from carried files")
    // different-type re-add: drop again, re-add as INT — reads all-null
    // (without mapping this was a scan TYPE ERROR against the old strings)
    VersionedTable.dropColumns(spark, path, Seq("v"))                       // v4
    VersionedTable.addColumns(spark, path, Seq(StructField("v", IntegerType))) // v5
    val retyped = VersionedTable.read(spark, path)
    assert(retyped.schema("v").dataType == IntegerType)
    assert(retyped.filter(col("v").isNotNull).count() == 0)
    // pre-drop versions still time-travel with their OWN mapping and values
    val old = VersionedTable.read(spark, path, Some(1L))
    assert(old.select("v").as[String].collect().sorted.toSeq == Seq("a", "b"))
    // writes after the re-add store real values under the fresh physical
    // name; carried files keep reading null alongside them
    VersionedTable.append(Seq((3L, 33)).toDF("id", "v"), path)              // v6
    val mixed = VersionedTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(mixed == Map(1L -> None, 2L -> None, 3L -> Some(33)))
    // merge through the mapped table: CoW rewrite materializes the mapping
    VersionedTable.upsert(Seq((1L, 100)).toDF("id", "v"), path, Seq("id"))  // v7
    val merged = VersionedTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(merged == Map(1L -> Some(100), 2L -> None, 3L -> Some(33)))
    // history of every version stays readable (delta/full chains intact)
    assert(VersionedTable.history(spark, path).count() == 7)
  }

  test("RENAME COLUMN: metadata-only, stats rekeyed, no byte moves") {
    val path = java.nio.file.Files.createTempDirectory("rename").toString + "/t"
    rangeTable(path) // 4 range files, stats on id
    val v1Files = filesOf(path)
    val v2 = VersionedTable.renameColumn(spark, path, "id", "key")
    assert(v2 == 2L && filesOf(path) == v1Files, "RENAME must not touch data")
    // reads serve the carried files' values under the new name
    val now = VersionedTable.read(spark, path)
    assert(now.schema.fieldNames.toSeq == Seq("key", "v"))
    assert(now.filter(col("key") === 900L).select("v").as[String].head() == "v900")
    // file stats followed the rename: pruning + metadata MIN/MAX on the NEW
    // name still work (same physical column, rekeyed manifest entries)
    val (kept, skipped) = VersionedTable.pruneInfo(spark, path, col("key") === 900L)
    assert(kept.size == 1 && skipped.size == 3,
      s"stats must survive the rename: kept=${kept.size} skipped=${skipped.size}")
    val mm = VersionedTable.minMaxFromStats(spark, path, "key")
    assert(mm.exists { case (mn, mx) =>
      mn.toString.toDouble == 0.0 && mx.toString.toDouble == 999.0 }, s"$mm")
    // pre-rename versions time-travel under their own name
    assert(VersionedTable.read(spark, path, Some(1L))
      .schema.fieldNames.toSeq == Seq("id", "v"))
    // writes after the rename use the new name; CoW through the mapping
    VersionedTable.append(Seq((2000L, "x")).toDF("key", "v").coalesce(1), path)
    VersionedTable.upsert(Seq((900L, "UP")).toDF("key", "v"), path, Seq("key"))
    val merged = VersionedTable.read(spark, path)
    assert(merged.count() == 1001)
    assert(merged.filter(col("key") === 900L).select("v").as[String].head() == "UP")
    // refusals: unknown, collision, self
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, path, "nope", "x") }
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, path, "key", "v") }
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, path, "key", "key") }
  }

  test("RENAME COLUMN: partition/constraint refusals; no resurrection via rename") {
    import org.apache.spark.sql.types.{StringType, StructField}
    // partition column: refused (directory layout depends on it)
    val p1 = java.nio.file.Files.createTempDirectory("renamePart").toString + "/t"
    VersionedTable.write(Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "p"),
      p1, Nil, Seq("p"))
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, p1, "p", "q") }
    assert(e1.getMessage.contains("partition column"), e1.getMessage)
    // constraint-referenced column: refused naming the constraint
    val p2 = java.nio.file.Files.createTempDirectory("renameCons").toString + "/t"
    VersionedTable.write(Seq((1L, 5L)).toDF("id", "n"), p2)
    VersionedTable.addCheckConstraint(spark, p2, "n_pos", "n > 0")
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, p2, "n", "m") }
    assert(e2.getMessage.contains("n_pos"), e2.getMessage)
    // renaming another column ONTO a previously-dropped name must not
    // resurrect the dropped column's carried bytes: the mapping binds the
    // renamed column's physical name, not the stale one in the files
    val p3 = java.nio.file.Files.createTempDirectory("renameDrop").toString + "/t"
    VersionedTable.write(Seq((1L, "old1", "keep1"), (2L, "old2", "keep2"))
      .toDF("id", "v", "w").coalesce(1), p3)
    VersionedTable.dropColumns(spark, p3, Seq("v"))      // files still hold v
    VersionedTable.renameColumn(spark, p3, "w", "v")     // w takes the name
    val got = VersionedTable.read(spark, p3).orderBy("id")
      .select("v").as[String].collect().toSeq
    assert(got == Seq("keep1", "keep2"),
      s"rename onto a dropped name resurrected stale bytes: $got")
  }

  test("CLONE: zero-copy branch — hardlinked files, fresh history, full independence") {
    val base = java.nio.file.Files.createTempDirectory("clone").toString
    val src = base + "/src"; val dst = base + "/dst"
    rangeTable(src)                                            // v1: 4 files
    VersionedTable.delete(spark, src, col("id") === 7L) // v2: DV mark
    assert(VersionedTable.cloneTo(spark, src, dst) == 1L)
    // same rows (DV marks carried), fresh one-version history
    assert(VersionedTable.read(spark, dst).count() == 999)
    assert(VersionedTable.read(spark, dst).filter(col("id") === 7L).count() == 0)
    assert(VersionedTable.history(spark, dst).count() == 1)
    // stats carried verbatim: pruning works on the clone immediately
    val (kept, skipped) = VersionedTable.pruneInfo(spark, dst, col("id") === 900L)
    assert(kept.size == 1 && skipped.size == 3, s"${kept.size}/${skipped.size}")
    // ZERO bytes copied: every data file is a hard link (nlink == 2)
    VersionedTable.filesOf(spark, dst, 1L).foreach { rel =>
      val p = java.nio.file.Paths.get(dst + "/" + rel)
      val n = java.nio.file.Files.getAttribute(p, "unix:nlink")
        .asInstanceOf[Number].intValue
      assert(n >= 2, s"$rel: expected a hard link, nlink=$n")
    }
    // independence: writes on either side are invisible to the other
    VersionedTable.append(Seq((5000L, "dstonly")).toDF("id", "v"), dst)
    VersionedTable.upsert(Seq((900L, "SRCUP")).toDF("id", "v"), src, Seq("id"))
    assert(VersionedTable.read(spark, src).filter(col("id") === 5000L).count() == 0)
    assert(VersionedTable.read(spark, dst)
      .filter(col("id") === 900L).select("v").as[String].head() == "v900")
    // a source VACUUM cannot break the clone: links keep shared bytes alive
    VersionedTable.vacuum(spark, src, keepLast = 1, orphanRetentionMs = 0L)
    assert(VersionedTable.read(spark, dst).count() == 1000) // 999 + 1 appended
    // duplicate clone target refused; self-clone refused
    intercept[IllegalArgumentException] { VersionedTable.cloneTo(spark, src, dst) }
    intercept[IllegalArgumentException] { VersionedTable.cloneTo(spark, src, src) }
  }

  test("CLONE carries properties/constraints/layout; VERSION AS OF clones the past") {
    val base = java.nio.file.Files.createTempDirectory("cloneMeta").toString
    val src = base + "/src"; val dst = base + "/dst"; val dstOld = base + "/dstOld"
    VersionedTable.write(
      Seq((1L, 5L, "a"), (2L, 6L, "b")).toDF("id", "n", "p"), src, Nil, Seq("p")) // v1
    VersionedTable.addCheckConstraint(spark, src, "n_pos", "n > 0")               // v2
    VersionedTable.append(Seq((3L, 7L, "c")).toDF("id", "n", "p"), src)           // v3
    VersionedTable.cloneTo(spark, src, dst)
    // layout carried: partition column still prunes directories on the clone
    assert(VersionedTable.partitionsOf(spark, dst).map(_._1).sorted ==
      Seq("p=a", "p=b", "p=c"))
    // constraint carried AND enforcing on the clone
    val e = intercept[Exception] {
      VersionedTable.append(Seq((9L, -1L, "z")).toDF("id", "n", "p"), dst) }
    assert(e.getMessage.contains("n_pos"), e.getMessage)
    // VERSION AS OF: clone the pre-append state
    VersionedTable.cloneTo(spark, src, dstOld, asOf = Some(2L))
    assert(VersionedTable.read(spark, dstOld).count() == 2)
  }

  test("CLONE of a checkpoint-anchored table never drags stats onto the driver") {
    val base = java.nio.file.Files.createTempDirectory("cloneCkpt").toString
    val src = base + "/src"; val dst = base + "/dst"
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 8
    try {
      (1 to 12).foreach(i =>
        VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1), src, Seq("id")))
      VersionedTable.ckptStatsParses.set(0L)
      VersionedTable.cloneTo(spark, src, dst)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "anchored clone must author the dest checkpoint distributed")
      assert(VersionedTable.read(spark, dst).count() == 12)
      val (kept, skipped) = VersionedTable.pruneInfo(spark, dst, col("id") === 5)
      assert(kept.size == 1 && skipped.size == 11, s"${kept.size}/${skipped.size}")
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("ADD COLUMN reusing a renamed column's old name binds a fresh physical name") {
    import org.apache.spark.sql.types.{StringType, StructField}
    val path = java.nio.file.Files.createTempDirectory("renameAdd").toString + "/t"
    VersionedTable.write(Seq((1L, "orig1"), (2L, "orig2"))
      .toDF("id", "a").coalesce(1), path)
    VersionedTable.renameColumn(spark, path, "a", "x") // x now bound to phys 'a'
    VersionedTable.addColumns(spark, path, Seq(StructField("a", StringType)))
    // the NEW 'a' must NOT alias x's physical column: carried files serve
    // null for it, while x keeps serving the original values
    val got = VersionedTable.read(spark, path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(got == Seq((1L, "orig1", null), (2L, "orig2", null)), got.toString)
    // and writes land each column under its own physical name
    VersionedTable.append(Seq((3L, "x3", "a3")).toDF("id", "x", "a"), path)
    val r3 = VersionedTable.read(spark, path).filter(col("id") === 3L)
      .select("x", "a").collect().head
    assert((r3.getString(0), r3.getString(1)) == ("x3", "a3"))
  }

  test("RENAME COLUMN on a checkpoint-anchored table rekeys stats on executors") {
    val path = java.nio.file.Files.createTempDirectory("renameCkpt").toString + "/t"
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 8
    try {
      (1 to 12).foreach(i =>
        VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1), path, Seq("id")))
      VersionedTable.ckptStatsParses.set(0L)
      VersionedTable.renameColumn(spark, path, "id", "key") // v13: full, anchored
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "anchored rename must rekey stats distributed, not on the driver")
      val (kept, skipped) = VersionedTable.pruneInfo(spark, path, col("key") === 5)
      assert(kept.size == 1 && skipped.size == 11,
        s"rekeyed stats must prune: kept=${kept.size} skipped=${skipped.size}")
      assert(VersionedTable.read(spark, path).filter(col("key") === 5)
        .select("v").as[String].head() == "v5")
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("O(1) head discovery: pointer reads never list the log; fallbacks hold") {
    val path = java.nio.file.Files.createTempDirectory("headptr").toString + "/t"
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sessionState.newHadoopConf())
    (1 to 3).foreach(i => VersionedTable.write(Seq((i, s"v$i")).toDF("id", "v"), path))
    val head = new org.apache.hadoop.fs.Path(root, "_graft_log/_head")
    assert(f.exists(head), "_head pointer must be written on commit")
    VersionedTable.listCalls.set(0L)
    assert(VersionedTable.read(spark, path).count() == 1)
    assert(VersionedTable.countRows(spark, path) == 1L)
    assert(VersionedTable.latestVersion(spark, path).contains(3L))
    assert(VersionedTable.listCalls.get() == 0L,
      "pointer-based reads must not list _graft_log")
    // STALE pointer (writer crashed before the update): probe-forward heals
    val out = f.create(head, true); out.write("1".getBytes("UTF-8")); out.close()
    assert(VersionedTable.latestVersion(spark, path).contains(3L))
    assert(VersionedTable.listCalls.get() == 0L, "stale pointer heals by probing, not listing")
    // MISSING pointer: full-listing fallback still resolves
    f.delete(head, false)
    assert(VersionedTable.latestVersion(spark, path).contains(3L))
    assert(VersionedTable.listCalls.get() > 0L, "no pointer => listing fallback")
    // and the next commit re-establishes the pointer
    VersionedTable.write(Seq((4, "v4")).toDF("id", "v"), path)
    VersionedTable.listCalls.set(0L)
    assert(VersionedTable.latestVersion(spark, path).contains(4L))
    assert(VersionedTable.listCalls.get() == 0L)
  }

  test("restore refuses a target whose files are gone (vacuum race pre-check)") {
    val path = java.nio.file.Files.createTempDirectory("resguard").toString + "/t"
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sessionState.newHadoopConf())
    VersionedTable.write(Seq((1, "a")).toDF("id", "v").coalesce(1), path)
    VersionedTable.write(Seq((2, "b")).toDF("id", "v").coalesce(1), path)
    // simulate the vacuum race: v1's only data file disappears
    val v1File = VersionedTable.filesOf(spark, path, 1L).head
    assert(f.delete(new org.apache.hadoop.fs.Path(root, v1File), false))
    intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, path, 1L)
    }
    // head unchanged and still readable
    assert(VersionedTable.latestVersion(spark, path).contains(2L))
    assert(VersionedTable.read(spark, path).count() == 1)
  }

  test("TIMESTAMP AS OF is stable across vacuum re-anchor") {
    val path = java.nio.file.Files.createTempDirectory("tsvac").toString + "/t"
    val marks = (1 to 13).map { i =>
      val v = VersionedTable.write(Seq((i, s"v$i")).toDF("id", "v"), path)
      Thread.sleep(3) // ms-granularity commit stamps must separate
      v -> System.currentTimeMillis()
    }
    marks.foreach { case (v, t) =>
      assert(VersionedTable.versionAt(spark, path, t).contains(v)) }
    // keepLast=3 drops 1..10 and re-anchors v11 (its delta chain descended
    // into dropped versions) — the re-encode must preserve the COMMIT ts,
    // not adopt the rewrite time (which would resolve these to wrong
    // versions or none)
    VersionedTable.vacuum(spark, path, keepLast = 3, orphanRetentionMs = 0L)
    Seq(11, 12, 13).foreach { v =>
      assert(VersionedTable.versionAt(spark, path, marks(v - 1)._2).contains(v.toLong),
        s"version $v shifted across vacuum re-anchor") }
    // instants before the oldest kept commit no longer resolve
    assert(VersionedTable.versionAt(spark, path, marks.head._2 - 10000L).isEmpty)
  }

  test("commit timestamps are monotonic; versionAt never lists a pointered log") {
    val path = java.nio.file.Files.createTempDirectory("tsmono").toString + "/t"
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sessionState.newHadoopConf())
    // rapid-fire commits land within the same millisecond; the recorded
    // stamps must STILL be strictly increasing (ts = max(now, parent.ts+1),
    // the precondition versionAt's binary search relies on)
    (1 to 6).foreach(i => VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v"), path))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def tsOf(v: Long): Long = {
      val mf = new org.apache.hadoop.fs.Path(root, f"_graft_log/$v%08d.json")
      val bytes = new Array[Byte](f.getFileStatus(mf).getLen.toInt)
      val in = f.open(mf); try in.readFully(bytes) finally in.close()
      om.readTree(new String(bytes, "UTF-8")).get("ts").asLong()
    }
    val stamps = (1L to 6L).map(tsOf)
    assert(stamps.zip(stamps.tail).forall { case (a, b) => a < b },
      s"commit stamps must be strictly increasing: $stamps")
    // TIMESTAMP AS OF is a QUERY path: on a pointer-maintained table it
    // must resolve without ever listing _graft_log (head from the pointer,
    // vacuum floor from manifest-absence probes — versions are dense)
    VersionedTable.listCalls.set(0L)
    assert(VersionedTable.versionAt(spark, path, stamps(3)).contains(4L))
    assert(VersionedTable.versionAt(spark, path, stamps.head - 1L).isEmpty)
    assert(VersionedTable.versionAt(spark, path, Long.MaxValue).contains(6L))
    assert(VersionedTable.listCalls.get() == 0L,
      "versionAt must not list the log on a pointer-maintained table")
    // a vacuumed floor resolves by absence-probe, still listing-free
    VersionedTable.vacuum(spark, path, keepLast = 3, orphanRetentionMs = 0L)
    VersionedTable.listCalls.set(0L)
    assert(VersionedTable.versionAt(spark, path, stamps(4)).contains(5L))
    assert(VersionedTable.versionAt(spark, path, stamps(1)).isEmpty,
      "instants before the vacuum floor no longer resolve")
    assert(VersionedTable.listCalls.get() == 0L,
      "the vacuum floor must come from absence probes, not a listing")
  }

  test("parquet checkpoint manifests: big file lists never ride as one JSON blob") {
    val path = java.nio.file.Files.createTempDirectory("ckptpq").toString + "/t"
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sessionState.newHadoopConf())
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 8
    try {
      (1 to 12).foreach(i =>
        VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1), path, Seq("id")))
      // v10 is a checkpoint with 10 files > threshold: its manifest must
      // reference a parquet dir and carry NO inline file list
      val m10 = new org.apache.hadoop.fs.Path(root, "_graft_log/00000010.json")
      val len = f.getFileStatus(m10).getLen.toInt
      val bytes = new Array[Byte](len)
      val in = f.open(m10); try in.readFully(bytes) finally in.close()
      val json10 = new String(bytes, "UTF-8")
      assert(json10.contains("\"ckpt\""), "checkpoint must be parquet-backed")
      assert(!json10.contains("\"files\""), "no inline file list at a parquet checkpoint")
      assert(!json10.contains("\"stats\""), "no inline stats blob at a parquet checkpoint")
      assert(f.listStatus(new org.apache.hadoop.fs.Path(root, "_graft_log"))
        .exists(s => s.isDirectory && s.getPath.getName.startsWith("ckpt-00000010")))
      // the full read path resolves through the parquet checkpoint: reads,
      // metadata count, stats pruning, and time travel to the ckpt itself.
      // None of these may materialize the stats column on the driver —
      // reads/counts don't need it and pruning runs DISTRIBUTED over the
      // checkpoint parquet (executors parse + evaluate, only kept keys
      // return)
      VersionedTable.ckptStatsParses.set(0L)
      assert(VersionedTable.read(spark, path).count() == 12)
      assert(VersionedTable.countRows(spark, path) == 12L)
      val (kept, skipped) = VersionedTable.pruneInfo(spark, path, col("id") === 5)
      assert(kept.size == 1 && skipped.size == 11,
        s"stats must survive the parquet round-trip: ${kept.size}/${skipped.size}")
      assert(VersionedTable.readWhere(spark, path, col("id") === 5).count() == 1)
      assert(VersionedTable.read(spark, path, Some(10L)).count() == 10)
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "reads, counts, and skipping must never force the driver-side stats map")
      // metadata MIN/MAX is a legitimate force of the full stats map
      assert(VersionedTable.minMaxFromStats(spark, path, "id").isDefined)
      assert(VersionedTable.ckptStatsParses.get() > 0L)
      // WRITE verbs stay lazy too: delta-encoded append/MERGE/DELETE
      // select their files distributed and serialize only their own adds —
      // none may materialize the checkpoint stats map on the driver
      VersionedTable.ckptStatsParses.set(0L)
      VersionedTable.append(Seq((13, "v13")).toDF("id", "v").coalesce(1), path) // v13
      VersionedTable.upsert(Seq((5, "UP")).toDF("id", "v"), path, Seq("id"))    // v14
      VersionedTable.delete(spark, path, col("id") === 12)                      // v15
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "delta-encoded writes must not force the checkpoint stats map")
      val now = VersionedTable.read(spark, path)
      assert(now.count() == 12) // 12 + 1 appended - 1 deleted
      assert(now.filter(col("id") === 5).select("v").as[String].head() == "UP")
      // and the adds carried skipping forward: new files prune too
      val (k5, s5) = VersionedTable.pruneInfo(spark, path, col("id") === 13)
      assert(k5.size == 1 && s5.nonEmpty, s"${k5.size}/${s5.size}")
      // vacuum: dropped versions' ckpt dirs die; the re-anchored oldest
      // keep (v14, >threshold files) gets its own parquet checkpoint
      VersionedTable.vacuum(spark, path, keepLast = 2, orphanRetentionMs = 0L)
      assert(VersionedTable.read(spark, path).count() == 12)
      assert(VersionedTable.read(spark, path, Some(14L)).count() == 13)
      val ckpts = f.listStatus(new org.apache.hadoop.fs.Path(root, "_graft_log"))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("ckpt-"))
      assert(ckpts.nonEmpty && ckpts.forall(_.getPath.getName.startsWith("ckpt-00000014")),
        s"only the re-anchored keep's ckpt survives: ${ckpts.map(_.getPath.getName).mkString(",")}")
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("checkpoint COMMITS ride the anchor: stats never materialize on the driver") {
    import org.apache.spark.sql.types.{IntegerType, StructField}
    val path = java.nio.file.Files.createTempDirectory("ckptride").toString + "/t"
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sessionState.newHadoopConf())
    val saved = VersionedTable.CkptInlineMaxFiles
    VersionedTable.CkptInlineMaxFiles = 8
    try {
      // v1..v12: the v10 checkpoint is driver-authored (its parent is
      // inline, so everything is driver-held anyway)
      (1 to 12).foreach(i =>
        VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1),
          path, Seq("id", "v")))
      // From here the table is checkpoint-anchored. The ENTIRE next cycle —
      // deltas v13..v19, the v20 CHECKPOINT COMMIT (a MERGE, the worst
      // case), an ADD COLUMN delta and a DROP COLUMN full re-encode — must
      // author from the anchor's parquet as Spark jobs and never parse the
      // stats column on the driver (previously every 10th commit collected
      // the full map via readCkptStats and re-serialized it).
      VersionedTable.ckptStatsParses.set(0L)
      (13 to 19).foreach(i =>
        VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v").coalesce(1), path))
      VersionedTable.upsert(Seq((7, "UP")).toDF("id", "v"), path, Seq("id")) // v20: ckpt
      VersionedTable.addColumns(spark, path, Seq(StructField("w", IntegerType))) // v21
      VersionedTable.dropColumns(spark, path, Seq("v")) // v22: full, stats col pruned
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "a ckpt-crossing commit sequence must never force the stats map onto the driver")
      // v20's manifest is parquet-checkpoint-backed (no inline list/stats)
      val m20 = new org.apache.hadoop.fs.Path(root, "_graft_log/00000020.json")
      val bytes = new Array[Byte](f.getFileStatus(m20).getLen.toInt)
      val in = f.open(m20); try in.readFully(bytes) finally in.close()
      val json20 = new String(bytes, "UTF-8")
      assert(json20.contains("\"ckpt\"") && !json20.contains("\"files\""))
      // resolution off the ridden checkpoints stays fully correct
      assert(VersionedTable.countRows(spark, path) == 19L)
      val now = VersionedTable.read(spark, path)
      assert(now.columns.toSeq == Seq("id", "w"))
      assert(now.count() == 19L)
      assert(VersionedTable.read(spark, path, Some(20L))
        .filter(col("id") === 7).select("v").as[String].head() == "UP")
      // pruning runs off the ridden anchor; the upsert's new file pruned in
      val (k, s) = VersionedTable.pruneInfo(spark, path, col("id") === 15)
      assert(k.size == 1 && s.size >= 18, s"${k.size}/${s.size}")
      assert(VersionedTable.ckptStatsParses.get() == 0L,
        "reads and pruning after ridden checkpoints stay distributed")
      // the DROP's executor-side stats prune really removed the column:
      // metadata MIN/MAX (a legitimate force) finds nothing for it
      assert(VersionedTable.minMaxFromStats(spark, path, "v").isEmpty)
      assert(VersionedTable.minMaxFromStats(spark, path, "id").isDefined)
      assert(VersionedTable.ckptStatsParses.get() > 0L, "counter is live")
    } finally VersionedTable.CkptInlineMaxFiles = saved
  }

  test("composition: pruning × deletion vectors × column mapping × time travel") {
    import org.apache.spark.sql.types.{IntegerType, StructField}
    val path = java.nio.file.Files.createTempDirectory("compose").toString + "/t"
    // v1: range-clustered with stats on k
    VersionedTable.write(
      spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).cast("int").as("w"))
        .repartitionByRange(4, col("k")), path, Seq("k"))
    // v2: dv-mark a small band (below purge threshold)
    VersionedTable.delete(spark, path, col("k").between(100, 119))
    // v3-v4: drop w, re-add as INT (fresh physical binding)
    VersionedTable.dropColumns(spark, path, Seq("w"))
    VersionedTable.addColumns(spark, path, Seq(StructField("w", IntegerType)))
    // v5: append rows that DO carry w values, under the mapping
    VersionedTable.append(
      spark.range(2000, 2010).select(col("id").as("k"), lit(7).as("w")), path)
    // pruned read composes all of it: file skipping still fires, marked
    // rows stay deleted, carried files read w=null, appended rows read w=7
    val (kept, skipped) = VersionedTable.pruneInfo(spark, path, col("k") < 250)
    assert(skipped.nonEmpty, "stats pruning must survive DDL + DV commits")
    val got = VersionedTable.readWhere(spark, path, col("k") < 250)
    assert(got.count() == 230) // 250 - 20 dv-marked
    assert(got.filter(col("w").isNotNull).count() == 0)
    val appended = VersionedTable.readWhere(spark, path, col("k") >= 2000)
    assert(appended.count() == 10)
    assert(appended.filter(col("w") === 7).count() == 10,
      "appends through the mapping must serve real values")
    // metadata count subtracts marks across the whole composition
    assert(VersionedTable.countRows(spark, path) == 1000L - 20L + 10L)
    // time travel: v1 pre-everything (w = old values), v2 has the marks
    val v1 = VersionedTable.read(spark, path, Some(1L))
    assert(v1.count() == 1000 && v1.filter(col("w") === col("k") * 2).count() == 1000)
    assert(VersionedTable.read(spark, path, Some(2L)).count() == 980)
  }

  test("minMaxFromStats: exact metadata extrema; DV marks and stat gaps disable it") {
    val path = java.nio.file.Files.createTempDirectory("mmx").toString + "/t"
    rangeTable(path)
    assert(VersionedTable.minMaxFromStats(spark, path, "id")
      .contains((BigDecimal(0), BigDecimal(999))))
    // no stats for this column → None
    assert(VersionedTable.minMaxFromStats(spark, path, "v").isEmpty)
    // a deletion-vector mark could BE the extremum → must refuse
    VersionedTable.delete(spark, path, col("id") === 0L)
    assert(VersionedTable.minMaxFromStats(spark, path, "id").isEmpty)
    // ...but the pre-DV version still answers (per-version manifests)
    assert(VersionedTable.minMaxFromStats(spark, path, "id", Some(1L))
      .contains((BigDecimal(0), BigDecimal(999))))
    // OPTIMIZE materializes the marks and restores the metadata answer
    VersionedTable.compact(spark, path, targetBytes = 1L << 30)
    assert(VersionedTable.minMaxFromStats(spark, path, "id")
      .contains((BigDecimal(1), BigDecimal(999))))
  }

  test("history describes every version from manifests alone") {
    val path = java.nio.file.Files.createTempDirectory("hist").toString + "/t"
    rangeTable(path)
    VersionedTable.commitBatch(
      spark.range(5000, 5005).select(col("id"), lit("n").as("v")), path, "appH", 3L)
    VersionedTable.delete(spark, path, col("id") === 0L)
    val h = VersionedTable.history(spark, path).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(h(0).getLong(2) == 1000L && h(1).getLong(2) == 1005L && h(2).getLong(2) == 1004L)
    assert(h(1).getString(3) == "appH=3" && h(2).getString(3) == "appH=3")
    assert(h.forall(_.getInt(1) > 0))
  }

  test("vacuum is file-granular: carried files survive dropping their writer version") {
    val path = java.nio.file.Files.createTempDirectory("vacf").toString + "/t"
    rangeTable(path) // v1 writes 4 files
    val v1Files = filesOf(path)
    VersionedTable.upsert( // v2 rewrites 1 tile, carries 3 of v1's files
      // (200 of the tile's 250 rows match: past the rewrite fraction)
      spark.range(0, 200).select(col("id"), lit("U").as("v")), path, Seq("id"))
    VersionedTable.vacuum(spark, path, keepLast = 1, orphanRetentionMs = 0L)
    assert(VersionedTable.versions(spark, path) == Seq(2L))
    // the 3 carried v1 files must still exist; only the replaced tile is gone
    val after = filesOf(path)
    assert((after intersect v1Files).size == 3)
    v1Files.diff(after).foreach(f =>
      assert(!localFile(f).exists(), s"dead file not reclaimed: $f"))
    assert(VersionedTable.read(spark, path).count() == 1000)
  }

  test("delta manifests: small commits write O(changed) metadata; vacuum re-anchors") {
    val path = java.nio.file.Files.createTempDirectory("dmf").toString + "/t"
    VersionedTable.write(
      spark.range(0, 1000).select(col("id"), concat(lit("v"), col("id")).as("v"))
        .repartition(8),
      path, Seq("id")) // v1: full (no parent)
    for (i <- 0 until 14) // v2..v15: one-file appends
      VersionedTable.append(
        spark.range(2000L + i, 2001L + i).select(col("id"), lit("x").as("v")), path)
    def raw(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$path/_graft_log/$v%08d.json")), "UTF-8")
    // encoding shape: v1 full, deltas chain to v-1, v10 is a full checkpoint
    assert(!raw(1).contains("\"base\""))
    assert(raw(5).contains("\"base\":4"))
    assert(!raw(10).contains("\"base\""))
    assert(raw(11).contains("\"base\":10"))
    // the point: a 1-file commit's manifest is a fraction of the full form
    assert(raw(11).length < raw(10).length / 2,
      s"delta=${raw(11).length}B full=${raw(10).length}B")
    // every version resolves correctly through its chain
    for (v <- 1L to 15L)
      assert(VersionedTable.read(spark, path, Some(v)).count() == 1000 + (v - 1))
    assert(VersionedTable.countRows(spark, path) == 1014L)
    // skipping still works through the chain (stats carried by reference)
    assert(VersionedTable.pruneInfo(spark, path, col("id") === 2000L)._2.nonEmpty)
    // vacuum drops v1..v12 including the v10 checkpoint the kept chain used:
    // the oldest kept version must be re-anchored as a full manifest
    VersionedTable.vacuum(spark, path, keepLast = 3, orphanRetentionMs = 0L)
    assert(VersionedTable.versions(spark, path) == Seq(13L, 14L, 15L))
    assert(!raw(13).contains("\"base\""), "oldest kept version must be re-anchored full")
    assert(raw(14).contains("\"base\":13"))
    for (v <- 13L to 15L)
      assert(VersionedTable.read(spark, path, Some(v)).count() == 1000 + (v - 1))
    // and the log keeps moving afterwards
    VersionedTable.append(
      spark.range(3000, 3001).select(col("id"), lit("y").as("v")), path)
    assert(VersionedTable.read(spark, path).count() == 1015)
    assert(VersionedTable.countRows(spark, path) == 1015L)
  }

  test("RESTORE is a metadata-only undo; TIMESTAMP AS OF resolves by commit time") {
    val path = java.nio.file.Files.createTempDirectory("rst").toString + "/t"
    rangeTable(path) // v1
    val t1 = System.currentTimeMillis()
    Thread.sleep(50)
    VersionedTable.delete(spark, path, col("id") < 500) // v2, the "mistake"
    assert(VersionedTable.read(spark, path).count() == 500)
    // wall-clock travel lands on the version committed before the delete
    assert(VersionedTable.readAsOfTimestamp(spark, path, t1).count() == 1000)
    assert(VersionedTable.versionAt(spark, path, 0L).isEmpty)
    // restore: new head = v1's exact contents, zero data files written
    val v3 = VersionedTable.restore(spark, path, 1L)
    assert(v3 == 3L)
    assert(VersionedTable.read(spark, path).count() == 1000)
    assert(filesOf(path) == filesOf(path, Some(1L)), "restore must reference, not copy")
    assert(VersionedTable.countRows(spark, path) == 1000L)
    // the mistake stays in history; restoring the head is a no-op
    assert(VersionedTable.read(spark, path, Some(2L)).count() == 500)
    assert(VersionedTable.restore(spark, path, 3L) == 3L)
    // vacuum keeps the restored head's (old) files alive
    VersionedTable.vacuum(spark, path, keepLast = 1, orphanRetentionMs = 0L)
    assert(VersionedTable.read(spark, path).count() == 1000)
  }

  test("mixed concurrent writers serialize: every verb lands, invariants hold") {
    // four DIFFERENT verbs race on one table with disjoint effects, so the
    // final state is the same under every serialization — what must vary
    // is only the version order. Each verb recomputes against the new head
    // on a lost CAS race, so none may clobber another's effect.
    val path = java.nio.file.Files.createTempDirectory("chaos").toString + "/t"
    rangeTable(path)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    def submit(body: => Long) =
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await(); body }
      })
    val fUp = submit(VersionedTable.upsert(
      spark.range(0, 10).select(col("id"), lit("RACED").as("v")), path, Seq("id")))
    val fApp = submit(VersionedTable.append(
      spark.range(5000, 5010).select(col("id"), concat(lit("n"), col("id")).as("v")),
      path))
    val fDv = submit(VersionedTable.delete(spark, path,
      col("id").between(100, 109)))
    val fDel = submit(VersionedTable.delete(spark, path, col("id").between(200, 209)))
    gate.countDown()
    val versions = Seq(fUp, fApp, fDv, fDel)
      .map(_.get(180, java.util.concurrent.TimeUnit.SECONDS)).sorted
    pool.shutdown()
    assert(versions == Seq(2L, 3L, 4L, 5L), versions.toString) // contiguous, distinct
    val now = VersionedTable.read(spark, path)
    assert(now.count() == 990) // 1000 - 10 (dv) - 10 (cow) + 10 (append)
    assert(now.filter(col("v") === "RACED").count() == 10)
    assert(now.filter(col("id").between(100, 109)).count() == 0)
    assert(now.filter(col("id").between(200, 209)).count() == 0)
    assert(now.filter(col("id") >= 5000).count() == 10)
    assert(VersionedTable.countRows(spark, path) == 990L)
    // every intermediate version remains a readable snapshot
    VersionedTable.versions(spark, path).foreach { v =>
      assert(VersionedTable.read(spark, path, Some(v)).count() > 0)
    }
  }

  test("commit store is pluggable: a memory-backed putIfAbsent serializes writers") {
    // models Delta's LogStore for object stores whose rename is non-atomic
    // (S3A): uniqueness comes from an external conditional-put, and the
    // winner materializes the manifest with an atomic publish. The full
    // multi-writer contract must hold through the seam.
    class MemoryCommitStore extends VersionedTable.CommitStore {
      val claims = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
      val puts = new java.util.concurrent.atomic.AtomicLong(0L)
      def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
          root: org.apache.hadoop.fs.Path, dest: org.apache.hadoop.fs.Path,
          body: Array[Byte]): Boolean = {
        puts.incrementAndGet()
        if (claims.putIfAbsent(dest.toString, java.lang.Boolean.TRUE) != null) false
        else {
          val tmp = new org.apache.hadoop.fs.Path(root,
            s".mem-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
          val out = f.create(tmp, true)
          try out.write(body) finally out.close()
          java.nio.file.Files.move(
            java.nio.file.Paths.get(tmp.toUri.getPath),
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        }
      }
    }
    val mem = new MemoryCommitStore
    val saved = VersionedTable.commitStore
    VersionedTable.commitStore = mem
    try {
      val path = java.nio.file.Files.createTempDirectory("memstore").toString + "/t"
      VersionedTable.write(Seq((0, "seed")).toDF("id", "v"), path)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val futs = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await()
            VersionedTable.append(Seq((i, s"w$i")).toDF("id", "v"), path)
          }
        })
      }
      gate.countDown()
      val vs = futs.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS)).sorted
      pool.shutdown()
      assert(vs == Seq(2L, 3L, 4L, 5L), s"one winner per slot through the fake: $vs")
      assert(mem.puts.get() >= 5L, "commits must route through the injected store")
      assert(VersionedTable.read(spark, path).count() == 5)
      assert(VersionedTable.countRows(spark, path) == 5L)
    } finally VersionedTable.commitStore = saved
  }

  test("extended chaos: RESTORE, vacuum, and schema DDL race appends and upserts") {
    import scala.util.{Failure, Success, Try}
    val path = java.nio.file.Files.createTempDirectory("chaos2").toString + "/t"
    rangeTable(path) // v1: ids 0..999
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    def submit(body: => Long) =
      pool.submit(new java.util.concurrent.Callable[Try[Long]] {
        def call(): Try[Long] = { gate.await(); Try(body) }
      })
    val racers: Seq[(String, java.util.concurrent.Future[Try[Long]])] = Seq(
      "upsert" -> submit(VersionedTable.upsert(
        spark.range(0, 10).select(col("id"), lit("RACED").as("v")), path, Seq("id"))),
      "append" -> submit(VersionedTable.append(
        spark.range(5000, 5010).select(col("id"), concat(lit("n"), col("id")).as("v")),
        path)),
      "ddl" -> submit(VersionedTable.addColumns(spark, path,
        Seq(org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType)))),
      "restore" -> submit(VersionedTable.restore(spark, path, 1L)),
      "vacuum" -> submit { VersionedTable.vacuum(spark, path, keepLast = 3); -1L })
    gate.countDown()
    val outcomes = racers.map { case (n, f) =>
      n -> f.get(240, java.util.concurrent.TimeUnit.SECONDS) }
    pool.shutdown()
    // every failure is a DOCUMENTED refusal, never a corrupted state:
    // schema guards (a DDL won first), restore÷vacuum race guards
    outcomes.foreach {
      case (name, Failure(e)) =>
        val m = Option(e.getMessage).getOrElse("")
        assert(m.contains("schema mismatch") || m.contains("has no version") ||
          m.contains("cannot restore") || m.contains("raced a vacuum"),
          s"$name died outside its contract: $e")
      case _ => ()
    }
    val byName = outcomes.toMap
    // successful verbs claimed DISTINCT versions
    val claimed = outcomes.collect { case (n, Success(v)) if n != "vacuum" => v }
    assert(claimed.distinct.size == claimed.size, s"version collision: $outcomes")
    // the surviving log is contiguous, every survivor is a readable
    // snapshot, and the head agrees with its metadata
    val vs = VersionedTable.versions(spark, path)
    assert(vs == (vs.head to vs.last), s"log must stay dense: $vs")
    vs.foreach(v => VersionedTable.read(spark, path, Some(v)).count())
    assert(VersionedTable.countRows(spark, path) ==
      VersionedTable.read(spark, path).count())
    assert(VersionedTable.history(spark, path).count() == vs.size)
    // each successful verb's effect is observable AT ITS OWN VERSION — or
    // that version was legitimately vacuumed away (refusal-or-effect: no
    // third outcome exists)
    def at(v: Long): Option[org.apache.spark.sql.DataFrame] =
      Try(VersionedTable.read(spark, path, Some(v))).toOption
    byName("upsert").foreach(v => at(v).foreach(df =>
      assert(df.filter(col("v") === "RACED").count() == 10)))
    byName("append").foreach(v => at(v).foreach(df =>
      assert(df.filter(col("id") >= 5000).count() == 10)))
    byName("ddl").foreach(v => at(v).foreach(df =>
      assert(df.columns.contains("tag"))))
    byName("restore").foreach(v => at(v).foreach(df =>
      assert(df.count() == 1000)))
  }

  test("a failed version write never becomes readable; vacuum retires old versions") {
    val path = java.nio.file.Files.createTempDirectory("vt").toString + "/t"
    VersionedTable.write(Seq((1, "a")).toDF("id", "v"), path)
    val bad = Seq(1, 2).toDF("id")
      .withColumn("v", when(col("id") > 1, raise_error(lit("boom"))).otherwise(lit("x")))
    intercept[Exception] { VersionedTable.write(bad, path) }
    // failed v2 left no manifest → invisible to readers
    assert(VersionedTable.versions(spark, path) == Seq(1L))
    assert(VersionedTable.read(spark, path).count() == 1)
    // next writer claims the next free number and commits fine
    val v = VersionedTable.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    assert(v >= 2L && VersionedTable.read(spark, path).count() == 2)

    VersionedTable.vacuum(spark, path, keepLast = 1)
    assert(VersionedTable.versions(spark, path) == Seq(v))
    assert(VersionedTable.read(spark, path).count() == 2)
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, path, Some(1L))
    }
  }

  test("vacuum retention floor protects in-flight stage dirs; sweeps stale commit tmps") {
    val path = java.nio.file.Files.createTempDirectory("vt").toString + "/t"
    VersionedTable.write(Seq((1, "a")).toDF("id", "v"), path)
    // simulate a slow writer: a staged-but-uncommitted data dir that existed
    // BEFORE the next commit lands (the ADVICE scenario: under the old
    // commit-time-only rule it looks older than every kept manifest)
    val orphan = new java.io.File(path, "d-inflight")
    orphan.mkdirs()
    new java.io.FileOutputStream(new java.io.File(orphan, "part-0.parquet")).close()
    // and a dead writer's manifest stage file
    val tmp = new java.io.File(path, ".commit-deadbeef.tmp")
    new java.io.FileOutputStream(tmp).close()
    Thread.sleep(20)
    VersionedTable.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    // default retention: both younger than the 24h floor → untouched, even
    // though a newer commit makes them older than the oldest kept manifest
    VersionedTable.vacuum(spark, path, keepLast = 1)
    assert(orphan.exists(), "retention floor must protect a fresh staged dir")
    assert(tmp.exists())
    // zero retention: now both are sweepable (older than the kept commit)
    VersionedTable.vacuum(spark, path, keepLast = 1, orphanRetentionMs = 0L)
    assert(!orphan.exists(), "zero-retention vacuum must sweep the orphan")
    assert(!tmp.exists(), "zero-retention vacuum must sweep stale commit tmps")
    assert(VersionedTable.read(spark, path).count() == 2)
  }

  test("TYPE WIDENING: metadata-only ALTER COLUMN, mixed-width files read wide") {
    import org.apache.spark.sql.types._
    val path = java.nio.file.Files.createTempDirectory("widen").toString + "/t"
    VersionedTable.write(Seq((1, 1.5f), (2, 2.5f)).toDF("id", "f")
      .repartition(1), path, statsCols = Seq("id"))
    val narrowFiles = VersionedTable.pruneInfo(spark, path, lit(true))._1.toSet
    VersionedTable.widenColumn(spark, path, "id", LongType)
    VersionedTable.widenColumn(spark, path, "f", DoubleType)
    // zero data movement: the carried file set is byte-identical
    assert(VersionedTable.pruneInfo(spark, path, lit(true))._1.toSet == narrowFiles)
    val wide = VersionedTable.read(spark, path)
    assert(wide.schema("id").dataType == LongType)
    assert(wide.schema("f").dataType == DoubleType)
    assert(wide.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 1.5), (2L, 2.5)))
    // new appends land wide; reads span narrow + wide physical files
    VersionedTable.append(
      Seq((3000000000L, 3.5)).toDF("id", "f").repartition(1), path)
    assert(VersionedTable.read(spark, path).orderBy("id").collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.5), (2L, 2.5), (3000000000L, 3.5)))
    // pruning stays sound across the width change (stats live in the
    // BigDecimal domain): the narrow file is provably dead for a big key
    val (_, skipped) = VersionedTable.pruneInfo(spark, path, col("id") === 3000000000L)
    assert(skipped.nonEmpty, "expected the narrow file pruned")
    // metadata MIN/MAX still answers exactly over mixed-width stats
    assert(VersionedTable.minMaxFromStats(spark, path, "id")
      .map { case (mn, mx) => (mn.toString, mx.toString) }
      .contains(("1", "3000000000")))
    // time travel reads the NARROW schema at the old version
    assert(VersionedTable.read(spark, path, Some(1L)).schema("id").dataType == IntegerType)
  }

  test("TYPE WIDENING refusals: narrowing, cross-family, partition and no-op") {
    import org.apache.spark.sql.types._
    val path = java.nio.file.Files.createTempDirectory("widenRef").toString + "/t"
    VersionedTable.write(
      Seq((1L, 1.0, "a")).toDF("id", "v", "dt"), path, Nil, Seq("dt"))
    def refuses(name: String, to: DataType, msgPart: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        VersionedTable.widenColumn(spark, path, name, to) }
      assert(e.getMessage.contains(msgPart), e.getMessage)
    }
    refuses("id", IntegerType, "cannot widen")   // narrowing
    refuses("v", LongType, "cannot widen")       // cross-family double→long
    refuses("id", LongType, "cannot widen")      // no-op: nothing to commit
    refuses("dt", StringType, "cannot widen")    // no-op string
    val e = intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, path, "xx", LongType) }
    assert(e.getMessage.contains("no such column"), e.getMessage)
    // a genuinely widenable type on a PARTITION column still refuses
    val p2 = java.nio.file.Files.createTempDirectory("widenRef2").toString + "/t"
    VersionedTable.write(Seq((1L, 7)).toDF("id", "part"), p2, Nil, Seq("part"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, p2, "part", org.apache.spark.sql.types.LongType) }
    assert(e2.getMessage.contains("partition column"), e2.getMessage)
    assert(VersionedTable.latestVersion(spark, path).contains(1L)) // nothing committed
  }

  test("GENERATED columns: fill on append, enforce supplied values, atomic refusal") {
    val path = java.nio.file.Files.createTempDirectory("gen").toString + "/t"
    VersionedTable.write(Seq((1, 10, 20), (2, 7, 14)).toDF("id", "n", "dbl"), path)
    VersionedTable.setGeneratedColumn(spark, path, "dbl", "n * 2")
    // a writer that OMITS the generated column gets it computed
    VersionedTable.append(Seq((3, 5)).toDF("id", "n"), path)
    assert(VersionedTable.read(spark, path).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((1, 10, 20), (2, 7, 14), (3, 5, 10)))
    // a writer that SUPPLIES the correct value passes
    VersionedTable.append(Seq((4, 6, 12)).toDF("id", "n", "dbl"), path)
    // a wrong supplied value refuses the COMMIT atomically
    val vBefore = VersionedTable.latestVersion(spark, path).get
    val e = intercept[IllegalStateException] {
      VersionedTable.append(Seq((5, 6, 99)).toDF("id", "n", "dbl"), path) }
    assert(e.getMessage.contains("generated column 'dbl'"), e.getMessage)
    assert(VersionedTable.latestVersion(spark, path).contains(vBefore))
    // upsert fills an omitted generated column too (CDC writers never
    // hand-compute derived columns)
    VersionedTable.upsert(Seq((3, 8)).toDF("id", "n"), path, Seq("id"),
      evolveSchema = true)
    assert(VersionedTable.read(spark, path).filter(col("id") === 3)
      .select("dbl").as[Int].head() == 16)
  }

  test("GENERATED columns: declaration validates expr contract and existing rows") {
    val path = java.nio.file.Files.createTempDirectory("gen2").toString + "/t"
    VersionedTable.write(Seq((1, 10, 21)).toDF("id", "n", "dbl"), path)
    // existing rows disagree with the declaration → refused
    val e0 = intercept[IllegalStateException] {
      VersionedTable.setGeneratedColumn(spark, path, "dbl", "n * 2") }
    assert(e0.getMessage.contains("existing rows"), e0.getMessage)
    // type mismatch (int column, bigint expr) → refused naming the fix
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.setGeneratedColumn(spark, path, "dbl", "CAST(n AS BIGINT)") }
    assert(e1.getMessage.contains("must equal the declared type"), e1.getMessage)
    // self-reference → refused
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.setGeneratedColumn(spark, path, "dbl", "dbl") }
    assert(e2.getMessage.contains("reference itself"), e2.getMessage)
    // non-deterministic → refused
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.setGeneratedColumn(spark, path, "dbl",
        "CAST(rand() * 10 AS INT)") }
    assert(e3.getMessage.contains("deterministic"), e3.getMessage)
    // evaluation-time dependence → refused
    VersionedTable.addColumns(spark, path, Seq(
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DateType)))
    val e4 = intercept[IllegalArgumentException] {
      VersionedTable.setGeneratedColumn(spark, path, "d", "current_date") }
    assert(e4.getMessage.contains("evaluation"), e4.getMessage)
    // indirect time dependence (unix_timestamp() resolves to
    // UnixTimestamp(CurrentTimestamp,…) — invisible to a text scan) is
    // caught by the AST walk
    VersionedTable.addColumns(spark, path, Seq(
      org.apache.spark.sql.types.StructField("sec",
        org.apache.spark.sql.types.LongType)))
    val e4b = intercept[IllegalArgumentException] {
      VersionedTable.setGeneratedColumn(spark, path, "sec", "unix_timestamp()") }
    assert(e4b.getMessage.contains("evaluation"), e4b.getMessage)
    // raw property smuggling is closed
    val e5 = intercept[IllegalArgumentException] {
      VersionedTable.setProperties(spark, path,
        Map("graft.generated.dbl" -> "n * 2")) }
    assert(e5.getMessage.contains("setGeneratedColumn"), e5.getMessage)
  }

  test("GENERATED columns: DDL guards on drop/rename/widen; dropGeneration reopens") {
    import org.apache.spark.sql.types.LongType
    val path = java.nio.file.Files.createTempDirectory("gen3").toString + "/t"
    VersionedTable.write(Seq((1, 10, 20)).toDF("id", "n", "dbl"), path)
    VersionedTable.setGeneratedColumn(spark, path, "dbl", "n * 2")
    val eDropG = intercept[IllegalArgumentException] {
      VersionedTable.dropColumns(spark, path, Seq("dbl")) }
    assert(eDropG.getMessage.contains("generated"), eDropG.getMessage)
    val eDropSrc = intercept[IllegalArgumentException] {
      VersionedTable.dropColumns(spark, path, Seq("n")) }
    assert(eDropSrc.getMessage.contains("generated column dbl"), eDropSrc.getMessage)
    val eRen = intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, path, "n", "m") }
    assert(eRen.getMessage.contains("generated column dbl"), eRen.getMessage)
    val eWiden = intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, path, "n", LongType) }
    assert(eWiden.getMessage.contains("generated column dbl"), eWiden.getMessage)
    // dropping the generation turns dbl back into an ordinary column
    VersionedTable.dropGeneratedColumn(spark, path, "dbl")
    VersionedTable.append(Seq((2, 3, 99)).toDF("id", "n", "dbl"), path) // free value OK now
    VersionedTable.widenColumn(spark, path, "n", LongType) // and the widen passes
    assert(VersionedTable.read(spark, path).count() == 2)
  }

  test("IDENTITY columns: dense allocation, hwm rides the commit log, ALWAYS refusals") {
    val path = java.nio.file.Files.createTempDirectory("ident").toString + "/t"
    VersionedTable.write(
      Seq.empty[(Long, String)].toDF("id", "v"), path)
    VersionedTable.declareIdentityColumn(spark, path, "id",
      start = 10L, step = 5L)
    // two appends, each omitting id → dense per commit, monotonic across
    VersionedTable.append(Seq("a", "b", "c").toDF("v"), path)
    VersionedTable.append(Seq("d", "e").toDF("v"), path)
    val got = VersionedTable.read(spark, path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((10L, "a"), (15L, "b"), (20L, "c"), (25L, "d"), (30L, "e")), got)
    assert(VersionedTable.propertiesOf(spark, path)
      .get("graft.identityHwm.id").contains("35"))
    // GENERATED ALWAYS: explicit values refuse; update/upsert refuse
    val eExp = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((99L, "x")).toDF("id", "v"), path) }
    assert(eExp.getMessage.contains("GENERATED ALWAYS AS IDENTITY"), eExp.getMessage)
    val eUp = intercept[IllegalArgumentException] {
      VersionedTable.upsert(Seq((10L, "A")).toDF("id", "v"), path, Seq("id")) }
    assert(eUp.getMessage.contains("identity"), eUp.getMessage)
    val eSet = intercept[IllegalArgumentException] {
      VersionedTable.update(spark, path, col("v") === "a",
        Map("id" -> lit(1L))) }
    assert(eSet.getMessage.contains("identity"), eSet.getMessage)
    // raw hwm smuggling is closed; dropping the declaration reopens writes
    val eSm = intercept[IllegalArgumentException] {
      VersionedTable.setProperties(spark, path,
        Map("graft.identityHwm.id" -> "0")) }
    assert(eSm.getMessage.contains("declareIdentityColumn"), eSm.getMessage)
    VersionedTable.dropIdentityColumn(spark, path, "id")
    VersionedTable.append(Seq((99L, "x")).toDF("id", "v"), path)
    assert(VersionedTable.read(spark, path).count() == 6)
  }

  test("IDENTITY declaration contract: empty table only, BIGINT only") {
    val path = java.nio.file.Files.createTempDirectory("ident2").toString + "/t"
    VersionedTable.write(Seq((1L, 2, "a")).toDF("id", "n", "v"), path)
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.declareIdentityColumn(spark, path, "id") }
    assert(e1.getMessage.contains("empty table"), e1.getMessage)
    val path2 = java.nio.file.Files.createTempDirectory("ident3").toString + "/t"
    VersionedTable.write(Seq.empty[(Int, String)].toDF("n", "v"), path2)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.declareIdentityColumn(spark, path2, "n") }
    assert(e2.getMessage.contains("BIGINT"), e2.getMessage)
  }

  test("graft.bloomCols: staged parquet carries native bloom filters; rewrites regenerate them") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Files.createTempDirectory("bloom").toString + "/t"
    VersionedTable.write(Seq.empty[(Long, String)].toDF("id", "v"), path)
    VersionedTable.setProperties(spark, path, Map("graft.bloomCols" -> "id"))
    VersionedTable.append(
      (0L until 5000L).map(i => (i * 7L, s"v$i")).toDF("id", "v").coalesce(1), path)

    def bloomStateOf(fileKey: String): (Boolean, Boolean, Boolean) = {
      // (id has bloom, bloom finds a present key, v has no bloom)
      val conf = spark.sessionState.newHadoopConf()
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$path/$fileKey"), conf))
      try {
        val block = rd.getFooter.getBlocks.asScala.head
        val byName = block.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
        val idCol = byName("id")
        val hasBloom = idCol.getBloomFilterOffset >= 0
        val bloomHits = hasBloom && {
          val bf = rd.getBloomFilterDataReader(block).readBloomFilter(idCol)
          // present keys always answer true; absent keys answer false up
          // to the fpp — test MANY absent keys and allow at most one
          // false positive so the assertion never flakes on sizing
          bf != null &&
            (0L until 50L).forall(i => bf.findHash(bf.hash(i * 7L))) &&
            (0L until 50L).count(i => bf.findHash(bf.hash(i * 7L + 3L))) <= 1
        }
        (hasBloom, bloomHits, byName("v").getBloomFilterOffset < 0)
      } finally rd.close()
    }
    // the appended file, not the zero-row-group genesis file
    val dataFile = (VersionedTable.filesOf(spark, path,
      VersionedTable.latestVersion(spark, path).get).toSet --
      VersionedTable.filesOf(spark, path, 1L).toSet).head
    assert(bloomStateOf(dataFile) == (true, true, true), bloomStateOf(dataFile))
    // equality read stays correct with the filter pushed (the bloom is a
    // row-group pruning aid, never a correctness dependency)
    assert(VersionedTable.read(spark, path).filter(col("id") === 21L)
      .collect().map(_.getString(1)).toSeq == Seq("v3"))
    // a maintenance rewrite regenerates blooms for its output files
    VersionedTable.zOrderBy(spark, path, Seq("id"), bits = 16)
    val zFile = VersionedTable.filesOf(spark, path,
      VersionedTable.latestVersion(spark, path).get)
      .find(_ != dataFile).get
    assert(bloomStateOf(zFile)._1, "zorder output lost the bloom filters")
  }

  test("guardBy upsert: out-of-order changes never clobber newer stored rows") {
    val path = java.nio.file.Files.createTempDirectory("guard").toString + "/t"
    VersionedTable.write(
      Seq(("k1", 5L, "v5"), ("k2", 3L, "w3")).toDF("k", "seq", "v"), path)
    def up(rows: Seq[(String, Long, String)], del: Option[org.apache.spark.sql.Column] = None) =
      VersionedTable.upsert(rows.toDF("k", "seq", "v"), path, Seq("k"),
        evolveSchema = false, latestBy = Some("seq"), statsCols = Nil,
        txn = None, deleteWhere = del, guardBy = Some("seq"))
    def state(): Map[String, (Long, String)] =
      VersionedTable.read(spark, path).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    // LATE change (seq 4 < stored 5): ignored, stored row survives
    up(Seq(("k1", 4L, "late")))
    assert(state()("k1") == (5L, "v5"), state().toString)
    // newer change applies; tie (same seq) also applies (re-delivery)
    up(Seq(("k1", 6L, "v6"), ("k2", 3L, "w3b")))
    assert(state() == Map("k1" -> (6L, "v6"), "k2" -> (3L, "w3b")), state().toString)
    // new key inserts regardless of sequence
    up(Seq(("k3", 1L, "x1")))
    assert(state()("k3") == (1L, "x1"))
    // LATE tombstone ignored; newer tombstone deletes
    up(Seq(("k1", 2L, "zzz")), del = Some(lit(true)))
    assert(state().contains("k1"), "late tombstone must not delete")
    up(Seq(("k1", 7L, "zzz")), del = Some(lit(true)))
    assert(!state().contains("k1"), "newer tombstone must delete")
    assert(state().keySet == Set("k2", "k3"))
  }

  test("guardBy decides per KEY: duplicate stored rows neither half-apply nor multiply") {
    val path = java.nio.file.Files.createTempDirectory("guard2").toString + "/t"
    // two appends put TWO rows for kd (seq 1 and 9) — a key-uniqueness
    // violation the guard must not make worse
    VersionedTable.write(Seq(("kd", 1L, "old")).toDF("k", "seq", "v"), path)
    VersionedTable.append(Seq(("kd", 9L, "new")).toDF("k", "seq", "v"), path)
    def up(rows: Seq[(String, Long, String)]) =
      VersionedTable.upsert(rows.toDF("k", "seq", "v"), path, Seq("k"),
        evolveSchema = false, latestBy = Some("seq"), statsCols = Nil,
        txn = None, deleteWhere = None, guardBy = Some("seq"))
    def rows() = VersionedTable.read(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // update older than the key's MAX: ignored wholesale — both stored
    // rows survive, the update row is NOT emitted even once
    up(Seq(("kd", 5L, "mid")))
    assert(rows() == Set(("kd", 1L, "old"), ("kd", 9L, "new")), rows().toString)
    // update newer than the max: replaces EVERY stored row of the key,
    // collapsing the duplicate
    up(Seq(("kd", 10L, "final")))
    assert(rows() == Set(("kd", 10L, "final")), rows().toString)
  }

  test("guardBy NULL-vs-NULL: the stored row wins, no duplicate key emitted") {
    val path = java.nio.file.Files.createTempDirectory("guard3").toString + "/t"
    VersionedTable.write(
      Seq(("k", Option.empty[java.lang.Long], "stored"))
        .toDF("k", "seq", "v"), path)
    VersionedTable.upsert(
      Seq(("k", Option.empty[java.lang.Long], "update"), ("k2", Option(2L): Option[java.lang.Long], "n"))
        .toDF("k", "seq", "v"), path, Seq("k"),
      evolveSchema = false, latestBy = None, statsCols = Nil,
      txn = None, deleteWhere = None, guardBy = Some("seq"))
    val got = VersionedTable.read(spark, path).collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    // NULL update sequence never replaces; NULL stored sequence IS
    // replaceable by a non-null update; absent keys insert
    assert(got == Set(("k", "stored"), ("k2", "n")), got.toString)
    VersionedTable.upsert(
      Seq(("k", Option(1L): Option[java.lang.Long], "nonnull")).toDF("k", "seq", "v"),
      path, Seq("k"), evolveSchema = false, latestBy = None, statsCols = Nil,
      txn = None, deleteWhere = None, guardBy = Some("seq"))
    assert(VersionedTable.read(spark, path).filter(col("k") === "k")
      .collect().map(_.getString(2)).toSeq == Seq("nonnull"))
  }

  test("guardBy NULL-seq insert of an ABSENT key still lands (first-seen CDC row)") {
    val path = java.nio.file.Files.createTempDirectory("guard4").toString + "/t"
    VersionedTable.write(
      Seq(("k", Option(5L): Option[java.lang.Long], "stored"))
        .toDF("k", "seq", "v"), path)
    // the batch carries BOTH a stored key (forcing the guarded-rewrite path,
    // not the pure-insert fast path) and a NULL-sequence row for a key the
    // table has never seen — the guard arbitrates only against stored rows,
    // so the first-seen row must insert despite its NULL sequence
    VersionedTable.upsert(
      Seq(("k", Option(9L): Option[java.lang.Long], "newer"),
        ("kfresh", Option.empty[java.lang.Long], "first"))
        .toDF("k", "seq", "v"), path, Seq("k"),
      evolveSchema = false, latestBy = None, statsCols = Nil,
      txn = None, deleteWhere = None, guardBy = Some("seq"))
    val got = VersionedTable.read(spark, path).collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(got == Set(("k", "newer"), ("kfresh", "first")), got.toString)
  }

  test("zone-dependent generations pin the declaring session zone; drifted-zone writes refuse") {
    val path = java.nio.file.Files.createTempDirectory("genzone").toString + "/t"
    VersionedTable.write(Seq.empty[(Long, java.sql.Timestamp, java.sql.Date)]
      .toDF("id", "ts", "d"), path)
    VersionedTable.setGeneratedColumn(spark, path, "d", "CAST(ts AS DATE)")
    // the declaring session's zone rides the commit log
    assert(VersionedTable.propertiesOf(spark, path)
      .get("graft.generatedZone.d").contains("UTC"))
    // a zone-free generation records nothing
    val p2 = java.nio.file.Files.createTempDirectory("genzone2").toString + "/t"
    VersionedTable.write(Seq.empty[(Long, Long)].toDF("n", "dbl"), p2)
    VersionedTable.setGeneratedColumn(spark, p2, "dbl", "n * 2")
    assert(!VersionedTable.propertiesOf(spark, p2).keys
      .exists(_.startsWith("graft.generatedZone.")))
    // a write under a DIFFERENT session zone refuses loudly — filling
    // CAST(ts AS DATE) under another zone would corrupt p <=> f(ts)
    val zoneKey = "spark.sql.session.timeZone"
    spark.conf.set(zoneKey, "America/Los_Angeles")
    try {
      val e = intercept[Exception] {
        VersionedTable.append(Seq(
          (1L, java.sql.Timestamp.valueOf("2026-01-02 06:00:00")))
          .toDF("id", "ts"), path) }
      assert(e.getMessage.contains("declared under session time zone UTC"),
        e.getMessage)
      // the zone-free table keeps writing under any zone
      VersionedTable.append(Seq((5L, 10L)).toDF("n", "dbl"), p2)
    } finally spark.conf.set(zoneKey, "UTC")
    // back in the declared zone, the write lands and fills
    VersionedTable.append(Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-02 06:00:00")))
      .toDF("id", "ts"), path)
    assert(VersionedTable.read(spark, path).select(col("d"))
      .collect().map(_.getDate(0).toString).toSeq == Seq("2026-01-02"))
    // dropping the generation sheds the zone key with it
    VersionedTable.dropGeneratedColumn(spark, path, "d")
    assert(!VersionedTable.propertiesOf(spark, path).keys
      .exists(_.startsWith("graft.generatedZone.")))
  }

  test("protocol gating: unknown reader feature refuses reads; unknown writer feature refuses only writes") {
    val path = java.nio.file.Files.createTempDirectory("proto").toString + "/t"
    VersionedTable.write(Seq((1L, "a")).toDF("id", "s"), path)
    VersionedTable.append(Seq((2L, "b")).toDF("id", "s"), path)
    val head = VersionedTable.latestVersion(spark, path).get
    val mf = java.nio.file.Paths.get(path, "_graft_log", f"$head%08d.json")
    val orig = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
    def stamp(field: String): Unit =
      java.nio.file.Files.write(mf,
        (orig.stripSuffix("}") + s""",$field}""").getBytes("UTF-8"))
    // a FUTURE reader feature: this build must refuse to interpret the
    // manifest at all, naming the feature
    stamp(""""rf":["v9_dict_encoding"]""")
    val eR = intercept[UnsupportedOperationException] {
      VersionedTable.read(spark, path).collect() }
    assert(eR.getMessage.contains("v9_dict_encoding"), eR.getMessage)
    // a FUTURE writer feature: reads stay fine (the whole point of the
    // reader/writer split), every mutation refuses naming the feature
    stamp(""""wf":["v9_auto_index"]""")
    assert(VersionedTable.read(spark, path).count() == 2)
    assert(VersionedTable.protocolOf(spark, path)._2 == Set("v9_auto_index"))
    val eW = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((3L, "c")).toDF("id", "s"), path) }
    assert(eW.getMessage.contains("v9_auto_index") &&
      eW.getMessage.contains("remains readable"), eW.getMessage)
    assert(VersionedTable.latestVersion(spark, path).contains(head))
    // restored manifest: both gates open again
    java.nio.file.Files.write(mf, orig.getBytes("UTF-8"))
    VersionedTable.append(Seq((3L, "c")).toDF("id", "s"), path)
    assert(VersionedTable.read(spark, path).count() == 3)
  }

  test("protocol features are self-describing: declared contracts surface in wf") {
    val path = java.nio.file.Files.createTempDirectory("proto2").toString + "/t"
    VersionedTable.write(Seq((1L, 5.0)).toDF("id", "x"), path)
    assert(VersionedTable.protocolOf(spark, path)._2.isEmpty)
    VersionedTable.addCheckConstraint(spark, path, "x_pos", "x > 0")
    assert(VersionedTable.protocolOf(spark, path)._2 == Set("constraints"))
    // the feature sheds with the contract (recomputed per commit)
    VersionedTable.dropCheckConstraint(spark, path, "x_pos")
    assert(VersionedTable.protocolOf(spark, path)._2.isEmpty)
    // reader features reflect the bytes: a DV delete declares "dv"
    VersionedTable.delete(spark, path, col("id") === -1L,
      purgeFraction = 1.0)
    val (rf, _) = VersionedTable.protocolOf(spark, path)
    assert(!rf.contains("partitioned"), rf.toString)
  }

  test("graft.bloomCols follows RENAME COLUMN and sheds on DROP COLUMN") {
    val path = java.nio.file.Files.createTempDirectory("bloomren").toString + "/t"
    VersionedTable.write(Seq((1L, "a", 2.0)).toDF("id", "s", "x"), path)
    VersionedTable.setProperties(spark, path, Map("graft.bloomCols" -> "id,s"))
    VersionedTable.renameColumn(spark, path, "id", "uid")
    assert(VersionedTable.propertiesOf(spark, path)
      .get("graft.bloomCols").contains("uid,s"))
    VersionedTable.dropColumns(spark, path, Seq("s"))
    assert(VersionedTable.propertiesOf(spark, path)
      .get("graft.bloomCols").contains("uid"))
  }

  test("identity and generation are mutually exclusive, checked from both sides") {
    val path = java.nio.file.Files.createTempDirectory("identgen").toString + "/t"
    VersionedTable.write(Seq.empty[(Long, Long)].toDF("id", "n"), path)
    VersionedTable.declareIdentityColumn(spark, path, "id")
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.setGeneratedColumn(spark, path, "id", "CAST(1 AS BIGINT)") }
    assert(e1.getMessage.contains("identity column"), e1.getMessage)
    VersionedTable.setGeneratedColumn(spark, path, "n", "CAST(2 AS BIGINT)")
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.declareIdentityColumn(spark, path, "n") }
    assert(e2.getMessage.contains("generated column"), e2.getMessage)
  }

  /** Commit store that refuses, under the table root `under`, the first
    * claim of every version (each commit loses exactly one race) — or
    * every claim (`always`). Claims elsewhere go to the filesystem store. */
  private class LosingCommitStore(under: String, always: Boolean = false)
      extends VersionedTable.CommitStore {
    val claims = new java.util.concurrent.atomic.AtomicInteger(0)
    private val refused = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
        root: org.apache.hadoop.fs.Path, dest: org.apache.hadoop.fs.Path,
        body: Array[Byte]): Boolean = {
      val mine = dest.toUri.getPath.startsWith(under + "/")
      if (mine) claims.incrementAndGet()
      if (mine && (always || refused.add(dest.toString))) false
      else VersionedTable.FsCommitStore.putIfAbsent(f, root, dest, body)
    }
  }

  private def withStore[A](store: VersionedTable.CommitStore)(body: => A): A = {
    val saved = VersionedTable.commitStore
    VersionedTable.commitStore = store
    try body finally VersionedTable.commitStore = saved
  }

  /** Staged data dirs and checkpoint dirs under the table root that no
    * committed version references — what a lost race must never leave
    * behind. A checkpoint manifest lists its files in the checkpoint
    * parquet, so data files are resolved per version, not read off the
    * manifest text. */
  private def unreferenced(path: String): Seq[String] = {
    val root = new java.io.File(path)
    val log = new java.io.File(root, "_graft_log")
    val refs = log.listFiles().filter(_.getName.endsWith(".json"))
      .map(m => new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")) ++
      VersionedTable.versions(spark, path).flatMap(VersionedTable.filesOf(spark, path, _))
    val dirs = root.listFiles().filter(d => d.isDirectory && d.getName.startsWith("d-")) ++
      log.listFiles().filter(d => d.isDirectory && d.getName.startsWith("ckpt-"))
    dirs.map(_.getName).filterNot(n => refs.exists(_.contains(n))).toSeq
  }

  private def sortedRows(path: String): Seq[String] =
    VersionedTable.read(spark, path).collect().map(_.toString).toSeq.sorted

  /** Every write verb as (verb, setup, the verb's one commit), each
    * committing exactly one new version over its setup — the table the
    * lost-race and manifest-form specs drive. Tables hold four 10-row
    * files and an all-null column `w` (re-bindable without changing a
    * value — the column-mapped variant drops and re-adds it). */
  private def writeVerbs(): Seq[(String, String => Unit, String => Long)] = {
    import org.apache.spark.sql.types.{DoubleType, StructField}
    val base = spark.range(0, 40, 1, 4).select(col("id"),
      (col("id") % 4).as("g"), concat(lit("v"), col("id")).as("v"),
      lit(null).cast(DoubleType).as("w"))
    def table(p: String): Unit = VersionedTable.write(base, p, Seq("id"))
    val src = java.nio.file.Files.createTempDirectory("copysrc").toString
    base.filter(col("id") < 8).withColumn("id", col("id") + 1000)
      .write.mode("overwrite").parquet(src)
    Seq(
      ("write", table, p => VersionedTable.write(base.filter(col("id") < 20), p, Seq("id"))),
      ("append", table, p => VersionedTable.append(
        base.withColumn("id", col("id") + 100), p)),
      ("copyInto", table, p => VersionedTable.copyInto(spark, p, src)._1),
      ("commitBatch", table, p => VersionedTable.commitBatch(
        base.withColumn("id", col("id") + 100), p, "app", 1L)),
      ("commitSnapshot", table, p => VersionedTable.commitSnapshot(
        base.filter(col("id") < 20), p, "app", 1L, Seq("id"))),
      ("append partitioned", p => VersionedTable.write(base, p, Seq("id"),
        partitionBy = Seq("g")),
        p => VersionedTable.append(base.withColumn("id", col("id") + 100), p)),
      ("restore", { p => table(p); VersionedTable.delete(spark, p, col("id") < 10) },
        p => VersionedTable.restore(spark, p, 1L)),
      ("analyzeNdv", table, p => VersionedTable.analyzeNdvInfo(spark, p, Seq("id"))._1),
      ("upsert", table, p => VersionedTable.upsert(
        spark.range(35, 45).select(col("id"), (col("id") % 4).as("g"),
          lit("U").as("v"), lit(null).cast(DoubleType).as("w")), p, Seq("id"))),
      // 5 of a file's 10 rows: marked
      ("delete", table, p => VersionedTable.delete(spark, p, col("id") < 5)),
      // 8 of a file's 10 rows, past the fraction: the file is rewritten
      ("delete past the fraction", table,
        p => VersionedTable.delete(spark, p, col("id") < 8)),
      ("update", table, p => VersionedTable.update(spark, p, col("id") < 5,
        Map("v" -> lit("U")))),
      ("setProperties", table, p => VersionedTable.setProperties(spark, p,
        Map("owner" -> "ops"))),
      ("addCheckConstraint", table, p => VersionedTable.addCheckConstraint(
        spark, p, "nonneg", "id >= 0")),
      ("setGeneratedColumn", table, p => VersionedTable.setGeneratedColumn(
        spark, p, "g", "id % 4")),
      // no live row, four files: every row marked deleted
      ("declareIdentityColumn", { p => table(p)
        VersionedTable.delete(spark, p, lit(true), purgeFraction = 1.0) },
        p => VersionedTable.declareIdentityColumn(spark, p, "id")),
      ("addColumns", table, p => VersionedTable.addColumns(spark, p,
        Seq(StructField("x", DoubleType)))),
      ("purgeDeletes", { p => table(p)
        VersionedTable.delete(spark, p, col("id") < 3, purgeFraction = 1.0) },
        p => VersionedTable.purgeDeletes(spark, p)),
      ("compact", table, p => VersionedTable.compact(spark, p)),
      ("zOrderBy", table, p => VersionedTable.zOrderBy(spark, p, Seq("id", "g"))),
      ("zOrderBy scoped", p => VersionedTable.write(base, p, Seq("id"),
        partitionBy = Seq("g")),
        p => VersionedTable.zOrderBy(spark, p, Seq("id"), where = Some(col("g") === 1L))))
  }

  /** Pad `p` with property commits until its next commit is a checkpoint
    * version. */
  private def padToCheckpoint(p: String): Unit =
    while (VersionedTable.latestVersion(spark, p).get < VersionedTable.CheckpointEvery - 1)
      VersionedTable.setProperties(spark, p,
        Map("pad" -> VersionedTable.latestVersion(spark, p).get.toString))

  test("lost race: every write verb retries through the one commit loop — one version, same result, nothing staged left") {
    val savedInline = VersionedTable.CkptInlineMaxFiles
    try writeVerbs().foreach { case (name, setup, verb) =>
      val Seq(raced, calm) = Seq("raced", "calm").map(t =>
        java.nio.file.Files.createTempDirectory(s"race-$t").toString + "/t")
      // land the verb's commit on a checkpoint version
      Seq(raced, calm).foreach { p => setup(p); padToCheckpoint(p) }
      // every checkpoint rides a parquet dir, so a lost claim has one to drop
      VersionedTable.CkptInlineMaxFiles = 0
      val before = VersionedTable.latestVersion(spark, raced).get
      // a delete that empties a file stages a dir it then drops — setup
      // leftovers are not the verb's
      val leftBefore = unreferenced(raced)
      val store = new LosingCommitStore(raced)
      val vRaced = withStore(store)(verb(raced))
      val vCalm = verb(calm)
      VersionedTable.CkptInlineMaxFiles = savedInline
      assert(store.claims.get == 2, s"$name: claims ${store.claims.get}")
      assert(vRaced == before + 1 && vCalm == vRaced, s"$name: $vRaced vs $vCalm")
      assert(VersionedTable.latestVersion(spark, raced).contains(before + 1), name)
      assert(sortedRows(raced) == sortedRows(calm), name)
      assert(VersionedTable.propertiesOf(spark, raced) ==
        VersionedTable.propertiesOf(spark, calm), name)
      val left = unreferenced(raced).diff(leftBefore)
      assert(left.isEmpty, s"$name left $left")
    } finally VersionedTable.CkptInlineMaxFiles = savedInline
  }

  test("lost race: a verb that loses every claim gives up after exactly MaxCommitRetries") {
    Seq[(String, String => Long)](
      ("append", p => VersionedTable.append(spark.range(5, 8).toDF("id"), p)),
      ("delete", p => VersionedTable.delete(spark, p, col("id") < 2)),
      ("set-properties", p => VersionedTable.setProperties(spark, p, Map("k" -> "v")))
    ).foreach { case (what, verb) =>
      val path = java.nio.file.Files.createTempDirectory("giveup").toString + "/t"
      VersionedTable.write(spark.range(0, 5, 1, 2).toDF("id"), path)
      val store = new LosingCommitStore(path, always = true)
      val e = intercept[IllegalArgumentException](withStore(store)(verb(path)))
      assert(e.getMessage.contains(
        s"lost ${VersionedTable.MaxCommitRetries} $what commit races"), e.getMessage)
      assert(store.claims.get == VersionedTable.MaxCommitRetries, what)
      assert(VersionedTable.latestVersion(spark, path).contains(1L), what)
      // a verb whose staged rewrite goes stale drops it on every lost claim
      if (what == "delete") assert(unreferenced(path).isEmpty, unreferenced(path))
    }
  }

  private def dataDirs(path: String): Set[String] =
    new java.io.File(path).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("d-")).map(_.getName).toSet

  test("lost race: a raced write and a raced append stage their rows once, like their calm twins") {
    Seq[(String, String => Long)](
      ("write", p => VersionedTable.write(spark.range(20, 30, 1, 2).toDF("id"), p)),
      ("append", p => VersionedTable.append(spark.range(20, 30, 1, 2).toDF("id"), p))
    ).foreach { case (name, verb) =>
      val Seq(raced, calm) = Seq("raced", "calm").map(t =>
        java.nio.file.Files.createTempDirectory(s"restage-$t").toString + "/t")
      Seq(raced, calm).foreach(p => VersionedTable.write(spark.range(0, 20, 1, 2).toDF("id"), p))
      val Seq(racedBefore, calmBefore) = Seq(raced, calm).map(dataDirs)
      // the data dirs on disk when the first claim is refused
      var atRefusal = Set.empty[String]
      val store = new LosingCommitStore(raced) {
        override def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
            root: org.apache.hadoop.fs.Path, dest: org.apache.hadoop.fs.Path,
            body: Array[Byte]): Boolean = {
          if (claims.get == 0) atRefusal = dataDirs(raced)
          super.putIfAbsent(f, root, dest, body)
        }
      }
      withStore(store)(verb(raced))
      verb(calm)
      assert(store.claims.get == 2, s"$name: claims ${store.claims.get}")
      val (racedNew, calmNew) = (dataDirs(raced) -- racedBefore, dataDirs(calm) -- calmBefore)
      assert(racedNew.size == 1 && calmNew.size == 1, s"$name: $racedNew vs $calmNew")
      assert(dataDirs(raced) == atRefusal, s"$name restaged after the lost race")
      assert(sortedRows(raced) == sortedRows(calm), name)
    }
  }

  test("a snapshot insert lands its properties over the head it claims: a racing property commit survives") {
    val path = java.nio.file.Files.createTempDirectory("snapraw").toString + "/t"
    VersionedTable.write(Seq((1L, "a")).toDF("id", "s"), path)
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the first claim loses to a property commit on the same table
    val store = new VersionedTable.CommitStore {
      def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
          root: org.apache.hadoop.fs.Path, dest: org.apache.hadoop.fs.Path,
          body: Array[Byte]): Boolean =
        if (dest.toUri.getPath.startsWith(path + "/") && raced.compareAndSet(false, true)) {
          VersionedTable.setProperties(spark, path, Map("owner" -> "ops"))
          false
        } else VersionedTable.FsCommitStore.putIfAbsent(f, root, dest, body)
    }
    val v = withStore(store)(VersionedTable.insert(
      Seq((2L, "b"), (3L, "c")).toDF("id", "s"), path, overwrite = true, Seq("id"),
      txn = Some("app" -> 1L), propsAdd = Map("pin" -> "7")))
    assert(v == 3L, s"snapshot at $v")
    val props = VersionedTable.propertiesOf(spark, path)
    assert(props.get("owner").contains("ops") && props.get("pin").contains("7"), props)
    assert(sortedRows(path) == Seq("[2,b]", "[3,c]"))
    assert(VersionedTable.lastTxn(spark, path, "app").contains(1L))
  }

  test("commits and vacuum leave no checksum sidecar of a temp file in the log or the table root") {
    val path = java.nio.file.Files.createTempDirectory("crc").toString + "/t"
    VersionedTable.write(spark.range(0, 10).toDF("id"), path)
    (1 until 12).foreach(i =>
      VersionedTable.append(spark.range(10 * i, 10 * i + 10).toDF("id"), path))
    assert(VersionedTable.latestVersion(spark, path).contains(12L))
    val (root, log) = (new java.io.File(path), new java.io.File(path, "_graft_log"))
    // sidecars an earlier build left behind, older than the sweep's cutoff
    Seq(new java.io.File(log, "..head-0a1b2c3d.tmp.crc"),
      new java.io.File(root, "..anchor-0a1b2c3d.tmp.crc")).foreach { stale =>
      java.nio.file.Files.write(stale.toPath, Array[Byte](1, 2, 3))
      stale.setLastModified(System.currentTimeMillis() - 2L * 24 * 3600 * 1000)
    }
    VersionedTable.vacuum(spark, path, keepLast = 2)
    def tmpCrcs(dir: java.io.File): Seq[String] =
      dir.listFiles().map(_.getName).filter(_.endsWith(".tmp.crc")).toSeq
    assert(tmpCrcs(log).isEmpty, tmpCrcs(log))
    assert(tmpCrcs(root).isEmpty, tmpCrcs(root))
    assert(VersionedTable.read(spark, path).count() == 120L)
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def manifestFile(path: String, v: Long): java.nio.file.Path =
    java.nio.file.Paths.get(path, "_graft_log", f"$v%08d.json")

  /** Assert manifest `v` of `path` is in the form the writers produce — a
    * file list (`files` inline, a `ckpt` parquet, or a `base` delta's
    * `files_add`), a schema, a commit time, and a row count for every file
    * it lists — reading the bytes directly, not through the reader that
    * enforces the same. Returns the form. */
  private def assertWrittenForm(path: String, v: Long, what: String): String = {
    import scala.jdk.CollectionConverters._
    val node = json.readTree(java.nio.file.Files.readAllBytes(manifestFile(path, v)))
    val at = s"$what: version $v"
    assert(node.hasNonNull("schema") && node.get("schema").isObject, s"$at has no schema")
    assert(node.has("ts") && node.get("ts").asLong() > 0L, s"$at has no ts")
    def listed(field: String): Seq[String] =
      node.get(field).elements().asScala.map(_.asText()).toSeq
    def counted(files: Seq[String], rowsField: String): Unit =
      files.foreach(fk => assert(node.get(rowsField).has(fk), s"$at: no row count for $fk"))
    if (node.has("files")) { counted(listed("files"), "rows"); "files" }
    else if (node.has("ckpt")) {
      val ckpt = spark.read.parquet(
        java.nio.file.Paths.get(path, node.get("ckpt").asText()).toString)
      val rows = ckpt.select(col("path"), col("rows")).collect()
      assert(rows.map(_.getString(0)).toSet ==
        VersionedTable.filesOf(spark, path, v).toSet, s"$at: checkpoint file list")
      rows.foreach(r => assert(!r.isNullAt(1), s"$at: no row count for ${r.getString(0)}"))
      "ckpt"
    } else {
      assert(node.has("base"), s"$at lists no files")
      counted(listed("files_add"), "rows_add")
      "delta"
    }
  }

  /** The carry rule of version `v` over `v - 1`: every file carried from
    * the parent keeps its row count, its stats (unless the verb restates
    * them, as ANALYZE does) and its marks (a marking verb may add some);
    * no replaced file keeps a mark. Returns whether `v` replaced every
    * file of a non-empty parent. */
  private def assertCarried(p: String, v: Long, what: String,
      restatesStats: Boolean): Boolean = {
    val (rowsP, statsP, marksP, _, _) = VersionedTable.carryMetaOf(spark, p, v - 1)
    val (rowsV, statsV, marksV, _, _) = VersionedTable.carryMetaOf(spark, p, v)
    val filesP = VersionedTable.filesOf(spark, p, v - 1)
    val filesV = VersionedTable.filesOf(spark, p, v).toSet
    val (carried, replaced) = filesP.partition(filesV)
    carried.foreach { fk =>
      assert(rowsV.get(fk) == rowsP.get(fk), s"$what: row count of carried $fk")
      if (!restatesStats)
        assert(statsV.get(fk) == statsP.get(fk), s"$what: stats of carried $fk")
      assert(marksV.getOrElse(fk, 0L) >= marksP.getOrElse(fk, 0L),
        s"$what: marks of carried $fk ${marksP.get(fk)} → ${marksV.get(fk)}")
    }
    replaced.foreach(fk => assert(!marksV.contains(fk), s"$what: replaced $fk keeps a mark"))
    filesP.nonEmpty && carried.isEmpty
  }

  test("manifest form: every write verb commits files or ckpt with schema, ts and per-file row counts") {
    import org.apache.spark.sql.types.{DoubleType, StructField}
    val savedInline = VersionedTable.CkptInlineMaxFiles
    try writeVerbs().foreach { case (name, setup, verb) =>
      // as written, then landed on an inline and on a parquet checkpoint,
      // then over a column-mapped table (`w` dropped and re-added)
      val natural = java.nio.file.Files.createTempDirectory("form-natural").toString + "/t"
      Seq(("natural", None), ("inline", Some(savedInline)), ("parquet", Some(0)),
        ("mapped", None))
        .foreach { case (kind, ckptInline) =>
          val p =
            if (kind == "natural") natural
            else java.nio.file.Files.createTempDirectory(s"form-$kind").toString + "/t"
          setup(p)
          ckptInline.foreach { n => padToCheckpoint(p); VersionedTable.CkptInlineMaxFiles = n }
          if (kind == "mapped") {
            VersionedTable.dropColumns(spark, p, Seq("w"))
            VersionedTable.addColumns(spark, p, Seq(StructField("w", DoubleType)))
          }
          val v = verb(p)
          VersionedTable.CkptInlineMaxFiles = savedInline
          val forms = VersionedTable.versions(spark, p)
            .map(u => u -> assertWrittenForm(p, u, s"$name/$kind")).toMap
          val want = kind match {
            case "natural" | "mapped" => Set("files", "delta")
            case "inline" => Set("files")
            case _ => Set("ckpt")
          }
          assert(want(forms(v)), s"$name/$kind: head form ${forms(v)}")
          val replacedAll = assertCarried(p, v, s"$name/$kind",
            restatesStats = name == "analyzeNdv")
          if (kind == "mapped") {
            // a commit that rewrites every file sheds the column mapping
            // and still reads the same values
            if (replacedAll) {
              val (_, _, _, colMap, physDropped) = VersionedTable.carryMetaOf(spark, p, v)
              assert(colMap.isEmpty && physDropped.isEmpty,
                s"$name/mapped: full rewrite keeps colmap $colMap, phys_dropped $physDropped")
            }
            assert(sortedRows(p) == sortedRows(natural), s"$name/mapped: values")
          }
        }
    } finally VersionedTable.CkptInlineMaxFiles = savedInline
  }

  test("manifest form: a dir-form manifest, or one without schema, ts or a row count, is refused naming path and version") {
    import com.fasterxml.jackson.databind.node.ObjectNode
    val path = java.nio.file.Files.createTempDirectory("form").toString + "/t"
    VersionedTable.write(Seq((1L, "a")).toDF("id", "s"), path)  // v1: full
    VersionedTable.append(Seq((2L, "b")).toDF("id", "s"), path) // v2: delta on v1
    val v1Dir = VersionedTable.filesOf(spark, path, 1L).head.takeWhile(_ != '/')
    def refusedAfter(v: Long, edit: ObjectNode => Unit, why: String): Unit = {
      val mf = manifestFile(path, v)
      val orig = java.nio.file.Files.readAllBytes(mf)
      val node = json.readTree(orig).asInstanceOf[ObjectNode]
      edit(node)
      java.nio.file.Files.write(mf, json.writeValueAsBytes(node))
      try {
        val e = intercept[UnsupportedOperationException] {
          VersionedTable.read(spark, path).collect() }
        assert(e.getMessage.contains(s"$path version $v") &&
          e.getMessage.contains(why), e.getMessage)
      } finally java.nio.file.Files.write(mf, orig)
    }
    // the single-dir manifest of early releases
    refusedAfter(1L, { n =>
      Seq("files", "rows", "stats").foreach(n.remove)
      n.put("dir", v1Dir)
    }, "lists no files")
    refusedAfter(2L, n => n.remove("schema"), "records no schema")
    refusedAfter(2L, n => n.remove("ts"), "records no commit time")
    refusedAfter(1L, n => n.set[ObjectNode]("rows", json.createObjectNode()),
      "records no row count")
    // the untouched table reads again
    assert(VersionedTable.read(spark, path).count() == 2)
  }

  /** The change feed's reference model: both full snapshots aligned to the
    * union of their columns, diffed by two `exceptAll`s. */
  private def modelChanges(path: String, fromV: Long, toV: Long)
      : org.apache.spark.sql.DataFrame = {
    val before = VersionedTable.read(spark, path, Some(fromV))
    val after = VersionedTable.read(spark, path, Some(toV))
    val types = (before.schema ++ after.schema).map(fl => fl.name -> fl.dataType).toMap
    val cols = (before.columns ++ after.columns).distinct
    def aligned(df: org.apache.spark.sql.DataFrame) = df.select(cols.map(c =>
      if (df.columns.contains(c)) col(c) else lit(null).cast(types(c)).as(c)): _*)
    val (b, a) = (aligned(before), aligned(after))
    a.exceptAll(b).withColumn("_change_type", lit("insert"))
      .unionByName(b.exceptAll(a).withColumn("_change_type", lit("delete")))
  }

  test("change feed equals the two-exceptAll model: duplicates, NULL, NaN, -0.0, evolved schema, DV delete, RESTORE") {
    val path = java.nio.file.Files.createTempDirectory("cdfm").toString + "/t"
    val nan = Double.NaN
    def rows(rs: (Long, Option[String], Option[Double])*) =
      rs.toDF("id", "s", "x").coalesce(1)
    // v1: a duplicated row (x2), a tripled one (x3), NULL, NaN, -0.0
    VersionedTable.write(rows(
      (1L, Some("a"), Some(1.0)), (1L, Some("a"), Some(1.0)),
      (7L, Some("g"), Some(2.0)), (7L, Some("g"), Some(2.0)), (7L, Some("g"), Some(2.0)),
      (2L, None, Some(nan)), (3L, Some("c"), Some(-0.0)), (6L, Some("f"), Some(-0.0)),
      (4L, Some("d"), Some(0.5))), path)
    // v2: a full rewrite — multiplicities 2→1 and 3→1, NaN kept, -0.0 → 0.0
    // (equal under the normalized grouping), a -0.0 row leaves, NULLs arrive
    VersionedTable.write(rows(
      (1L, Some("a"), Some(1.0)), (7L, Some("g"), Some(2.0)),
      (2L, None, Some(nan)), (3L, Some("c"), Some(0.0)),
      (4L, Some("d"), Some(0.5)), (5L, None, None)), path)
    // v3: an evolved schema (new column e) through a MERGE
    VersionedTable.upsert(Seq((5L, "e", 2.5, "new")).toDF("id", "s", "x", "e"),
      path, Seq("id"), evolveSchema = true)
    // v4: a deletion-vector delete carried on the rewritten file
    VersionedTable.delete(spark, path, col("id") === 4L)
    // v5: RESTORE across that DV delete; v6: a duplicate in a new file
    VersionedTable.restore(spark, path, 3L)
    VersionedTable.append(
      Seq((1L, "a", 1.0, Option.empty[String])).toDF("id", "s", "x", "e"), path)
    assert(VersionedTable.latestVersion(spark, path).contains(6L))
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    for (fromV <- 1L to 5L; toV <- fromV + 1 to 6L) {
      val want = modelChanges(path, fromV, toV)
      val got = VersionedTable.changes(spark, path, fromV, toV)
        .select(want.columns.map(col).toSeq: _*)
      assert(sorted(got) == sorted(want), s"changes($fromV, $toV)")
    }
    // the cases the model pins are really in the feed
    val ch12 = sorted(VersionedTable.changes(spark, path, 1L, 2L)
      .select("id", "_change_type"))
    assert(ch12 == Seq("[1,delete]", "[5,insert]", "[6,delete]", "[7,delete]",
      "[7,delete]"), ch12)
    assert(sorted(VersionedTable.changes(spark, path, 4L, 5L)) ==
      Seq("[4,d,0.5,null,insert]"))
  }

  test("a non-DV change feed is one full-row shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val path = java.nio.file.Files.createTempDirectory("cdfx").toString + "/t"
    rangeTable(path)
    VersionedTable.upsert( // marks ids 240..259 in the tiles holding them
      spark.range(240, 260).select(col("id"), lit("U").as("v")), path, Seq("id"))
    val ch = VersionedTable.changes(spark, path, 1L, 2L)
    assert(ch.count() == 40)
    ch.collect()
    def shuffles(sp: SparkPlan): Seq[ShuffleExchangeExec] = sp.collect {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case e: ShuffleExchangeExec => Seq(e)
    }.flatten
    val finalPlan = ch.queryExecution.executedPlan
    val fullRow = shuffles(finalPlan).count(_.outputPartitioning match {
      case h: HashPartitioning =>
        Set("id", "v").subsetOf(h.expressions.flatMap(_.references.map(_.name)).toSet)
      case _ => false
    })
    assert(fullRow == 1, s"full-row exchanges = $fullRow:\n$finalPlan")
  }

  test("a copy-on-write rewrite that empties a file leaves no unreferenced staged dir") {
    def strays(path: String): Seq[String] = {
      val root = new java.io.File(path)
      val refs = VersionedTable.versions(spark, path)
        .flatMap(VersionedTable.filesOf(spark, path, _)).toSet ++
        new java.io.File(root, "_graft_log").listFiles().filter(_.getName.endsWith(".json"))
          .map(m => new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8"))
      root.listFiles().filter(d => d.isDirectory && d.getName.startsWith("d-"))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(fl => s"${d.getName}/${fl.getName}"))
        .filterNot(k => refs.exists(_.contains(k))).toSeq
    }
    // four single-file tiles of 250 ids; each verb empties tile 0
    def tiles(path: String): Unit = (0L until 1000L by 250L).foreach { lo =>
      val df = spark.range(lo, lo + 250).select(col("id"),
        concat(lit("v"), col("id")).as("v")).coalesce(1)
      if (lo == 0L) VersionedTable.write(df, path, Seq("id"))
      else VersionedTable.append(df, path, Seq("id"))
    }
    val verbs: Seq[(String, String => Unit)] = Seq(
      "delete" -> (p => VersionedTable.delete(spark, p, col("id") < 250L)),
      "upsert" -> (p => VersionedTable.upsert(
        spark.range(0, 250).select(col("id"), lit(null).cast("string").as("v")),
        p, Seq("id"), deleteWhere = Some(col("v").isNull))),
      "purgeDeletes" -> { p =>
        VersionedTable.delete(spark, p, col("id") < 250L, purgeFraction = 1.0)
        VersionedTable.purgeDeletes(spark, p)
      })
    verbs.foreach { case (what, verb) =>
      val path = java.nio.file.Files.createTempDirectory("empt").toString + "/t"
      tiles(path)
      verb(path)
      assert(VersionedTable.read(spark, path).count() == 750L, what)
      assert(filesOf(path).size == 3, s"$what: ${filesOf(path)}")
      assert(unreferenced(path).isEmpty, s"$what: ${unreferenced(path)}")
      assert(strays(path).isEmpty, s"$what: ${strays(path)}")
    }
  }

  test("upsert evaluates its update frame once: the duplicate-key probe fills the cache") {
    val base = java.nio.file.Files.createTempDirectory("upsone").toString
    val path = base + "/t"
    rangeTable(path)
    val updFile = base + "/upd"
    spark.range(100, 110).select(col("id"), lit("U").as("v"))
      .coalesce(1).write.parquet(updFile)
    val part = new java.io.File(updFile).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val jobs = OpenLoggingFs.jobsOpening(spark, part) {
      VersionedTable.upsert(spark.read.parquet(updFile), path, Seq("id"))
    }
    assert(jobs.size == 1, s"jobs $jobs")
    assert(VersionedTable.read(spark, path).filter(col("v") === "U").count() == 10L)
  }

  /** One 100-row file over ids 0..99 (payload v<id>) with id stats. */
  private def oneFile(path: String): Unit =
    VersionedTable.write(spark.range(0, 100).select(col("id"),
      concat(lit("v"), col("id")).as("v")).coalesce(1), path, Seq("id"))

  test("marked MERGE: k <= N/2 matches of one N-row file keep every data file byte-identical, stage only the applied rows, record k marks") {
    Seq(1, 30, 50).foreach { k =>
      val path = java.nio.file.Files.createTempDirectory("mor").toString + "/t"
      oneFile(path)
      val v1Digests = digestsAt(path, 1L)
      // k matched keys (ids 10 until 10 + k) plus 5 new ones
      val updates = spark.range(10, 10 + k).union(spark.range(500, 505))
        .select(col("id"), lit("U").as("v"))
      val v2 = VersionedTable.upsert(updates, path, Seq("id"))
      assert(digestsAt(path, v2).filter(kv => v1Digests.contains(kv._1)) == v1Digests,
        s"k=$k")
      assert(addedRows(path, v2) == k + 5L, s"k=$k: only the applied rows are staged")
      assert(marksAt(path, v2) == v1Digests.keySet.map(_ -> k.toLong).toMap, s"k=$k")
      val model = VersionedTable.read(spark, path, Some(1L))
        .join(updates.select("id"), Seq("id"), "left_anti").unionByName(updates)
      assert(sortedRows(path) == model.collect().map(_.toString).toSeq.sorted, s"k=$k")
      assert(VersionedTable.countRows(spark, path) == 105L)
    }
  }

  test("a MERGE above the rewrite fraction rewrites the file and leaves no marks; deleteVectorized shares the boundary") {
    def layout(verb: String => Unit): (Boolean, Map[String, Long]) = {
      val path = java.nio.file.Files.createTempDirectory("morb").toString + "/t"
      oneFile(path)
      val v1 = VersionedTable.filesOf(spark, path, 1L).toSet
      verb(path)
      val v2 = VersionedTable.latestVersion(spark, path).get
      (v1.subsetOf(VersionedTable.filesOf(spark, path, v2).toSet), marksAt(path, v2))
    }
    def merge(k: Int)(p: String): Unit = VersionedTable.upsert(
      spark.range(0, k).select(col("id"), lit("U").as("v")), p, Seq("id"))
    def dvDelete(k: Int)(p: String): Unit =
      VersionedTable.delete(spark, p, col("id") < k)
    // 50 of 100 is not above DefaultDvPurgeFraction (0.5): marked, file kept
    Seq(merge(50) _, dvDelete(50) _).foreach { verb =>
      val (kept, marks) = layout(verb)
      assert(kept && marks.values.toSeq == Seq(50L), marks.toString)
    }
    // 51 of 100 is above it: the file is rewritten and no mark lands
    assert(layout(merge(51)) == ((false, Map.empty[String, Long])))
    assert(layout(dvDelete(51)) == ((false, Map.empty[String, Long])))
    // existing marks count toward the fraction: 20 marked + 31 matched > 50
    val path = java.nio.file.Files.createTempDirectory("morc").toString + "/t"
    oneFile(path)
    VersionedTable.delete(spark, path, col("id") >= 80)
    val f1 = VersionedTable.filesOf(spark, path, 2L).toSet
    VersionedTable.upsert(spark.range(0, 30).select(col("id"), lit("U").as("v")),
      path, Seq("id"))
    assert(f1.subsetOf(VersionedTable.filesOf(spark, path, 3L).toSet))
    assert(marksAt(path, 3L).values.toSeq == Seq(50L))
    VersionedTable.upsert(spark.range(30, 31).select(col("id"), lit("U").as("v")),
      path, Seq("id"))
    assert(!f1.subsetOf(VersionedTable.filesOf(spark, path, 4L).toSet))
    assert(marksAt(path, 4L).isEmpty)
    assert(VersionedTable.read(spark, path).count() == 80L)
    assert(VersionedTable.read(spark, path).filter(col("v") === "U").count() == 31L)
  }

  test("change feed across a marked MERGE: one full-row exchange fed only by the changed rows, equal to the two-exceptAll model") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val path = java.nio.file.Files.createTempDirectory("morcdf").toString + "/t"
    VersionedTable.write(spark.range(0, 1000).select(col("id"),
      concat(lit("v"), col("id")).as("v")).coalesce(1), path, Seq("id"))
    // 40 matched keys — 20 changed, 20 re-sent unchanged — and 10 new ones
    val updates = spark.range(100, 120).select(col("id"), lit("U").as("v"))
      .union(spark.range(120, 140).select(col("id"), concat(lit("v"), col("id")).as("v")))
      .union(spark.range(5000, 5010).select(col("id"), lit("N").as("v")))
    VersionedTable.upsert(updates, path, Seq("id"))
    assert(marksAt(path, 2L).values.toSeq == Seq(40L), "the MERGE must mark, not rewrite")
    val ch = VersionedTable.changes(spark, path, 1L, 2L)
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val want = modelChanges(path, 1L, 2L)
    // unchanged re-sends cancel: 20 updates (delete + insert) and 10 inserts
    assert(sorted(ch.select(want.columns.map(col).toSeq: _*)) == sorted(want))
    assert(ch.collect().length == 50)
    def shuffles(sp: SparkPlan): Seq[ShuffleExchangeExec] = sp.collect {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case e: ShuffleExchangeExec => Seq(e)
    }.flatten
    val fullRow = shuffles(ch.queryExecution.executedPlan).filter(_.outputPartitioning match {
      case h: HashPartitioning =>
        Set("id", "v").subsetOf(h.expressions.flatMap(_.references.map(_.name)).toSet)
      case _ => false
    })
    assert(fullRow.size == 1, ch.queryExecution.executedPlan.toString)
    // its input: the 50 added rows and the 40 marked ones, never the
    // marked file's other 960
    val records = fullRow.head.metrics("shuffleRecordsWritten").value
    assert(records > 0L && records <= 90L, s"records into the exchange: $records")
  }

  test("row tracking: changesWithRowIds pairs a marked MERGE's update pre-image and post-image") {
    val path = java.nio.file.Files.createTempDirectory("morrt").toString + "/t"
    oneFile(path)
    VersionedTable.setProperties(spark, path, Map(VersionedTable.RowTrackingKey -> "true"))
    def ids(v: Long): Map[Long, Long] = VersionedTable.readWithRowIds(spark, path, Some(v))
      .select(col("id"), col(VersionedTable.RowIdCol)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v0 = VersionedTable.latestVersion(spark, path).get
    val before = ids(v0)
    val vM = VersionedTable.upsert(Seq((3L, "CHANGED"), (4L, "v4"), (700L, "new"))
      .toDF("id", "v"), path, Seq("id"))
    assert(marksAt(path, vM).values.toSeq == Seq(2L), "the MERGE must mark, not rewrite")
    val after = ids(vM)
    assert(before.forall { case (k, id) => after(k) == id }, "every matched and kept row keeps its id")
    val cdf = VersionedTable.changesWithRowIds(spark, path, v0, vM)
      .select(col("id"), col("v"), col(VersionedTable.RowIdCol), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(cdf == Set((3L, "v3", before(3L), "update_preimage"),
      (3L, "CHANGED", before(3L), "update_postimage"),
      (700L, "new", after(700L), "insert")), cdf.toString)
    // RESTORE across it reverses the pairing: marks shrink, the file leaves
    val vR = VersionedTable.restore(spark, path, v0)
    val back = VersionedTable.changesWithRowIds(spark, path, vM, vR)
      .select(col("id"), col("v"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(back == Set((3L, "CHANGED", "update_preimage"), (3L, "v3", "update_postimage"),
      (700L, "new", "delete")), back.toString)
  }
}
