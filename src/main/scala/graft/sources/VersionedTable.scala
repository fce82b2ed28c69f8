package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, DoubleType,
  FloatType, IntegerType, LongType, ShortType, StringType, StructField,
  StructType}

/** Versioned parquet table — the transaction-log-lite answer to the
  * reference's Delta features this environment has no jars for
  * (`sql/ddl/01_bronze.sql:18-26` ACID, time travel, change data feed;
  * deviation documented in SURVEY §1.3):
  *
  * layout
  * {{{
  *   <path>/d-1f3a9c2e/...parquet      immutable data files (token-named
  *   <path>/d-8b02d4f7/...parquet       dirs; referenced only via the log)
  *   <path>/_graft_log/00000001.json   commit manifests (the log):
  *     {"version":2,"files":["d-1f3a9c2e/part-0.parquet",
  *                           "d-8b02d4f7/part-0.parquet"],
  *      "schema":{...},"rows":{"d-...":1234},"txn":{"app":7},"stats":{...}}
  * }}}
  *
  * A manifest lists FILES, not a directory — so one commit can mix files
  * newly written by that commit with files carried by reference from the
  * parent version. That is what makes every write-side verb file-granular,
  * the property that survives 100 TB:
  *
  *  - [[upsert]] (MERGE) reads ONLY the files whose recorded key bounds
  *    admit a matching update key, and of those marks the replaced rows in
  *    a deletion-vector sidecar (merge-on-read, like Delta MERGE with
  *    deletion vectors) unless the marks would pass
  *    [[DefaultDvPurgeFraction]] of a file, which it then rewrites; a daily
  *    upsert touching 0.1% of keys writes ~0.1% of rows, not 100%.
  *  - [[delete]] reads only files whose stats intersect the predicate and
  *    marks their matching rows under the same mark-or-rewrite rule,
  *    rewriting a file only when its marks would pass the fraction.
  *  - every rewriting verb ([[upsert]], [[delete]], [[update]],
  *    [[purgeDeletes]], [[compact]], [[zOrderBy]]) lands ONE commit shape,
  *    [[replaceFiles]]: remove some files, add their rewrite, carry the
  *    rest with their stats, row counts and marks.
  *  - [[compact]] (OPTIMIZE) bin-packs small files into target-size files
  *    as a new version, carrying already-right-sized files untouched.
  *  - [[append]] / [[commitBatch]] add files without touching any existing
  *    byte; `commitBatch` is idempotent per (appId, batchId) via the
  *    manifest's `txn` map (Delta's txnAppId/txnVersion idiom), giving
  *    exactly-once streaming sinks under foreachBatch replay.
  *  - per-file `rows` let [[countRows]] answer `count(*)` from the
  *    manifest alone — zero data files opened.
  *
  * The COMMIT POINT is the atomic create-if-absent of the version's
  * manifest in `_graft_log/` — data files are written first and are
  * unreferenced until their manifest lands, so a writer dying at ANY point
  * leaves every previously-committed version readable and never exposes a
  * partial one (same guarantee Delta gets from `_delta_log`). Readers
  * resolve the latest committed version from the log and open exactly the
  * files NAMED IN THE MANIFEST with the schema recorded there — so a
  * committed version that nets to zero rows stays readable instead of
  * failing schema inference.
  *
  * MULTI-WRITER: optimistic concurrency like Delta's. Each writer stages
  * its new files under a private token-named dir, then claims version N by
  * atomically creating `_graft_log/N.json` — on the local filesystem via a
  * hard-link publish (POSIX `link(2)`: create-if-absent with no partial
  * visibility), on HDFS-like filesystems via rename-no-replace. Exactly one
  * writer wins a version slot. Every write verb reaches that claim through
  * ONE loop, [[commitLoop]]: each attempt re-reads the head and either
  * returns early (replay, no-op) or stages a commit; a lost claim deletes
  * that attempt's stale checkpoint and staged dirs and runs the next
  * attempt against the new head, up to [[MaxCommitRetries]] losses in a
  * row. `write`/`append` keep their staged files and just re-claim the next
  * slot; `upsert`/`delete` and the other rewriting verbs recompute against
  * the new base (their content depends on what they read). Orphaned data
  * dirs from writers that died before committing are unreferenced and
  * harmless; `vacuum` sweeps them once they are older than every live
  * version.
  *
  *  - time travel: `read(spark, path, asOf = Some(v))`
  *  - change feed: `changes(spark, path, fromV, toV)` — row-level
  *    insert/delete diff between two versions (CDF-lite)
  *  - `vacuum(spark, path, keepLast)` — retire files referenced only by
  *    dropped versions (file-granular: a file carried forward by a kept
  *    version survives the drop of the version that wrote it)
  *
  * ONE MANIFEST FORM: every manifest lists its files inline (`"files"`),
  * in a parquet checkpoint (`"ckpt"`), or as a delta against its parent
  * (`"base"`), and every form records the table `schema`, the commit
  * stamp `ts` and a row count for every file it lists. That is the only
  * form the writers produce and the only one readers accept: any other
  * manifest (a single `"dir"`, no `schema`, no `ts`, a file without a row
  * count) is refused with an `UnsupportedOperationException` naming the
  * table and the version, at the same gate that checks reader features.
  *
  * METADATA SCALING (the full stack, each piece spec-pinned):
  *  - manifests are DELTA-ENCODED between full checkpoints (every
  *    [[CheckpointEvery]] versions) — a commit serializes O(changed files)
  *    of metadata, not O(table files), the same action-log/checkpoint
  *    split as Delta's `_delta_log`. Readers resolve a delta chain of at
  *    most [[CheckpointEvery]] manifests; [[vacuum]] re-anchors the oldest
  *    kept version in full form before dropping its chain.
  *  - checkpoints above [[CkptInlineMaxFiles]] files ride a PARQUET dir
  *    written and parsed by Spark executors (one row per file), so a
  *    million-file checkpoint is never a ~100 MB JSON string built and
  *    Jackson-parsed on the driver (Delta's multi-part checkpoint idiom).
  *  - head discovery is O(1) via the `_graft_log/_head` pointer (Delta's
  *    `_last_checkpoint` idiom) with probe-forward healing — no
  *    per-operation listing of a log that can hold 10⁵-10⁶ manifests.
  *  - TIMESTAMP AS OF binary-searches commit timestamps recorded INSIDE
  *    manifests (stable across vacuum's re-anchor rewrite).
  *  - schema DDL uses COLUMN MAPPING (logical→physical names +
  *    tombstones), so DROP/re-ADD is metadata-only at any table size and
  *    can never resurrect carried files' stale bytes.
  *
  *  - per-file STATS stay off the driver on checkpoint-anchored reads:
  *    the stats column is lazily deferred ([[LazyStats]]) and file
  *    skipping evaluates DISTRIBUTED over the checkpoint parquet
  *    (executors parse + prune, only kept keys return). Only write verbs,
  *    metadata MIN/MAX, and schema DDL force the full map.
  *
  * Known ceiling, deliberate: resolving a commit still materializes its
  * FILE LIST (keys + row counts) on the driver — the driver-plans-files
  * model Delta also uses; at 128 MB/file that is ~1M small strings per
  * 100 TB, cheap to hold, and everything heavier (stats serialization,
  * JSON parsing, footer reads, pruning) is already executor-side.
  */
object VersionedTable {

  private val LogDir = "_graft_log"

  /** Give up after this many lost commit races (a pathological writer storm,
    * not a normal contention level). */
  val MaxCommitRetries = 20

  /** Above this many distinct update keys, copy-on-write file selection
    * falls back from exact per-column IN-lists to per-column [min, max]
    * bounds (still conservative, just coarser). */
  val MaxInKeys = 1000

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def manifest(root: Path, v: Long) = new Path(root, f"$LogDir/$v%08d.json")

  private def headPtr(root: Path) = new Path(root, s"$LogDir/_head")

  /** Test hook: number of full `_graft_log` directory listings performed —
    * lets specs assert that pointer-based discovery really is O(1) (reads
    * and commits on a pointer-maintained table never list the log). */
  private[sources] val listCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Committed versions, ascending (empty for a nonexistent table). FULL
    * directory listing — needed by [[history]], [[vacuum]], and as the
    * crash fallback for pointer discovery; hot read/write paths resolve
    * the head via [[latestVersion]]'s O(1) `_head` pointer instead. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val f = fs(spark, root)
    val log = new Path(root, LogDir)
    listCalls.incrementAndGet()
    if (!f.exists(log)) Seq.empty
    else f.listStatus(log).map(_.getPath.getName).toSeq
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong).sorted
  }

  /** O(1) head discovery (Delta's `_last_checkpoint` idiom): read the
    * `_head` pointer, then PROBE FORWARD past it — the pointer is advisory
    * (written after the atomic manifest commit, so a crash or a lost
    * pointer-update race can leave it a few versions behind, never ahead of
    * a durable commit that matters: a pointer is only ever written for a
    * version that committed). A missing/corrupt pointer falls back to the
    * full listing. Cost: one read + (lag+1) existence probes instead of
    * listing a log that can hold 10⁵-10⁶ manifests. */
  def latestVersion(spark: SparkSession, path: String): Option[Long] = {
    val root = new Path(path)
    val f = fs(spark, root)
    readHead(f, root).filter(h => f.exists(manifest(root, h))) match {
      case Some(h) =>
        var v = h
        while (f.exists(manifest(root, v + 1L))) v += 1L
        Some(v)
      case None => versions(spark, path).lastOption
    }
  }

  private def readHead(f: FileSystem, root: Path): Option[Long] =
    scala.util.Try {
      val p = headPtr(root)
      val len = f.getFileStatus(p).getLen.toInt
      val bytes = new Array[Byte](len)
      val in = f.open(p)
      try in.readFully(bytes) finally in.close()
      new String(bytes, "UTF-8").trim.toLong
    }.toOption

  /** Atomic REPLACE of `dest` with `tmp` (readers see old or new content,
    * never partial): nio ATOMIC_MOVE on the local filesystem, FileContext
    * rename(OVERWRITE) elsewhere. Shared by the head pointer and vacuum's
    * re-anchor. The nio move leaves Hadoop's checksum sidecar of `tmp`
    * behind, so it is deleted here. */
  private def atomicReplace(f: FileSystem, root: Path, tmp: Path, dest: Path): Unit =
    if ("file" == Option(root.toUri.getScheme).getOrElse("file")) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      f match {
        case cf: org.apache.hadoop.fs.ChecksumFileSystem =>
          cf.getRawFileSystem.delete(cf.getChecksumFile(tmp), false)
        case _ =>
      }
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(root.toUri, f.getConf)
      fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  /** Advance the head pointer to `v` (best-effort: commit durability comes
    * from the manifest CAS, not from this; any failure just leaves later
    * readers a longer probe-forward or the listing fallback). Written via
    * tmp + atomic replace so readers never see a partial pointer. */
  private def writeHead(f: FileSystem, root: Path, v: Long): Unit =
    scala.util.Try {
      val tmp = new Path(root,
        s"$LogDir/.head-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      atomicReplace(f, root, tmp, headPtr(root))
    }

  /** One committed version: root-relative data files, the schema they are
    * read with, per-file column stats and row counts (keyed by the same
    * relative paths), and the streaming-transaction watermark map. */
  /** @param dv     relative paths of deletion-vector sidecar parquet files
    *                (columns [[FileKeyCol]], [[RowIdxCol]]): rows marked
    *                deleted without rewriting their data files (merge-on-
    *                read, Delta's deletion-vector idiom)
    * @param dvRows  per data file, how many of its rows the sidecars mark
    *                deleted (metadata-only count stays exact)
    * @param colMap  logical → PHYSICAL column-name mapping (Delta's
    *                column-mapping idiom; identity entries omitted). Data
    *                files store physical names; reads bind physical and
    *                alias back, so a column re-added after DROP under a
    *                fresh physical name reads as null from carried files
    *                instead of resurrecting their stale bytes
    * @param physDropped physical names removed by DROP COLUMN that may
    *                still exist inside carried files — ADD COLUMN of such
    *                a name must bind a fresh physical name. Cleared by any
    *                commit that rewrites every file
    * @param ts     commit wall-clock (epoch millis) recorded INSIDE the
    *                manifest at commit time — [[versionAt]] resolves
    *                TIMESTAMP AS OF from this, so vacuum's re-anchor
    *                rewrite (which refreshes the file's mtime) cannot
    *                shift time travel */
  /** Lazily-forced per-file stats: checkpoint-backed commits defer the
    * scan+parse of a potentially million-entry stats column until a
    * consumer actually needs the full map (write verbs, metadata MIN/MAX,
    * schema DDL) — plain reads, counts, streaming batches, and the
    * DISTRIBUTED prune path never force it. */
  private final class LazyStats(thunk: () => DataSkipping.FileStats) {
    @volatile private var done = false
    lazy val value: DataSkipping.FileStats = { val v = thunk(); done = true; v }
    /** True once the full map is materialized — consumers that can answer
      * either way (plan-time NDV) use the in-memory map when it is already
      * paid for, the distributed path when it is not. */
    def forced: Boolean = done
  }
  private object LazyStats {
    def of(s: DataSkipping.FileStats): LazyStats = new LazyStats(() => s)
  }

  /** Test hook: number of times a checkpoint's stats column was actually
    * scanned+parsed — specs assert the hot read paths leave it at zero. */
  private[graft] val ckptStatsParses = new java.util.concurrent.atomic.AtomicLong(0L)

  /** @param ckptInfo  for commits whose delta chain anchors at a PARQUET
    *                  checkpoint: (ckpt dir rel path, the anchor's file
    *                  set). File keys are never reused across versions
    *                  (uuid-token dirs), so for any CURRENT file that the
    *                  anchor lists, the anchor's recorded stats are
    *                  authoritative — which is what lets [[pruned]] run
    *                  file skipping on executors against the checkpoint
    *                  parquet instead of materializing stats driver-side
    * @param statsAdds eager stats for files added AFTER the anchor (delta
    *                  layers only — small by construction) */
  private final case class Commit(
      files: Seq[String],
      schema: StructType,
      statsRef: LazyStats,
      rows: Map[String, Long],
      txn: Map[String, Long],
      dv: Seq[String],
      dvRows: Map[String, Long],
      colMap: Map[String, String] = Map.empty,
      physDropped: Set[String] = Set.empty,
      ts: Long = 0L,
      ckptInfo: Option[(String, Set[String])] = None,
      statsAdds: DataSkipping.FileStats = Map.empty,
      props: Map[String, String] = Map.empty,
      /** WRITER features the head manifest declares (the `wf` field):
        * table contracts every mutator must enforce. Readers ignore them;
        * [[encodeCommit]] refuses to commit over a head whose wf this
        * build does not implement. */
      wf: Set[String] = Set.empty,
      /** Row-tracking id high watermark (`row_hwm`): the next fresh base
        * row id. 0 = never assigned. Monotone across versions. */
      rowHwm: Long = 0L,
      /** Per-file base row id (`base_row` / checkpoint column) — full map
        * whenever row tracking is on, same driver-memory order as
        * [[rows]]. */
      baseRow: Map[String, Long] = Map.empty) {
    def stats: DataSkipping.FileStats = statsRef.value
    def physName(logical: String): String = colMap.getOrElse(logical, logical)
    /** DV bookkeeping for a commit that keeps only `keep` of this commit's
      * data files: counts for dropped files go; the sidecar list survives
      * only while some kept file still has marked rows. */
    def dvFor(keep: Set[String]): (Seq[String], Map[String, Long]) = {
      val rows = dvRows.filter(kv => keep(kv._1))
      (if (rows.isEmpty) Seq.empty else dv, rows)
    }
    /** The column-mapping rule of a commit that replaces `replaced`: one
      * that carries files keeps `colmap` and `phys_dropped` (carried files
      * still need them); one that carries none writes logical names and
      * sheds both. */
    def mappingOver(replaced: Set[String]): (Map[String, String], Set[String]) =
      if (files.forall(replaced)) (Map.empty, Set.empty) else (colMap, physDropped)
  }

  /** Write a FULL (self-contained) manifest every this-many versions; the
    * versions between encode as DELTAS against their immediate parent
    * (`"base": v-1` + added/removed files), so a small commit on a huge
    * table serializes O(changed files) of metadata, not O(table files) —
    * the same action-log/checkpoint split as Delta's `_delta_log`. Readers
    * resolve a delta chain of at most this length. */
  val CheckpointEvery = 10L

  private def parseManifest(f: FileSystem, root: Path, v: Long)
      : com.fasterxml.jackson.databind.JsonNode = {
    val mf = manifest(root, v)
    val bytes = new Array[Byte](f.getFileStatus(mf).getLen.toInt)
    val in = f.open(mf)
    try in.readFully(bytes) finally in.close()
    new ObjectMapper().readTree(new String(bytes, "UTF-8"))
  }

  private def strArr(node: com.fasterxml.jackson.databind.JsonNode,
      field: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Option(node.get(field)).map(_.elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Seq.empty)
  }

  private def longMap(node: com.fasterxml.jackson.databind.JsonNode,
      field: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    Option(node.get(field)).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap).getOrElse(Map.empty)
  }

  private def strMap(node: com.fasterxml.jackson.databind.JsonNode,
      field: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Option(node.get(field)).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
  }

  /** The commit stamp; [[checkManifest]] has proven the field present. */
  private def tsOf(node: com.fasterxml.jackson.databind.JsonNode): Long =
    node.get("ts").asLong()

  /** The table schema; [[checkManifest]] has proven the field present. */
  private def schemaOf(node: com.fasterxml.jackson.databind.JsonNode): StructType =
    DataType.fromJson(node.get("schema").toString).asInstanceOf[StructType]

  // --------------------------------------------------------------------------
  // PROTOCOL FEATURE GATING (Delta's reader/writer protocol, per-manifest
  // self-describing): every manifest lists the READER features (`rf`)
  // required to interpret it and the WRITER features (`wf`) any mutator
  // must enforce. A build that meets rf but not wf can still READ the
  // table (time travel, CDF, clone-from) — it just refuses to commit,
  // which is exactly the fail-safe an old binary against a newer table
  // needs. Both sets are recomputed from the manifest's actual content at
  // encode time, so they never drift from what the bytes require.
  // --------------------------------------------------------------------------

  /** Reader features this build interprets. */
  val SupportedReaderFeatures: Set[String] =
    Set("dv", "colmap", "ckpt", "delta", "partitioned")

  /** Writer features this build enforces (beyond the reader set, which
    * every writer needs too — a mutator first reads). */
  val SupportedWriterFeatures: Set[String] =
    Set("constraints", "generated", "identity", "rowtracking", "bucketing")

  /** CLUSTERED-BY bucket layout (Spark's hash bucketing, graft-versioned):
    * `graft.bucketBy` = comma-separated columns, `graft.numBuckets` = N.
    * Declared at CREATE time only; every staged data file is written
    * through a `repartition(N, cols)` shuffle — Spark's own
    * `HashPartitioning.partitionIdExpression` (pmod of murmur3) — and
    * physically named with its bucket ordinal in Spark's bucketed-file
    * format (`..._%05d.parquet`), so the read relation declares a
    * [[org.apache.spark.sql.catalyst.catalog.BucketSpec]] and
    * FileSourceScanExec reports `HashPartitioning(cols, N)`: joins and
    * aggregations on the bucket columns run with ZERO exchange, and an
    * equality filter prunes to one bucket's files. Because a row's bucket
    * is a pure function of its column values, EVERY rewrite verb that
    * stages through [[stage]] (append, CoW MERGE/DELETE/UPDATE, OPTIMIZE,
    * DV purge) re-buckets its output correctly by construction — a
    * one-file rewrite hashes straight back to that file's bucket.
    * Guarded by the `bucketing` WRITER feature: a build that doesn't
    * enforce the layout refuses to mutate the table. */
  val BucketByKey = "graft.bucketBy"
  val NumBucketsKey = "graft.numBuckets"

  /** Optional within-bucket sort declaration (SORTED BY): staged files are
    * written sorted on these columns inside each bucket, and the relation
    * declares them as the BucketSpec's sort columns. Spark reports the
    * scan's output ORDERING only while every selected bucket has at most
    * one file (its own invariant check), so the declaration is always
    * safe: fresh appends add files per bucket and the planner silently
    * falls back to sorting; after OPTIMIZE (one packed file per bucket) a
    * co-bucketed co-sorted join is a pure streaming merge — zero exchange
    * AND zero sort. Spark gates the ordering report behind
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` (off by default
    * because FOREIGN writers can't be trusted to have sorted); graft's
    * stage() enforces the write-side sort, so sessions reading only graft
    * tables can enable it safely to get the merge-only plan. */
  val BucketSortByKey = "graft.bucketSortBy"

  private[sources] def bucketSortColsIn(
      props: Map[String, String]): Seq[String] =
    props.get(BucketSortByKey).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  private[sources] def bucketSpecIn(
      props: Map[String, String]): Option[(Seq[String], Int)] =
    for {
      cols <- props.get(BucketByKey)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
      n <- props.get(NumBucketsKey)
        .flatMap(s => scala.util.Try(s.trim.toInt).toOption).filter(_ > 0)
    } yield (cols, n)

  /** The read gate every manifest passes before anything interprets it:
    * its reader features must be ones this build supports, and it must be
    * in the one form the writers produce — a file list (`files`, `ckpt`
    * or a `base` delta), a non-null `schema` and a `ts`. Row counts are
    * checked where the file lists are parsed ([[parseFull]],
    * [[applyDelta]]). */
  private def checkManifest(node: com.fasterxml.jackson.databind.JsonNode,
      root: Path, v: Long): Unit = {
    val unknown = strArr(node, "rf").toSet.diff(SupportedReaderFeatures)
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"$root version $v requires reader feature(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} this build does not " +
        s"support (supported: ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")}); " +
        "upgrade to read this table")
    if (!node.has("files") && !node.has("ckpt") && !node.has("base"))
      refuseForm(root, v, "lists no files (no \"files\", \"ckpt\" or \"base\")")
    if (!node.hasNonNull("schema")) refuseForm(root, v, "records no schema")
    if (!node.has("ts")) refuseForm(root, v, "records no commit time (ts)")
  }

  private def refuseForm(root: Path, v: Long, what: String): Nothing =
    throw new UnsupportedOperationException(
      s"$root version $v: the manifest $what; this build reads only " +
        "manifests that list their files, schema, commit time and per-file " +
        "row counts")

  /** Every listed file must carry a row count (the written form). */
  private def requireRows(root: Path, v: Long, files: Iterable[String],
      rows: Map[String, Long]): Unit =
    files.find(fk => !rows.contains(fk)).foreach(fk =>
      refuseForm(root, v, s"records no row count for $fk"))

  /** The head manifest's declared (readerFeatures, writerFeatures). */
  def protocolOf(spark: SparkSession, path: String): (Set[String], Set[String]) = {
    val root = new Path(path)
    val f = fs(spark, root)
    val v = latestVersion(spark, path).getOrElse(noVersions(path))
    val node = parseManifest(f, root, v)
    (strArr(node, "rf").toSet, strArr(node, "wf").toSet)
  }

  private def readManifest(spark: SparkSession, f: FileSystem, root: Path,
      v: Long): Commit = {
    // walk delta manifests down to their full anchor, then replay them
    // oldest-first; every node on the chain passes the manifest gate
    // BEFORE anything interprets it
    var cur = v
    var node = checkedManifest(f, root, v)
    var deltas = List.empty[(Long, com.fasterxml.jackson.databind.JsonNode)]
    while (node.has("base")) {
      deltas ::= cur -> node // ends ordered oldest-first
      cur = node.get("base").asLong()
      node = checkedManifest(f, root, cur)
    }
    var c = parseFull(spark, root, cur, node)
    deltas.foreach { case (dV, d) => c = applyDelta(root, dV, c, d) }
    c
  }

  private def checkedManifest(f: FileSystem, root: Path, v: Long)
      : com.fasterxml.jackson.databind.JsonNode = {
    val node = parseManifest(f, root, v)
    checkManifest(node, root, v)
    node
  }

  /** Replay one delta manifest on top of its parent's resolved commit.
    * The stats composition is itself LAZY (a thunk over the parent's
    * thunk), so replaying a chain on a checkpoint-anchored commit forces
    * nothing until some consumer asks for the full stats map. */
  private def applyDelta(root: Path, v: Long, c: Commit,
      d: com.fasterxml.jackson.databind.JsonNode): Commit = {
    val removed = strArr(d, "files_remove").toSet
    val added = strArr(d, "files_add")
    val adds = Option(d.get("stats_add"))
      .map(DataSkipping.fromJson).getOrElse(Map.empty: DataSkipping.FileStats)
    val rowsAdd = longMap(d, "rows_add")
    requireRows(root, v, added, rowsAdd)
    Commit(
      c.files.filterNot(removed) ++ added,
      schemaOf(d),
      new LazyStats(() => c.stats.filter(kv => !removed(kv._1)) ++ adds),
      c.rows.filter(kv => !removed(kv._1)) ++ rowsAdd,
      longMap(d, "txn"),
      strArr(d, "dv"),
      longMap(d, "dv_rows"),
      strMap(d, "colmap"),
      strArr(d, "phys_dropped").toSet,
      tsOf(d),
      ckptInfo = c.ckptInfo,
      statsAdds = c.statsAdds.filter(kv => !removed(kv._1)) ++ adds,
      props = strMap(d, "props"),
      wf = strArr(d, "wf").toSet,
      rowHwm = Option(d.get("row_hwm")).map(_.asLong()).getOrElse(c.rowHwm),
      baseRow = c.baseRow.filter(kv => !removed(kv._1)) ++
        longMap(d, "base_row_add"))
  }

  private def parseFull(spark: SparkSession, root: Path, v: Long,
      node: com.fasterxml.jackson.databind.JsonNode): Commit =
    if (node.has("files")) {
      val files = strArr(node, "files")
      val rows = longMap(node, "rows")
      requireRows(root, v, files, rows)
      Commit(files, schemaOf(node),
        LazyStats.of(Option(node.get("stats"))
          .map(DataSkipping.fromJson).getOrElse(Map.empty: DataSkipping.FileStats)),
        rows, longMap(node, "txn"),
        strArr(node, "dv"), longMap(node, "dv_rows"),
        strMap(node, "colmap"), strArr(node, "phys_dropped").toSet, tsOf(node),
        props = strMap(node, "props"),
        wf = strArr(node, "wf").toSet,
        rowHwm = Option(node.get("row_hwm")).map(_.asLong()).getOrElse(0L),
        baseRow = longMap(node, "base_row"))
    } else {
      // parquet checkpoint: the file list + per-file stats/rows live in a
      // parquet dir written and parsed by Spark itself — the manifest
      // JSON stays O(1) no matter how many files the table holds. The
      // file list + row counts scan reads ONLY those columns (columnar);
      // the stats column is deferred behind LazyStats and most readers
      // never touch it (pruning runs distributed via ckptInfo).
      val rel = node.get("ckpt").asText()
      val (files, rows, baseRow) = readCkptLight(spark, root, rel)
      requireRows(root, v, files, rows)
      Commit(files, schemaOf(node),
        new LazyStats(() => readCkptStats(spark, root, rel)),
        rows, longMap(node, "txn"),
        strArr(node, "dv"), longMap(node, "dv_rows"),
        strMap(node, "colmap"), strArr(node, "phys_dropped").toSet, tsOf(node),
        ckptInfo = Some((rel, files.toSet)),
        props = strMap(node, "props"),
        wf = strArr(node, "wf").toSet,
        rowHwm = Option(node.get("row_hwm")).map(_.asLong()).getOrElse(0L),
        baseRow = baseRow)
    }

  /** The version anchoring `v`'s delta chain (v itself when its manifest is
    * full). Chains always step to v-1, so the chain of v is exactly
    * {anchor .. v}. */
  private def chainAnchor(f: FileSystem, root: Path, v: Long): Long = {
    var cur = v
    var node = parseManifest(f, root, cur)
    while (node.has("base")) {
      cur = node.get("base").asLong()
      node = parseManifest(f, root, cur)
    }
    cur
  }

  private def jsonHelpers = {
    val om = new ObjectMapper()
    (om, (s: String) => om.writeValueAsString(s))
  }

  /** Above this many files, a FULL manifest's file list (+ per-file stats
    * and row counts) is written as a PARQUET CHECKPOINT directory next to
    * the log — built and parsed by Spark executors, columnar-compressed —
    * and the manifest JSON carries only a reference. Below it, inline JSON
    * is cheaper (no Spark job per checkpoint). This is the knob that keeps
    * a 1M-file table's checkpoint from being a ~100 MB JSON string built,
    * written and Jackson-parsed on the driver (Delta's multi-part parquet
    * checkpoint idiom). Mutable as a test hook only. */
  private[graft] var CkptInlineMaxFiles: Int = 512

  /** Write the checkpoint parquet for version `v`: one row per file
    * (ordinal, path, row count, per-file stats JSON). Token-named like
    * data dirs — unreferenced until its manifest commits, cleaned by the
    * committing verb on a lost race and by vacuum if orphaned. */
  private def writeCkpt(spark: SparkSession, root: Path, v: Long,
      files: Seq[String], stats: DataSkipping.FileStats,
      rows: Map[String, Long],
      baseRow: Map[String, Long] = Map.empty): (String, Path) = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"$LogDir/ckpt-$v%08d-$token"
    val dir = new Path(root, rel)
    import spark.implicits._
    val data = files.zipWithIndex.map { case (p, i) =>
      (i, p, rows.get(p), stats.get(p).map(DataSkipping.colsToJson),
        baseRow.get(p))
    }
    val parts = math.max(1, math.min(files.size / 100000 + 1, 64))
    spark.createDataset(data).toDF("idx", "path", "rows", "stats", "base_row")
      .repartition(parts).write.mode("overwrite").parquet(dir.toString)
    (rel, dir)
  }

  /** Author checkpoint `v` FROM ITS ANCHOR's checkpoint parquet as a Spark
    * job — anchor rows minus the removed keys, union the (small,
    * driver-known) adds since the anchor — so a checkpoint COMMIT on a
    * million-file table never materializes the stats map on the driver
    * (the write-side twin of [[distributedPrune]]; previously every
    * [[CheckpointEvery]]th commit collected every file's parsed stats onto
    * the driver via readCkptStats and re-serialized them).
    * `keepStatsCols`, when set, prunes each carried file's stats to those
    * columns ON THE EXECUTORS — DROP COLUMN's stats rewrite, distributed.
    * Adds get idx keys past any anchor ordinal; readers order by
    * (idx, path), which is total and deterministic. */
  private def writeCkptFromAnchor(spark: SparkSession, root: Path, v: Long,
      anchorRel: String, removed: Set[String],
      adds: Seq[(String, Option[Long], Option[String], Option[Long])],
      keepStatsCols: Option[Set[String]],
      renameStats: Option[(String, String)] = None,
      ndvMerge: Option[(DataFrame, Seq[String], Set[String])] = None)
      : (String, Path) = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val rel = f"$LogDir/ckpt-$v%08d-$token"
    val dir = new Path(root, rel)
    import spark.implicits._
    val rm = removed // small closure: O(changed files since anchor)
    val keep = keepStatsCols
    val ren = renameStats
    val carried0 = spark.read.parquet(new Path(root, anchorRel).toString)
      .select(col("idx"), col("path"), col("rows"), col("stats"), col("base_row"))
      .as[(Int, String, Option[Long], Option[String], Option[Long])]
      .mapPartitions(_.collect {
        case (i, p, rw, st, br) if !rm.contains(p) =>
          // RENAME COLUMN rekeys a carried file's stats (same physical
          // column, new logical key) before DROP's keep-filter applies —
          // both rewrites run here on the EXECUTORS
          val pruned =
            if (keep.isEmpty && ren.isEmpty) st
            else st.flatMap { s =>
              val parsed = DataSkipping.colsFromJson(s)
              val rekeyed = ren.fold(parsed) { case (from, to) =>
                parsed.map { case (k0, v0) => (if (k0 == from) to else k0) -> v0 }
              }
              val kept = keep.fold(rekeyed)(ks => rekeyed.filter(kv => ks(kv._1)))
              if (kept.isEmpty) None else Some(DataSkipping.colsToJson(kept))
            }
          (i, p, rw, pruned, br)
      })
    // ANALYZE's carried-stats rewrite: join the freshly-computed per-file
    // KMV sketch frame against the anchor rows ON THE EXECUTORS and fold
    // each file's hashes into its stats JSON — the third rewrite a ride
    // can express (after drop-prune and rename-rekey). Files with no
    // sketch row (zero live rows) keep their stats untouched. The full
    // stats map never materializes on the driver.
    val carried = ndvMerge match {
      case None => carried0
      case Some((skDf, cols, sumEligible)) =>
        val skCols = cols // small closures
        val sumElig = sumEligible
        val sk = skDf.select(col(FileKeyCol).as("_sk_path"),
          map(cols.flatMap(n => Seq(lit(n), col(n))): _*).as("_sk"))
        carried0.toDF("idx", "path", "rows", "stats", "base_row")
          .join(sk, col("path") === col("_sk_path"), "left")
          .select(col("idx"), col("path"), col("rows"), col("stats"),
            col("base_row"), col("_sk"))
          .as[(Int, String, Option[Long], Option[String], Option[Long],
            Option[Map[String, String]])]
          .map { case (i, p, rw, st, br, skm) =>
            val merged = skm match {
              case None => st
              case Some(m) =>
                val parsed = st.map(DataSkipping.colsFromJson).getOrElse(Map.empty)
                val next = parsed ++ skCols.flatMap(n => m.get(n).map(js =>
                  n -> DataSkipping.applyAnalyzePatch(
                    parsed.getOrElse(n, DataSkipping.ColStat(None, None, 0L,
                      allNulls = false)), js, sumElig(n))))
                if (next.isEmpty) None else Some(DataSkipping.colsToJson(next))
            }
            (i, p, rw, merged, br)
          }
    }
    val addRows = spark.createDataset(adds.zipWithIndex.map {
      case ((p, rw, st, br), k) => (1000000000 + k, p, rw, st, br)
    })
    val parts = math.max(1, math.min((removed.size + adds.size) / 100000 + 8, 64))
    carried.union(addRows).toDF("idx", "path", "rows", "stats", "base_row")
      .repartition(parts).write.mode("overwrite").parquet(dir.toString)
    (rel, dir)
  }

  /** Checkpoint file list + row counts + base row ids — reads ONLY those
    * columns (the stats column never leaves the parquet pages). */
  private def readCkptLight(spark: SparkSession, root: Path, rel: String)
      : (Seq[String], Map[String, Long], Map[String, Long]) = {
    val rowsArr = spark.read.parquet(new Path(root, rel).toString)
      .select(col("idx"), col("path"), col("rows"), col("base_row"))
      .collect().sortBy(r => (r.getInt(0), r.getString(1)))
    val files = rowsArr.map(_.getString(1)).toSeq
    val rowCounts = rowsArr.iterator.filterNot(_.isNullAt(2))
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val baseRow = rowsArr.iterator.filterNot(_.isNullAt(3))
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    (files, rowCounts, baseRow)
  }

  /** Full stats map off a checkpoint — the expensive scan+parse the lazy
    * path defers; only write verbs, metadata MIN/MAX, and schema DDL
    * force it. */
  private def readCkptStats(spark: SparkSession, root: Path,
      rel: String): DataSkipping.FileStats = {
    ckptStatsParses.incrementAndGet()
    spark.read.parquet(new Path(root, rel).toString)
      .select(col("path"), col("stats"))
      .collect().iterator.filterNot(_.isNullAt(1))
      .map(r => r.getString(0) -> DataSkipping.colsFromJson(r.getString(1))).toMap
  }

  /** DISTRIBUTED file pruning over a checkpoint parquet: executors parse
    * each file's stats JSON and evaluate the resolved predicate; only the
    * kept file keys travel back. Per-file stats for a million-file table
    * never materialize on the driver for a skipping read. Returns the
    * kept subset of the anchor's files still live in the current version.
    * Liveness ships as the REMOVED set (anchor minus current — O(changed
    * files) across at most CheckpointEvery deltas), not the O(table)
    * live set. Falls back to None if the predicate fails to ship (caller
    * then forces driver-side stats — pruning stays an optimization,
    * never a correctness dependency). */
  private def distributedPrune(spark: SparkSession, root: Path, rel: String,
      removedFromAnchor: Set[String],
      resolved: org.apache.spark.sql.catalyst.expressions.Expression,
      partFields: Seq[(String, String, org.apache.spark.sql.types.DataType)] = Nil,
      zone: Option[String] = None): Option[Set[String]] =
    scala.util.Try {
      import spark.implicits._
      val removed = removedFromAnchor // small closure capture, not O(table)
      val pf = partFields
      val zn = zone
      val kept: Array[String] = spark.read.parquet(new Path(root, rel).toString)
        .select(col("path"), col("stats"))
        .as[(String, String)]
        .mapPartitions { it =>
          it.filter { case (p, st) =>
            !removed.contains(p) &&
              (st == null || !DataSkipping.canSkip(resolved,
                DataSkipping.colsFromJson(st) ++
                  DataSkipping.pathPartStats(p, pf, zn)))
          }.map(_._1)
        }
        .collect()
      kept.toSet[String]
    }.toOption

  /** Can version `v` delta-encode against its parent? Only between
    * checkpoints, and only when every carried file's stats/rows are
    * byte-identical to the parent's (anything else — e.g. DROP COLUMN
    * pruning stats — can't be expressed as a file delta). */
  private def deltaEligible(v: Long, files: Seq[String],
      stats: => DataSkipping.FileStats, rows: Map[String, Long],
      parent: Option[Commit], forceFull: Boolean): Boolean =
    parent.exists { p =>
      !forceFull && v % CheckpointEvery != 0L && {
        val addedSet = files.filterNot(p.files.toSet).toSet
        files.forall(fk => addedSet(fk) ||
          (stats.get(fk) == p.stats.get(fk) && rows.get(fk) == p.rows.get(fk)))
      }
    }

  /** Encode + stage a commit's manifest body: the delta/inline-full/
    * parquet-checkpoint decision in one place. Returns the JSON body and
    * the checkpoint dir IF one was written — the caller must delete it
    * when the commit CAS is lost.
    *
    * `stats` is BY-NAME: for a delta-encoded commit with
    * `carriedIdentical`+`statsAddOnly` supplied, the full map is never
    * evaluated — so an APPEND to a checkpoint-anchored million-file table
    * doesn't force the parent's stats onto the driver just to write an
    * O(changed files) delta. Only the full/checkpoint forms (every
    * [[CheckpointEvery]]th commit) evaluate it.
    *
    * @param carriedIdentical caller GUARANTEES every file present in both
    *                         parent and child has unchanged stats/rows
    *                         (true by construction for carry-by-reference
    *                         verbs) — skips the per-file comparison scan
    * @param statsAddOnly     stats for exactly the files this commit adds
    *                         (what the delta form serializes)
    * @param anchorSrc        the commit whose checkpoint anchor a FULL
    *                         encoding may be authored from (defaults to
    *                         `parent`; vacuum's re-anchor passes the
    *                         re-encoded commit itself)
    * @param keepStatsCols    DROP COLUMN's distributed stats rewrite: an
    *                         anchor-authored checkpoint prunes each carried
    *                         file's stats to these columns on the EXECUTORS
    *                         (the only carried-stats change a ride can
    *                         express) */
  private def encodeCommit(spark: SparkSession, root: Path, v: Long,
      files: Seq[String], schemaJson: String, stats: => DataSkipping.FileStats,
      rows: Map[String, Long], txn: Map[String, Long],
      dv: Seq[String] = Seq.empty, dvRows: Map[String, Long] = Map.empty,
      parent: Option[Commit] = None, forceFull: Boolean = false,
      colMap: Map[String, String] = Map.empty,
      physDropped: Set[String] = Set.empty,
      ts: Long = 0L,
      carriedIdentical: Boolean = false,
      statsAddOnly: Option[DataSkipping.FileStats] = None,
      anchorSrc: Option[Commit] = None,
      keepStatsCols: Option[Set[String]] = None,
      renameStats: Option[(String, String)] = None,
      ndvMerge: Option[(DataFrame, Seq[String], Set[String])] = None,
      props: Option[Map[String, String]] = None,
      inheritWf: Set[String] = Set.empty,
      rowIdSeed: Option[(Long, Map[String, Long])] = None): (String, Option[Path]) = {
    // WRITER-FEATURE GATE: committing over a head that declares writer
    // features this build does not enforce would silently break the
    // table's contract (an unenforced CHECK, an unadvanced identity hwm,
    // a skipped generation fill). Reading stays allowed — only mutation
    // refuses. Verbatim re-encodes (vacuum re-anchor, clone) pass
    // parent=None + inheritWf instead: they copy, never reinterpret.
    parent.foreach { p =>
      val unknown = p.wf.diff(SupportedWriterFeatures)
      require(unknown.isEmpty,
        s"$root: this table requires writer feature(s) " +
          s"${unknown.toSeq.sorted.mkString(", ")} this build does not " +
          s"support (supported: ${SupportedWriterFeatures.toSeq.sorted.mkString(", ")}); " +
          "the table remains readable — upgrade to write to it")
    }
    // the one manifest form: every listed file carries its row count
    files.foreach(fk => require(rows.contains(fk),
      s"$root version $v: no row count for $fk"))
    // TABLE PROPERTIES carry from the parent unless a verb sets them
    // explicitly (the props-changing commits, restore, vacuum re-anchor) —
    // a property survives every maintenance verb the way the schema does
    val effProps = props.getOrElse(parent.map(_.props).getOrElse(Map.empty))
    // ROW-TRACKING ID ASSIGNMENT — one place for every verb: files already
    // holding a base id (in the seed: normally the parent's map; restore/
    // clone/vacuum re-encodes pass the source commit's) keep it verbatim
    // (a base id is immutable for the life of the file); files without one
    // draw sequential ranges off the monotone high watermark, sized by the
    // commit's recorded per-file row counts. O(files) map work, zero I/O —
    // the same driver-memory order as the `rows` map riding beside it.
    val trackingOn = rowTrackingOn(effProps)
    val (seedHwm, seedBase) = rowIdSeed.getOrElse(
      parent.map(p => (p.rowHwm, p.baseRow)).getOrElse((0L, Map.empty[String, Long])))
    val fileSet0 = files.toSet
    val (rowHwm, baseRow, rowBackfill) =
      if (!trackingOn)
        // feature off: carry any prior assignment (re-enable resumes)
        (seedHwm, seedBase.filter(kv => fileSet0(kv._1)), false)
      else {
        val fresh = files.filterNot(seedBase.contains)
        var hwm = seedHwm
        val assigned = fresh.map { fk => val b = hwm; hwm += rows(fk); fk -> b }
        val parentFiles = parent.map(_.files.toSet).getOrElse(Set.empty[String])
        // ids newly minted for files the PARENT already carried (the
        // enable-on-existing-table backfill) can't ride a file delta
        (hwm, seedBase.filter(kv => fileSet0(kv._1)) ++ assigned,
          fresh.exists(parentFiles))
      }
    // the O(files) carried-stats comparison runs ONCE (or not at all when
    // the caller vouches for carry identity); manifestJson takes the
    // decision, it does not re-derive it
    val isDelta =
      if (rowBackfill) false
      else if (carriedIdentical) parent.isDefined && !forceFull && v % CheckpointEvery != 0L
      else deltaEligible(v, files, stats, rows, parent, forceFull)
    // a backfill also can't author from the anchor checkpoint (the anchor
    // has no base ids for the carried files) — one full authoring, once
    if (!isDelta && files.size > CkptInlineMaxFiles && !rowBackfill) {
      // DISTRIBUTED authoring: when the stats of every carried file are the
      // anchor's verbatim (carry-by-reference verbs) — or differ only by a
      // column drop the executors can apply — the new checkpoint is written
      // as a Spark job from the anchor's parquet, and the full stats map
      // NEVER materializes on the driver (the adds since the anchor are
      // driver-known and O(changed files) by construction)
      val src = anchorSrc.orElse(parent)
        .filter(_ => carriedIdentical || keepStatsCols.isDefined ||
          ndvMerge.isDefined)
      src.flatMap(_.ckptInfo) match {
        case Some((aRel, aSet)) =>
          val filesSet = files.toSet
          val knownAdds = src.get.statsAdds ++ statsAddOnly.getOrElse(Map.empty)
          val adds = files.filterNot(aSet).map { k =>
            val st = knownAdds.get(k)
              .map { m0 =>
                val m = renameStats.fold(m0) { case (from, to) =>
                  m0.map { case (k0, v0) => (if (k0 == from) to else k0) -> v0 }
                }
                keepStatsCols.fold(m)(ks => m.filter(kv => ks(kv._1)))
              }
              .filter(_.nonEmpty)
            (k, rows.get(k), st.map(DataSkipping.colsToJson), baseRow.get(k))
          }
          val (rel, dir) = writeCkptFromAnchor(spark, root, v, aRel,
            removed = aSet.diff(filesSet), adds, keepStatsCols, renameStats,
            ndvMerge)
          (manifestJson(v, files, schemaJson, stats, rows, txn, dv, dvRows,
            parent, isDelta = false, colMap, physDropped, ts,
            ckptRef = Some(rel), statsAddOnly = statsAddOnly,
            props = effProps, inheritWf = inheritWf,
            rowHwm = rowHwm, baseRow = baseRow), Some(dir))
        case None =>
          val fullStats = stats
          val (rel, dir) = writeCkpt(spark, root, v, files, fullStats, rows,
            baseRow)
          (manifestJson(v, files, schemaJson, fullStats, rows, txn, dv, dvRows,
            parent, isDelta, colMap, physDropped, ts, ckptRef = Some(rel),
            statsAddOnly = statsAddOnly, props = effProps,
            inheritWf = inheritWf,
            rowHwm = rowHwm, baseRow = baseRow), Some(dir))
      }
    } else if (files.size > CkptInlineMaxFiles && !isDelta) {
      // backfill on a big table: full authoring once (see above)
      val fullStats = stats
      val (rel, dir) = writeCkpt(spark, root, v, files, fullStats, rows,
        baseRow)
      (manifestJson(v, files, schemaJson, fullStats, rows, txn, dv, dvRows,
        parent, isDelta, colMap, physDropped, ts, ckptRef = Some(rel),
        statsAddOnly = statsAddOnly, props = effProps,
        inheritWf = inheritWf,
        rowHwm = rowHwm, baseRow = baseRow), Some(dir))
    } else
      (manifestJson(v, files, schemaJson, stats, rows, txn, dv, dvRows,
        parent, isDelta, colMap, physDropped, ts,
        statsAddOnly = statsAddOnly, props = effProps,
        inheritWf = inheritWf,
        rowHwm = rowHwm, baseRow = baseRow), None)
  }

  /** Encode a commit: FULL at checkpoints (and when forced, when there is
    * no parent, or when a carried file's stats/rows changed — e.g. DROP
    * COLUMN — which a file-delta cannot express); otherwise a DELTA against
    * version v-1. Small fields (txn, dv, dv_rows, colmap, phys_dropped,
    * ts) and the schema ride full in both forms. `ts` is the commit
    * wall-clock; pass the ORIGINAL commit's ts when re-encoding an existing
    * version (vacuum's re-anchor) so TIMESTAMP AS OF stays stable. */
  private def manifestJson(v: Long, files: Seq[String], schemaJson: String,
      stats: => DataSkipping.FileStats, rows: Map[String, Long],
      txn: Map[String, Long], dv: Seq[String] = Seq.empty,
      dvRows: Map[String, Long] = Map.empty,
      parent: Option[Commit] = None, isDelta: Boolean = false,
      colMap: Map[String, String] = Map.empty,
      physDropped: Set[String] = Set.empty,
      ts: Long = 0L,
      ckptRef: Option[String] = None,
      statsAddOnly: Option[DataSkipping.FileStats] = None,
      props: Map[String, String] = Map.empty,
      inheritWf: Set[String] = Set.empty,
      rowHwm: Long = 0L,
      baseRow: Map[String, Long] = Map.empty): String = {
    val (_, jstr) = jsonHelpers
    def arr(xs: Seq[String]) = xs.map(jstr).mkString("[", ",", "]")
    def obj(m: Map[String, Long]) = m.toSeq.sortBy(_._1)
      .map { case (k, n) => s"${jstr(k)}:$n" }.mkString("{", ",", "}")
    def sobj(m: Map[String, String]) = m.toSeq.sortBy(_._1)
      .map { case (k, s) => s"${jstr(k)}:${jstr(s)}" }.mkString("{", ",", "}")
    // MONOTONIC commit stamps (Delta's idiom: ts = max(now, parent.ts+1)) —
    // versionAt's binary search requires non-decreasing timestamps along the
    // log; without this, cross-writer clock skew could order a later version
    // EARLIER and make TIMESTAMP AS OF resolve a version other than "the
    // latest committed at or before ts".
    val tsVal =
      if (ts > 0L) ts
      else math.max(System.currentTimeMillis(), parent.map(_.ts + 1L).getOrElse(0L))
    def commonTail: String = {
      val dvField =
        if (dv.isEmpty) ""
        else s""","dv":${arr(dv)},"dv_rows":${obj(dvRows)}"""
      val mapField =
        if (colMap.isEmpty) "" else s""","colmap":${sobj(colMap)}"""
      val droppedField =
        if (physDropped.isEmpty) ""
        else s""","phys_dropped":${arr(physDropped.toSeq.sorted)}"""
      // like schema/colmap, props ride FULL in both manifest forms (small
      // by construction; a delta that omitted them would reset the map)
      val propsField =
        if (props.isEmpty) "" else s""","props":${sobj(props)}"""
      // protocol: rf/wf recomputed from THIS manifest's actual content
      // (never drifts from what the bytes require); inheritWf carries
      // through features a verbatim re-encode (vacuum re-anchor, clone)
      // must not shed even though it does not interpret them
      val rf = Seq(
        if (dv.nonEmpty) Seq("dv") else Nil,
        if (colMap.nonEmpty) Seq("colmap") else Nil,
        if (ckptRef.isDefined) Seq("ckpt") else Nil,
        if (isDelta) Seq("delta") else Nil,
        if (schemaJson.contains(PartitionIdxKey)) Seq("partitioned") else Nil
      ).flatten.sorted
      val wf = (Seq(
        if (props.keys.exists(_.startsWith(ConstraintPrefix)))
          Seq("constraints") else Nil,
        if (props.keys.exists(_.startsWith(GeneratedPrefix)))
          Seq("generated") else Nil,
        if (props.keys.exists(_.startsWith(IdentityPrefix)))
          Seq("identity") else Nil,
        if (rowTrackingOn(props)) Seq("rowtracking") else Nil,
        if (bucketSpecIn(props).isDefined) Seq("bucketing") else Nil
      ).flatten ++ inheritWf).distinct.sorted
      val rfField = if (rf.isEmpty) "" else s""","rf":${arr(rf)}"""
      val wfField = if (wf.isEmpty) "" else s""","wf":${arr(wf)}"""
      // the high watermark rides every form; the per-file base map rides
      // inline-full / delta-add JSON, or the checkpoint parquet column
      val hwmField = if (rowHwm > 0L) s""","row_hwm":$rowHwm""" else ""
      s""","ts":$tsVal$dvField$mapField$droppedField$propsField$rfField$wfField$hwmField"""
    }
    def full: String = ckptRef match {
      case Some(ck) => // file list/stats/rows live in the parquet checkpoint
        s"""{"version":$v,"ckpt":${jstr(ck)},"schema":$schemaJson,"txn":${obj(txn)}$commonTail}"""
      case None =>
        val statsField =
          if (stats.isEmpty) "" else s""","stats":${DataSkipping.toJson(stats)}"""
        val baseField =
          if (baseRow.isEmpty) "" else s""","base_row":${obj(baseRow)}"""
        s"""{"version":$v,"files":${arr(files)},"schema":$schemaJson,"rows":${obj(rows)},"txn":${obj(txn)}$statsField$baseField$commonTail}"""
    }
    if (isDelta) {
      val p = parent.get
      val pSet = p.files.toSet
      val added = files.filterNot(pSet)
      val addedSet = added.toSet
      val removed = p.files.filterNot(files.toSet)
      val statsAdd = statsAddOnly // avoids forcing the full by-name map
        .map(_.filter(kv => addedSet(kv._1)))
        .getOrElse(stats.filter(kv => addedSet(kv._1)))
      val statsField =
        if (statsAdd.isEmpty) ""
        else s""","stats_add":${DataSkipping.toJson(statsAdd)}"""
      val baseAdd = baseRow.filter(kv => addedSet(kv._1))
      val baseField =
        if (baseAdd.isEmpty) "" else s""","base_row_add":${obj(baseAdd)}"""
      s"""{"version":$v,"base":${v - 1},"schema":$schemaJson,"files_add":${arr(added)},"files_remove":${arr(removed)},"rows_add":${obj(rows.filter(kv => addedSet(kv._1)))},"txn":${obj(txn)}$statsField$baseField$commonTail}"""
    } else full
  }

  /** Stage `df`'s files under a fresh private token dir; nothing references
    * them until a manifest commits. Returns the dir and the root-relative
    * paths of the parquet files written. `colMap` renames the DataFrame's
    * logical columns to the table's PHYSICAL names before writing, so every
    * data file of a column-mapped table stores the same physical layout. */
  /** Columns the table asked to carry PARQUET-NATIVE BLOOM FILTERS for
    * (`TBLPROPERTIES ('graft.bloomCols'='a,b')`): complements manifest
    * min/max skipping at the next granularity down — the manifest prunes
    * whole FILES (tight after ZORDER), the in-file bloom prunes ROW GROUPS
    * on equality/IN over high-cardinality unsorted columns, where a range
    * bound can't help and a manifest-embedded bloom can't fit (a 1M-row
    * file needs ~1 MB of bloom at 1% fpp — per file — which is why Delta
    * keeps blooms beside the data too, never in the log). Spark's
    * vectorized reader consults them automatically for pushed equality
    * filters; every write verb routes through [[stage]], so rewrites
    * (OPTIMIZE/ZORDER/MERGE) regenerate blooms for their output files. */
  /** Properties holding comma-separated COLUMN-NAME lists that schema DDL
    * must keep in step (rename follows, drop sheds). */
  private val ColumnListHints =
    Seq("graft.bloomCols", "graft.clusterBy", "graft.ndvCols", BucketByKey,
      BucketSortByKey)

  private def bloomColsIn(props: Map[String, String]): Seq[String] =
    props.get("graft.bloomCols").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  private def stage(df: DataFrame, root: Path, f: FileSystem,
      colMap: Map[String, String] = Map.empty,
      partitionCols: Seq[String] = Nil,
      props: Map[String, String] = Map.empty): (Path, Seq[String]) = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dir = new Path(root, s"d-$token")
    // graft data files carry TIMESTAMP columns as annotated INT64 MICROS,
    // never Spark's legacy INT96 default: INT96 chunks record NO min/max
    // stats, which would silently exempt every timestamp column from
    // manifest data skipping, metadata MIN/MAX, join-range inference and
    // top-k pruning — on a time-clustered 100 TB fact, exactly the column
    // those rules exist for. The override rides a CLONED session scoped
    // to this one write job (GraftBatchShim.withSessionConfs), never the
    // shared session conf — a concurrent writer in the same session can
    // neither observe a transient restore mid-job nor have its own
    // unrelated writes forced to MICROS. Readers handle INT96 and MICROS
    // files side-by-side, so pre-existing tables keep working and simply
    // gain stats on their next rewrite.
    try org.apache.spark.sql.graft.GraftBatchShim.withSessionConfs(df,
      Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")) { df =>
      val physical0 =
        if (colMap.isEmpty) df
        else df.select(df.columns.map(c => col(c).as(colMap.getOrElse(c, c))).toSeq: _*)
      // bucket layout: every staged data file gets its rows via Spark's
      // own bucket-id shuffle, so partition index i == bucket i (pmod of
      // murmur3 — identical to BucketingUtils.getBucketIdFromValue). A
      // rewrite whose rows all came from one bucket hashes straight back
      // to a single output file; a multi-bucket batch fans out correctly.
      val bucket = bucketSpecIn(props)
      val physical = bucket match {
        case Some((cols0, n)) =>
          require(partitionCols.isEmpty,
            "bucketed tables cannot also be hive-partitioned")
          val phys = cols0.map(c => colMap.getOrElse(c, c))
          val missing = phys.filterNot(physical0.columns.contains)
          require(missing.isEmpty,
            s"bucket column(s) missing from the written frame: ${missing.mkString(",")}")
          val sorted = bucketSortColsIn(props).map(c => colMap.getOrElse(c, c))
          val shuffled = physical0.repartition(n, phys.map(col): _*)
          if (sorted.isEmpty) shuffled
          else shuffled.sortWithinPartitions(sorted.map(col): _*)
        case None => physical0
      }
      // resolve case-insensitively, like Spark's own column resolution
      // (a TBLPROPERTIES 'ID' against a schema 'id' must not silently
      // disable the bloom)
      val byLower = physical.columns.map(c => c.toLowerCase -> c).toMap
      val bloomPhys = bloomColsIn(props).map(c => colMap.getOrElse(c, c))
        .flatMap(c => byLower.get(c.toLowerCase))
      val writer = bloomPhys.foldLeft(
        physical.write.mode("overwrite")
          // adaptive sizing: parquet right-sizes each filter to the row
          // group's observed NDV instead of a worst-case allocation
          .option("parquet.bloom.filter.adaptive.enabled",
            (bloomPhys.nonEmpty).toString)) { (w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true")
      }
      // hive-style layout under the token dir (d-token/dt=X/part-*.parquet):
      // the partition columns leave the data files and live in the dir names,
      // exactly like Delta's partitioned layout — one commit can span many
      // partition dirs, and reads prune whole dirs at plan time
      val physPart = partitionCols.map(c => colMap.getOrElse(c, c))
      (if (physPart.isEmpty) writer else writer.partitionBy(physPart: _*))
        .parquet(dir.toString)
    } catch {
      case e: Throwable =>
        // a failed write job (constraint violation, task crash) must not
        // leave a half-staged dir for vacuum to babysit
        scala.util.Try(f.delete(dir, true))
        throw e
    }
    val names = listParquetRec(f, dir).sorted
    // bucketed stage: tag each file with its writer-partition ordinal in
    // Spark's bucketed-file format (`..._%05d` before the extension) —
    // FileSourceScanExec parses exactly this (BucketingUtils.getBucketId)
    // to group files by bucket and report HashPartitioning
    val tagged = bucketSpecIn(props) match {
      case Some(_) if partitionCols.isEmpty =>
        names.map { n =>
          val part = "part-(\\d+)".r.findFirstMatchIn(n).getOrElse(
            throw new IllegalStateException(
              s"staged file $n has no writer-partition ordinal to bucket-tag"))
            .group(1).toInt
          val dot = n.indexOf('.')
          val t =
            if (dot < 0) n + f"_$part%05d"
            else n.substring(0, dot) + f"_$part%05d" + n.substring(dot)
          require(f.rename(new Path(dir, n), new Path(dir, t)),
            s"failed to bucket-tag staged file $n")
          t
        }
      case _ => names
    }
    val rel = tagged.map(n => s"d-$token/$n")
    (dir, rel)
  }

  /** Parquet files under `dir`, any depth, as dir-relative paths —
    * partitioned stages nest one level per partition column. */
  private def listParquetRec(f: FileSystem, dir: Path): Seq[String] = {
    def walk(p: Path, prefix: String): Seq[String] =
      f.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, s"$prefix$name/")
        else if (name.endsWith(".parquet")) Seq(s"$prefix$name")
        else Seq.empty
      }
    walk(dir, "")
  }

  /** Footer pass over newly staged files: per-file stats for `statsCols`
    * plus per-file row counts (collected even with no stats columns — the
    * row count comes from the same footer and powers [[countRows]]).
    * `statsCols` are LOGICAL names; footers store physical names, so the
    * request maps through `colMap` and the result keys map back — manifest
    * stats stay logical, matching [[readWhere]] predicates. */
  private def metaFor(spark: SparkSession, root: Path, rel: Seq[String],
      statsCols: Seq[String],
      colMap: Map[String, String] = Map.empty): (DataSkipping.FileStats, Map[String, Long]) = {
    val physCols = statsCols.map(c => colMap.getOrElse(c, c))
    val toLogical = colMap.map(_.swap)
    val meta = DataSkipping.collectMeta(
      spark, rel.map(r => r -> new Path(root, r).toString), physCols)
    (if (statsCols.isEmpty) Map.empty
     else meta.map { case (k, m) =>
       k -> m.stats.map { case (pn, st) => toLogical.getOrElse(pn, pn) -> st }
     },
      meta.map { case (k, m) => k -> m.rows })
  }

  /** Drop ZERO-ROW staged files from a commit's file list: a copy-on-write
    * rewrite whose survivors are empty (e.g. DELETE matching a whole file)
    * must shrink the table, not add an unprunable empty file that every
    * later scan and skipping pass pays for. The dropped files are deleted
    * here — the whole staged `dir` when none of its files is live — so
    * nothing of the rewrite is left on disk unreferenced. */
  private def dropEmpty(f: FileSystem, root: Path, dir: Path, rel: Seq[String],
      st: DataSkipping.FileStats, rw: Map[String, Long])
      : (Seq[String], DataSkipping.FileStats, Map[String, Long]) = {
    val (live, empty) = rel.partition(r => rw(r) > 0L)
    if (live.isEmpty) f.delete(dir, true)
    else empty.foreach(r => f.delete(new Path(root, r), false))
    val liveSet = live.toSet
    (live, st.filter(kv => liveSet(kv._1)), rw.filter(kv => liveSet(kv._1)))
  }

  /** The stats columns a commit should keep collecting when the caller
    * didn't name any: whatever the parent manifest tracked, so a table's
    * data-skipping never silently degrades across overwrite/append/MERGE/
    * DELETE/OPTIMIZE commits. On a checkpoint-anchored commit the answer
    * comes from the delta-added stats or a ONE-ROW probe of the
    * checkpoint's stats column — never by forcing the full deferred map. */
  private def inheritedStatsCols(spark: SparkSession, root: Path,
      c: Commit): Seq[String] =
    if (c.statsAdds.nonEmpty) c.statsAdds.values.head.keys.toSeq.sorted
    else c.ckptInfo match {
      case Some((rel, _)) =>
        spark.read.parquet(new Path(root, rel).toString)
          .select(col("stats")).filter(col("stats").isNotNull).limit(1)
          .collect().headOption
          .map(r => DataSkipping.colsFromJson(r.getString(0)).keys.toSeq.sorted)
          .getOrElse(Nil)
      case None => c.stats.values.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
    }

  /** A table with no head: a parent with no files (the genesis commit
    * replaces nothing and carries nothing). */
  private val NoFiles = Commit(Nil, new StructType(), LazyStats.of(Map.empty),
    Map.empty, Map.empty, Nil, Map.empty)

  /** Rows one commit adds, staged under `dir`: the live files, their stats
    * and their row counts. */
  private final case class Added(dir: Path, files: Seq[String],
      stats: DataSkipping.FileStats, rows: Map[String, Long])

  /** THE file-replacement commit every rewriting verb lands (Delta's DML
    * action shape: remove some files, add some, carry the rest): over
    * `head` (None: a table with no commit yet), the staged `rows` (None: a
    * commit that only marks) replace the `replaced` files at the next
    * version, through the two halves every commit shares, [[stageRows]]
    * and [[carryAndEncode]]; `marks` (new marked rows per carried file,
    * and the (file key, row index) rows recording them) stage here as one
    * sidecar. `schema`, `txn` and `props` override the parent's. */
  private def replaceFiles(spark: SparkSession, path: String,
      head: Option[(Long, Commit)], replaced: Set[String], rows: Option[DataFrame],
      marks: Option[(Map[String, Long], DataFrame)] = None,
      statsCols: Seq[String] = Nil, schema: Option[StructType] = None,
      txn: Option[Map[String, Long]] = None,
      props: Option[Map[String, String]] = None): Staged = {
    val root = new Path(path)
    val parent = head.map(_._2)
    val c = parent.getOrElse(NoFiles)
    val s = schema.getOrElse(c.schema)
    val sidecar = marks.map { case (_, df) => stage(df, root, fs(spark, root)) }
    val added = rows.map(df => stageRows(spark, path, parent, df, c.props,
      c.mappingOver(replaced)._1, partitionColsOf(c.schema), statsCols, s))
    val v = head.fold(0L)(_._1) + 1L
    val (body, ckptDir) = carryAndEncode(spark, root, v, parent, replaced, added,
      marks.map(_._1 -> sidecar.get._2), s, txn.getOrElse(c.txn), props)
    // a lost race makes the rewrite stale — the verb recomputes
    Staged(v, body, ckptDir, sidecar.map(_._1).toSeq ++ added.map(_.dir),
      added.toSeq.flatMap(_.files))
  }

  /** The staging half of a commit: `df` under the write contract of `props`
    * ([[withContract]]; a violation refuses as [[translateViolation]]
    * says), then `shape`d and staged under `colMap` and `partitionCols`;
    * stats on `statsCols` or, when empty, the parent's
    * ([[inheritedStatsCols]]) limited to `schema`'s data columns; a row
    * count per file; zero-row files dropped ([[dropEmpty]]). */
  private def stageRows(spark: SparkSession, path: String, parent: Option[Commit],
      df: DataFrame, props: Map[String, String], colMap: Map[String, String],
      partitionCols: Seq[String], statsCols: Seq[String], schema: StructType,
      shape: DataFrame => DataFrame = identity): Added = {
    val root = new Path(path)
    val f = fs(spark, root)
    val (dir, rel0) =
      try stage(shape(withContract(df, props, path)), root, f, colMap,
        partitionCols, props)
      catch { case e: Throwable => translateViolation(e, path) }
    val cols =
      if (statsCols.nonEmpty) statsCols
      else parent.toSeq.flatMap(inheritedStatsCols(spark, root, _))
        .filter(n => schema.fieldNames.contains(n) && !partitionCols.contains(n))
    val (st0, rw0) = metaFor(spark, root, rel0, cols, colMap)
    val (rel, st, rw) = dropEmpty(f, root, dir, rel0, st0, rw0)
    Added(dir, rel, st, rw)
  }

  /** The carry-and-encode half of a commit: version `v` lists the parent's
    * files minus `replaced`, each carried with its stats, row count and
    * marks, plus the `added` files; `marks` (new marked rows per carried
    * file, and the sidecar recording them) add to the carried marks, and no
    * replaced file keeps one; ONE column-mapping rule
    * ([[Commit.mappingOver]]). */
  private def carryAndEncode(spark: SparkSession, root: Path, v: Long,
      parent: Option[Commit], replaced: Set[String], added: Option[Added],
      marks: Option[(Map[String, Long], Seq[String])], schema: StructType,
      txn: Map[String, Long], props: Option[Map[String, String]])
      : (String, Option[Path]) = {
    val c = parent.getOrElse(NoFiles)
    val carried = c.files.filterNot(replaced)
    val carrySet = carried.toSet
    val (colMap, physDropped) = c.mappingOver(replaced)
    val (dvK, dvR) = c.dvFor(carrySet)
    val newMarks = marks.fold(Map.empty[String, Long])(_._1)
    val st = added.fold(Map.empty: DataSkipping.FileStats)(_.stats)
    encodeCommit(spark, root, v, carried ++ added.toSeq.flatMap(_.files),
      schema.json,
      // by name: a delta-encoded commit serializes only the added stats
      c.stats.filter(kv => carrySet(kv._1)) ++ st,
      c.rows.filter(kv => carrySet(kv._1)) ++ added.fold(Map.empty[String, Long])(_.rows),
      txn, dvK ++ marks.toSeq.flatMap(_._2),
      dvR ++ newMarks.map { case (fk, n) => fk -> (dvR.getOrElse(fk, 0L) + n) },
      parent = parent, colMap = colMap, physDropped = physDropped,
      carriedIdentical = true, statsAddOnly = Some(st), props = props)
  }

  /** The commit-store seam (Delta's `LogStore` idiom): everything above the
    * CAS — staging, retries, recompute-on-lost-race, pointer maintenance —
    * is store-agnostic, so the atomic create-if-absent is INJECTABLE. The
    * default [[FsCommitStore]] covers POSIX and HDFS-like filesystems;
    * object stores whose rename is non-atomic (e.g. S3A) need a store
    * backed by an external conditional-put (DynamoDB-style), exactly as
    * Delta ships LogStore implementations per cloud. Tests swap in a
    * memory-backed putIfAbsent fake to exercise that contract. */
  trait CommitStore {
    /** Publish `body` at `dest` if and only if nothing is committed there:
      * of all concurrent callers for one `dest`, EXACTLY ONE returns true,
      * and a reader can never observe a partially-written `dest`. */
    def putIfAbsent(f: FileSystem, root: Path, dest: Path, body: Array[Byte]): Boolean
  }

  /** Filesystem-native CAS: POSIX `link(2)` locally (create-if-absent of
    * already-complete content), contractual `Rename.NONE` on HDFS-like
    * stores, with a TOCTOU `!exists && rename` fallback where FileContext
    * has no binding. NOT safe on object stores that emulate rename
    * non-atomically (S3A) — inject a conditional-put store there. */
  object FsCommitStore extends CommitStore {
    def putIfAbsent(f: FileSystem, root: Path, dest: Path, body: Array[Byte]): Boolean = {
      val stage = new Path(root,
        s".commit-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(stage, true)
      try out.write(body)
      finally out.close()
      val localRoot = "file" == Option(root.toUri.getScheme).getOrElse("file")
      val won =
        if (localRoot) {
          // POSIX link(2): atomic create-if-absent; the linked content is
          // already complete, so no reader can observe a partial manifest
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(dest.toUri.getPath),
              java.nio.file.Paths.get(stage.toUri.getPath))
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        } else {
          // FileContext.rename(Options.Rename.NONE) is the CONTRACTUAL
          // no-replace rename (atomic create-if-absent on HDFS); the plain
          // FileSystem `!exists && rename` is a TOCTOU fallback for
          // filesystems with no FileContext binding.
          try {
            val fc = org.apache.hadoop.fs.FileContext.getFileContext(
              root.toUri, f.getConf)
            fc.rename(stage, dest, org.apache.hadoop.fs.Options.Rename.NONE)
            true
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
            case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
              !f.exists(dest) && f.rename(stage, dest)
            // some HDFS-compatible filesystems signal a Rename.NONE collision
            // as a plain IOException ("rename destination exists") — if the
            // destination now exists the race was simply lost (retry next
            // slot); only an IOException with the destination still absent is
            // a real failure worth aborting the writer
            case e: java.io.IOException =>
              if (f.exists(dest)) false else throw e
          }
        }
      f.delete(stage, false)
      won
    }
  }

  /** The store commits publish through — swappable (volatile: racing writer
    * threads must observe the same store; production code leaves the
    * default). */
  @volatile var commitStore: CommitStore = FsCommitStore

  /** Claim version `v` by atomically creating its manifest through the
    * [[commitStore]]. Returns false iff another writer holds `v`. */
  private def tryCommit(f: FileSystem, root: Path, v: Long, body: String): Boolean = {
    f.mkdirs(new Path(root, LogDir))
    val won = commitStore.putIfAbsent(f, root, manifest(root, v), body.getBytes("UTF-8"))
    if (won) writeHead(f, root, v) // pointer update AFTER the commit point
    won
  }

  /** One attempt's staged commit: the manifest `body` claiming version `v`,
    * the checkpoint dir its encoding wrote, the staged data dirs that go
    * stale if the claim is lost (empty when the next attempt reuses them),
    * and the data files the commit adds. */
  private final case class Staged(v: Long, body: String, ckpt: Option[Path],
      discard: Seq[Path] = Nil, added: Seq[String] = Nil)

  private def noVersions(path: String): Nothing =
    throw new IllegalArgumentException(s"$path has no committed versions")

  /** The optimistic-commit loop every write verb runs. Each attempt gets
    * the freshly re-read head (version + manifest; None for a table with
    * no commit yet) and either returns a version without committing
    * (`Left`: a replay, a provable no-op, a racing creator) or stages a
    * commit (`Right`). The loop claims the staged version through
    * [[tryCommit]]; on a lost race it deletes that attempt's checkpoint and
    * discarded dirs and runs the next attempt against the new head. */
  private def commitLoop(spark: SparkSession, path: String, what: String)(
      attempt: Option[(Long, Commit)] => Either[Long, Staged]): Long = {
    val root = new Path(path)
    val f = fs(spark, root)
    retryLostRaces(path, what) {
      val head = latestVersion(spark, path).map(b => b -> readManifest(spark, f, root, b))
      attempt(head) match {
        case Left(v) => Some(v)
        case Right(s) =>
          if (tryCommit(f, root, s.v, s.body)) Some(s.v)
          else {
            (s.ckpt.toSeq ++ s.discard).foreach(d => f.delete(d, true))
            None
          }
      }
    }
  }

  /** Re-run `attempt` while it reports a lost race (None); the
    * [[MaxCommitRetries]]th loss in a row gives up. */
  @annotation.tailrec
  private def retryLostRaces[A](path: String, what: String, lost: Int = 0)(
      attempt: => Option[A]): A = attempt match {
    case Some(a) => a
    case None =>
      require(lost + 1 < MaxCommitRetries,
        s"$path: lost ${lost + 1} $what commit races in a row; giving up")
      retryLostRaces(path, what, lost + 1)(attempt)
  }

  /** Recomputes a caller may spend on a precondition (`txnExpected`,
    * `propsExpected`, `expectedBase`) that concurrent commits keep moving. */
  private[graft] val MaxRecomputes = 5

  /** Re-run `attempt` — a recompute of work whose commit carries an
    * optimistic precondition — while the precondition fails with
    * [[ConcurrentTxnException]] or [[ConcurrentPropException]]; the
    * [[MaxRecomputes]]th failure propagates. */
  private[graft] def recomputeOnConflict[A](attempt: => A): A = {
    var runs = 1
    while (true) {
      try return attempt
      catch {
        case _: ConcurrentTxnException | _: ConcurrentPropException
            if runs < MaxRecomputes => runs += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit a SNAPSHOT: the new version contains exactly `df` and replaces
    * every file of the previous one (overwrite semantics, like the
    * reference pipeline's overwrite-per-run tables); older versions stay
    * time-travelable. Returns the committed version number.
    * Concurrency-safe: on a lost race the data is NOT rewritten — the
    * writer just claims the next free version slot for the already-staged
    * files. With no `statsCols` the previous version's stats columns are
    * collected, as for [[append]].
    *
    * @param statsCols record per-file min/max stats for these columns in
    *                  the commit manifest (parquet footer reads only — see
    *                  [[DataSkipping.collectMeta]]), enabling file pruning
    *                  in [[readWhere]] and copy-on-write file selection in
    *                  [[upsert]]/[[delete]]. Choose the columns the table
    *                  is z-ordered/clustered by: stats on a column the
    *                  layout doesn't cluster are valid but rarely selective.
    * @param partitionBy lay the snapshot out hive-partitioned by these
    *                  columns (dir-per-value under each commit's token dir):
    *                  reads prune whole partition directories at plan time,
    *                  appends inherit the layout. */
  def write(df: DataFrame, path: String, statsCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): Long =
    insert(df, path, overwrite = true, statsCols, partitionBy)

  /** CREATE a bucketed table (CLUSTERED BY (cols) INTO n BUCKETS): the
    * snapshot lands hash-bucketed and every later verb preserves the
    * layout — see [[BucketByKey]]. Joins/aggregations on `bucketBy` run
    * exchange-free against any co-bucketed graft table (same cols, same
    * n). Refused over an existing table: the physical file naming is part
    * of the layout contract, so re-bucketing is an explicit re-create.
    * `statsCols` default to the bucket columns (the natural prune/CoW
    * selection keys). */
  def writeBucketed(df: DataFrame, path: String, bucketBy: Seq[String],
      numBuckets: Int, statsCols: Seq[String] = Nil,
      sortBy: Seq[String] = Nil): Long = {
    require(bucketBy.nonEmpty, "writeBucketed needs at least one bucket column")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val missing = (bucketBy ++ sortBy).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$path: bucket/sort column(s) not in the frame: ${missing.mkString(",")}")
    require(latestVersion(df.sparkSession, path).isEmpty,
      s"$path: table already exists — the bucket layout is fixed at " +
        "creation (files are physically bucket-named); re-create to re-bucket")
    // ifExists guards the race too: a concurrent creator is observed
    // INSIDE the commit loop, not just by the friendly pre-check above
    insert(df, path, overwrite = true,
      if (statsCols.isEmpty) bucketBy else statsCols, ifExists = Some(true),
      propsAdd = Map(BucketByKey -> bucketBy.mkString(","),
        NumBucketsKey -> numBuckets.toString) ++
        (if (sortBy.isEmpty) Map.empty
         else Map(BucketSortByKey -> sortBy.mkString(","))))
  }

  /** Exactly-once streaming SNAPSHOT commit — [[commitBatch]]'s twin for
    * Complete output mode: the new version contains exactly `df`, UNLESS
    * this (appId, batchId) — or a later batch of the same app — already
    * committed, in which case the call is a no-op returning the current
    * version (a re-delivered Complete batch must not mint a duplicate
    * version, even though its contents would be identical). */
  def commitSnapshot(df: DataFrame, path: String, appId: String,
      batchId: Long, statsCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): Long =
    insert(df, path, overwrite = true, statsCols, partitionBy,
      txn = Some(appId -> batchId))

  /** Snapshot write that commits ONLY IF the table has no committed
    * version, deciding INSIDE the commit loop — not check-then-act: a
    * concurrent creator makes this call error (`errorIfExists = true`,
    * SaveMode.ErrorIfExists) or no-op returning the winner's version
    * (`false`, SaveMode.Ignore), never silently mint a second version. */
  private[graft] def writeIfAbsent(df: DataFrame, path: String,
      statsCols: Seq[String], errorIfExists: Boolean,
      partitionCols: Seq[String] = Nil): Long =
    insert(df, path, overwrite = true, statsCols, partitionCols,
      ifExists = Some(errorIfExists))

  /** The PARTITION DIMENSION of a table rides the recorded schema as field
    * METADATA (key = ordinal among the partition columns), so it flows
    * through every manifest encoding — full, delta, parquet checkpoint,
    * schema evolution — with zero extra log fields, the way the schema
    * itself does. The recorded column order is normalized to data columns
    * first, partition columns last, matching the relation's user-facing
    * order (dataSchema ++ partitionSchema). */
  private val PartitionIdxKey = "graft.partition_index"

  private[graft] def partitionColsOf(schema: StructType): Seq[String] =
    schema.fields.filter(_.metadata.contains(PartitionIdxKey))
      .sortBy(_.metadata.getLong(PartitionIdxKey)).map(_.name).toSeq

  private def withPartitionMeta(schema: StructType, cols: Seq[String]): StructType = {
    val missing = cols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"partition column(s) not in the schema: ${missing.mkString(",")}")
    require(cols.size < schema.fields.length,
      "cannot partition by every column")
    val partSet = cols.toSet
    val tagged = cols.zipWithIndex.map { case (n, i) =>
      val fl = schema(n)
      fl.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(fl.metadata).putLong(PartitionIdxKey, i.toLong).build())
    }
    StructType(schema.fields.filterNot(fl => partSet(fl.name)) ++ tagged)
  }

  /** CREATE TABLE: commit version 1 with `df`'s schema (normally zero
    * rows), refused if any version exists — the SQL catalog's DDL entry
    * point. `props` become the table's persistent TBLPROPERTIES, carried
    * forward by every subsequent commit. */
  private[graft] def createEmpty(df: DataFrame, path: String,
      statsCols: Seq[String], partitionCols: Seq[String],
      props: Map[String, String] = Map.empty): Long =
    insert(df, path, overwrite = true, statsCols, partitionCols,
      ifExists = Some(true), propsAdd = props)

  /** THE insert commit behind every verb that adds rows ([[write]],
    * [[writeBucketed]], [[commitSnapshot]], [[writeIfAbsent]],
    * [[createEmpty]], [[append]], [[commitBatch]], [[copyInto]]): an
    * `overwrite` replaces every file of the parent, an append replaces
    * none — both through the two halves of [[replaceFiles]]. Per attempt
    * it runs the materialized-view fence, the txn and COPY INTO replay
    * checks, `ifExists`, and identity allocation (memoized on the props it
    * read; skipped on CREATE, whose declared frame carries the column);
    * the rows stage ONCE and their files are kept across lost races — the
    * content is base-independent — and restage only when the column
    * mapping, the partition columns or the props changed (a racing CHECK
    * constraint must validate this batch too). Only two things are
    * mode-specific: an overwrite may re-declare the schema and the
    * partition layout; an append must match the schema (nullability
    * merges) and the layout. Every insert then runs [[afterInsert]].
    *
    * @param txn      (appId, batchId) exactly-once marker, as in
    *                 [[commitBatch]]; None commits unconditionally (the
    *                 stored watermarks carry)
    * @param ifExists None = commit over any head; Some(true) = throw if a
    *                 version exists (observed at commit time, inside the
    *                 CAS loop); Some(false) = no-op returning it.
    * @param propsAdd properties landed IN THE SAME commit, over the pinned
    *                 head's (none: a table with no head) — for state that
    *                 must stay atomic with the content it describes (a
    *                 join view's re-pinned dim version: a separate props
    *                 commit would leave a crash window where content and
    *                 pin disagree). */
  private[sources] def insert(df: DataFrame, path: String, overwrite: Boolean,
      statsCols: Seq[String] = Nil, partitionBy: Seq[String] = Nil,
      txn: Option[(String, Long)] = None, txnMulti: Map[String, Long] = Map.empty,
      ifExists: Option[Boolean] = None,
      propsAdd: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    val root = new Path(path)
    val f = fs(spark, root)
    val what = if (overwrite) "write" else "append"
    // same reserved-name fence as setProperties, for the CREATE-with-props
    // path: a data column named like the materialized id would collide
    // with the id-surfacing read
    if (rowTrackingOn(propsAdd))
      require(!df.columns.contains(RowIdCol),
        s"$path: cannot enable $RowTrackingKey — the schema already has " +
          s"a column named $RowIdCol (reserved for row tracking)")
    // (column mapping, partition columns, props) the rows staged under
    var staged: Option[((Map[String, String], Seq[String], Map[String, String]), Added)] = None
    def unstage(): Unit = { staged.foreach(s => f.delete(s._2.dir, true)); staged = None }
    // (props the allocation read, filled frame, hwm-advance, persisted src)
    var idCache: Option[(Map[String, String], DataFrame,
      Long => Map[String, String], Option[DataFrame])] = None
    val committed = try commitLoop(spark, path, what) { head =>
      val parent = head.map(_._2)
      val b = head.fold(0L)(_._1)
      parent.foreach(p => fenceMvWrite(p.props, path, what))
      val replayed = txn.exists { case (app, bid) =>
        parent.exists(_.txn.get(app).exists(_ >= bid))
      }
      val present = parent.fold(0)(p => txnMulti.keySet.count(p.txn.contains))
      if (head.nonEmpty && (ifExists.nonEmpty || replayed || present > 0)) {
        // a racing creator won (SaveMode.ErrorIfExists / Ignore), or a
        // replayed batch already committed — clean up and no-op; the
        // post-commit hooks below see nothing staged
        unstage()
        if (ifExists.contains(true)) throw new IllegalStateException(
          s"$path: table already exists (SaveMode.ErrorIfExists); use " +
            "mode(\"append\") or mode(\"overwrite\")")
        if (present > 0 && present == txnMulti.size) // full replay
          throw new CopyReplayedException(b)
        if (present > 0) // overlapping concurrent load: would double-load
          throw new ConcurrentCopyException(
            s"$path: $present of ${txnMulti.size} source files were loaded " +
              "concurrently; re-diff against the new manifest")
        Left(b)
      } else {
        val props = parent.fold(Map.empty[String, String])(_.props) ++ propsAdd
        // identity allocation (an eager zipWithIndex count job), then the
        // generated fill (a generation may reference the identity column),
        // BEFORE the schema contract, so a writer that (correctly) omits
        // either still commits
        val (idDf, idAdvance) =
          if (ifExists.contains(true)) (df, (_: Long) => Map.empty[String, String])
          else idCache match {
            case Some((p, d, a, _)) if p == props => (d, a)
            case prev =>
              prev.foreach(_._4.foreach(_.unpersist()))
              val (d, a, src) = applyIdentity(df, props, path)
              idCache = Some((props, d, a, src))
              (d, a)
          }
        val genSchema = applyGenerated(idDf, props, path).schema
        // a table's partition layout is part of its contract: an overwrite
        // keeps it unless it re-declares one (old versions keep their own
        // layout via their own manifests); an append inherits it, and an
        // explicit partitionBy must agree (carried files keep their dirs)
        val parentPart = parent.fold(Seq.empty[String])(p => partitionColsOf(p.schema))
        if (!overwrite && parent.nonEmpty && partitionBy.nonEmpty)
          require(partitionBy == parentPart,
            s"append partitionBy (${partitionBy.mkString(",")}) must match the " +
              s"table's layout (${if (parentPart.isEmpty) "unpartitioned"
              else parentPart.mkString(",")}); only overwrite may re-partition")
        val part =
          if (partitionBy.nonEmpty && (overwrite || parent.isEmpty)) partitionBy
          else parentPart
        val schema = parent.filter(_ => !overwrite).map(_.schema) match {
          case Some(bs) =>
            require(bs.fieldNames.toSet == genSchema.fieldNames.toSet &&
              bs.fields.forall(bf =>
                genSchema.fields.find(_.name == bf.name).forall(_.dataType == bf.dataType)),
              s"append schema mismatch vs $path: table ${bs.simpleString}, " +
                s"batch ${genSchema.simpleString}")
            // merge nullability so an appended nullable column stays readable
            StructType(bs.fields.map(bf => bf.copy(nullable = bf.nullable ||
              genSchema.fields.find(_.name == bf.name).exists(_.nullable))))
          case None =>
            if (part.isEmpty) genSchema else withPartitionMeta(genSchema, part)
        }
        val replaced = parent.filter(_ => overwrite).fold(Set.empty[String])(_.files.toSet)
        val key = (parent.getOrElse(NoFiles).mappingOver(replaced)._1, part, props)
        if (staged.exists(_._1 != key)) unstage()
        val added = staged.map(_._2).getOrElse {
          val a = stageRows(spark, path, parent, idDf, props, key._1, part,
            statsCols, schema, optimizeWriteShape(_, props, part))
          staged = Some(key -> a)
          a
        }
        // identity hwm advances ATOMICALLY with the rows this commit added
        // (never resets on overwrite — Delta keeps allocating monotonic)
        val idProps = idAdvance(added.rows.values.sum)
        // carry the streaming-txn watermarks: a snapshot write between two
        // micro-batches must not reopen the door to batch replay
        val (body, ckptDir) = carryAndEncode(spark, root, b + 1L, parent,
          replaced, Some(added), None, schema,
          parent.fold(Map.empty[String, Long])(_.txn) ++ txn.toMap ++ txnMulti,
          if (idProps.isEmpty && propsAdd.isEmpty) None else Some(props ++ idProps))
        // the staged files stay valid for the next slot
        Right(Staged(b + 1L, body, ckptDir))
      }
    } finally idCache.foreach(_._4.foreach(_.unpersist()))
    staged.foreach { case ((_, _, props), a) => afterInsert(spark, path, props, a.files) }
    committed
  }

  /** Commit a new version = parent's files + `df`'s files (append
    * semantics; no existing byte is touched). When the caller passes no
    * `statsCols`, the parent's stats columns are collected for the new
    * files so pruning keeps working on append-maintained tables.
    * `partitionBy` must match the table's layout (the first writer fixes
    * it); it is mostly useful as the genesis-append form. */
  def append(df: DataFrame, path: String, statsCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): Long =
    insert(df, path, overwrite = false, statsCols, partitionBy)

  /** Exactly-once streaming commit (Delta's txnAppId/txnVersion idiom):
    * append `df` as a new version UNLESS this (appId, batchId) — or a later
    * batch of the same app — already committed, in which case the call is a
    * NO-OP returning the current version. foreachBatch re-delivers batches
    * after restarts; routing every micro-batch through `commitBatch` makes
    * the sink idempotent: no duplicate version, no duplicate rows. */
  def commitBatch(df: DataFrame, path: String, appId: String, batchId: Long,
      statsCols: Seq[String] = Nil): Long =
    insert(df, path, overwrite = false, statsCols, txn = Some(appId -> batchId))

  /** Thrown when a concurrent [[copyInto]] committed an OVERLAPPING subset
    * of this call's source files mid-flight: the staged batch would
    * double-load those files, so the caller must re-diff against the new
    * manifest and re-stage only the still-unloaded remainder. */
  private[sources] final class ConcurrentCopyException(msg: String)
    extends RuntimeException(msg)

  /** Optimistic-concurrency signal from [[upsert]]'s `txnExpected`
    * precondition: the target's stored txn watermark for the app moved off
    * the value the caller computed its update against — applying the
    * update would silently skip (or double-apply) the interleaved window.
    * The caller must recompute against the new watermark and retry
    * (see [[MaterializedView.refresh]]). */
  private[graft] final class ConcurrentTxnException(
      val path: String, val app: String, val expected: Long,
      val stored: Option[Long])
    extends RuntimeException(
      s"$path: txn watermark for app '$app' is " +
        s"${stored.map(_.toString).getOrElse("absent")}, expected " +
        s"$expected — a concurrent commit moved it; recompute and retry")

  /** Optimistic-concurrency signal from [[upsert]]'s `propsExpected`
    * precondition: a table PROPERTY the caller's delta was computed
    * against moved before the commit landed (e.g. a join view's dim pin
    * advanced by a concurrent dim-delta refresh). Recompute and retry,
    * same posture as [[ConcurrentTxnException]]. */
  private[graft] final class ConcurrentPropException(
      val path: String, val key: String, val expected: String,
      val stored: Option[String])
    extends RuntimeException(
      s"$path: property '$key' is ${stored.getOrElse("absent")}, expected " +
        s"$expected — a concurrent commit moved it; recompute and retry")

  /** Control-flow signal from [[insert]] back to [[copyInto]]: every
    * source file in the staged batch was already loaded (a full statement
    * replay) — the head is returned unchanged and NO files were loaded by
    * this call, so the caller must report 0, not the batch size. */
  private final class CopyReplayedException(val head: Long)
    extends RuntimeException("all source files already loaded")

  /** CONVERT TO GRAFT (Delta's CONVERT TO DELTA): adopt an existing plain
    * parquet directory as a versioned table IN PLACE — one genesis commit
    * listing the files exactly where they are; zero bytes move or rewrite.
    * Hive-style `col=value` directory segments become the table's
    * partition dimension, discovered the way `spark.read.parquet` does
    * (partition columns are the inferred columns absent from the files
    * themselves, with inferred types). Per-file row counts — and manifest
    * stats for `statsCols` — are collected DISTRIBUTED from parquet
    * footers, so conversion of a million-file table is one Spark job plus
    * one O(files) manifest write. After conversion every format verb
    * works on the adopted files (time travel from v1, CoW MERGE/DELETE,
    * OPTIMIZE/ZORDER, deletion vectors, SQL): rewrites land in fresh token
    * dirs while carried originals stay put — the mixed layout is native.
    *
    * Refusals: an existing commit log (already converted), zero parquet
    * files, files sitting directly at the table root (the manifest and
    * scan key files as `dir/file`; move them into a subdirectory first),
    * statsCols naming partition columns (their values live in paths, not
    * footers), files whose FOOTER SCHEMAS disagree (one footer would be
    * silently adopted for all — evolve the layout to one schema first),
    * and `key=value` directory segments whose key is not a discovered
    * partition column (ambiguous: the partition parser would read them as
    * metadata). */
  def convertToGraft(spark: SparkSession, path: String,
      statsCols: Seq[String] = Nil): Long = {
    val root = new Path(path)
    val f = fs(spark, root)
    require(f.exists(root), s"$path does not exist")
    require(latestVersion(spark, path).isEmpty,
      s"$path is already a graft table (found a commit log); CONVERT " +
        "adopts plain parquet directories only")
    val rootUri = f.getFileStatus(root).getPath.toUri
    val it = f.listFiles(root, true)
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val rel = rootUri.relativize(st.getPath.toUri).getPath
      val segs = rel.split('/')
      if (st.getPath.getName.endsWith(".parquet") &&
        !segs.exists(sg => sg.startsWith("_") || sg.startsWith("."))) {
        files += rel
        // a million-file adoption is a minutes-long driver listing; make
        // it observably alive rather than silent (only on actual appends,
        // or interleaved non-parquet entries would re-print the line)
        if (files.size % 100000 == 0)
          System.err.println(s"[graft] CONVERT $path: listed ${files.size} files…")
      }
    }
    require(files.nonEmpty, s"$path: no parquet files to convert")
    val atRoot = files.filterNot(_.contains('/'))
    require(atRoot.isEmpty,
      s"$path: parquet file(s) at the table root are not adoptable — the " +
        s"manifest keys files as dir/file (${atRoot.take(3).mkString(", ")}" +
        "); move them into a subdirectory first")
    // full schema WITH discovered partition columns (appended last, typed
    // by Spark's partition inference); the footer field census below tells
    // the two apart — and proves every file carries the SAME data columns,
    // so the adopted (single-footer) schema is the schema of every file,
    // not just of whichever footer the reader happened to open
    val full = spark.read.parquet(path).schema
    val meta = DataSkipping.collectMeta(
      spark, files.toSeq.map(r => r -> new Path(root, r).toString), statsCols)
    val fieldSets = meta.view.mapValues(_.fields.toSet).toMap
    val dataCols = fieldSets.valuesIterator.next()
    val disagree = fieldSets.filter(_._2 != dataCols).keys.toSeq.sorted
    require(disagree.isEmpty,
      s"$path: file schemas disagree — ${disagree.take(3).mkString(", ")} " +
        s"carry different columns than ${fieldSets.keysIterator.next()}; " +
        "CONVERT adopts one schema for every file, so a heterogeneous " +
        "directory (schema evolution in place) must be rewritten to one " +
        "schema first")
    val partCols = full.fields.map(_.name).filterNot(dataCols).toSeq
    // any key=value directory segment must name a discovered partition
    // column; anything else is ambiguous (the path parser would adopt it)
    val eqKeys = files.iterator.flatMap(_.split('/').dropRight(1)).toSet[String]
      .flatMap { seg =>
        val i = seg.indexOf('=')
        if (i > 0) Some(seg.substring(0, i)) else None
      }
    val rogue = (eqKeys -- partCols).toSeq.sorted
    require(rogue.isEmpty,
      s"$path: directory segment key(s) ${rogue.mkString(", ")} look like " +
        "hive partition metadata but were not discovered as partition " +
        "columns — rename those directories (or fix the layout) before " +
        "converting; adopting them would mis-parse partition values")
    val badStats = statsCols.filterNot(dataCols)
    require(badStats.isEmpty,
      s"$path: statsCols ${badStats.mkString(", ")} are not data columns " +
        "(partition values live in paths, not footers)")
    val schema =
      if (partCols.isEmpty) full else withPartitionMeta(full, partCols)
    val st = if (statsCols.isEmpty) Map.empty[String, Map[String, DataSkipping.ColStat]]
      else meta.map { case (k, m) => k -> m.stats }
    val rw = meta.map { case (k, m) => k -> m.rows }
    val (body, ckptDir) = encodeCommit(spark, root, 1L, files.toSeq,
      schema.json, st, rw, txn = Map.empty)
    if (!tryCommit(f, root, 1L, body)) {
      ckptDir.foreach(d => f.delete(d, true))
      throw new IllegalStateException(
        s"$path: a concurrent creator committed first — CONVERT aborted")
    }
    1L
  }


  /** COPY INTO (Delta's idempotent bulk-ingest statement): load the parquet
    * files under `srcDir` (optionally narrowed by a `pattern` glob on the
    * file name) into the table as ONE append commit, SKIPPING every source
    * file a previous COPY INTO already loaded. Idempotence rides the same
    * manifest txn map as the exactly-once streaming sink: each loaded file
    * records `copy:<md5(absolute path)> -> mtime`, carried by every
    * subsequent commit, so re-running the statement after a crash, a
    * partial pipeline retry, or on a directory that keeps growing loads
    * each file exactly once. Loaded source files are IMMUTABLE: the
    * recorded mtime is compared on every run, and a file regenerated in
    * place (same name, new mtime) refuses the statement loudly instead of
    * being silently skipped. Returns (version, filesLoaded) —
    * (currentHead, 0) when everything listed was already loaded, including
    * when a concurrent COPY INTO won the race for the whole batch.
    *
    * Scale shape: one driver listing of the SOURCE directory (inherent to
    * the statement), one key-diff against the txn map (O(source files)),
    * and one distributed parquet read → append of only the new files. The
    * table's own size never enters. Schema must match the table's (the
    * append's contract) — a drifted source file refuses the whole commit
    * atomically, naming the mismatch. */
  def copyInto(spark: SparkSession, tablePath: String, srcDir: String,
      pattern: Option[String] = None): (Long, Int) = {
    val src = new Path(srcDir)
    val sf = fs(spark, src)
    retryLostRaces(tablePath, "COPY INTO") {
      val head = latestVersion(spark, tablePath)
      val loaded: Map[String, Long] = head
        .map(b => readManifest(spark, fs(spark, new Path(tablePath)),
          new Path(tablePath), b).txn)
        .getOrElse(Map.empty)
      val listed = pattern match {
        case Some(g) => Option(sf.globStatus(new Path(src, g)))
          .map(_.toSeq).getOrElse(Nil).filter(_.isFile)
        case None => sf.listStatus(src).toSeq.filter(_.isFile)
      }
      val candidates = listed
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath, copyKey(s.getPath), s.getModificationTime))
      // source files are assumed immutable once loaded (Delta COPY INTO
      // semantics); the recorded mtime DETECTS a violation — a file
      // regenerated in place would otherwise be silently skipped, its new
      // content never loaded. Refuse loudly rather than reload: reloading
      // would duplicate the rows the first load already committed.
      val mutated = candidates.collect {
        case (p, k, m) if loaded.get(k).exists(_ != m) => p.getName
      }
      require(mutated.isEmpty,
        s"$tablePath: COPY INTO source file(s) changed since they were " +
          s"loaded (${mutated.mkString(", ")}); loaded source files are " +
          "immutable — write corrections as NEW files, or MERGE them")
      val fresh = candidates.filterNot { case (_, k, _) => loaded.contains(k) }
      if (fresh.isEmpty) Some((head.getOrElse(0L), 0))
      else {
        val df = spark.read.parquet(fresh.map(_._1.toString): _*)
        try {
          val v = insert(df, tablePath, overwrite = false,
            txnMulti = fresh.map { case (_, k, m) => k -> m }.toMap)
          Some((v, fresh.size))
        } catch {
          case r: CopyReplayedException => Some((r.head, 0))
          case _: ConcurrentCopyException => None // re-diff the remainder
        }
      }
    }
  }

  private def copyKey(p: Path): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(p.toString.getBytes("UTF-8"))
    "copy:" + d.map("%02x".format(_)).mkString
  }

  /** Cheap appended-file-count hint for the streaming throttle's backlog
    * walk: Some(n) when `v`'s manifest is a DELTA against v-1 — its
    * `files_add` list IS the appended set, one small JSON parse, no chain
    * resolution and no Spark job (a ckpt-anchored `filesAt` costs one).
    * None for full/checkpoint manifests, whose appended set would need both
    * versions' full file lists resolved — the walk treats those as a batch
    * boundary instead of paying O(table) per getOffset. */
  private[graft] def addedFilesHint(spark: SparkSession, path: String,
      v: Long): Option[Long] = {
    val root = new Path(path)
    val f = fs(spark, root)
    val node = parseManifest(f, root, v)
    if (node.has("base") && node.get("base").asLong() == v - 1L)
      Some(strArr(node, "files_add").size.toLong)
    else None
  }

  /** TIMESTAMP AS OF: the latest version committed at or before `ts`
    * (epoch millis). Commit times come from the `ts` field RECORDED INSIDE
    * each manifest at commit time — not the manifest file's mtime, which
    * vacuum's re-anchor rewrite refreshes (an mtime-based resolution
    * shifted after vacuum). None when the table has no version that old. */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Option[Long] = {
    val root = new Path(path)
    val f = fs(spark, root)
    // LISTING-FREE candidate range: version numbers are DENSE by
    // construction (each CAS claims parent+1) and vacuum only ever drops a
    // PREFIX, so manifests exist exactly over [floor, head]. The head comes
    // from the O(1) pointer ([[latestVersion]]) and the floor from a
    // manifest-absence binary probe — a TIMESTAMP AS OF on a 10⁵-commit
    // table never lists the log (the listing the `_head` pointer was built
    // to avoid; history()/vacuum() still list, but they are maintenance).
    val head = latestVersion(spark, path).getOrElse(return None)
    var flo = 1L
    var fhi = head
    while (flo < fhi) {
      val mid = (flo + fhi) >>> 1
      if (f.exists(manifest(root, mid))) fhi = mid else flo = mid + 1
    }
    val floor = flo
    // BINARY SEARCH over the (version-ordered, ts-non-decreasing) log:
    // O(log V) small manifest parses instead of parsing every manifest.
    // Commit stamps are enforced monotonic at write time (manifestJson:
    // ts = max(now, parent.ts+1), Delta's idiom), so the search is exact.
    var lo = floor
    var hi = head
    var ans = -1L
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (commitTime(f, root, mid) <= tsMillis) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    Option.when(ans >= 0)(ans)
  }

  private def commitTime(f: FileSystem, root: Path, v: Long): Long =
    tsOf(checkedManifest(f, root, v))

  /** Read the table as of a wall-clock instant (see [[versionAt]]). */
  def readAsOfTimestamp(spark: SparkSession, path: String, tsMillis: Long): DataFrame = {
    val v = versionAt(spark, path, tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no version committed at or before $tsMillis"))
    read(spark, path, Some(v))
  }

  /** RESTORE TABLE TO VERSION AS A NEW COMMIT (Delta's RESTORE): re-commit
    * version `toV`'s exact contents — files, schema, stats, row counts,
    * deletion vectors — as the new head. METADATA-ONLY: zero bytes move,
    * the mistake (bad merge, fat-fingered delete) stays in history as its
    * own time-travelable version, and the streaming-txn watermarks carry
    * forward from the CURRENT head so exactly-once sinks don't replay.
    * Restoring the current head is a no-op. */
  def restore(spark: SparkSession, path: String, toV: Long): Long = {
    val root = new Path(path)
    val f = fs(spark, root)
    def missingOf(c: Commit): Seq[String] =
      (c.files ++ c.dv).filterNot(r => f.exists(new Path(root, r)))
    // (target, pre-restore head) of the attempt that staged the commit
    var restored: Option[(Commit, Commit)] = None
    val committed = commitLoop(spark, path, "restore") { head =>
      restored = None
      require(f.exists(manifest(root, toV)), s"$path has no version $toV")
      val (b, cur) = head.getOrElse(noVersions(path))
      if (b == toV) Left(b)
      else {
        val target = readManifest(spark, f, root, toV)
        // RESTORE vs VACUUM race guard: a vacuum computing liveness BEFORE
        // this restore commits may drop toV and delete files referenced only
        // by dropped versions — the CAS alone can't see that. Check the
        // target's files before committing, and re-verify after winning: if
        // the race hit anyway, COMPENSATE by re-publishing the pre-restore
        // head (whose files the vacuum kept — it was a kept version) rather
        // than leave a head that points at deleted data.
        val preMissing = missingOf(target)
        require(preMissing.isEmpty,
          s"$path: cannot restore to $toV — ${preMissing.size} file(s) already " +
            s"removed (concurrent vacuum?): ${preMissing.take(3).mkString(",")}")
        val v = b + 1L
        val (body, ckptDir) = encodeCommit(spark, root, v, target.files,
          target.schema.json, target.stats, target.rows, cur.txn, target.dv, target.dvRows,
          parent = Some(cur), colMap = target.colMap,
          physDropped = target.physDropped,
          props = Some(target.props), // RESTORE restores properties too
          // restored files keep the ids THEIR commit assigned; the watermark
          // stays monotone vs the abandoned head so later mints never collide
          rowIdSeed = Some((math.max(cur.rowHwm, target.rowHwm), target.baseRow)))
        restored = Some((target, cur))
        Right(Staged(v, body, ckptDir))
      }
    }
    restored.foreach { case (target, cur) =>
      val postMissing = missingOf(target)
      if (postMissing.nonEmpty) {
        // compensation re-publishes cur; seed off the JUST-COMMITTED version
        // so any ids it minted stay fenced
        val vC = readManifest(spark, f, root, committed)
        val (undo, undoCkpt) = encodeCommit(spark, root, committed + 1L, cur.files,
          cur.schema.json, cur.stats, cur.rows, cur.txn, cur.dv, cur.dvRows,
          parent = Some(target), forceFull = true,
          colMap = cur.colMap, physDropped = cur.physDropped,
          props = Some(cur.props),
          rowIdSeed = Some((math.max(vC.rowHwm, cur.rowHwm), cur.baseRow)))
        if (!tryCommit(f, root, committed + 1L, undo)) // best-effort compensation
          undoCkpt.foreach(d => f.delete(d, true))
        throw new IllegalStateException(
          s"$path: restore to $toV raced a vacuum — ${postMissing.size} of its " +
            s"file(s) were deleted after the commit; re-published version " +
            s"${committed - 1L} as ${committed + 1L}. Re-run restore within " +
            "the vacuum retention window.")
      }
    }
    committed
  }

  /** CLONE (Delta's `SHALLOW CLONE`, strengthened): create a NEW table at
    * `destPath` from `srcPath`'s live state at a version, copying ZERO
    * data bytes on hardlink-capable filesystems — every live data file,
    * DV sidecar, and (on checkpoint-anchored sources) the anchor's
    * checkpoint parquet is hard-linked under dest with its exact
    * root-relative key, so the manifest's stats/rows/DV/colMap maps carry
    * VERBATIM. Where links aren't possible (cross-filesystem, object
    * stores) each file degrades to a copy.
    *
    * The clone starts a fresh history at version 1 carrying the source's
    * schema (partition dimension and column mapping included), file
    * stats, row counts, DV marks, and TBLPROPERTIES (CHECK constraints
    * keep enforcing on the clone); the source's streaming-txn watermarks
    * do NOT carry — a clone is a new sink. After the clone the tables are
    * fully independent: every verb on either side is invisible to the
    * other, and — unlike Delta's shallow clone, which a source VACUUM can
    * break — links keep shared bytes alive until BOTH tables drop them.
    *
    * At 100 TB this is the cheap-branching verb (test a risky MERGE or a
    * migration against prod data without copying it): O(live files)
    * metadata operations, no data movement, and on an anchored source the
    * stats map never materializes on the driver (the dest checkpoint is
    * authored distributed from the linked anchor). */
  def cloneTo(spark: SparkSession, srcPath: String, destPath: String,
      asOf: Option[Long] = None): Long = {
    val (srcRoot, srcFs, c) = commitFor(spark, srcPath, asOf)
    val destRoot = new Path(destPath)
    val destFs = fs(spark, destRoot)
    require(new Path(srcPath).toUri.getPath != destRoot.toUri.getPath,
      s"CLONE: source and destination are the same table ($srcPath)")
    require(latestVersion(spark, destPath).isEmpty,
      s"$destPath: table already exists — CLONE creates a new table")
    destFs.mkdirs(new Path(destRoot, LogDir))
    // link (or copy) every live data file + DV sidecar under the SAME key;
    // a pre-existing dest file means a racing clone of the same source
    // already linked it (identical bytes) — the commit CAS below decides
    (c.files ++ c.dv).foreach(rel =>
      linkOrCopy(srcFs, destFs, new Path(srcRoot, rel), new Path(destRoot, rel)))
    // anchored source: link the anchor checkpoint dir too, so the dest's
    // own v1 checkpoint can be authored DISTRIBUTED from it (encodeCommit
    // anchorSrc) instead of forcing the stats map onto the driver — only
    // when the dest will actually take the checkpoint path (small clones
    // encode inline and the linked dir would just be orphan garbage)
    if (c.files.size > CkptInlineMaxFiles)
      c.ckptInfo.foreach { case (aRel, _) =>
        srcFs.listStatus(new Path(srcRoot, aRel)).filter(_.isFile).foreach(s =>
          linkOrCopy(srcFs, destFs, s.getPath,
            new Path(new Path(destRoot, aRel), s.getPath.getName)))
      }
    val v = 1L
    val (body, ckptDir) = encodeCommit(spark, destRoot, v, c.files,
      c.schema.json, c.stats, c.rows,
      txn = Map.empty, dv = c.dv, dvRows = c.dvRows,
      colMap = c.colMap, physDropped = c.physDropped,
      carriedIdentical = true, statsAddOnly = Some(Map.empty),
      anchorSrc = Some(c), props = Some(c.props), inheritWf = c.wf,
      // clones preserve row identity (Delta parity): same files, same ids
      rowIdSeed = Some((c.rowHwm, c.baseRow)))
    if (!tryCommit(destFs, destRoot, v, body)) {
      ckptDir.foreach(d => destFs.delete(d, true))
      throw new IllegalStateException(
        s"$destPath: a concurrent creator committed first — CLONE aborted " +
          "(its files are intact; this clone's staged links were shared keys)")
    }
    v
  }

  /** Hard-link `src` to `dst` when both live on a local filesystem (the
    * zero-copy path CLONE relies on); byte copy otherwise. An
    * already-present `dst` is left alone — identical content by key
    * construction. */
  private def linkOrCopy(sf: FileSystem, df: FileSystem,
      src: Path, dst: Path): Unit = {
    if (df.exists(dst)) return
    df.mkdirs(dst.getParent)
    val bothLocal = sf.getUri.getScheme == "file" && df.getUri.getScheme == "file"
    if (bothLocal) {
      val s = java.nio.file.Paths.get(src.toUri.getPath)
      val d = java.nio.file.Paths.get(dst.toUri.getPath)
      try { java.nio.file.Files.createLink(d, s); return }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => return
        case _: UnsupportedOperationException => // fall through to copy
        case _: java.nio.file.FileSystemException => // cross-device: copy
      }
    }
    org.apache.hadoop.fs.FileUtil.copy(sf, src, df, dst,
      false, sf.getConf)
  }

  /** Root-relative data files of a committed version (the manifest's file
    * list) — the observable commit contents; the streaming source derives
    * per-version appends from consecutive lists. */
  def filesOf(spark: SparkSession, path: String, v: Long): Seq[String] = {
    val (_, _, c) = commitFor(spark, path, Some(v))
    c.files
  }

  /** Whether every data file of version `v` is still present — the
    * time-travel READABILITY probe: vacuum may have reclaimed an old
    * version's files, and a consumer about to substitute that version
    * into a plan (the materialized-view rewrite answering a time-travel
    * query from view history) must decline rather than plant a
    * runtime-failing scan. O(files) driver existence checks — intended
    * for SMALL tables (views); probing a fact table's history this way
    * would be the wrong tool. */
  def versionReadable(spark: SparkSession, path: String, v: Long): Boolean = {
    val root = new Path(path)
    val f = fs(spark, root)
    filesOf(spark, path, v).forall(r => f.exists(new Path(root, r)))
  }

  /** What the streaming source needs of one version, from ONE manifest
    * resolution: the file list, the logical→physical column mapping (to
    * read appended files with their PHYSICAL schema; binding the pinned
    * logical schema directly against column-mapped files would stream
    * every mapped column as null), the partition columns, the schema and
    * the per-file deletion-vector mark counts. */
  private[graft] final case class VersionMeta(files: Seq[String],
      colMap: Map[String, String], partCols: Seq[String], schema: StructType,
      dvRows: Map[String, Long])

  private[graft] def versionMetaOf(spark: SparkSession, path: String,
      v: Long): VersionMeta = {
    val (_, _, c) = commitFor(spark, path, Some(v))
    VersionMeta(c.files, c.colMap, partitionColsOf(c.schema), c.schema, c.dvRows)
  }

  /** Per-file row counts, stats and mark counts of version `v`, with its
    * column mapping and dropped physical names: what a rewrite carries for
    * every file it keeps (the carry rule's spec surface). */
  private[graft] def carryMetaOf(spark: SparkSession, path: String, v: Long)
      : (Map[String, Long], DataSkipping.FileStats, Map[String, Long],
        Map[String, String], Set[String]) = {
    val (_, _, c) = commitFor(spark, path, Some(v))
    (c.rows, c.stats, c.dvRows, c.colMap, c.physDropped)
  }

  private def commitFor(spark: SparkSession, path: String,
      asOf: Option[Long]): (Path, FileSystem, Commit) = {
    val (root, f, _, c) = commitForV(spark, path, asOf)
    (root, f, c)
  }

  /** As [[commitFor]], also returning the RESOLVED version — for callers
    * that pin the snapshot identity into what they build (the relation's
    * materialized-view freshness anchor). */
  private def commitForV(spark: SparkSession, path: String,
      asOf: Option[Long]): (Path, FileSystem, Long, Commit) = {
    val root = new Path(path)
    val f = fs(spark, root)
    val v = asOf match {
      case Some(x) => // direct existence probe, no log listing
        require(f.exists(manifest(root, x)), s"$path has no version $x")
        x
      case None =>
        latestVersion(spark, path).getOrElse(noVersions(path))
    }
    (root, f, v, readManifest(spark, f, root, v))
  }

  /** Columns of a deletion-vector sidecar row: the data file's manifest key
    * and the 0-based row position within it (Spark's `_metadata.row_index`
    * hidden column — stable, because committed files are immutable). */
  val FileKeyCol = "__graft_dv_file"
  val RowIdxCol = "__graft_dv_row"

  /** ROW TRACKING (Delta's row-ID idiom). When the table property
    * [[RowTrackingKey]] is `true`, every row has a STABLE 64-bit identity
    * that survives copy-on-write rewrites (OPTIMIZE/MERGE/UPDATE/DELETE):
    *
    *  - every data file carries a `base_row` id in the manifest (assigned
    *    at commit time from the table's monotone `row_hwm` high watermark,
    *    advanced by the file's row count — both ride beside the per-file
    *    `rows` map, same driver-memory order, same checkpoint column
    *    treatment);
    *  - a FRESH file's row ids are `base_row + row_index` — computed, zero
    *    bytes in the data;
    *  - a REWRITE materializes the carried rows' CURRENT ids into the
    *    physical column [[RowIdCol]] inside the new files (null for rows
    *    the commit genuinely inserts, which then default to the new file's
    *    `base_row + row_index`), so identity survives reordering,
    *    bin-packing and z-ordering;
    *  - a row's id is therefore `coalesce(materialized, base + index)` —
    *    [[readWithRowIds]] exposes it, and the row-keyed change feed
    *    ([[changesWithRowIds]]) uses it to collapse rewritten-but-unchanged
    *    rows to NOTHING and to pair updates as pre/post images.
    *
    * Files never move between tables or versions under a different key, so
    * a base id assigned once is authoritative in every later manifest that
    * carries the file; verbatim re-encodes (vacuum re-anchor, clone,
    * restore) pass the source commit's assignment through `rowIdSeed`.
    * Mutators on builds without the feature are fenced by the
    * `rowtracking` WRITER feature; readers are unaffected (the extra
    * physical column is invisible to schema-bound reads). */
  val RowIdCol = "_graft_row_id"
  val RowTrackingKey = "graft.rowTracking"

  private def rowTrackingOn(props: Map[String, String]): Boolean =
    props.get(RowTrackingKey).exists(_.trim.equalsIgnoreCase("true"))

  /** Above this many marked rows, the DV anti-join drops its broadcast
    * hint and lets AQE pick the join side (a huge DV should be compacted
    * away with [[compact]]/[[zOrderBy]] rather than broadcast). */
  val DvBroadcastMaxRows = 2L * 1000 * 1000

  /** The effective mark-broadcast bound: [[DvBroadcastMaxRows]] unless
    * overridden via `spark.graft.dv.broadcastMaxRows` (lets specs exercise
    * the over-bound paths without millions of marked rows). */
  private def dvBroadcastBound(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dv.broadcastMaxRows")
      .map(_.toLong).getOrElse(DvBroadcastMaxRows)

  /** The commit's schema with PHYSICAL field names — what `spark.read
    * .schema(...)` must request so carried files bind the right bytes (a
    * re-added column's fresh physical name is absent from pre-drop files,
    * which therefore serve nulls, not their stale dropped column). */
  private def physSchema(c: Commit, s: StructType): StructType =
    if (c.colMap.isEmpty) s
    else StructType(s.fields.map(fl => fl.copy(name = c.physName(fl.name))))

  /** The partition fragment of a root-relative file: the `col=value`
    * directory segments whose key is a DECLARED (physical) partition
    * column, in path order. Two jobs depend on exactly this shape: value
    * parsing ([[rawPartValue]]) and partition GROUPING (autoCompact/
    * compact/SHOW PARTITIONS bucket files across commits by this key — a
    * fragment that included the per-commit token dir would put every
    * commit in its own group and quietly disable cross-commit
    * bin-packing). Token dirs never contain '='; CONVERTed layouts have
    * no token dir at all; both reduce to the same fragment. Restricting
    * to declared keys (rather than any '='-containing segment) keeps a
    * CONVERTed tree's incidental `name=value` subdirectories out of the
    * partition metadata — [[convertToGraft]] additionally refuses
    * adoption when such ambiguous segments are present. */
  private def partFragOf(rel: String, partKeys: Set[String]): String =
    rel.split('/').dropRight(1).filter { seg =>
      val i = seg.indexOf('=')
      i > 0 && partKeys(seg.substring(0, i))
    }.mkString("/")

  /** Physical names of the commit's declared partition columns — the only
    * keys [[partFragOf]] may treat as partition metadata. */
  private def partPhysOf(c: Commit): Set[String] =
    partitionColsOf(c.schema).map(c.physName).toSet

  /** The raw (hive-unescaped) value of partition column `physName` inside a
    * fragment; None for the hive null sentinel or an absent segment. */
  private def rawPartValue(frag: String, physName: String): Option[String] =
    frag.split('/').iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i > 0 && seg.substring(0, i) == physName) Some(seg.substring(i + 1))
      else None
    }.toSeq.headOption
      .filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
      .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName)

  private def physRead(spark: SparkSession, root: Path, c: Commit,
      s: StructType, files: Seq[String]): DataFrame =
    physReadKeyed(spark, root, c, s, files, withKeys = false)

  /** Physical-schema parquet read of `files` aliased to logical names,
    * with hive-partition values rebuilt from the paths, optionally carrying
    * ([[FileKeyCol]], [[RowIdxCol]]) for deletion-vector joins — the ONE
    * row-reading primitive behind the fallback/CDF/streaming/DV paths. */
  private def physReadKeyed(spark: SparkSession, root: Path, c: Commit,
      s: StructType, files: Seq[String], withKeys: Boolean): DataFrame = {
    val partCols = partitionColsOf(c.schema)
      .filter(s.fieldNames.contains)
    val partSet = partCols.toSet
    val dataS = StructType(s.fields.filterNot(fl => partSet(fl.name)))
    val raw = spark.read.schema(physSchema(c, dataS))
      .parquet(files.map(r => new Path(root, r).toString): _*)
    if (partCols.isEmpty && c.colMap.isEmpty && !withKeys) return raw
    val withMeta =
      if (partCols.isEmpty && !withKeys) raw
      else joinFileMeta(spark, raw, root, files,
        partCols.map(n => s(s.fieldIndex(n))), c.physName, withKeys)
    val dataCols = s.fields.map(fl =>
      (if (partSet(fl.name)) col(s"__graft_p_${fl.name}").cast(fl.dataType)
       else col(c.physName(fl.name))).as(fl.name)).toSeq
    withMeta.select(
      (if (withKeys) dataCols :+ col(FileKeyCol) :+ col(RowIdxCol) else dataCols): _*)
  }

  /** Rebuild per-file metadata onto a DataFrame read from `files` (which
    * therefore exposes `_metadata`): the manifest FILE KEY (`withKeys`,
    * with [[RowIdxCol]]) and one STRING column `__graft_p_<logical>` per
    * partition field — partition columns live in dir names, not in the
    * files. One broadcast lookup row per FILE, keyed by the ABSOLUTE
    * file_path string, rebuilt on the driver with the SAME rules that
    * produced `_metadata.file_path` (scheme + ':' + URI-RAW percent-
    * encoded path — see GraftBatchShim.rootAbsOf/encRel) — layout-
    * independent (token dirs, hive dirs, CONVERTed token-less trees at
    * any depth), unlike the previous d-token regex anchor, which silently
    * nulled every partition value on adopted files. Values are
    * hive-unescaped on the driver.
    *
    * Every `_metadata`-derived column is materialized BEFORE the join:
    * the hidden metadata column does not survive one. */
  private[graft] def joinFileMeta(spark: SparkSession, base: DataFrame,
      root: Path, files: Seq[String],
      partFields: Seq[org.apache.spark.sql.types.StructField],
      physName: String => String,
      withKeys: Boolean): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField}
    val rootAbs = org.apache.spark.sql.graft.GraftBatchShim.rootAbsOf(spark, root)
    // partition-values-only callers key by the DIRECTORY — one lookup row
    // per distinct dir, not per file (same values, far smaller broadcast
    // on many-files-per-dir tables); key-carrying callers key per file
    val keyed0 = base.withColumn("__graft_enc",
      if (withKeys) col("_metadata.file_path")
      else regexp_extract(col("_metadata.file_path"), "^(.*)/[^/]+$", 1))
    val keyed =
      if (withKeys) keyed0.withColumn(RowIdxCol, col("_metadata.row_index"))
      else keyed0
    val lookupSchema = StructType(
      (StructField("__graft_enc", StringType) +:
        (if (withKeys) Seq(StructField(FileKeyCol, StringType)) else Nil)) ++
        partFields.map(fl =>
          StructField(s"__graft_p_${fl.name}", StringType, nullable = true)))
    def enc(rel: String): String =
      org.apache.spark.sql.graft.GraftBatchShim.encRel(rel)
    val lookupRows: java.util.List[org.apache.spark.sql.Row] = {
      val rows =
        if (withKeys) {
          val partKeys = partFields.map(fl => physName(fl.name)).toSet
          files.distinct.map { rel =>
            org.apache.spark.sql.Row.fromSeq(
              Seq(rootAbs + enc(rel), rel) ++ partFields.map(fl =>
                rawPartValue(partFragOf(rel, partKeys), physName(fl.name)).orNull))
          }
        }
        else files.map(r => r.substring(0, r.lastIndexOf('/'))).distinct
          .map { dirRel =>
            org.apache.spark.sql.Row.fromSeq(
              (rootAbs + enc(dirRel)) +: partFields.map(fl =>
                rawPartValue(dirRel, physName(fl.name)).orNull))
          }
      java.util.Arrays.asList(rows: _*)
    }
    val lookup = spark.createDataFrame(lookupRows, lookupSchema)
    keyed.join(broadcast(lookup), Seq("__graft_enc"), "left")
      .drop("__graft_enc")
  }

  /** DataFrame over a subset of a commit's files, read with the commit's
    * recorded schema (files written before a schema evolution simply read
    * their missing columns as nulls). Rows marked deleted by the commit's
    * deletion vectors are filtered out with a file-key + row-index
    * anti-join — broadcast for point-delete-sized DVs, so the data side
    * stays narrow (no shuffle of the table to apply a small delete). */
  private def dataFrameFor(spark: SparkSession, root: Path, c: Commit,
      files: Seq[String]): DataFrame = {
    val s = c.schema
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
    // only files with marked rows need the anti-join at all
    else if (!files.exists(fk => c.dvRows.getOrElse(fk, 0L) > 0L))
      physRead(spark, root, c, s, files)
    else liveKeyed(spark, root, c, s, files, withIds = false)
      .select(s.fields.map(fl => col(fl.name)).toSeq: _*)
  }

  /** The commit's deletion-vector marks on `files` — broadcast while the
    * table's marks stay under [[dvBroadcastBound]]. */
  private def marksOn(spark: SparkSession, root: Path, c: Commit,
      files: Seq[String]): DataFrame = {
    val dvAll = spark.read.parquet(c.dv.map(r => new Path(root, r).toString): _*)
    val dvScoped =
      if (files.size == c.files.size) dvAll
      else dvAll.filter(col(FileKeyCol).isin(files: _*))
    if (c.dvRows.values.sum <= dvBroadcastBound(spark)) broadcast(dvScoped)
    else dvScoped
  }

  /** The LIVE rows of `files` (the commit's marks removed) with columns
    * `s` — any subset of the commit's — plus their ([[FileKeyCol]],
    * [[RowIdxCol]]) keys and, with `withIds`, their tracked id as
    * [[RowIdCol]]: the one keyed read behind [[rowIdFrame]], the MERGE
    * probe and the DV-delete scan. */
  private def liveKeyed(spark: SparkSession, root: Path, c: Commit,
      s: StructType, files: Seq[String], withIds: Boolean): DataFrame = {
    val sRead =
      if (withIds) StructType(s.fields :+ StructField(RowIdCol, LongType, nullable = true))
      else s
    val keyed = physReadKeyed(spark, root, c, sRead, files, withKeys = true)
    val live =
      if (!files.exists(fk => c.dvRows.getOrElse(fk, 0L) > 0L)) keyed
      else keyed.join(marksOn(spark, root, c, files), Seq(FileKeyCol, RowIdxCol), "left_anti")
    if (withIds) withTrackedIds(spark, c, files, live) else live
  }

  /** Resolve [[RowIdCol]] on a keyed read of `files`: the materialized id
    * where a previous rewrite wrote one (schema-bound parquet read: files
    * without the column read null), else the file's base id + row index —
    * one broadcast lookup row per file, like the DV/partition joins. */
  private def withTrackedIds(spark: SparkSession, c: Commit, files: Seq[String],
      keyed: DataFrame): DataFrame = {
    import spark.implicits._
    val lookup = files.map(fk => (fk, c.baseRow.get(fk))).toDF(FileKeyCol, "__graft_base")
    keyed.join(broadcast(lookup), Seq(FileKeyCol))
      .withColumn(RowIdCol, coalesce(col(RowIdCol), col("__graft_base") + col(RowIdxCol)))
      .drop("__graft_base")
  }

  /** The table with each row's TRACKED id exposed as [[RowIdCol]] (long):
    * `coalesce(materialized id, file base_row + row index)`. Requires row
    * tracking (see [[RowTrackingKey]]); DV-marked rows are filtered
    * exactly like [[read]]. */
  def readWithRowIds(spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    val (root, _, c) = commitFor(spark, path, asOf)
    require(c.baseRow.nonEmpty || c.files.isEmpty,
      s"$path: row tracking is not enabled — set TBLPROPERTIES " +
        s"('$RowTrackingKey'='true') and commit once")
    rowIdFrame(spark, root, c, c.files)
  }

  /** (data columns ++ [[RowIdCol]]) over a subset of a commit's files —
    * also the carried-row source for every CoW rewrite when tracking is
    * on, so ids survive the rewrite. */
  private def rowIdFrame(spark: SparkSession, root: Path, c: Commit,
      files: Seq[String]): DataFrame = {
    val s = c.schema
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(s.fields :+ StructField(RowIdCol, LongType, nullable = true)))
    else liveKeyed(spark, root, c, s, files, withIds = true)
      .select(s.fields.map(fl => col(fl.name)).toSeq :+ col(RowIdCol): _*)
  }

  /** The carried-row source for a CoW rewrite: id-materializing when the
    * commit tracks rows, the plain frame otherwise. Insert sides attach an
    * inherited or null id (see upsert); fresh rows then default to the new
    * file's base + index. */
  private def rewriteSource(spark: SparkSession, root: Path, c: Commit,
      files: Seq[String]): DataFrame =
    if (rowTrackingOn(c.props)) rowIdFrame(spark, root, c, files)
    else dataFrameFor(spark, root, c, files)

  /** Read the latest committed version, or `asOf` for time travel. The file
    * list and schema come from the commit manifest, so empty versions read
    * fine and no footer inference runs.
    *
    * Schema-recorded tables read through the [[GraftFileIndex]] RELATION
    * (the `format("graft-table")` batch path): any `.filter` the caller
    * composes later prunes files AT PLAN TIME via manifest stats — the
    * read-then-filter idiom no longer silently scans every file, and DV/
    * column mapping ride inside the file format instead of a join. Tables
    * whose deletion vectors exceed the broadcast bound keep the anti-join
    * read. */
  def read(spark: SparkSession, path: String, asOf: Option[Long] = None): DataFrame = {
    val (root, _, v, c) = commitForV(spark, path, asOf)
    if (relationEligible(spark, c))
      org.apache.spark.sql.graft.GraftBatchShim.ofRelation(spark,
        relationFor(spark, root, v, c))
    else dataFrameFor(spark, root, c, c.files)
  }

  /** Relation reads need driver-collectable deletion-vector marks (the
    * format applies them as a broadcast mark set; past the bound the
    * anti-join read scales better — and such a table should be purged, see
    * [[DefaultDvPurgeFraction]]). */
  private def relationEligible(spark: SparkSession, c: Commit): Boolean =
    c.files.iterator.map(fk => c.dvRows.getOrElse(fk, 0L)).sum <=
      dvBroadcastBound(spark)

  /** The `format("graft-table")` batch relation over one committed version:
    * plan-time file skipping (pushed filters → [[pruneFiles]], distributed
    * over checkpoint parquet), column mapping and deletion vectors inside
    * the scan, vectorized parquet + codegen preserved. Tables whose
    * deletion-vector marks exceed the broadcast bound get the
    * [[DvAntiJoinRelation]] fallback — same pruning, scalable shuffled
    * anti-join, no driver mark map — instead of OOMing the driver on
    * exactly the path the bound protects. */
  private[graft] def batchRelation(spark: SparkSession, path: String,
      asOf: Option[Long]): org.apache.spark.sql.sources.BaseRelation = {
    val (root, _, v, c) = commitForV(spark, path, asOf)
    if (relationEligible(spark, c)) relationFor(spark, root, v, c)
    else new DvAntiJoinRelation(spark, root, c)
  }

  private def relationFor(spark: SparkSession, root: Path, version: Long,
      c: Commit): org.apache.spark.sql.sources.BaseRelation =
    org.apache.spark.sql.graft.GraftBatchShim.relation(
      spark, root, c.schema, c.files,
      keep = {
        case Some(resolved) => pruneFiles(spark, root, c, resolved)._1
        case None => c.files
      },
      colMap = c.colMap,
      dvMarks = dvThunkFor(spark, root, c),
      partitionCols = partitionColsOf(c.schema),
      minMaxOf = minMaxOfCommit(c, _),
      ndvOf = ndvOfCommit(spark, root, c, _),
      // declared bucket layout → the scan reports HashPartitioning(cols, n)
      // and joins/aggs on the bucket key skip their exchange entirely
      bucketSpec = bucketSpecIn(c.props).map { case (cols, n) =>
        org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cols,
          bucketSortColsIn(c.props))
      },
      // registered materialized views + the pinned version — what licenses
      // the aggregate-rewrite rule to answer GROUP BY queries from a view
      // whose refresh watermark equals exactly this snapshot
      mvViews = MaterializedView.viewsIn(c.props),
      snapshotVersion = Some(version),
      // declared FOREIGN KEY + UNIQUE pins — what licenses join elimination
      fkProps = c.props.filter(kv =>
        kv._1.startsWith(ForeignKeys.Prefix) ||
          kv._1.startsWith(ForeignKeys.UniquePrefix)),
      // validated CHECK constraints of THIS pinned commit — what licenses
      // constraint-implied filter pruning (time-travel reads carry the
      // constraints that were in force at their version)
      checkConstraints = constraintsIn(c.props),
      // generation SQL for generated PARTITION columns only — licenses the
      // base-column → partition-filter derivation rule
      generatedPartDefs = {
        val parts = partitionColsOf(c.schema).toSet
        val zones = generatedZonesIn(c.props)
        generatedIn(c.props).collect { case (n, sql) if parts(n) =>
          n -> (sql, zones.get(n)) }
      },
      // exact snapshot row count from the manifest (DV marks are disjoint
      // per generation, so the subtraction is exact — same contract as
      // countRows)
      liveRows = Some(c.files.map(c.rows).sum -
        c.files.map(fk => c.dvRows.getOrElse(fk, 0L)).sum),
      // exact per-file live rows (same DV-disjointness contract) — the
      // partition-census rewrite's license
      fileRows = c.files.map(fk =>
        fk -> (c.rows(fk) - c.dvRows.getOrElse(fk, 0L))).toMap,
      // exact per-(file, column) bounds for census MIN/MAX of data columns
      // — per-file twin of minMaxOfCommit's refusal rules: a DV-marked
      // file could have lost its extremum, truncated string bounds are
      // outer not exact, a missing stat answers nothing; an all-NULL
      // column is a VALID answer that contributes no value
      fileMinMaxOf = (fk, column) =>
        if (c.dvRows.getOrElse(fk, 0L) > 0L) None
        // a zero-row file answers vacuously (parquet writes no column
        // chunks, so its stats map is empty — that is not "unknown")
        else if (c.rows.get(fk).contains(0L)) Some(None)
        else c.stats.get(fk).flatMap(_.get(column)) match {
          case None => None
          case Some(st) if st.allNulls => Some(None)
          case Some(st)
              if st.min.isEmpty || st.max.isEmpty || st.inexact => None
          case Some(st) => Some(Some((st.min.get, st.max.get)))
        },
      // exact per-(file, column) live NON-NULL count — the top-k prune
      // rule's counting side. DV marks could have removed either null or
      // non-null rows, so marked files answer nothing; a footer whose
      // chunk null counts were partially unset recorded neither bounds
      // nor allNulls, so requiring one of those keeps numNulls exact.
      // (Truncated string bounds taint only the BOUNDS — the null count
      // underneath is still exact, so `inexact` stats still count.)
      fileNonNullOf = (fk, column) =>
        if (c.dvRows.getOrElse(fk, 0L) > 0L) None
        else if (c.rows.get(fk).contains(0L)) Some(0L) // vacuous
        else c.stats.get(fk).flatMap(_.get(column))
          .filter(st => st.allNulls || (st.min.isDefined && st.max.isDefined))
          .map(st => if (st.allNulls) 0L else c.rows(fk) - st.numNulls),
      // exact per-(file, column) live SUM from ANALYZE — immutable files
      // keep it valid forever; DV marks could have removed any subset of
      // the summed rows, so marked files answer nothing
      fileSumOf = (fk, column) =>
        if (c.dvRows.getOrElse(fk, 0L) > 0L) None
        else if (c.rows.get(fk).contains(0L)) Some(BigDecimal(0)) // vacuous
        else c.stats.get(fk).flatMap(_.get(column)).flatMap(_.sum),
      // per-(file, column) sketch hashes from ANALYZE — each is the md5
      // of a real value of the IMMUTABLE file, so distinct-hash counts
      // lower-bound distinct values; DV marks may have removed any value,
      // so marked files answer nothing
      fileNdvHashesOf = (fk, column) =>
        if (c.dvRows.getOrElse(fk, 0L) > 0L) None
        else c.stats.get(fk).flatMap(_.get(column))
          .flatMap(st => st.ndv.map(h => (h, st.ndvRecipe))),
      // the boundary rewrite's gate: per-file driver iteration is free on
      // inline manifests, and on an anchored commit only once its lazy
      // stats map is already paid for — a COMMON shape (count-with-filter)
      // must never be what forces a million-file checkpoint's stats
      // column onto the driver
      statsDriverCheap = () => c.ckptInfo.isEmpty || c.statsRef.forced,
      // the DISTRIBUTED boundary walk's ingredients — everything here is
      // O(delta) or already driver-resident (added files' stats ride
      // statsAdds by construction; the checkpoint's stats column never
      // leaves the executors)
      boundaryDist = c.ckptInfo.map { case (aRel, aSet) =>
        val added = c.files.filterNot(aSet)
        org.apache.spark.sql.graft.GraftBoundaryDist(
          ckptRel = aRel,
          removed = aSet.diff(c.files.toSet),
          added = added,
          addedRows = added.flatMap(fk => c.rows.get(fk).map(fk -> _)).toMap,
          addedStats = added.flatMap(fk =>
            c.statsAdds.get(fk).map(fk -> _)).toMap,
          dvRows = c.dvRows.filter(_._2 > 0L))
      },
      // exact per-(file, colA, colB) JOINT null counts from ANALYZE —
      // keyed on the lexicographically-first column; DV marks could have
      // removed rows from any null bucket, so marked files answer nothing
      fileJointNullsOf = (fk, a, b) =>
        if (c.dvRows.getOrElse(fk, 0L) > 0L) None
        else {
          val (x, y) = if (a <= b) (a, b) else (b, a)
          c.stats.get(fk).flatMap(_.get(x)).flatMap(_.jointNulls.get(y))
        },
      // per-SET null-any from a 3+ column ANALYZE: keyed on the set's
      // first column, the map key naming the rest comma-joined
      fileNullAnyOf = (fk, set) =>
        if (c.dvRows.getOrElse(fk, 0L) > 0L || set.size < 3) None
        else {
          val s = set.sorted
          c.stats.get(fk).flatMap(_.get(s.head))
            .flatMap(_.nullAny.get(s.tail.mkString(",")))
        })

  /** Deletion-vector marks as a DEFERRED driver map (file key → sorted
    * marked row indices) for the scan-side filter; None when no live file
    * has marks (a manifest-only fact — no sidecar is opened to decide).
    * The thunk runs at the format's first reader build, so schema-only
    * relation uses never pay the sidecar scan, and marks for files no
    * longer live are filtered INSIDE that scan (executor-side), not
    * collected and discarded on the driver. Sidecars are
    * point-delete-sized by contract ([[relationEligible]] bounds the total;
    * auto-purge rewrites past [[DefaultDvPurgeFraction]]). */
  /** Diagnostic: number of DV sidecar collects (spec-asserts the thunk's
    * laziness — schema-only relation uses must not bump it). */
  private[sources] val dvMarkLoads = new java.util.concurrent.atomic.AtomicLong(0L)

  private def dvThunkFor(spark: SparkSession, root: Path,
      c: Commit): Option[() => Map[String, Array[Long]]] = {
    val marked = c.files.filter(fk => c.dvRows.getOrElse(fk, 0L) > 0L)
    if (marked.isEmpty) None
    else Some { () =>
      dvMarkLoads.incrementAndGet()
      spark.read.parquet(c.dv.map(r => new Path(root, r).toString): _*)
        .select(col(FileKeyCol), col(RowIdxCol))
        .filter(col(FileKeyCol).isin(marked: _*))
        .collect()
        .groupBy(_.getString(0))
        .map { case (k, rs) => k -> rs.map(_.getLong(1)).sorted.toArray }
    }
  }

  /** Best-effort translation of a pushed DSv1 filter to a Column. A
    * translated predicate is always IMPLIED BY the original (And may keep
    * one side — weaker), so it is safe both for [[pruneFiles]] (skipping
    * only what provably fails a weaker predicate is conservative) and as a
    * row filter (Spark re-applies the full original above the scan).
    * Under Not, polarity flips, so `exact` forbids the And relaxation:
    * Not(And(x, dropped)) would be STRONGER than the original. */
  /** Column ref treating the name as a LITERAL top-level column — bare
    * `col()` parses dots as struct-field access, which would misbind a
    * column literally named "a.b". Manifest schemas are flat at the top
    * level and DSv1 never pushes nested attributes, so literal binding is
    * always the right reading here. */
  private def litCol(n: String): Column = col(s"`${n.replace("`", "``")}`")

  private def filterToColumn(f: org.apache.spark.sql.sources.Filter,
      exact: Boolean = false): Option[Column] = {
    import org.apache.spark.sql.{sources => s}
    f match {
      case s.EqualTo(a, v) => Some(litCol(a) === lit(v))
      case s.EqualNullSafe(a, v) => Some(litCol(a) <=> lit(v))
      case s.GreaterThan(a, v) => Some(litCol(a) > lit(v))
      case s.GreaterThanOrEqual(a, v) => Some(litCol(a) >= lit(v))
      case s.LessThan(a, v) => Some(litCol(a) < lit(v))
      case s.LessThanOrEqual(a, v) => Some(litCol(a) <= lit(v))
      case s.In(a, vs) => Some(litCol(a).isin(vs.toSeq: _*))
      case s.IsNull(a) => Some(litCol(a).isNull)
      case s.IsNotNull(a) => Some(litCol(a).isNotNull)
      case s.StringStartsWith(a, v) => Some(litCol(a).startsWith(v))
      case s.StringEndsWith(a, v) => Some(litCol(a).endsWith(v))
      case s.StringContains(a, v) => Some(litCol(a).contains(v))
      case s.And(l, r) => (filterToColumn(l, exact), filterToColumn(r, exact)) match {
        case (Some(x), Some(y)) => Some(x && y)
        case _ if exact => None
        case (one, other) => one.orElse(other)
      }
      case s.Or(l, r) =>
        for { x <- filterToColumn(l, exact); y <- filterToColumn(r, exact) }
          yield x || y
      case s.Not(c) => filterToColumn(c, exact = true).map(!_)
      case _ => None
    }
  }

  /** Fallback `format("graft-table")` relation for tables whose
    * deletion-vector marks exceed the broadcast bound: pushed filters still
    * prune files at plan time (PrunedFilteredScan → [[pruneFiles]]), and
    * the marks apply through [[dataFrameFor]]'s SHUFFLED anti-join — no
    * driver mark map, no broadcast, so the scan scales with the cluster
    * instead of the driver heap. Rows cross one Row→InternalRow conversion
    * (the price of staying on public DSv1 APIs); a table in this state
    * should purge its DVs ([[purgeDeletes]]) to return to the fast path. */
  private final class DvAntiJoinRelation(spark: SparkSession, root: Path,
      c: Commit) extends org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.PrunedFilteredScan {
    override def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    override val schema: StructType =
      org.apache.spark.sql.graft.GraftBatchShim.nullable(c.schema)
    override def toString: String = s"GraftDvAntiJoin(${c.files.size} files)"
    override def buildScan(requiredColumns: Array[String],
        filters: Array[org.apache.spark.sql.sources.Filter])
        : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
      val pred = filters.flatMap(filterToColumn(_)).reduceOption(_ && _)
      val kept = pred match {
        case Some(p) =>
          pruneFiles(spark, root, c, DataSkipping.resolve(spark, c.schema, p))._1
        case None => c.files
      }
      val df = dataFrameFor(spark, root, c, kept)
      // applying the (implied) predicate here cuts rows before the Row
      // conversion; Spark re-applies the full filters above regardless
      val filtered = pred.fold(df)(df.filter)
      filtered.select(requiredColumns.map(litCol).toSeq: _*).rdd
    }
  }

  /** The CDF tag column appended to a table schema — ONE definition for
    * the batch relation, the streaming source's pinned schema, and the
    * provider's sourceSchema (they must agree or MicroBatchExecution's
    * column-count assert trips). Idempotent for caller-supplied schemas
    * that already carry the tag. */
  private[graft] def withChangeType(base: StructType): StructType =
    if (base.fieldNames.contains("_change_type")) base
    else StructType(base.fields :+ org.apache.spark.sql.types.StructField(
      "_change_type", org.apache.spark.sql.types.StringType, nullable = false))

  /** The CDF frame for versions (fromV, toV] — ONE definition for batch
    * and streaming: fromV = 0 serves the toV snapshot as inserts (initial
    * load); otherwise the row-level diff with bidirectional DV marks. */
  private[graft] def changeDf(spark: SparkSession, path: String,
      fromV: Long, toV: Long): DataFrame =
    if (fromV <= 0L)
      read(spark, path, Some(toV)).withColumn("_change_type", lit("insert"))
    else changes(spark, path, fromV, toV)

  /** BATCH change-feed relation (Delta's `table_changes`) for the
    * `format("graft-table")` read path: the row-level diff of versions
    * (fromV, toV], tagged `_change_type`. Plans lazily; the frame is
    * resolved ONCE and shared by schema and buildScan. */
  private[graft] def changesRelation(spark: SparkSession, path: String,
      fromV: Long, toV: Long): org.apache.spark.sql.sources.BaseRelation = {
    require(fromV >= 0L && toV > math.max(fromV - 1L, 0L),
      s"$path: invalid change-feed range ($fromV, $toV]")
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      private lazy val frame: DataFrame = changeDf(spark, path, fromV, toV)
      override def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
      override lazy val schema: StructType = frame.schema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        frame.rdd
      override def toString: String = s"GraftChanges($fromV,$toV]"
    }
  }

  /** The row-keyed CDF frame for versions (fromV, toV] — the
    * [[changeDf]] twin: fromV = 0 serves the toV snapshot as inserts with
    * ids (initial load); otherwise the id-keyed diff. ONE definition for
    * the batch relation, the TVF, and the streaming source's row mode. */
  private[graft] def rowChangeDf(spark: SparkSession, path: String,
      fromV: Long, toV: Long): DataFrame =
    if (fromV <= 0L)
      readWithRowIds(spark, path, Some(toV))
        .withColumn("_change_type", lit("insert"))
    else changesWithRowIds(spark, path, fromV, toV)

  /** The CDF tag + row id columns appended to a table schema — the
    * streaming row mode's pinned-schema twin of [[withChangeType]]. */
  private[graft] def withRowChangeType(base: StructType): StructType =
    withChangeType(
      if (base.fieldNames.contains(RowIdCol)) base
      else StructType(base.fields :+
        StructField(RowIdCol, LongType, nullable = true)))

  /** The [[changesWithRowIds]] twin of [[changesRelation]] — backs the
    * `graft_row_changes` table-valued function and the batch
    * `readRowChanges` format option. */
  private[graft] def rowChangesRelation(spark: SparkSession, path: String,
      fromV: Long, toV: Long): org.apache.spark.sql.sources.BaseRelation = {
    require(fromV >= 0L && toV > math.max(fromV - 1L, 0L),
      s"$path: invalid change-feed range ($fromV, $toV]")
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      private lazy val frame: DataFrame = rowChangeDf(spark, path, fromV, toV)
      override def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
      override lazy val schema: StructType = frame.schema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        frame.rdd
      override def toString: String = s"GraftRowChanges($fromV,$toV]"
    }
  }

  /** `count(*)` from the manifest alone — zero data files opened; every
    * manifest records a row count per file, so the answer is always
    * present. At any scale this is the most common query, and it costs one
    * small JSON read. */
  def countRows(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Long = {
    val (_, _, c) = commitFor(spark, path, asOf)
    // deletion-vector generations mark disjoint row sets (each is computed
    // over the DV-applied view), so the subtraction is exact
    c.files.map(c.rows).sum - c.files.map(fk => c.dvRows.getOrElse(fk, 0L)).sum
  }

  /** SHOW PARTITIONS from the manifest alone: one row per live partition
    * value — (display fragment under LOGICAL names, live file count, exact
    * row count with DV-deleted rows subtracted). Zero data files opened,
    * zero directory listings: partition values come from the file keys the
    * manifest already holds, so the statement is O(live files) driver work
    * — the same order as planning any read. Refused on unpartitioned
    * tables. */
  def partitionsOf(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Seq[(String, Int, Long)] = {
    val (_, _, c) = commitFor(spark, path, asOf)
    val partCols = partitionColsOf(c.schema)
    require(partCols.nonEmpty, s"$path is not partitioned")
    c.files.groupBy(partFragOf(_, partPhysOf(c))).toSeq.map { case (frag, fs) =>
      // display under LOGICAL names (the fragment holds physical ones)
      val display = partCols.map { n =>
        val shown = rawPartValue(frag, c.physName(n))
          .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName)
          .getOrElse("__HIVE_DEFAULT_PARTITION__")
        s"$n=$shown"
      }.mkString("/")
      (display, fs.size,
        fs.map(c.rows).sum - fs.map(fk => c.dvRows.getOrElse(fk, 0L)).sum)
    }.sortBy(_._1)
  }

  /** Exact MIN/MAX of a stats column from the manifest alone — zero data
    * files opened (the metadata twin of [[countRows]]; parquet chunk
    * statistics are exact whenever recorded, and collection drops columns
    * whose stats the writer omitted or that we can't represent — see
    * DataSkipping — so a present bound is a true bound). Answers None when
    * any file lacks a usable bound for the column, when every file is
    * all-null (SQL MIN/MAX would be NULL), or when ANY deletion-vector
    * mark exists — a marked row could BE the extremum, making manifest
    * bounds merely outer. Values come back in the stats domain
    * (BigDecimal for numerics, String for strings). */
  def minMaxFromStats(spark: SparkSession, path: String, column: String,
      asOf: Option[Long] = None): Option[(Any, Any)] = {
    val (_, _, c) = commitFor(spark, path, asOf)
    minMaxOfCommit(c, column)
  }

  /** ANALYZE ... COMPUTE NDV: collect a per-file KMV sketch
    * ([[graft.functions.KmvHashesAgg]], k = [[NdvSketchK]]) for each of
    * `cols` over the live rows (DV-marked rows excluded) and commit the
    * table with the sketches merged into its per-file manifest stats — a
    * stats-only commit, same files, same schema. One column-pruned
    * distributed scan. On a checkpoint-anchored table past
    * [[CkptInlineMaxFiles]] the new checkpoint is AUTHORED DISTRIBUTED
    * (the sketch frame joins the anchor rows on the executors via
    * writeCkptFromAnchor's ndvMerge channel) and the driver only ever
    * holds the post-anchor adds' sketches; on inline-manifest tables the
    * merge is the O(files × cols × k) driver map those tables already
    * carry. Plan time then answers NDV by unioning
    * the per-file sketches ([[ndvFromStats]]), which is what licenses
    * CBO-lite broadcast decisions on filtered graft scans
    * (GraftNdvJoinEstimation). Files appended AFTER the analyze carry no
    * sketch; their values go uncounted, which UNDERestimates NDV and
    * therefore OVERestimates a filter's surviving size — the conservative
    * direction for a broadcast decision — until the next analyze. */
  def analyzeNdv(spark: SparkSession, path: String, cols: Seq[String],
      incremental: Boolean = false): Long =
    analyzeNdvInfo(spark, path, cols, incremental)._1

  /** [[analyzeNdv]] plus the file keys it actually scanned — the hook an
    * incremental-analyze caller (or spec) uses to pin that an append
    * re-analyzed ONLY the new files. */
  def analyzeNdvInfo(spark: SparkSession, path: String, cols: Seq[String],
      incremental: Boolean = false): (Long, Seq[String]) = {
    require(cols.nonEmpty, "analyzeNdv needs at least one column")
    val root = new Path(path)
    var analyzed: Seq[String] = Nil
    val committed = commitLoop(spark, path, "analyze") { head =>
      val (b, c) = head.getOrElse(noVersions(path))
      analyzed = Nil
      val s = c.schema
      val missing = cols.filterNot(s.fieldNames.contains)
      require(missing.isEmpty,
        s"$path: ANALYZE names missing column(s): ${missing.mkString(",")}")
      // INCREMENTAL: scan only the files still needing a sketch for some
      // requested column — the steady-state cost of keeping dictionary
      // pruning and NDV gates fresh across appends is O(new files), not
      // O(table). Every append otherwise silently stales them.
      lazy val needy = needsSketch(spark, root, c, s, cols)
      if (c.files.isEmpty) Left(b)
      else if (incremental && needy.isEmpty &&
          cols.forall(ndvColsIn(c.props).contains))
        Left(b) // fully covered: nothing to scan, no commit
      else {
        val todo: Seq[String] =
          if (!incremental || needy.isEmpty) c.files // roster drifted: re-prove fully
          else needy
        analyzed = todo
        val sub = StructType(s.fields.filter(fl => cols.contains(fl.name)))
        val keyed0 = physReadKeyed(spark, root, c, sub, todo, withKeys = true)
        val keyed =
          if (!todo.exists(fk => c.dvRows.getOrElse(fk, 0L) > 0L)) keyed0
          else keyed0.join(
            spark.read.parquet(c.dv.map(r => new Path(root, r).toString): _*)
              .select(col(FileKeyCol), col(RowIdxCol)),
            Seq(FileKeyCol, RowIdxCol), "left_anti")
        // one patch per (file, column): the KMV sketch, the EXACT sum (for
        // integral/decimal columns — cast into a 38-digit decimal so the
        // fold is loss-free; floating sums are not order-exact and skip),
        // and the non-null count (disambiguates an all-null file's sum 0
        // from an overflowed fold's null) — serialized as one JSON string
        // so the executor-side checkpoint merge channel stays a simple
        // string map
        val sumEligible: Set[String] = cols.filter(n =>
          sumExactType(s(s.fieldIndex(n)).dataType)).toSet
        def patchExpr(n: String): Column = {
          val sumC: Column = s(s.fieldIndex(n)).dataType match {
            case d: org.apache.spark.sql.types.DecimalType =>
              sum(col(n).cast(org.apache.spark.sql.types
                .DecimalType(38, d.scale))).cast("string")
            case t if sumExactType(t) =>
              sum(col(n).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
                .cast("string")
            case _ => lit(null).cast("string")
          }
          // JOINT null counts for every requested pair this column leads
          // (lexicographically) — the two-nullable boundary composition's
          // license; zero counts are recorded too (absence means unknown)
          val pairs = cols.filter(_ > n).sorted
          // per-SET null-any count for a 3+ column ANALYZE, recorded once
          // on the set's lexicographically-first column: rows null in >= 1
          // requested column — `rows − nullAny` is then the exact all-non-
          // null count the boundary walk needs past two nullables
          val naKey: Option[String] =
            if (cols.size >= 3 && n == cols.min)
              Some(cols.sorted.filterNot(_ == n).mkString(","))
            else None
          val fields = Seq(
            graft.functions.KmvHashesAgg(col(n), NdvSketchK).as("ndv"),
            sumC.as("sum"), count(col(n)).as("cnt")) ++
            (if (pairs.isEmpty) Nil
             else Seq(map(pairs.flatMap(m => Seq(lit(m),
               sum(when(col(n).isNull && col(m).isNull, 1L)
                 .otherwise(0L)))): _*).as("jn"))) ++
            naKey.map(k => map(lit(k),
              sum(when(cols.map(col(_).isNull).reduce(_ || _), 1L)
                .otherwise(0L))).as("na")).toSeq
          to_json(struct(fields: _*)).as(n)
        }
        val sketchDf = keyed.groupBy(col(FileKeyCol))
          .agg(patchExpr(cols.head), cols.tail.map(patchExpr): _*)
        val v = b + 1L
        // the analyzed-column roster rides TBLPROPERTIES so plan-time
        // consumers can answer "is there a sketch for this column?" from the
        // O(1) manifest head WITHOUT forcing the lazy checkpoint stats map —
        // ndvOfCommit gates on it, keeping un-analyzed reads zero-cost
        val roster = (ndvColsIn(c.props) ++ cols).distinct.sorted
        val nextProps = c.props + (NdvColsKey -> roster.mkString(","))
        val (body, ckptDir) =
          if (c.ckptInfo.isDefined && c.files.size > CkptInlineMaxFiles) {
            // DISTRIBUTED authoring: the sketch frame joins the anchor
            // checkpoint rows on the EXECUTORS (writeCkptFromAnchor's
            // ndvMerge channel); only the post-anchor adds' sketches —
            // O(changed files) by construction — come back to the driver.
            // The full stats map is NEVER materialized here: a million-file
            // ANALYZE costs one column-pruned data scan plus one
            // checkpoint-sized Spark job, same as any other anchored ride.
            sketchDf.persist() // scanned once for adds, once for the ride
            val aSet = c.ckptInfo.get._2
            val addKeys = c.files.filterNot(aSet)
            val addSk: Map[String, Map[String, String]] =
              if (addKeys.isEmpty) Map.empty
              else sketchDf.filter(col(FileKeyCol).isInCollection(addKeys))
                .collect().map(r => r.getString(0) -> cols.map(n =>
                  n -> r.getAs[String](n)).toMap)
                .toMap
            val addStats: DataSkipping.FileStats = addKeys.map { fk =>
              val prior = c.statsAdds.getOrElse(fk, Map.empty)
              fk -> (prior ++ addSk.getOrElse(fk, Map.empty).map { case (n, js) =>
                n -> DataSkipping.applyAnalyzePatch(
                  prior.getOrElse(n,
                    DataSkipping.ColStat(None, None, 0L, allNulls = false)),
                  js, sumEligible(n))
              })
            }.toMap
            try encodeCommit(spark, root, v, c.files, s.json,
              stats = c.stats, // by-name: never forced on this path
              rows = c.rows, txn = c.txn, dv = c.dv, dvRows = c.dvRows,
              parent = Some(c), forceFull = true,
              colMap = c.colMap, physDropped = c.physDropped,
              statsAddOnly = Some(addStats),
              ndvMerge = Some((sketchDf, cols, sumEligible)),
              props = Some(nextProps))
            finally sketchDf.unpersist()
          } else {
            // inline/small tables: merge on the driver (stats are already
            // driver-resident at this size)
            val sketches: Map[String, Map[String, String]] =
              sketchDf.collect().map { r =>
                r.getString(0) -> cols.map(n => n -> r.getAs[String](n)).toMap
              }.toMap
            val newStats: DataSkipping.FileStats = c.files.map { fk =>
              val prior = c.stats.getOrElse(fk, Map.empty)
              val sk = sketches.getOrElse(fk, Map.empty)
              fk -> (prior ++ sk.map { case (n, js) =>
                n -> DataSkipping.applyAnalyzePatch(
                  prior.getOrElse(n,
                    DataSkipping.ColStat(None, None, 0L, allNulls = false)),
                  js, sumEligible(n))
              })
            }.toMap
            // carried stats CHANGED → not delta-expressible; encodes full
            encodeCommit(spark, root, v, c.files, s.json,
              newStats, c.rows, c.txn, c.dv, c.dvRows, parent = Some(c),
              colMap = c.colMap, physDropped = c.physDropped,
              props = Some(nextProps))
          }
        Right(Staged(v, body, ckptDir))
      }
    }
    (committed, analyzed)
  }

  /** Types whose SUM is exactly representable in the manifest stats:
    * integral and decimal (the fold rides a 38-digit decimal). Floating
    * sums are not order-exact and never record. */
  private def sumExactType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }

  /** Files of `c` still needing an ANALYZE for any of `cols`: no sketch,
    * or a BINARY column's sketch written under a pre-content hash recipe
    * (not plan-time probe-able — see [[DataSkipping.ColStat.ndvRecipe]]).
    * Anchored tables answer from the checkpoint parquet DISTRIBUTED (one
    * checkpoint-sized job; the full stats map never lands on the driver),
    * with driver-known statsAdds covering the post-anchor files. */
  private def needsSketch(spark: SparkSession, root: Path, c: Commit,
      s: StructType, cols: Seq[String]): Seq[String] = {
    val binCols: Set[String] = cols.filter(n =>
      s(s.fieldIndex(n)).dataType ==
        org.apache.spark.sql.types.BinaryType).toSet
    val sumCols: Set[String] = cols.filter(n =>
      sumExactType(s(s.fieldIndex(n)).dataType)).toSet
    // jn coverage: the pairs this ANALYZE will record must already exist
    // (two single-column analyzes leave the pair unrecorded — the file
    // then re-analyzes so two-nullable boundary composition stays armed)
    val pairsOf: Map[String, Seq[String]] =
      cols.map(n => n -> cols.filter(_ > n).sorted).toMap
    // na coverage: a 3+ column ANALYZE also records the per-SET null-any
    // count on the set's first column — absent (e.g. the set grew since)
    // means the file re-analyzes
    val naOf: Map[String, Option[String]] = cols.map(n => n ->
      (if (cols.size >= 3 && n == cols.min)
        Some(cols.sorted.filterNot(_ == n).mkString(","))
      else None)).toMap
    def covered(st: Map[String, DataSkipping.ColStat], n: String): Boolean =
      st.get(n).exists(cs => cs.ndv.isDefined &&
        (!binCols(n) || cs.ndvRecipe >= DataSkipping.NdvRecipeCurrent) &&
        (!sumCols(n) || cs.sum.isDefined) &&
        pairsOf(n).forall(cs.jointNulls.contains) &&
        naOf(n).forall(cs.nullAny.contains))
    // a zero-row file has nothing to sketch (its scan emits no patch row,
    // so it would stay "needy" forever and defeat the nothing-to-scan
    // fast path)
    def zeroRows(fk: String): Boolean = c.rows.get(fk).contains(0L)
    distributedNdvRead(spark, root, c) match {
      case Some((aRel, aSet)) =>
        import spark.implicits._
        val colsB = cols
        val binB = binCols
        val sumB = sumCols
        val pairsB = pairsOf
        val naB = naOf
        val okFromCkpt: Set[String] =
          spark.read.parquet(new Path(root, aRel).toString)
            .select(col("path"), col("stats"))
            .as[(String, Option[String])]
            .mapPartitions(_.collect { case (p, Some(st))
                if {
                  val m = DataSkipping.colsFromJson(st)
                  colsB.forall(n => m.get(n).exists(cs => cs.ndv.isDefined &&
                    (!binB(n) ||
                      cs.ndvRecipe >= DataSkipping.NdvRecipeCurrent) &&
                    (!sumB(n) || cs.sum.isDefined) &&
                    pairsB(n).forall(cs.jointNulls.contains) &&
                    naB(n).forall(cs.nullAny.contains)))
                } => p })
            .collect().toSet
        c.files.filterNot(zeroRows).filter { fk =>
          if (aSet(fk)) !okFromCkpt(fk)
          else !cols.forall(covered(c.statsAdds.getOrElse(fk, Map.empty), _))
        }
      case None =>
        c.files.filterNot(zeroRows).filter(fk =>
          !cols.forall(covered(c.stats.getOrElse(fk, Map.empty), _)))
    }
  }

  /** Width of the persisted NDV sketches: k smallest hashes per column per
    * file (~1/sqrt(k) relative error ≈ 18% — plenty for order-of-magnitude
    * broadcast decisions, small enough that a sketch costs ~1 KB of
    * manifest per column per file). */
  val NdvSketchK = 32

  /** Plan-time NDV for `column` at the head version: union the per-file
    * sketches across live files. None when no live file carries one. */
  def ndvFromStats(spark: SparkSession, path: String, column: String,
      asOf: Option[Long] = None): Option[Long] = {
    val (root, _, c) = commitFor(spark, path, asOf)
    ndvOfCommit(spark, root, c, column)
  }

  /** Columns with manifest NDV sketches, from the property roster — the
    * O(1) gate that keeps [[ndvOfCommit]] from forcing the lazy
    * checkpoint stats map on tables that were never analyzed. */
  val NdvColsKey = "graft.ndvCols"
  private def ndvColsIn(props: Map[String, String]): Seq[String] =
    props.get(NdvColsKey).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** Fraction of live rows living in files WITHOUT a sketch for `column`
    * — the operational re-ANALYZE signal (uncounted rows underestimate
    * NDV, which conservatively widens size estimates until the next
    * analyze). None when the column was never analyzed; 0.0 means the
    * sketches are fully current. Manifest-only, zero data files opened. */
  def ndvStaleness(spark: SparkSession, path: String, column: String,
      asOf: Option[Long] = None): Option[Double] = {
    val (root, _, c) = commitFor(spark, path, asOf)
    if (!ndvColsIn(c.props).contains(column)) return None
    if (c.files.isEmpty) return Some(0.0)
    val total = c.files.map(c.rows).sum
    if (total == 0L) return Some(0.0)
    // which live files carry a sketch for `column`: answered off the
    // checkpoint ON THE EXECUTORS for anchored tables (the returned key
    // set is the same driver-memory order as c.files itself), off the
    // in-memory map otherwise
    val sketched: Set[String] = distributedNdvRead(spark, root, c) match {
      case Some((aRel, aSet)) =>
        import spark.implicits._
        val live = c.files.toSet
        val colName = column
        val fromCkpt = spark.read.parquet(new Path(root, aRel).toString)
          .select(col("path"), col("stats"))
          .as[(String, Option[String])]
          .mapPartitions(_.collect { case (p, Some(s))
            if DataSkipping.colsFromJson(s).get(colName).exists(_.ndv.isDefined) => p })
          .collect().toSet.intersect(live)
        fromCkpt ++ c.files.filterNot(aSet).filter(fk =>
          c.statsAdds.get(fk).flatMap(_.get(colName)).exists(_.ndv.isDefined))
      case None =>
        c.files.filter(fk =>
          c.stats.get(fk).flatMap(_.get(column)).flatMap(_.ndv).isDefined).toSet
    }
    val uncounted = c.files.filterNot(sketched).map(c.rows).sum
    Some(uncounted.toDouble / total)
  }

  /** When plan-time NDV consumers should read sketches DISTRIBUTED off the
    * checkpoint parquet instead of forcing the full stats map onto the
    * driver: the commit is checkpoint-anchored, past the inline bound, and
    * nobody has paid for the in-memory map yet. Returns the anchor
    * (rel path, anchor file set) to read from. */
  private def distributedNdvRead(spark: SparkSession, root: Path,
      c: Commit): Option[(String, Set[String])] =
    c.ckptInfo.filter(_ =>
      c.files.size > CkptInlineMaxFiles && !c.statsRef.forced)

  private def ndvOfCommit(spark: SparkSession, root: Path, c: Commit,
      column: String): Option[Long] = {
    if (c.files.isEmpty) return None
    if (!ndvColsIn(c.props).contains(column)) return None
    // deletion-vector marks make the sketches stale in the UNSAFE
    // direction: a value-skewed DV delete can leave live NDV far below
    // the sketched one, shrinking the size estimate enough to broadcast a
    // huge side. Refuse like minMaxOfCommit does — REORG PURGE/OPTIMIZE
    // (or the next ANALYZE) re-enables.
    if (c.files.exists(fk => c.dvRows.getOrElse(fk, 0L) > 0L)) return None
    val sketches: Seq[Seq[String]] = distributedNdvRead(spark, root, c) match {
      case Some((aRel, aSet)) =>
        // k-smallest of the union computes DISTRIBUTED: executors parse
        // each anchored file's stats JSON and emit the column's hashes; a
        // TakeOrdered brings back at most k strings. Files removed since
        // the anchor (O(delta) by construction) are filtered out; files
        // added since carry driver-known statsAdds. Same plan-time cost
        // class as the distributed prune path.
        val removed = aSet.diff(c.files.toSet)
        val colName = column
        import spark.implicits._
        val fromCkpt: Seq[String] =
          spark.read.parquet(new Path(root, aRel).toString)
            .select(col("path"), col("stats"))
            .as[(String, Option[String])]
            .mapPartitions(_.flatMap { case (p, st) =>
              if (removed.contains(p)) Iterator.empty
              else st.iterator.flatMap(s =>
                DataSkipping.colsFromJson(s).get(colName)
                  .flatMap(_.ndv).getOrElse(Seq.empty))
            })
            .toDF("h").distinct() // KMV sketches are DISTINCT-hash sets —
            // dedup before the k-truncation or a value shared across files
            // could crowd a genuine distinct hash out of the window
            .orderBy(col("h")).limit(NdvSketchK)
            .as[String].collect().toSeq
        val fromAdds: Seq[Seq[String]] = c.files.filterNot(aSet).flatMap(fk =>
          c.statsAdds.get(fk).flatMap(_.get(colName)).flatMap(_.ndv))
        (if (fromCkpt.isEmpty) Seq.empty else Seq(fromCkpt)) ++ fromAdds
      case None =>
        c.files.flatMap(fk =>
          c.stats.get(fk).flatMap(_.get(column)).flatMap(_.ndv))
    }
    if (sketches.isEmpty) None
    else Some(graft.functions.KmvSketchAgg.estimate(
      graft.functions.KmvSketchAgg.merge(sketches, NdvSketchK), NdvSketchK))
  }

  private def minMaxOfCommit(c: Commit, column: String): Option[(Any, Any)] = {
    if (c.files.isEmpty) return None
    if (c.files.exists(fk => c.dvRows.getOrElse(fk, 0L) > 0L)) return None
    // a ZERO-ROW file contributes nothing vacuously — its empty stats map
    // (parquet writes no column chunks) is not "unknown", and refusing on
    // it would poison table-level bounds for every consumer
    val live = c.files.filterNot(fk => c.rows.get(fk).contains(0L))
    if (live.isEmpty) return None
    val perFile = live.map(fk => c.stats.get(fk).flatMap(_.get(column)))
    if (perFile.exists(_.isEmpty)) return None
    val bounds = perFile.flatten.filterNot(_.allNulls)
    if (bounds.isEmpty) return None // MIN/MAX over zero non-null rows is NULL
    if (bounds.exists(st => st.min.isEmpty || st.max.isEmpty)) return None
    // TRUNCATED string bounds are outer, not exact — the true extremum may
    // lie strictly inside them; metadata MIN/MAX must refuse, not lie
    if (bounds.exists(_.inexact)) return None
    Some((bounds.map(_.min.get).min(DataSkipping.statOrdering),
      bounds.map(_.max.get).max(DataSkipping.statOrdering)))
  }

  /** Data-skipping read: open ONLY the files whose manifest min/max stats
    * admit rows satisfying `predicate`, then apply the full predicate to
    * the surviving rows — pruning can only drop provably-dead files, never
    * change the result (files or columns without stats are always kept).
    * On a z-ordered table with stats on the clustering columns this is the
    * Delta OPTIMIZE+ZORDER scan path: a selective query at 100 TB touches
    * the handful of files whose z-tiles intersect the predicate box, with
    * zero footer fetches for the rest. Falls back to the plain versioned
    * read when the manifest carries no stats. */
  def readWhere(spark: SparkSession, path: String, predicate: Column,
      asOf: Option[Long] = None): DataFrame = {
    // the relation path prunes the SAME predicate at plan time (pushed data
    // filters → pruneFiles inside listFiles), so read().filter() and
    // readWhere() are now literally the same plan; the explicit pre-pruned
    // scan remains for huge-DV tables
    val (root, _, v, c) = commitForV(spark, path, asOf)
    if (relationEligible(spark, c))
      org.apache.spark.sql.graft.GraftBatchShim.ofRelation(spark,
        relationFor(spark, root, v, c)).filter(predicate)
    else {
      val (kept, _) =
        pruneFiles(spark, root, c, DataSkipping.resolve(spark, c.schema, predicate))
      dataFrameFor(spark, root, c, kept).filter(predicate)
    }
  }

  /** Files (kept, skipped) for `predicate` — the observable pruning
    * decision, exposed for audits/specs. Absolute paths. */
  def pruneInfo(spark: SparkSession, path: String, predicate: Column,
      asOf: Option[Long] = None): (Seq[String], Seq[String]) = {
    val (root, kept, skipped, _) = pruned(spark, path, predicate, asOf)
    (kept.map(r => new Path(root, r).toString),
      skipped.map(r => new Path(root, r).toString))
  }

  /** Partition a commit's files into (candidates, provably-unmatched) for
    * a RESOLVED predicate — the one file-selection routine behind
    * [[readWhere]]/[[pruneInfo]] AND the copy-on-write verbs' rewrite
    * selection. Checkpoint-anchored commits skip DISTRIBUTED over the
    * ckpt parquet (anchor stats are authoritative for any current file
    * the anchor lists — file keys are never reused); the handful of
    * delta-added files prune driver-side from their own eager stats. The
    * full stats map never materializes on the driver unless the predicate
    * fails to ship (conservative fallback). */
  /** Exact per-file ColStats for the partition columns, synthesized from
    * the file's PATH (min = max = the dir value; the hive null sentinel is
    * an all-null column): partition predicates prune through the same
    * three-valued evaluator as data stats — in reads, in readWhere, and in
    * copy-on-write file selection — with zero stored metadata. A value
    * that fails to cast contributes no stat (never prunes, never lies). */
  private def partColStats(c: Commit,
      partFields: Seq[org.apache.spark.sql.types.StructField],
      frag: String, zone: Option[String]): Map[String, DataSkipping.ColStat] = {
    partFields.flatMap { fl =>
      rawPartValue(frag, c.physName(fl.name)) match {
        case None =>
          Some(fl.name -> DataSkipping.ColStat(None, None,
            numNulls = 1L, allNulls = true))
        case Some(s) =>
          partDomain(DataSkipping.castPartValue(s, fl.dataType, zone), fl.dataType)
            .map(v => fl.name ->
              DataSkipping.ColStat(Some(v), Some(v), 0L, allNulls = false))
      }
    }.toMap
  }

  /** Internal partition value → the stats comparison domain (BigDecimal
    * for numerics/date-days/timestamp-micros, String for strings —
    * matching DataSkipping's literal domain). */
  private def partDomain(v: Any, dt: DataType): Option[Any] = v match {
    case null => None
    case i: java.lang.Integer => Some(BigDecimal(i.intValue))
    case l: java.lang.Long => Some(BigDecimal(l.longValue))
    case s: java.lang.Short => Some(BigDecimal(s.intValue))
    case b: java.lang.Byte => Some(BigDecimal(b.intValue))
    case d: java.lang.Double if java.lang.Double.isFinite(d) => Some(BigDecimal(d))
    case f: java.lang.Float if java.lang.Float.isFinite(f) => Some(BigDecimal(f.toDouble))
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case _ => None
  }

  private def pruneFiles(spark: SparkSession, root: Path, c: Commit,
      resolved: org.apache.spark.sql.catalyst.expressions.Expression)
      : (Seq[String], Seq[String]) = {
    // pass 1 — partition-value pruning (exact, driver-side, path-derived):
    // a dt-scoped predicate drops whole partition directories before any
    // stat map is consulted or any distributed prune job runs
    val partFields = partitionColsOf(c.schema).map(n => c.schema(c.schema.fieldIndex(n)))
    val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val partSkipped: Set[String] =
      if (partFields.isEmpty) Set.empty
      else {
        // values are per DIRECTORY: evaluate once per distinct fragment,
        // not once per file (1M files over 1K dirs = 1K evals, not 1M)
        val byFrag = c.files.groupBy(partFragOf(_, partPhysOf(c)))
        byFrag.iterator.flatMap { case (frag, fks) =>
          if (DataSkipping.canSkip(resolved,
            partColStats(c, partFields, frag, zone))) fks
          else Seq.empty
        }.toSet
      }
    val files = c.files.filterNot(partSkipped)
    // pass 2 — per-file min/max stats over the survivors, AUGMENTED with
    // the file's path-synthesized partition stats: a mixed disjunction
    // (the grouped top-k's `(day <=> d AND ts >= tau_d) OR …`) prunes a
    // file only when every OTHER group's disjunct is refuted on the
    // PARTITION half and its own on the data half — fragment-level pass 1
    // cannot do that (each dir's own disjunct is alive)
    val pf3: Seq[(String, String, org.apache.spark.sql.types.DataType)] =
      partFields.map(fl => (fl.name, c.physName(fl.name), fl.dataType))
    def pruneAug(fs: Seq[String], stats: DataSkipping.FileStats)
        : (Seq[String], Seq[String]) =
      if (partFields.isEmpty) DataSkipping.prune(fs, stats, resolved)
      else fs.partition { f =>
        stats.get(f) match {
          case Some(cs) => !DataSkipping.canSkip(resolved,
            cs ++ DataSkipping.pathPartStats(f, pf3, zone))
          case None => true
        }
      }
    val (kept, statSkipped) = c.ckptInfo match {
      case Some((rel, anchorSet)) =>
        val (inAnchor, rest) = files.partition(anchorSet)
        val removedFromAnchor = anchorSet -- inAnchor
        distributedPrune(spark, root, rel, removedFromAnchor, resolved,
          pf3, zone) match {
          case Some(keptAnchor) =>
            val (keptRest, _) = pruneAug(rest, c.statsAdds)
            val keptSet = keptAnchor ++ keptRest.toSet
            files.partition(keptSet)
          case None => // predicate didn't ship: force stats, prune local
            if (c.stats.isEmpty) (files, Seq.empty[String])
            else pruneAug(files, c.stats)
        }
      case None if c.stats.nonEmpty =>
        pruneAug(files, c.stats)
      case None => (files, Seq.empty[String])
    }
    (kept, statSkipped ++ partSkipped.toSeq.sorted)
  }

  private def pruned(spark: SparkSession, path: String, predicate: Column,
      asOf: Option[Long]): (Path, Seq[String], Seq[String], Commit) = {
    val (root, _, c) = commitFor(spark, path, asOf)
    val (kept, skipped) =
      pruneFiles(spark, root, c, DataSkipping.resolve(spark, c.schema, predicate))
    (root, kept, skipped, c)
  }

  /** MERGE-equivalent upsert (docs/runbooks/silver-transform.md:114-122:
    * "Use MERGE INTO (upsert) to enforce uniqueness ... keep record with
    * max(ingested_at)"): rows of `updates` replace same-key rows of the
    * current version, new keys append, and the result commits as a new
    * version — so the merge inherits the log's atomicity AND leaves the
    * pre-merge snapshot time-travelable.
    *
    * MERGE-ON-READ: when the base manifest carries per-file stats, the
    * merge first computes the update keys' per-column bounds (one small
    * aggregate over `updates`; an exact IN-list when there are at most
    * [[MaxInKeys]] distinct keys); only the files whose recorded key ranges
    * admit a match are CANDIDATES — every other file is carried into the
    * new version by reference, bytes untouched. Matching is conservative
    * per construction (a necessary condition per key column), so a carried
    * file provably holds no matched key. A stats-less table makes every
    * file a candidate, never a wrong result.
    *
    * One column-pruned PROBE of the candidates' live rows (file key, row
    * index, merge keys, and the `guardBy` sequence and the tracked row id
    * when needed) finds the rows the merge replaces. Then, per candidate,
    * the one mark-or-rewrite rule of [[rewriteOverMarked]]: a file whose
    * replaced rows plus existing marks exceed [[DefaultDvPurgeFraction]] of
    * its rows is REWRITTEN (its other rows ride with the applied ones, as
    * copy-on-write); any other file with matches keeps its bytes and its
    * replaced rows are MARKED in one deletion-vector sidecar; a candidate
    * without a match is carried untouched. Only the applied rows are
    * staged besides the rewrites, so a small MERGE writes what it changes
    * and [[changes]] diffs only that. Merges that coerce a type or reuse a
    * dropped physical name rewrite every file instead.
    *
    * Plan shape: the probe (no shuffle: broadcast file metadata), one
    * per-file count of the matched rows, and for rewritten files one
    * left_anti join on the key + union — no per-row driver work, scales
    * with the UPDATE, not the table.
    *
    * Concurrency: the merge pins the base version it read; if another
    * writer commits first, the claim on base+1 fails and the merge is
    * RECOMPUTED against the new head (optimistic concurrency, Delta-style)
    * — a lost race can never silently drop the other writer's rows.
    *
    * @param evolveSchema true = columns present on only one side are kept
    *                     and null-filled on the other (Delta's
    *                     mergeSchema/autoMerge behavior); false = schemas
    *                     must match by name.
    * @param latestBy when the SAME key appears more than once within
    *                 `updates`, keep the row with the max of this column
    *                 (the runbook's "keep record with max(ingested_at)").
    *                 Without it, intra-batch duplicate keys are rejected —
    *                 silently unioning them in would commit a table that
    *                 violates the MERGE uniqueness contract.
    * @param statsCols as in [[write]]: record per-file min/max for these
    *                  columns for the files this merge writes (parent's
    *                  stats columns are inherited when empty), so a table
    *                  maintained by MERGE keeps its data-skipping reads.
    * @param txn optional (appId, batchId) exactly-once marker, as in
    *            [[commitBatch]]: a replayed (appId, batchId) upsert is a
    *            no-op — the streaming MERGE sink's idempotence.
    * @param deleteWhere Delta's `WHEN MATCHED [AND cond] THEN DELETE`
    *                    clause: update rows satisfying this predicate are
    *                    TOMBSTONES — their keys are removed from the table
    *                    and the rows are not inserted. This is the verb
    *                    that applies a CDC stream (op = insert/update/
    *                    delete) into a table in ONE merge commit. The
    *                    predicate is evaluated on the (deduplicated)
    *                    update row; NULL counts as false (the row upserts
    *                    normally). Copy-on-write file selection already
    *                    covers tombstone keys — they are update keys.
    * @param guardBy OUT-OF-ORDER guard (the APPLY CHANGES INTO sequencing
    *                contract): a matched table row is replaced only when
    *                the update's value of this column is >= the stored
    *                row's — a late-arriving OLDER change (update or
    *                tombstone) is ignored instead of clobbering newer
    *                data. `latestBy` orders WITHIN the batch; `guardBy`
    *                orders ACROSS commits — a CDC sink needs both (usually
    *                the same column). The decision is PER KEY against the
    *                key's MAX stored sequence. NULL semantics: an update
    *                with a NULL sequence never replaces stored rows (it
    *                still inserts when the key is absent — including when
    *                both sides are NULL, the stored row wins); a key whose
    *                stored sequences are all NULL is replaceable by any
    *                non-NULL update. Ties go to the update (re-delivered
    *                current events re-apply idempotently).
    * @param dropCols bookkeeping columns (e.g. a CDC `op` marker) removed
    *                from the rows BEFORE they land — but AFTER latestBy
    *                dedup and the deleteWhere/guard decisions, which may
    *                reference them. The target schema never sees them.
    * @param txnExpected optimistic-concurrency precondition, checked inside
    *                the CAS loop against the SAME pinned base the commit
    *                lands on: the stored txn watermark for this app must
    *                equal this value or the upsert throws
    *                [[ConcurrentTxnException]] (after the replay no-op
    *                check — a full replay still no-ops). This is how an
    *                incremental consumer (e.g. MV refresh) guarantees the
    *                delta it computed from watermark v0 lands only on a
    *                table still AT v0 — two racing refreshes can otherwise
    *                each pass the `batchId <= stored` replay guard while
    *                one of them applies a stale window.
    * @param propsAdd table-property delta landed ATOMICALLY with this merge
    *                commit — for state that must stay consistent with the
    *                content it describes (a join view's dim pin after a
    *                dim-delta refresh). Empty = properties carry unchanged.
    * @param propsExpected optimistic-concurrency precondition on table
    *                PROPERTIES, checked inside the CAS loop against the same
    *                pinned base the commit lands on: each key's stored value
    *                must equal the given one or the upsert throws
    *                [[ConcurrentPropException]] — the props-side twin of
    *                `txnExpected` (a dim-delta computed against pin p must
    *                not land on a view whose pin a concurrent refresh moved). */
  def upsert(
      updates: DataFrame,
      path: String,
      keys: Seq[String],
      evolveSchema: Boolean = false,
      latestBy: Option[String] = None,
      statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      deleteWhere: Option[Column] = None,
      guardBy: Option[String] = None,
      dropCols: Seq[String] = Nil,
      txnExpected: Option[(String, Long)] = None,
      propsAdd: Map[String, String] = Map.empty,
      propsExpected: Map[String, String] = Map.empty): Long = {
    require(keys.nonEmpty, "upsert requires merge keys")
    require(!updates.columns.contains(RowIdCol),
      s"$path: $RowIdCol is reserved for row tracking")
    guardBy.foreach { g =>
      require(updates.columns.contains(g),
        s"$path: guardBy column $g is not in the update schema")
      require(!dropCols.contains(g),
        s"$path: guardBy column $g cannot be dropped — it is table state")
    }
    require(!keys.exists(dropCols.contains),
      s"$path: merge key(s) cannot be dropped")
    val spark = updates.sparkSession
    val root = new Path(path)
    val f = fs(spark, root)
    // generated columns: FILL absent ones on the update side up front (so
    // the schema-match/evolution contract sees full rows); supplied values
    // are enforced again with fresh props at the staging site inside the
    // CAS loop, which also covers a racing generation declaration
    val updatesG = latestVersion(spark, path) match {
      case Some(b) =>
        val props = readManifest(spark, f, root, b).props
        fenceMvWrite(props, path, "MERGE")
        // Delta parity: MERGE is not supported with identity columns —
        // matched rows carry their ids while inserted rows would need
        // allocation, and GENERATED ALWAYS forbids the carried ones
        require(identityIn(props).isEmpty,
          s"$path: MERGE/upsert is not supported on tables with identity " +
            s"column(s) ${identityIn(props).keys.mkString(",")} (append new " +
            "rows; use DELETE + append for replacements)")
        applyGenerated(updates, props, path)
      case None => updates
    }
    // cache: the merge reads `updates` several times (duplicate-key probe,
    // key bounds, IN-list probe, anti-join key set, union right side) — at
    // 100 TB the updates are the SMALL side; recomputing their lineage per
    // consumer is the only part of the merge that wouldn't scale with the
    // update
    val deduped = latestBy match {
      case Some(ord) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ord).desc)
        updatesG.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn").cache()
      case None =>
        // cached BEFORE the probe, whose scan fills it
        val u = updatesG.cache()
        val dups = u.groupBy(keys.map(col): _*)
          .count().filter(col("count") > 1).limit(1).count()
        if (dups != 0) u.unpersist()
        require(dups == 0,
          s"updates contain duplicate merge keys ${keys.mkString(",")}; " +
            "pass latestBy to pick a survivor")
        u
    }
    // tombstones' keys participate in the anti-join (they remove matched
    // rows) but only non-tombstone rows are (re-)inserted; bookkeeping
    // columns leave AFTER the dedup/tombstone/guard decisions used them
    val inserts = deleteWhere
      .map(p => deduped.filter(!coalesce(p, lit(false)))).getOrElse(deduped)
      .drop(dropCols: _*)
    // captured for the post-commit auto-compact hook: the files THIS merge
    // wrote, and the props that governed the committed version
    var hookRel: Seq[String] = Nil
    var hookProps: Map[String, String] = Map.empty
    try {
      // each attempt pins the exact version the merge is computed against —
      // reading "latest" inside it would race a concurrent commit past the
      // CAS check
      val committed = commitLoop(spark, path, "upsert") { head =>
        val base = head.map(_._1)
        val baseC = head.map(_._2)
        hookRel = Nil
        hookProps = Map.empty
        // re-check per iteration: the entry check raced a concurrent CREATE
        // or declaration (a None→Some table with identity would otherwise
        // merge id=NULL rows under evolveSchema, silently skipping
        // allocation)
        baseC.foreach { c =>
          require(identityIn(c.props).isEmpty,
            s"$path: MERGE/upsert is not supported on tables with identity " +
              s"column(s) ${identityIn(c.props).keys.mkString(",")}")
        }
        if (txn.exists { case (app, bid) =>
            baseC.exists(_.txn.get(app).exists(_ >= bid)) }) Left(base.get)
        else {
          // after the replay no-op: a watermark that moved PAST the batch is a
          // replay, a watermark that moved but not past it is a stale window
          txnExpected.foreach { case (app, expected) =>
            val stored = baseC.flatMap(_.txn.get(app))
            if (!stored.contains(expected))
              throw new ConcurrentTxnException(path, app, expected, stored)
          }
          propsExpected.foreach { case (k, expected) =>
            val stored = baseC.flatMap(_.props.get(k))
            if (!stored.contains(expected))
              throw new ConcurrentPropException(path, k, expected, stored)
          }
          val newTxn = baseC.map(_.txn).getOrElse(Map.empty) ++ txn.toMap
          val staged = baseC match {
            case None => // a table with no head: a parent with no files
              replaceFiles(spark, path, None, Set.empty, Some(inserts), None,
                statsCols, Some(inserts.schema), Some(newTxn),
                if (propsAdd.isEmpty) None else Some(propsAdd))
            case Some(c) =>
              val updSchema = inserts.schema
              val bs = c.schema
              if (!evolveSchema)
                require(bs.fieldNames.toSet == updSchema.fieldNames.toSet,
                  s"upsert schema mismatch vs $path (table ${bs.fieldNames.mkString(",")} " +
                    s"vs updates ${updSchema.fieldNames.mkString(",")}); " +
                    "pass evolveSchema=true to merge them")
              val typesOk = bs.fields.forall(bf =>
                updSchema.fields.find(_.name == bf.name).forall(_.dataType == bf.dataType))
              // (candidate files, merged schema, whether matches may be
              // marked instead of rewritten)
              val (candidates, merged, markable) =
                if (!typesOk) (c.files, None, false) // coercion → full rewrite
                else {
                  val mergedRaw = bs.fields.map { bf =>
                    updSchema.fields.find(_.name == bf.name) match {
                      case Some(uf) => bf.copy(nullable = bf.nullable || uf.nullable)
                      case None => bf.copy(nullable = true) // null-filled on the update side
                    }
                  } ++ updSchema.fields.filterNot(uf => bs.fieldNames.contains(uf.name))
                    .map(_.copy(nullable = true)) // absent from carried files
                  // partitioned layout contract: partition columns stay LAST
                  // (an evolved column would otherwise land after them)
                  val basePart = partitionColsOf(bs).toSet
                  val mergedFields =
                    if (basePart.isEmpty) mergedRaw
                    else mergedRaw.filterNot(fl => basePart(fl.name)) ++
                      mergedRaw.filter(fl => basePart(fl.name))
                  // an evolved column REUSING a dropped physical name can't
                  // ride identity-mapped over carried files (their stale
                  // bytes would resurrect): rewrite everything instead, so
                  // no carried file exists to mis-bind
                  val resurrects = updSchema.fieldNames.toSet
                    .diff(bs.fieldNames.toSet).exists(c.physDropped)
                  val cand =
                    if (resurrects) c.files
                    else mergeCandidates(spark, root, c, bs, deduped, keys)
                  (cand, Some(StructType(mergedFields)), !resurrects)
                }
              // the applied rows, aligned to the merged schema when no
              // carried row rides along
              def alignedApplied(applied: DataFrame): DataFrame = merged match {
                case None => applied
                case Some(m) => applied.select(m.fields.map(fl =>
                  if (applied.columns.contains(fl.name)) col(fl.name)
                  else lit(null).cast(fl.dataType).as(fl.name)).toSeq ++
                  applied.columns.filter(_ == RowIdCol).map(col): _*)
              }
              val tracked = rowTrackingOn(c.props)
              // ONE column-pruned probe of the candidates' live rows: file
              // key, row index, merge keys, and the guard sequence and the
              // tracked id when needed — it decides which stored rows the
              // merge replaces without reading their full rows. Cached only
              // when the guard or the id inheritance reads it again.
              val probe =
                if (candidates.isEmpty) None
                else {
                  val pr = liveKeyed(spark, root, c,
                    StructType(bs.fields.filter(fl =>
                      (keys ++ guardBy).exists(_.equalsIgnoreCase(fl.name)))),
                    candidates, withIds = tracked)
                  Some(if (guardBy.isDefined || tracked) pr.cache() else pr)
                }
              // the (file, row index) of every stored row the merge
              // replaces, cached for the per-file count and the sidecar
              var matchedKeys: Option[DataFrame] = None
              try {
                val (rewriteDf, rewriteSet, newMarks) =
                  probe match {
                    // pure insert: stats prove NO existing file holds a
                    // matching key — stage only the updates
                    case None => (alignedApplied(inserts), Set.empty[String], None)
                    case Some(pr) =>
                      // sequencing guard, decided ONCE PER KEY (not per stored
                      // row — a table holding duplicate key rows must not
                      // half-apply): the update wins iff its sequence is
                      // non-NULL and >= the key's max stored sequence (NULL
                      // stored sequences are always replaceable; a NULL update
                      // sequence never replaces; ties → update, so
                      // re-deliveries re-apply idempotently); an absent key
                      // always lands. An update that wins replaces EVERY
                      // stored row of its key — which also collapses
                      // pre-existing duplicates.
                      val dec = guardBy.map { seq =>
                        val bmax = pr.groupBy(keys.map(col): _*)
                          .agg(max(col(seq)).as("__graft_bseq"),
                            lit(true).as("__graft_present"))
                        deduped
                          .select((keys.map(col) :+ col(seq).as("__graft_useq")): _*)
                          .join(bmax, keys, "left")
                          .select((keys.map(col) :+
                            (col("__graft_present").isNull ||
                              (col("__graft_useq").isNotNull &&
                                (col("__graft_bseq").isNull ||
                                  col("__graft_useq") >= col("__graft_bseq"))))
                              .as("__graft_uwins")): _*)
                      }
                      // keys whose stored rows this merge replaces
                      val replaced = dec
                        .map(_.filter(col("__graft_uwins")).select(keys.map(col): _*))
                        .getOrElse(deduped.select(keys.map(col): _*).distinct())
                      val matched = pr.join(replaced, keys, "left_semi")
                        .select(col(FileKeyCol), col(RowIdxCol)).cache()
                      matchedKeys = Some(matched)
                      val perFile =
                        if (!markable) Map.empty[String, Long]
                        else matched.groupBy(col(FileKeyCol)).count().collect()
                          .map(r => r.getString(0) -> r.getLong(1)).toMap
                      val rw = if (markable) rewriteOverMarked(c, perFile) else candidates.toSet
                      val marks = perFile.filter(kv => !rw(kv._1))
                      // row tracking: a MERGE-matched incoming row INHERITS the
                      // id of the stored row it replaces (min over any legacy
                      // duplicate-key rows — deterministic), so updates keep
                      // identity and the row-keyed change feed pairs them;
                      // truly-new keys stay null and draw fresh ids from the
                      // new file's base
                      val inherited =
                        if (!tracked) inserts
                        else inserts.join(pr.groupBy(keys.map(col): _*)
                          .agg(min(col(RowIdCol)).as(RowIdCol)), keys, "left")
                      val applied = dec.fold(inherited)(d => inherited
                        .join(d, keys, "left")
                        .filter(coalesce(col("__graft_uwins"), lit(true)))
                        .drop("__graft_uwins"))
                      // files past the rule are rewritten copy-on-write: their
                      // unreplaced rows (ids carried) ride with the applied ones
                      val df =
                        if (rw.isEmpty) alignedApplied(applied)
                        else rewriteSource(spark, root, c, c.files.filter(rw))
                          .join(replaced, keys, "left_anti")
                          .unionByName(applied, allowMissingColumns = evolveSchema)
                      // the others keep their bytes; their matched rows are
                      // marked in one sidecar
                      (df, rw, if (marks.isEmpty) None else Some(marks ->
                        matched.filter(col(FileKeyCol).isin(marks.keys.toSeq: _*))))
                  }
                // carried-file rows are valid by the ADD CONSTRAINT invariant;
                // the union re-checks them only because they ride the rewrite —
                // one in-task pass, no extra scan
                replaceFiles(spark, path, head, rewriteSet, Some(rewriteDf),
                  newMarks, statsCols,
                  // the materialized id column is physical-only — never schema
                  schema = Some(merged.getOrElse(rewriteDf.drop(RowIdCol).schema)),
                  txn = Some(newTxn),
                  props = if (propsAdd.isEmpty) None else Some(c.props ++ propsAdd))
              } finally (probe ++ matchedKeys).foreach(_.unpersist())
          }
          hookRel = staged.added
          hookProps = baseC.map(_.props).getOrElse(Map.empty)
          Right(staged)
        }
      }
      // a MERGE-maintained table fragments exactly like an append-
      // maintained one (every streaming micro-merge stages fresh files)
      afterInsert(spark, path, hookProps, hookRel)
      committed
    } finally deduped.unpersist()
  }

  /** MERGE candidate selection: build a predicate every MATCHED current
    * row must satisfy (per key column: membership in the update keys'
    * IN-list, or their [min, max] range when the key set is large), then
    * prune the base files with it. Kept files MAY contain matches (the
    * probe decides); skipped files provably contain none (carry). Any
    * failure (exotic key type, stats gap) falls back to every file —
    * selection is an optimization, never a correctness dependency. */
  private def mergeCandidates(spark: SparkSession, root: Path, c: Commit,
      schema: StructType, updates: DataFrame, keys: Seq[String]): Seq[String] = {
    // ckpt-anchored commits must NOT probe c.stats here (that forces the
    // deferred map); their selection runs distributed via pruneFiles
    if (c.files.isEmpty || (c.ckptInfo.isEmpty && c.stats.isEmpty))
      return c.files
    scala.util.Try {
      val aggs = keys.flatMap(k => Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k")))
      val r = updates.agg(aggs.head, aggs.tail: _*).head()
      // a key column whose update values are ALL null can never
      // equality-match an existing row: no candidate
      if (keys.indices.exists(i => r.isNullAt(2 * i))) Seq.empty[String]
      else {
        val distinctRows =
          updates.select(keys.map(col): _*).distinct().limit(MaxInKeys + 1).collect()
        val perCol = keys.zipWithIndex.map { case (k, i) =>
          if (distinctRows.length <= MaxInKeys) {
            val vals = distinctRows.map(_.get(i)).filter(_ != null).distinct
            col(k).isin(vals.toSeq: _*)
          } else col(k) >= lit(r.get(2 * i)) && col(k) <= lit(r.get(2 * i + 1))
        }
        val resolved = DataSkipping.resolve(spark, schema, perCol.reduce(_ && _))
        pruneFiles(spark, root, c, resolved)._1
      }
    }.getOrElse(c.files)
  }

  /** Row-level DELETE as a versioned commit (the verb Delta spells
    * `DELETE FROM t WHERE p`): rows where `predicate` is TRUE are removed;
    * rows where it is false or NULL stay. ONE body, merge-on-read like
    * Delta's deletion vectors: the matched live rows are MARKED deleted in a
    * sidecar parquet of (file key, row index) pairs and every data file
    * keeps its bytes, unless [[rewriteOverMarked]] says a file's existing
    * plus new marks would pass `purgeFraction` of its rows — that file is
    * REWRITTEN as its survivors in the same commit instead (so a delete of
    * a large fraction costs a rewrite, not an ever-growing anti-join).
    *
    * File-granular: only files whose manifest stats admit a matching row
    * are scanned (with their existing marks applied, so a second delete
    * never double-marks a row); every other file is carried by reference.
    * A predicate matching no live row commits nothing (returns the current
    * version). Readers apply marks with a broadcast anti-join on (file,
    * row_index) (`_metadata.row_index` is stable — committed files are
    * immutable); [[countRows]] subtracts them, [[changes]] reports the
    * marked rows as deletes, and every rewriting verb materializes the
    * marks of the files it replaces. The pre-delete snapshot stays
    * time-travelable.
    *
    * @param purgeFraction see [[DefaultDvPurgeFraction]]; compared against
    *                      (existing + new marks) / file rows per file.
    *                      `1.0` never rewrites (pure merge-on-read). */
  def delete(spark: SparkSession, path: String, predicate: Column,
      purgeFraction: Double = DefaultDvPurgeFraction): Long = {
    val root = new Path(path)
    var hookProps: Map[String, String] = Map.empty
    val committed = commitLoop(spark, path, "delete") { head =>
      val (b, c) = head.getOrElse(noVersions(path))
      hookProps = Map.empty
      fenceMvWrite(c.props, path, "DELETE")
      val (candKeys, _) =
        pruneFiles(spark, root, c, DataSkipping.resolve(spark, c.schema, predicate))
      if (candKeys.isEmpty) Left(b) // provably nothing to delete
      else {
        val live = liveKeyed(spark, root, c, c.schema, candKeys, withIds = false)
        val marked = live.filter(coalesce(predicate, lit(false)))
          .select(col(FileKeyCol), col(RowIdxCol)).cache()
        try {
          val perFile = marked.groupBy(col(FileKeyCol)).count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          if (perFile.isEmpty) Left(b) // predicate matched no live row
          else {
            hookProps = c.props
            val rewrite = rewriteOverMarked(c, perFile, purgeFraction)
            val rewriteKeys = c.files.filter(rewrite)
            // marks for carried files ride in a new sidecar; marks for
            // rewritten files are consumed by their rewrite
            val marks = perFile.filter(kv => !rewrite(kv._1))
            val markRows =
              if (rewriteKeys.isEmpty) marked
              else marked.filter(!col(FileKeyCol).isin(rewriteKeys: _*))
            // the source applies the OLD marks; the predicate filter drops
            // this delete's matches — survivors only (ids carried)
            val survivors =
              if (rewriteKeys.isEmpty) None
              else Some(rewriteSource(spark, root, c, rewriteKeys)
                .filter(!coalesce(predicate, lit(false))))
            Right(replaceFiles(spark, path, head, rewrite, survivors,
              if (marks.isEmpty) None else Some(marks -> markRows)))
          }
        } finally marked.unpersist()
      }
    }
    autoRefreshViewsAfter(spark, path, hookProps)
    committed
  }

  /** [[delete]] under its former merge-on-read name. */
  def deleteVectorized(spark: SparkSession, path: String,
      predicate: Column, purgeFraction: Double = DefaultDvPurgeFraction): Long =
    delete(spark, path, predicate, purgeFraction)

  /** Row-level UPDATE as a versioned commit (the verb Delta spells
    * `UPDATE t SET c = e WHERE p`): rows where `predicate` is TRUE get
    * each assignment applied (all assignments see the OLD row, standard
    * SQL UPDATE semantics); rows where it is false or NULL are untouched.
    * File-granular copy-on-write: only files whose manifest stats admit a
    * matching row are rewritten — every other file, including whole
    * untouched partition directories, is carried by reference,
    * byte-identical. Assignment values are cast to the column's recorded
    * type under the session's cast semantics (ANSI by default: a lossy
    * cast fails the commit, never silently truncates). Updating a
    * partition column is allowed — rewritten rows land in the directories
    * their NEW values name. A predicate that provably matches nothing is a
    * no-op (current version returned, no new commit). */
  def update(spark: SparkSession, path: String, predicate: Column,
      set: Map[String, Column]): Long = {
    require(set.nonEmpty, "UPDATE requires at least one assignment")
    val root = new Path(path)
    var hookProps: Map[String, String] = Map.empty
    val committed = commitLoop(spark, path, "update") { head =>
      val (b, c) = head.getOrElse(noVersions(path))
      hookProps = Map.empty
      fenceMvWrite(c.props, path, "UPDATE")
      val s = c.schema
      val missing = set.keySet -- s.fieldNames.toSet
      require(missing.isEmpty,
        s"$path: UPDATE assigns to missing column(s): ${missing.mkString(",")}")
      val idHit = set.keySet intersect identityIn(c.props).keySet
      require(idHit.isEmpty,
        s"$path: cannot UPDATE identity column(s) ${idHit.mkString(",")} — " +
          "values are allocated by the table")
      val (candKeys, _) =
        pruneFiles(spark, root, c, DataSkipping.resolve(spark, s, predicate))
      if (candKeys.isEmpty) Left(b) // provably nothing to update
      else {
        hookProps = c.props
        val hit = coalesce(predicate, lit(false))
        // updated rows KEEP their tracked id (SQL UPDATE preserves identity;
        // the row-keyed change feed pairs them as pre/post images)
        val tracked = rowTrackingOn(c.props)
        val updated = rewriteSource(spark, root, c, candKeys).select(
          (s.fields.map { fl =>
            set.get(fl.name) match {
              case Some(v) =>
                when(hit, v.cast(fl.dataType)).otherwise(col(fl.name)).as(fl.name)
              case None => col(fl.name)
            }
          }.toSeq ++ (if (tracked) Seq(col(RowIdCol)) else Nil)): _*)
        // the write contract refuses an UPDATE that modifies a source
        // column of a generated column without keeping the generated value
        // consistent — the remedy is to SET the generated column too (or
        // drop the generation); silently serving a stale derived value is
        // the failure mode generation exists to kill
        Right(replaceFiles(spark, path, head, candKeys.toSet, Some(updated)))
      }
    }
    autoRefreshViewsAfter(spark, path, hookProps)
    committed
  }

  /** ALTER TABLE ADD COLUMNS as a METADATA-ONLY commit: a new version with
    * the same files and an extended schema. Parquet reads by name, so every
    * carried file serves the new columns as nulls — zero bytes move, like
    * Delta's ADD COLUMN. New columns are forced nullable (existing rows
    * have no value for them). Fails on a name collision with a LIVE column.
    *
    * A name previously dropped by [[dropColumns]] is re-addable, but binds
    * a FRESH physical name (Delta's column-mapping idiom): carried files
    * still physically hold the old column under the old name, and an
    * identity binding would resurrect those stale bytes as the "new"
    * column's values (or fail the scan on a type change). With the fresh
    * physical name the re-added column reads as null from every pre-drop
    * file and as real data from files written after the re-add; pre-drop
    * versions still time-travel with their own mapping and values. */
  def addColumns(spark: SparkSession, path: String,
      newFields: Seq[org.apache.spark.sql.types.StructField]): Long =
    alterSchema(spark, path, "add", { (s, c, v) =>
      val clash = newFields.map(_.name).toSet intersect s.fieldNames.toSet
      require(clash.isEmpty, s"$path: column(s) already exist: ${clash.mkString(",")}")
      // a new column binds a FRESH physical name when its own name is
      // already claimed physically — by a dropped column's bytes (the
      // resurrection hazard) or by a LIVE column's mapping (RENAME a TO x
      // leaves x bound to physical 'a'; a later ADD COLUMN a with an
      // identity binding would alias the SAME physical column twice)
      val livePhys = s.fieldNames.map(c.physName).toSet
      val freshMap = newFields.map(_.name)
        .filter(n => c.physDropped.contains(c.physName(n)) ||
          c.physDropped.contains(n) || livePhys.contains(n))
        .map(n => n -> s"${n}__p$v").toMap // version-unique → collision-free
      // partitioned layout contract: partition columns stay LAST, so every
      // read path (relation = dataSchema ++ partitionSchema, physRead =
      // recorded order) agrees on column order after the DDL
      val partSet = partitionColsOf(s).toSet
      val widened = s.fields.filterNot(fl => partSet(fl.name)) ++
        newFields.map(_.copy(nullable = true)) ++
        s.fields.filter(fl => partSet(fl.name))
      (StructType(widened), c.colMap ++ freshMap, c.physDropped)
    })

  /** ALTER TABLE DROP COLUMNS as a METADATA-ONLY commit: the dropped
    * columns stay in the parquet files (unread — parquet is columnar, they
    * cost nothing at scan time) and disappear from the recorded schema, so
    * reads, upserts, and the change feed no longer see them. A later
    * OPTIMIZE/ZORDER rewrite physically sheds them. Stats for dropped
    * columns are pruned from the manifest; the PHYSICAL name is recorded
    * in `phys_dropped` so a later [[addColumns]] of the same logical name
    * binds fresh instead of resurrecting carried bytes. */
  def dropColumns(spark: SparkSession, path: String, names: Seq[String]): Long =
    alterSchema(spark, path, "drop", { (s, c, _) =>
      val missing = names.toSet -- s.fieldNames.toSet
      require(missing.isEmpty, s"$path: no such column(s): ${missing.mkString(",")}")
      val partHit = names.toSet intersect partitionColsOf(s).toSet
      require(partHit.isEmpty,
        s"$path: cannot drop partition column(s) ${partHit.mkString(",")} — " +
          "the layout depends on them")
      require(s.fields.length > names.size, s"$path: cannot drop every column")
      // a stored CHECK constraint referencing a dropped column would brick
      // every later write with an unresolved-column error that never names
      // the real cause — refuse at DDL time, like Delta (drop the
      // constraint first if the drop is intended)
      val lowerDrop = names.map(_.toLowerCase).toSet
      constraintsIn(c.props).foreach { case (cname, sql) =>
        val refs = exprRefs(spark, sql)
        val hit = refs intersect lowerDrop
        require(hit.isEmpty,
          s"$path: cannot drop column(s) ${hit.mkString(",")} — constraint " +
            s"'$cname' CHECK ($sql) references them; DROP CONSTRAINT first")
      }
      generatedIn(c.props).foreach { case (gname, sql) =>
        require(!lowerDrop.contains(gname.toLowerCase),
          s"$path: cannot drop generated column $gname — drop the " +
            "generation first (dropGeneratedColumn)")
        val hit = exprRefs(spark, sql) intersect lowerDrop
        require(hit.isEmpty,
          s"$path: cannot drop column(s) ${hit.mkString(",")} — generated " +
            s"column $gname AS ($sql) references them; drop the generation first")
      }
      identityIn(c.props).keys.foreach { iname =>
        require(!lowerDrop.contains(iname.toLowerCase),
          s"$path: cannot drop identity column $iname — drop the identity " +
            "declaration first (dropIdentityColumn)")
      }
      bucketSpecIn(c.props).foreach { case (bcols, _) =>
        val hit = (bcols ++ bucketSortColsIn(c.props))
          .map(_.toLowerCase).toSet intersect lowerDrop
        require(hit.isEmpty,
          s"$path: cannot drop bucket/sort column(s) ${hit.mkString(",")} — " +
            "the physical file layout hashes/orders on them; re-create to " +
            "re-bucket")
      }
      (StructType(s.fields.filterNot(f => names.contains(f.name))),
        c.colMap -- names,
        c.physDropped ++ names.map(c.physName))
    },
    // a dropped column leaves the column-list hints too (harmless if
    // stale, but a property naming a ghost column misleads readers)
    propsTransform = props => ColumnListHints.foldLeft(props) { (ps, key) =>
      ps.get(key).fold(ps) { bc =>
        val kept = bc.split(",").map(_.trim)
          .filterNot(cn => names.exists(_.equalsIgnoreCase(cn)))
        if (kept.isEmpty) ps - key else ps + (key -> kept.mkString(","))
      }
    })

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit (Delta's
    * column-mapping rename): the logical name changes in the recorded
    * schema while the column keeps its PHYSICAL name, so every carried
    * file — which physically stores the old name — serves the renamed
    * column without a byte moving, and pre-rename versions time-travel
    * under their own name/mapping. Manifest file stats are REKEYED to the
    * new logical name (same physical column, same values), so data
    * skipping and metadata MIN/MAX keep working across the rename; on
    * checkpoint-anchored tables the rekey runs on the executors
    * (writeCkptFromAnchor), never as an O(table) driver step.
    *
    * Refused for partition columns (directory names, the streaming layout
    * pin, and every path-derived read depend on the physical partition
    * key) and for columns a CHECK constraint references (the stored
    * predicate text would silently stop resolving — DROP CONSTRAINT
    * first, like Delta). A rename TO a previously-dropped name is fine:
    * the mapping binds the new logical name to the renamed column's
    * physical name, so carried files' stale bytes under the old dropped
    * name stay unreachable. */
  def renameColumn(spark: SparkSession, path: String,
      from: String, to: String): Long =
    alterSchema(spark, path, "rename", { (s, c, _) =>
      require(from != to, s"$path: RENAME COLUMN $from TO $to is a no-op")
      require(s.fieldNames.contains(from), s"$path: no such column: $from")
      require(!s.fieldNames.contains(to),
        s"$path: column already exists: $to")
      require(!partitionColsOf(s).contains(from),
        s"$path: cannot rename partition column $from — the directory " +
          "layout depends on it (migrate via CREATE TABLE ... PARTITIONED " +
          "BY + INSERT SELECT)")
      val lowerFrom = from.toLowerCase
      constraintsIn(c.props).foreach { case (cname, sql) =>
        require(!exprRefs(spark, sql).contains(lowerFrom),
          s"$path: cannot rename column $from — constraint '$cname' " +
            s"CHECK ($sql) references it; DROP CONSTRAINT first")
      }
      generatedIn(c.props).foreach { case (gname, sql) =>
        require(gname.toLowerCase != lowerFrom,
          s"$path: cannot rename generated column $from — drop the " +
            "generation first (dropGeneratedColumn)")
        require(!exprRefs(spark, sql).contains(lowerFrom),
          s"$path: cannot rename column $from — generated column $gname " +
            s"AS ($sql) references it; drop the generation first")
      }
      identityIn(c.props).keys.foreach { iname =>
        require(iname.toLowerCase != lowerFrom,
          s"$path: cannot rename identity column $from — drop the identity " +
            "declaration first (dropIdentityColumn)")
      }
      val phys = c.physName(from)
      val fields = s.fields.map(fl =>
        if (fl.name == from) fl.copy(name = to) else fl)
      // identity mappings stay out of the map (phys == to can only arise
      // from a rename chain that lands back on its physical name)
      val nextMap =
        if (phys == to) c.colMap - from
        else (c.colMap - from) + (to -> phys)
      (StructType(fields), nextMap, c.physDropped)
    }, renameStats = Some(from -> to),
    // column-list hints (bloom emission, declared clustering) follow the
    // rename — a dangling old name would silently disable them
    propsTransform = props => ColumnListHints.foldLeft(props) { (ps, key) =>
      ps.get(key).fold(ps) { bc =>
        ps + (key -> bc.split(",").map(_.trim)
          .map(c => if (c.equalsIgnoreCase(from)) to else c).mkString(","))
      }
    })

  /** TYPE WIDENING (Delta's `ALTER COLUMN ... TYPE`, metadata-only): change
    * a column's recorded type to a strictly wider one WITHOUT touching a
    * byte of data. Carried files keep their narrow physical type; Spark 4's
    * parquet readers (vectorized included) widen INT32→int64, float→double
    * and decimal-precision natively at scan time, so every read path —
    * plain, format, SQL, CDF, maintenance rewrites — serves the wide
    * logical type over mixed-width files. New writes land wide. Manifest
    * stats need no rewrite: bounds live in the BigDecimal/UTF-8 domain
    * (DataSkipping normalizes at collection), so pruning and metadata
    * MIN/MAX stay exact across the width change.
    *
    * Allowed: byte→short/int/long, short→int/long, int→long, float→double,
    * decimal(p,s)→decimal(p′,s) with p′>p. Anything else — narrowing,
    * scale changes, cross-family casts — refuses loudly: those need a
    * rewrite, which is an explicit CTAS migration, not a metadata verb.
    * Partition columns refuse too: the directory-value decode, layout pin
    * and streaming path-derivation all key on the recorded type. */
  def widenColumn(spark: SparkSession, path: String,
      name: String, to: DataType): Long =
    alterSchema(spark, path, "widen", { (s, c, _) =>
      require(s.fieldNames.contains(name), s"$path: no such column: $name")
      val from = s(s.fieldIndex(name)).dataType
      require(widenable(from, to),
        s"$path: cannot widen $name from ${from.simpleString} to " +
          s"${to.simpleString} — allowed: byte/short/int→wider integral, " +
          "float→double, decimal precision increase (same scale); anything " +
          "else needs a CTAS migration")
      require(!partitionColsOf(s).contains(name),
        s"$path: cannot change the type of partition column $name — the " +
          "directory layout and streaming path derivation depend on it " +
          "(migrate via CREATE TABLE ... PARTITIONED BY + INSERT SELECT)")
      // murmur3 hashes int and long inputs DIFFERENTLY: widening a bucket
      // column would silently re-key every existing file's bucket
      bucketSpecIn(c.props).foreach { case (bcols, _) =>
        require(!bcols.exists(_.equalsIgnoreCase(name)),
          s"$path: cannot widen bucket column $name — the bucket hash is " +
            "type-sensitive (existing files would land in wrong buckets); " +
            "re-create to re-bucket")
      }
      generatedIn(c.props).foreach { case (gname, sql) =>
        require(gname != name,
          s"$path: cannot widen generated column $name — its declared type " +
            s"equals the expression's ($sql); drop the generation first")
        require(!exprRefs(spark, sql).contains(name.toLowerCase),
          s"$path: cannot widen column $name — generated column $gname " +
            s"AS ($sql) references it and its type contract would drift; " +
            "drop the generation first")
      }
      (StructType(s.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f)),
        c.colMap, c.physDropped)
    })

  private def widenable(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f, t) if f == t => false // no-op is a refusal: nothing to commit
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (d1: DecimalType, d2: DecimalType) =>
      d1.scale == d2.scale && d2.precision > d1.precision
    case _ => false
  }

  /** ALTER TABLE SET / UNSET TBLPROPERTIES as a METADATA-ONLY commit: the
    * new version carries the same files, schema, stats and marks with an
    * updated properties map. Properties drive table-level behavior —
    * `graft.autoCompact` (commit-time small-file hygiene),
    * `graft.optimizeWrite` (pre-write partition coalescing),
    * `graft.constraint.<name>` (CHECK predicates, see addCheckConstraint) —
    * and persist in the manifest like the schema does, so every writer
    * observes them, not just the session that set them. */
  def setProperties(spark: SparkSession, path: String,
      set: Map[String, String], unset: Seq[String] = Nil): Long = {
    // constraints must enter through addCheckConstraint (which validates
    // EXISTING rows first) — a raw property write would install a
    // constraint the data already violates, breaking the invariant every
    // carry-by-reference verb relies on. Unset stays allowed: that IS
    // dropCheckConstraint's implementation.
    val smuggled = set.keys.filter(_.startsWith(ConstraintPrefix))
    require(smuggled.isEmpty,
      s"$path: cannot set ${smuggled.mkString(", ")} via table properties — " +
        "use ADD CONSTRAINT (addCheckConstraint), which validates existing rows")
    // same closed door for generation declarations: setGeneratedColumn
    // validates the expression contract AND the existing rows first
    val smuggledGen = set.keys.filter(k =>
      k.startsWith(GeneratedPrefix) || k.startsWith(GeneratedZonePrefix))
    require(smuggledGen.isEmpty,
      s"$path: cannot set ${smuggledGen.mkString(", ")} via table properties — " +
        "use setGeneratedColumn, which validates the expression and existing rows")
    // and for identity: the declaration + high-water mark are allocation
    // STATE, maintained only by declareIdentityColumn and the write verbs
    val smuggledId = set.keys.filter(k =>
      k.startsWith(IdentityPrefix) || k.startsWith(IdentityHwmPrefix))
    require(smuggledId.isEmpty,
      s"$path: cannot set ${smuggledId.mkString(", ")} via table properties — " +
        "identity declaration and high-water mark are maintained by " +
        "declareIdentityColumn and the write verbs")
    // the bucket layout is physical (file-name ordinals + every staged
    // file's shuffle): declaring it on existing unbucketed files — or
    // shedding it while files keep bucket names — would desynchronize the
    // declared HashPartitioning from the data
    val smuggledBucket = (set.keys ++ unset).filter(k =>
      k == BucketByKey || k == NumBucketsKey || k == BucketSortByKey)
    require(smuggledBucket.isEmpty,
      s"$path: cannot change ${smuggledBucket.mkString(", ")} via table " +
        "properties — the bucket layout is fixed at creation " +
        "(writeBucketed / CREATE TABLE); re-create to re-bucket")
    // row tracking reserves the materialized-id column name: a schema
    // already using it would collide with the id-surfacing read
    if (set.get(RowTrackingKey).exists(_.trim.equalsIgnoreCase("true")))
      latestVersion(spark, path).foreach { _ =>
        val (_, _, c) = commitFor(spark, path, None)
        require(!c.schema.fieldNames.contains(RowIdCol),
          s"$path: cannot enable $RowTrackingKey — the schema already has " +
            s"a column named $RowIdCol (reserved for row tracking)")
      }
    setPropertiesInternal(spark, path, set, unset)
  }

  /** Property commit that lands ONLY on the expected base version — the
    * optimistic precondition for pins whose validity was proven against a
    * specific snapshot (FOREIGN KEY ... RELY validates integrity at base
    * b, then pins b+1, whose file set is identical because THIS commit is
    * props-only; a racing data commit in between would make the pin vouch
    * for rows never checked). Throws [[ConcurrentTxnException]] on a
    * mismatch; the caller re-validates and retries. */
  private[sources] def setPropertiesExpecting(spark: SparkSession,
      path: String, set: Map[String, String], expectedBase: Long): Long =
    setPropertiesInternal(spark, path, set, Nil, Some(expectedBase))

  /** The unguarded property commit the validated entry points share. */
  private def setPropertiesInternal(spark: SparkSession, path: String,
      set: Map[String, String], unset: Seq[String],
      expectedBase: Option[Long] = None): Long =
    commitProps(spark, path, "set-properties") { (b, c) =>
      expectedBase.foreach { e =>
        if (b != e) throw new ConcurrentTxnException(path, "(base)", e, Some(b))
      }
      (c.props -- unset) ++ set
    }

  /** THE property commit: `next` checks its precondition against the head
    * `commitLoop` pinned (throwing refuses the commit; a lost race re-runs
    * it against the new head) and returns the head's new properties. The
    * version carries the same files, schema, stats and marks; unchanged
    * properties commit nothing. */
  private def commitProps(spark: SparkSession, path: String, what: String)(
      next: (Long, Commit) => Map[String, String]): Long = {
    val root = new Path(path)
    commitLoop(spark, path, what) { head =>
      val (b, c) = head.getOrElse(noVersions(path))
      val props = next(b, c)
      if (props == c.props) Left(b) // no-op: nothing changed
      else {
        val v = b + 1L
        val (body, ckptDir) = encodeCommit(spark, root, v, c.files,
          c.schema.json, c.stats, c.rows, c.txn,
          c.dv, c.dvRows, parent = Some(c), colMap = c.colMap,
          physDropped = c.physDropped, carriedIdentical = true,
          statsAddOnly = Some(Map.empty), props = Some(props))
        Right(Staged(v, body, ckptDir))
      }
    }
  }

  /** The table's persistent properties at a version (TBLPROPERTIES). */
  def propertiesOf(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Map[String, String] = {
    val (_, _, c) = commitFor(spark, path, asOf)
    c.props
  }

  /** The exactly-once watermark for `appId` at the head: the highest
    * batchId a [[commitBatch]]/[[commitSnapshot]]/txn-bearing [[upsert]]
    * committed under that app. The public face of the manifest txn map —
    * consumers that key incremental work off it (the materialized-view
    * refresh) read the SAME value the replay no-op check uses, so their
    * progress cursor is atomic with the commit that moved it. */
  def lastTxn(spark: SparkSession, path: String, appId: String,
      asOf: Option[Long] = None): Option[Long] = {
    val (_, _, c) = commitFor(spark, path, asOf)
    c.txn.get(appId)
  }

  /** The row-tracking id high watermark at a version — the next fresh row
    * id. None when tracking has never assigned ids. */
  def rowIdHighWatermark(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Option[Long] = {
    val (_, _, c) = commitFor(spark, path, asOf)
    if (c.rowHwm > 0L) Some(c.rowHwm) else None
  }

  /** CHECK-constraint predicates ride table properties under this prefix
    * (`graft.constraint.<name>` → predicate SQL), so they persist in the
    * commit log and bind EVERY writer — the data-contract half the
    * reference documents but leaves unenforced
    * (reference/docs/data-contracts.md:76-88; the empty-but-referenced
    * contracts/expectations.yml, README.md:88-91). Delta's
    * `ALTER TABLE ADD CONSTRAINT ... CHECK` stores them the same way. */
  private val ConstraintPrefix = "graft.constraint."

  /** Property prefixes carrying validated DECLARATIONS (constraints,
    * generation, identity + its mark) — the keys every generic-properties
    * surface (DESCRIBE DETAIL, smuggle guards) must treat specially.
    * Single source of truth; the SQL layer reads it rather than repeating
    * the strings. */
  private[graft] def declarationPrefixes: Seq[String] =
    Seq(ConstraintPrefix, GeneratedPrefix, GeneratedZonePrefix,
      IdentityPrefix, IdentityHwmPrefix)

  private val ViolationMarker = "GRAFT CONSTRAINT VIOLATION"

  /** The table's CHECK constraints (name → predicate SQL). */
  def checkConstraintsOf(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Map[String, String] =
    constraintsIn(propertiesOf(spark, path, asOf))

  private def constraintsIn(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(ConstraintPrefix) =>
      k.stripPrefix(ConstraintPrefix) -> v }

  /** Wrap the rows a write verb is about to stage so every CHECK
    * constraint is validated DURING the write job — one pass, in-task, no
    * separate validation scan (the only shape that holds at 100 TB). A row
    * passes a CHECK when the predicate is TRUE or NULL (ANSI semantics);
    * a FALSE row fails its task via raise_error, the staged dir is
    * removed, and the verb refuses the commit atomically — the version
    * never advances ([[translateViolation]] surfaces the named
    * constraint). */
  private def withChecks(df: DataFrame, props: Map[String, String],
      path: String): DataFrame = {
    val cs = constraintsIn(props)
    if (cs.isEmpty) df
    else cs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
      val ok = coalesce(expr(sql), lit(true))
      d.filter(when(ok, lit(true)).otherwise(raise_error(concat(
        lit(s"$ViolationMarker: $path constraint '$name' CHECK ($sql) " +
          "violated by row "),
        substring(to_json(struct(df.columns.map(col).toSeq: _*)), 1, 256)))))
    }
  }

  /** Re-throw a staging failure caused by a CHECK violation as a clean,
    * named refusal (the raise_error surfaces wrapped in task/job failure
    * layers); anything else propagates untouched. */
  private def translateViolation(e: Throwable, path: String): Nothing = {
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse(""))
      .find(_.contains(ViolationMarker))
    msg match {
      case Some(m) => throw new IllegalStateException(
        m.substring(m.indexOf(ViolationMarker)) +
          " — commit refused, table version unchanged")
      case None => throw e
    }
  }

  /** ALTER TABLE ADD CONSTRAINT name CHECK (predicate): validate EXISTING
    * rows first (one scan of the pinned base version — any violating row
    * refuses the DDL), then commit the predicate into table properties so
    * every subsequent write verb enforces it. The CAS pins the validated
    * version: losing the race re-validates against the new head, so a
    * concurrent append can never slip an unvalidated row under the
    * constraint. */
  def addCheckConstraint(spark: SparkSession, path: String, name: String,
      predicateSql: String): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' must be an identifier")
    val key = ConstraintPrefix + name
    commitProps(spark, path, "add-constraint") { (b, c) =>
      require(!c.props.contains(key),
        s"$path: constraint '$name' already exists " +
          s"(CHECK (${c.props(key)})); DROP it first")
      val ok = coalesce(expr(predicateSql), lit(true))
      val bad = read(spark, path, Some(b)).filter(!ok).limit(1).count()
      if (bad > 0) throw new IllegalStateException(
        s"$path: cannot ADD CONSTRAINT $name CHECK ($predicateSql) — " +
          "existing rows violate it; fix the data first " +
          "(DELETE/UPDATE the violating rows)")
      c.props + (key -> predicateSql)
    }
  }

  /** ALTER TABLE DROP CONSTRAINT: removes the stored predicate (metadata
    * commit); no-op returning the current version if absent. */
  def dropCheckConstraint(spark: SparkSession, path: String,
      name: String): Long =
    setProperties(spark, path, Map.empty, Seq(ConstraintPrefix + name))

  // --------------------------------------------------------------------
  // GENERATED COLUMNS (Delta's `GENERATED ALWAYS AS (expr)`): the
  // expression rides table properties (`graft.generated.<col>` → SQL) so
  // it binds EVERY writer through the commit log, like CHECK constraints.
  // Write-verb semantics: a batch that OMITS the column gets it COMPUTED
  // in-task during the write job (no separate pass); a batch that
  // SUPPLIES it is enforced row-by-row (value must equal the expression —
  // Delta's explicit-value rule) through the same raise_error/refuse-
  // atomically machinery as CHECK constraints. This is exactly the
  // reference's derived-column contract (p_event_date from occurred_at,
  // event_hash from the payload — silver DDL 02_silver_events.sql) made
  // self-maintaining: the canonical use is a generated PARTITION column,
  // where the writer never hand-computes the partition value again.
  // --------------------------------------------------------------------

  private val GeneratedPrefix = "graft.generated."
  /** Session zone recorded at declaration for ZONE-DEPENDENT generations
    * (absent for zone-free expressions and legacy declarations): writes in
    * a different session zone refuse, and the partition-filter derivation
    * declines — a zone-dependent fill under a drifted zone would silently
    * corrupt the `p <=> f(base)` invariant both rely on. */
  private[graft] val GeneratedZonePrefix = "graft.generatedZone."

  /** Does `e` read the session time zone anywhere? (The derivation rule
    * and the declaration share this definition.) */
  def zoneDependentExpr(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists {
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        org.apache.spark.sql.catalyst.expressions.Cast
          .needsTimeZone(c.child.dataType, c.dataType)
      case t: org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression =>
        !t.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Cast]
      case _ => false
    }

  private[graft] def generatedZonesIn(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(GeneratedZonePrefix) =>
      k.stripPrefix(GeneratedZonePrefix) -> v }

  /** The table's generated columns (name → generation expression SQL). */
  def generatedColumnsOf(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Map[String, String] =
    generatedIn(propertiesOf(spark, path, asOf))

  private def generatedIn(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(GeneratedPrefix) =>
      k.stripPrefix(GeneratedPrefix) -> v }

  /** Top-level column names a SQL expression references (unresolved). */
  private def exprRefs(spark: SparkSession, sql: String): Set[String] =
    scala.util.Try(
      spark.sessionState.sqlParser.parseExpression(sql).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.nameParts.head.toLowerCase
      }.toSet).getOrElse(Set.empty[String])

  /** Declaration-time contract, enforced BEFORE anything is stored (so the
    * write path needs no casts and can never hit a type surprise):
    * the expression must analyze against the OTHER columns only (no self-
    * reference, no forward reference to another generated column), its
    * analyzed type must EQUAL the declared column type, and it must be
    * deterministic (a now()/rand() generation would make replays, CoW
    * rewrites and constraint re-checks non-reproducible — Delta refuses
    * these too). */
  /** Declaration-time contract checks; returns TRUE when the analyzed
    * expression is SESSION-TIME-ZONE-DEPENDENT (a timestamp→date cast,
    * trunc, hour, ...) — the caller then records the declaring session's
    * zone so writes and the partition-filter derivation can hold the
    * `p <=> f(base)` invariant across sessions. */
  private[graft] def validateGenerationExpr(spark: SparkSession,
      schema: StructType, name: String, exprSql: String,
      otherGenerated: Set[String]): Boolean = {
    require(schema.fieldNames.contains(name),
      s"generated column $name: no such column in ${schema.simpleString}")
    val refs = exprRefs(spark, exprSql)
    require(!refs.contains(name.toLowerCase),
      s"generated column $name: expression ($exprSql) may not reference itself")
    val genHit = refs intersect otherGenerated.map(_.toLowerCase)
    require(genHit.isEmpty,
      s"generated column $name: expression ($exprSql) may not reference " +
        s"other generated column(s) ${genHit.mkString(",")}")
    val others = StructType(schema.fields.filterNot(_.name == name))
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), others)
    val analyzed =
      try probe.select(expr(exprSql))
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"generated column $name: expression ($exprSql) does not analyze " +
            s"against the table's other columns: ${e.getMessage}")
      }
    val dt = analyzed.schema.fields(0).dataType
    val declared = schema(schema.fieldIndex(name)).dataType
    require(dt == declared,
      s"generated column $name: expression type ${dt.simpleString} must " +
        s"equal the declared type ${declared.simpleString} (add an explicit " +
        "CAST in the expression)")
    require(analyzed.queryExecution.analyzed.expressions.forall(_.deterministic),
      s"generated column $name: expression ($exprSql) must be deterministic")
    // evaluation-time dependence hides behind deterministic=true (Catalyst
    // treats now()/current_date as query-constant): walk the ANALYZED tree
    // for the time nodes themselves — this also catches indirect forms the
    // SQL text doesn't show (unix_timestamp() resolves to
    // UnixTimestamp(CurrentTimestamp(), …), curdate() to CurrentDate)
    val timeNodes = Set("CurrentTimestamp", "CurrentTimestampLike", "Now",
      "CurrentDate", "LocalTimestamp", "CurrentTimeZone", "CurrentBatchTimestamp")
    val badTime = analyzed.queryExecution.analyzed.expressions.flatMap(
      _.collect {
        case e if timeNodes.contains(e.getClass.getSimpleName) =>
          e.getClass.getSimpleName
      }).distinct
    require(badTime.isEmpty,
      s"generated column $name: expression may not depend on evaluation " +
        s"time (${badTime.mkString(",")}) — replays and rewrites would " +
        "regenerate different values")
    analyzed.queryExecution.analyzed.expressions.exists(zoneDependentExpr)
  }

  /** Declare `name` GENERATED ALWAYS AS (exprSql) on an EXISTING table:
    * validates the declaration contract, then that every existing row
    * already satisfies `name <=> expr` (one scan, refused on the first
    * violation — same shape as [[addCheckConstraint]], and the CAS pins
    * the validated version so a racing append can't slip an unvalidated
    * row under the declaration). */
  def setGeneratedColumn(spark: SparkSession, path: String, name: String,
      exprSql: String): Long = {
    val key = GeneratedPrefix + name
    commitProps(spark, path, "set-generated") { (b, c) =>
      require(!c.props.contains(key),
        s"$path: column $name is already generated " +
          s"(${c.props(key)}); drop the generation first")
      require(!identityIn(c.props).contains(name),
        s"$path: $name is an identity column — a column cannot be both")
      val s = c.schema
      val zoneDep = validateGenerationExpr(spark, s, name, exprSql,
        generatedIn(c.props).keySet - name)
      val bad = read(spark, path, Some(b))
        .filter(!(col(name) <=> expr(exprSql))).limit(1).count()
      if (bad > 0) throw new IllegalStateException(
        s"$path: cannot declare $name GENERATED ALWAYS AS ($exprSql) — " +
          "existing rows hold a different value; fix the data first")
      c.props + (key -> exprSql) ++
        (if (zoneDep) Map(GeneratedZonePrefix + name ->
          spark.sessionState.conf.sessionLocalTimeZone)
         else Map.empty)
    }
  }

  /** Remove the generation declaration (metadata commit): the column stays,
    * becomes an ordinary writable column; no-op if not generated. */
  def dropGeneratedColumn(spark: SparkSession, path: String,
      name: String): Long =
    setProperties(spark, path, Map.empty,
      Seq(GeneratedPrefix + name, GeneratedZonePrefix + name))

  /** The write-verb hook: fill absent generated columns, enforce supplied
    * ones — both as in-task expressions on the write job itself, zero
    * extra passes. Fill needs no cast ([[validateGenerationExpr]] pinned
    * the type at declaration). */
  private def applyGenerated(df: DataFrame, props: Map[String, String],
      path: String): DataFrame = {
    val gens = generatedIn(props)
    if (gens.isEmpty) df
    else {
      val zones = generatedZonesIn(props)
      val cur = df.sparkSession.sessionState.conf.sessionLocalTimeZone
      zones.foreach { case (name, z) =>
        require(z == cur,
          s"$path: generated column '$name' was declared under session " +
            s"time zone $z; this session uses $cur — a zone-dependent " +
            "generation filled under a different zone would corrupt the " +
            "column invariant. Set spark.sql.session.timeZone to the " +
            "declared zone to write.")
      }
    gens.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
      if (!d.columns.contains(name)) d.withColumn(name, expr(sql))
      else {
        val ok = col(name) <=> expr(sql)
        d.filter(when(ok, lit(true)).otherwise(raise_error(concat(
          lit(s"$ViolationMarker: $path generated column '$name' must equal " +
            s"($sql) — supplied row disagrees: "),
          substring(to_json(struct(d.columns.map(col).toSeq: _*)), 1, 256)))))
      }
    }
    }
  }

  /** Generation + CHECKs in one wrapper — the full write contract every
    * staging site applies (generation first, so constraints may reference
    * generated columns). */
  private def withContract(df: DataFrame, props: Map[String, String],
      path: String): DataFrame =
    withChecks(applyGenerated(df, props, path), props, path)

  // --------------------------------------------------------------------
  // IDENTITY COLUMNS (Delta 3.3's `GENERATED ALWAYS AS IDENTITY`): the
  // declaration (`graft.identity.<col>` → start/step/explicit) and the
  // HIGH-WATER MARK (`graft.identityHwm.<col>` → next value) both ride
  // table properties, so allocation state lives in the commit log itself:
  // each identity-filling commit advances the mark ATOMICALLY with the
  // rows it allocated, a lost CAS race restages under the new mark (the
  // props-staleness check already forces that), and CLONE carries the
  // mark so a branched table keeps numbering where the source left off.
  // Values are allocated DENSE per commit — batch row i gets
  // hwm + step·i via one zipWithIndex pass over the incoming batch (the
  // batch, never the table; the extra pass is the price of gap-free ids
  // and is bounded by the write itself).
  // --------------------------------------------------------------------

  private val IdentityPrefix = "graft.identity."
  private val IdentityHwmPrefix = "graft.identityHwm."

  /** start/step and whether explicit values are accepted (Delta's
    * GENERATED BY DEFAULT) or refused (GENERATED ALWAYS). */
  final case class IdentitySpec(start: Long, step: Long, allowExplicit: Boolean)

  def identityColumnsOf(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Map[String, IdentitySpec] =
    identityIn(propertiesOf(spark, path, asOf))

  private def identityIn(props: Map[String, String]): Map[String, IdentitySpec] =
    props.collect { case (k, v) if k.startsWith(IdentityPrefix) =>
      val m = v.split(";").map(_.split("=", 2)).collect {
        case Array(a, b) => a -> b }.toMap
      k.stripPrefix(IdentityPrefix) -> IdentitySpec(
        m("start").toLong, m("step").toLong, m("explicit").toBoolean)
    }

  /** Declare `name` as an identity column. Only on a table with ZERO live
    * rows (Delta allows identity at CREATE only — existing free values
    * could collide with every future allocation); the column must be
    * BIGINT and not generated. */
  def declareIdentityColumn(spark: SparkSession, path: String, name: String,
      start: Long = 1L, step: Long = 1L,
      allowExplicit: Boolean = false): Long = {
    require(step != 0L, s"$path: identity step must be non-zero")
    // every precondition validates INSIDE the CAS loop against the pinned
    // version (like setGeneratedColumn): a racing append cannot slip rows
    // under the declaration — losing the race re-validates emptiness
    // against the new head
    commitProps(spark, path, "declare-identity") { (b, c) =>
      val s = c.schema
      require(s.fieldNames.contains(name), s"$path: no such column: $name")
      require(s(s.fieldIndex(name)).dataType ==
        org.apache.spark.sql.types.LongType,
        s"$path: identity column $name must be BIGINT " +
          s"(got ${s(s.fieldIndex(name)).dataType.simpleString})")
      require(!generatedIn(c.props).contains(name),
        s"$path: $name is a generated column — a column cannot be both")
      require(!c.props.contains(IdentityPrefix + name),
        s"$path: $name is already an identity column")
      val live = c.files.map(fk => c.rows.getOrElse(fk, -1L))
      val nRows =
        if (live.forall(_ >= 0))
          live.sum - c.files.map(fk => c.dvRows.getOrElse(fk, 0L)).sum
        else read(spark, path, Some(b)).count()
      require(nRows == 0L,
        s"$path: identity can only be declared on an empty table (existing " +
          "values could collide with future allocations) — declare it at " +
          "CREATE TABLE, or CTAS into a fresh table")
      c.props +
        (IdentityPrefix + name ->
          s"start=$start;step=$step;explicit=$allowExplicit") +
        (IdentityHwmPrefix + name -> start.toString)
    }
  }

  /** Remove the identity declaration AND its high-water mark (metadata
    * commit): the column keeps its values, becomes ordinary. */
  def dropIdentityColumn(spark: SparkSession, path: String,
      name: String): Long =
    setPropertiesInternal(spark, path, Map.empty,
      Seq(IdentityPrefix + name, IdentityHwmPrefix + name))

  /** The append/snapshot hook: returns the batch with every ABSENT
    * identity column filled dense from the current mark, plus the
    * hwm-advance per filled column as a function of the staged row count
    * (the count is known only after staging — the caller folds it into
    * the SAME commit's properties). A batch SUPPLYING a GENERATED ALWAYS
    * identity column refuses; BY DEFAULT accepts it untouched (and does
    * not advance the mark — Delta's explicit-insert contract). */
  private def applyIdentity(df: DataFrame, props: Map[String, String],
      path: String): (DataFrame, Long => Map[String, String], Option[DataFrame]) = {
    val specs = identityIn(props)
    if (specs.isEmpty) return (df, _ => Map.empty, None)
    val present = specs.keys.filter(df.columns.contains).toSeq
    present.foreach { n =>
      require(specs(n).allowExplicit,
        s"$path: column $n is GENERATED ALWAYS AS IDENTITY — omit it from " +
          "the batch (or declare it GENERATED BY DEFAULT to allow explicit " +
          "values)")
    }
    val absent = (specs -- present).toSeq.sortBy(_._1)
    if (absent.isEmpty) return (df, _ => Map.empty, None)
    val marks = absent.map { case (n, sp) =>
      (n, sp.step, props.get(IdentityHwmPrefix + n).map(_.toLong).getOrElse(sp.start))
    }
    val spark = df.sparkSession
    // zipWithIndex computes per-partition counts in one job, then the
    // staging write computes values in another — PERSIST the batch so both
    // passes observe ONE materialization (a replay-unstable source would
    // otherwise hand the two passes different partitions → duplicate or
    // gapped ids). The caller unpersists after the commit resolves.
    val src = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outSchema = StructType(src.schema.fields ++ marks.map { case (n, _, _) =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.LongType, nullable = false) })
    val filled = spark.createDataFrame(
      src.rdd.zipWithIndex.map { case (row, idx) =>
        org.apache.spark.sql.Row.fromSeq(
          row.toSeq ++ marks.map { case (_, step, hwm) => hwm + step * idx })
      }, outSchema)
    val advance = (nRows: Long) => marks.map { case (n, step, hwm) =>
      IdentityHwmPrefix + n -> (hwm + step * nRows).toString
    }.toMap
    (filled, advance, Some(src))
  }

  private def alterSchema(spark: SparkSession, path: String, verb: String,
      change: (StructType, Commit, Long) => (StructType, Map[String, String], Set[String]),
      renameStats: Option[(String, String)] = None,
      propsTransform: Map[String, String] => Map[String, String] = identity): Long = {
    val root = new Path(path)
    commitLoop(spark, path, s"$verb-column") { head =>
      val (b, c) = head.getOrElse(noVersions(path))
      val v = b + 1L
      val (next, nextMap, nextDropped) = change(c.schema, c, v)
      val keep = next.fieldNames.toSet
      // LAZY: on a checkpoint-anchored table the stats prune runs on the
      // EXECUTORS (keepStatsCols → writeCkptFromAnchor); this driver-side
      // map is only ever forced on small/inline tables. RENAME rekeys the
      // renamed column's entries first (same physical column, new logical
      // key), then the keep-filter sheds truly-dropped names.
      lazy val stats = c.stats.map { case (fk, cols) =>
        val rekeyed = renameStats.fold(cols) { case (from, to) =>
          cols.map { case (k0, v0) => (if (k0 == from) to else k0) -> v0 }
        }
        fk -> rekeyed.filter(kv => keep(kv._1))
      }.filter(_._2.nonEmpty)
      // ADD COLUMN touches no file stats (carry identity holds — it may
      // delta-encode and never forces the parent map); DROP/RENAME COLUMN
      // change carried stats, which a file-delta can't express: full form,
      // with the stats rewrite shipped to the executors for anchored tables
      val reshape = verb == "drop" || renameStats.isDefined
      val nextProps = propsTransform(c.props)
      val (body, ckptDir) = encodeCommit(spark, root, v, c.files, next.json,
        stats, c.rows, c.txn, c.dv, c.dvRows, parent = Some(c),
        forceFull = reshape,
        colMap = nextMap, physDropped = nextDropped,
        carriedIdentical = !reshape,
        statsAddOnly = Some(Map.empty),
        keepStatsCols = if (reshape) Some(keep) else None,
        renameStats = renameStats,
        props = if (nextProps == c.props) None else Some(nextProps))
      Right(Staged(v, body, ckptDir))
    }
  }

  /** Marked-rows fraction above which DV hygiene kicks in AUTOMATICALLY: a
    * [[delete]] or [[upsert]] that would push a file past this rewrites
    * that file in the same commit instead of carrying the marks (Delta
    * tracks the same deleted-rows-fraction to self-schedule purges); see
    * [[rewriteOverMarked]]. Without it, a table absorbing daily point
    * deletes pays an ever-growing anti-join until someone remembers to
    * OPTIMIZE. Pass `purgeFraction = 1.0` to opt a delete out (pure
    * merge-on-read). */
  val DefaultDvPurgeFraction: Double = 0.5

  /** THE mark-or-rewrite rule of the verbs that remove rows by marking them
    * ([[upsert]], [[delete]]): of the files gaining `newMarks`
    * (rows per file), those whose existing plus new marks would exceed
    * `fraction` of their rows are REWRITTEN instead; every other one keeps
    * its bytes and takes the marks. */
  private def rewriteOverMarked(c: Commit, newMarks: Map[String, Long],
      fraction: Double = DefaultDvPurgeFraction): Set[String] =
    newMarks.collect { case (fk, n) if n > 0L &&
      (c.dvRows.getOrElse(fk, 0L) + n).toDouble / c.rows(fk) > fraction => fk }.toSet

  /** Maintenance verb: MATERIALIZE deletion-vector marks — rewrite every
    * marked file as its surviving rows, dropping the marks, as one commit.
    * The file-granular complement to [[compact]]/[[zOrderBy]] for a table
    * whose marks accumulated under an opted-out [[delete]]: afterwards the
    * read plan for those files is a plain scan again (no anti-join). No-op
    * when no file is marked. */
  def purgeDeletes(spark: SparkSession, path: String): Long = {
    val root = new Path(path)
    commitLoop(spark, path, "purge") { head =>
      val (b, c) = head.getOrElse(noVersions(path))
      val purgeKeys = c.files.filter(fk => c.dvRows.getOrElse(fk, 0L) > 0L)
      if (purgeKeys.isEmpty) Left(b)
      else Right(replaceFiles(spark, path, head, purgeKeys.toSet,
        Some(rewriteSource(spark, root, c, purgeKeys)))) // marks applied
    }
  }

  /** OPTIMIZE: bin-pack the head version's small files into ~`targetBytes`
    * files as a NEW version (the maintenance the reference's OPTIMIZE
    * guidance describes, `sql/ddl/01_bronze.sql:24-26`). Files already at
    * least half the target size are carried untouched; the rest are
    * coalesced (coalesce, not repartition — no shuffle, and each output
    * file merges ADJACENT inputs so a clustered/z-ordered layout keeps its
    * locality and its stats stay narrow). Stats and row counts are
    * recomputed for the packed files; every older version remains
    * time-travelable; `vacuum` later reclaims the replaced small files.
    * Read results are bit-identical across the compaction (row-level
    * multiset is unchanged). No-op (current version returned) when fewer
    * than two files qualify. */
  /** Write-time table properties (the reference declares both on every
    * table, `sql/ddl/01_bronze.sql:18-22` — Delta's
    * `delta.autoOptimize.{optimizeWrite,autoCompact}`):
    *
    *  - `graft.optimizeWrite` = true: before staging, repartition append/
    *    snapshot rows by the partition columns so each touched partition
    *    directory receives ONE file per commit instead of one per input
    *    task (32 tasks × K dirs = 32K tiny files per streaming batch is
    *    how partitioned tables die; the shuffle is the price of bounded
    *    file counts, exactly Delta's optimizeWrite trade).
    *  - `graft.autoCompact` = true: after an insert commits, any touched
    *    partition directory holding at least `graft.autoCompact.minFiles`
    *    (default 8) files is bin-packed to `graft.autoCompact.targetBytes`
    *    (default 128 MiB) as a chained commit — unattended small-file
    *    hygiene, so a streaming table converges to a bounded file count
    *    per partition without anyone remembering to run OPTIMIZE.
    */
  private val OptimizeWriteKey = "graft.optimizeWrite"
  private val AutoCompactKey = "graft.autoCompact"
  private val AutoCompactMinFilesKey = "graft.autoCompact.minFiles"
  private val AutoCompactTargetKey = "graft.autoCompact.targetBytes"

  /** `graft.ndv.autoAnalyze` = staleness fraction (e.g. "0.2"): after an
    * insert or merge commits (and after its chained auto-compact, whose
    * rewrites also shed sketches), re-run `ANALYZE ... COMPUTE NDV` for
    * the declared roster whenever any column's [[ndvStaleness]] exceeds
    * the fraction — Delta's predictive-optimization stats story. The
    * probe is manifest-only (zero data files opened) and the threshold
    * bounds the re-scan frequency: at 0.2 a table pays one stats scan per
    * +25% growth, so sketch upkeep amortizes to O(1) scans per doubling.
    * CoW DELETE/UPDATE rewrites raise staleness without firing the hook;
    * the next insert/merge catches up — same deferred-hygiene contract as
    * auto-compact. */
  private[graft] val AutoAnalyzeKey = "graft.ndv.autoAnalyze"

  private def boolProp(props: Map[String, String], key: String): Boolean =
    props.get(key).exists(_.equalsIgnoreCase("true"))

  /** Pre-stage shaping under `graft.optimizeWrite`: one shuffle on the
    * partition columns → one file per touched partition dir per commit.
    * Unpartitioned tables are untouched (their file count per commit is
    * already the task count of a narrow plan, and a blind coalesce would
    * serialize the write). */
  private def optimizeWriteShape(df: DataFrame, props: Map[String, String],
      partCols: Seq[String]): DataFrame =
    if (partCols.nonEmpty && boolProp(props, OptimizeWriteKey))
      df.repartition(partCols.map(col): _*)
    else df

  /** Post-commit hook under `graft.autoCompact` — see the key's doc above.
    * The probe is a driver-side group-by over the in-memory manifest list
    * restricted to the dirs THIS append touched, and the size pass inside
    * compactImpl stats only in-scope files: O(touched partitions), never
    * O(table). Failures are swallowed — the append already committed;
    * hygiene retries on the next append (Delta's post-commit hook
    * semantics). */
  private def autoCompactAfter(spark: SparkSession, path: String,
      props: Map[String, String], newRel: Seq[String]): Unit =
    if (boolProp(props, AutoCompactKey) && newRel.nonEmpty)
      // the WHOLE hook is swallowed — including threshold parsing: the
      // append already committed, and a malformed minFiles value must not
      // make a succeeded write look failed (a retrying caller would
      // double-write the batch)
      scala.util.Try {
        val minFiles = props.get(AutoCompactMinFilesKey).map(_.trim.toInt).getOrElse(8)
        val target = props.get(AutoCompactTargetKey).map(_.trim.toLong)
          .getOrElse(128L * 1024 * 1024)
        compactImpl(spark, path, target, (_, c) => {
          val pk = partPhysOf(c)
          val touched = newRel.map(partFragOf(_, pk)).toSet
          c.files.groupBy(partFragOf(_, pk)).collect {
            case (frag, fks) if touched(frag) && fks.size >= minFiles => fks
          }.flatten.toSet
        })
      }

  /** Post-commit hook under [[AutoAnalyzeKey]] — runs AFTER
    * [[autoCompactAfter]] so the fresh sketches cover the packed files.
    * Same swallow-everything contract: the data commit already succeeded,
    * and stats hygiene must never make it look failed. The staleness probe
    * costs zero data reads; [[analyzeNdv]] scans only when it fires. */
  private def autoAnalyzeAfter(spark: SparkSession, path: String,
      props: Map[String, String]): Unit =
    props.get(AutoAnalyzeKey).foreach { t =>
      scala.util.Try {
        val threshold = t.trim.toDouble
        val cols = ndvColsIn(props)
        if (cols.nonEmpty && cols.exists(c =>
            ndvStaleness(spark, path, c).exists(_ > threshold)))
          // INCREMENTAL: copy-on-write rewrites mint new file keys, so
          // "files missing a sketch" is exactly the changed set — the
          // hook's steady-state cost is O(new files), never O(table)
          analyzeNdv(spark, path, cols, incremental = true)
      }
    }

  /** `graft.mv.autoRefresh` = true: every mutating commit on this table
    * (write/overwrite, append, streaming batch or snapshot, COPY INTO,
    * merge, DELETE, UPDATE) chains a REFRESH of its registered
    * materialized views — the always-fresh-rewrite story: with
    * the watermark tracking the head, [[graft.sql.GraftMvRewrite]] keeps
    * answering aggregates from the views instead of declining on
    * staleness. Each refresh costs one change-feed diff + one view-sized
    * MERGE, paid per source commit — right for batch-cadence tables; a
    * high-frequency streaming appender should prefer scheduled
    * `REFRESH MATERIALIZED VIEW`. Same swallow-everything post-commit
    * contract as auto-compact/auto-analyze (per view, so one broken view
    * cannot starve the others); a refresh of an unchanged source inside a
    * chained hook is the versions-never-rewind no-op. */
  private[graft] val MvAutoRefreshKey = "graft.mv.autoRefresh"

  /** Materialized-view content is DERIVED: a direct write would silently
    * desynchronize it from its definition — the rewrite would then serve
    * corrupted aggregates as if they were the source's. Every row-changing
    * verb refuses on a table carrying the view marker (the source
    * property), except when the refresh machinery itself is applying the
    * delta (thread-local bypass). Maintenance verbs that preserve content
    * (OPTIMIZE/VACUUM) and RESTORE (which rewinds content and watermark
    * COHERENTLY — the next refresh catches up) stay allowed. */
  private[sources] val mvMaintenance = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private def fenceMvWrite(props: Map[String, String], path: String,
      verb: String): Unit =
    require(!props.contains(MaterializedView.SourceKey) || mvMaintenance.get(),
      s"$path is a materialized view over ${props.getOrElse(
        MaterializedView.SourceKey, "?")} — its content is derived, and a " +
        s"direct $verb would desynchronize it; mutate the source and " +
        "REFRESH MATERIALIZED VIEW (or drop the view)")

  private def autoRefreshViewsAfter(spark: SparkSession, path: String,
      props: Map[String, String]): Unit = {
    if (boolProp(props, MvAutoRefreshKey)) {
      MaterializedView.viewsIn(props).foreach { mv =>
        scala.util.Try(MaterializedView.refresh(spark, mv))
      }
      // a DIM's commit chains the join views pinning it — the refresh's
      // dim-delta pass folds the change feed in incrementally
      MaterializedView.dimViewsIn(props).foreach { mv =>
        scala.util.Try(MaterializedView.refresh(spark, mv))
      }
    }
    autoRepinAfter(spark, path, props)
  }

  /** The post-commit rule of every commit that adds rows ([[insert]],
    * [[upsert]]): chained auto-compact of the touched partitions
    * (`added` = the files the commit added), then auto-analyze, then the
    * view refresh and FK re-pin, each under `props`. */
  private def afterInsert(spark: SparkSession, path: String,
      props: Map[String, String], added: Seq[String]): Unit = {
    autoCompactAfter(spark, path, props, added)
    autoAnalyzeAfter(spark, path, props)
    autoRefreshViewsAfter(spark, path, props)
  }

  /** `graft.fk.autoRepin` = true: after every mutating commit, re-declare
    * this table's FOREIGN KEY and UNIQUE pins — the incremental
    * re-validation makes this O(commit delta), so a loaded table's
    * elimination licenses re-arm without an operator in the loop. An
    * integrity VIOLATION in the delta leaves the pin disarmed (stale pins
    * are silent-correct: elimination just declines) — the swallow matches
    * the other hygiene hooks, which never un-commit the data they chase.
    * Scope: the hooks fire on THIS table's commits, so fact loads re-arm
    * fact-side FK pins and the table's own UNIQUE pins; a DIM's motion
    * disarms referencing facts until their next load or a manual
    * re-declare (the dim does not know who references it). */
  private[graft] val FkAutoRepinKey = "graft.fk.autoRepin"

  private def autoRepinAfter(spark: SparkSession, path: String,
      props: Map[String, String]): Unit =
    if (boolProp(props, FkAutoRepinKey)) {
      ForeignKeys.declsIn(props).foreach { d =>
        scala.util.Try(
          ForeignKeys.declare(spark, path, d.fkCols, d.dimPath, d.pkCols))
      }
      ForeignKeys.uniqueDeclsIn(props).foreach { u =>
        scala.util.Try(ForeignKeys.declareUnique(spark, path, u.cols))
      }
      // the REVERSE roster: this table may be the DIM of other facts'
      // declarations — chain their re-validation too (incremental: the
      // dim diff is examined once per fact; each fact's own pin commit is
      // props-only and fires no hooks, so no recursion)
      ForeignKeys.referencedByIn(props).foreach { fact =>
        scala.util.Try {
          ForeignKeys.declsIn(propertiesOf(spark, fact))
            .filter(d => new Path(d.dimPath).toUri.getPath ==
              new Path(path).toUri.getPath)
            .foreach { d =>
              scala.util.Try(ForeignKeys.declare(spark, fact, d.fkCols,
                d.dimPath, d.pkCols))
            }
        }
      }
    }

  /** Resolve `where` against the schema and require it to reference ONLY
    * partition columns: partition values are exact per directory, so the
    * scope is EXACT — the predicate is evaluated directly against each
    * distinct directory's parsed values (once per dir, not per file), and
    * a dir is in scope iff it evaluates TRUE. A data-column scope would be
    * stats-approximate, and a maintenance verb must touch exactly what the
    * operator named — hence the refusal, and hence direct evaluation
    * rather than the conservative three-valued stat pruner (which keeps
    * shapes it cannot prove dead). Returns the in-scope file set. */
  private def partitionScope(spark: SparkSession, root: Path, c: Commit,
      where: Column, verb: String): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference}
    val s = c.schema
    val partCols = partitionColsOf(s)
    val partFields = partCols.map(n => s(s.fieldIndex(n)))
    val resolved = DataSkipping.resolve(spark, s, where)
    val refs = resolved.references.map(_.name).toSet
    require(refs.nonEmpty && refs.subsetOf(partCols.toSet),
      s"$root: $verb ... WHERE may reference only partition column(s) " +
        s"[${partCols.mkString(",")}] (got [${refs.mkString(",")}]) — a " +
        "data-column scope would be stats-approximate, touching files the " +
        "predicate didn't name")
    require(resolved.deterministic,
      s"$root: $verb ... WHERE must be deterministic")
    val bound = resolved.transformUp {
      // RuntimeReplaceable wrappers (to_date, ilike, …) only exist for the
      // optimizer; direct eval needs their replacement expression
      case rr: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        rr.replacement
      case a: AttributeReference =>
        BoundReference(partCols.indexOf(a.name), a.dataType, a.nullable)
    }
    val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
    c.files.groupBy(partFragOf(_, partPhysOf(c))).iterator.flatMap { case (frag, fks) =>
      val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        partFields.map { fl =>
          rawPartValue(frag, c.physName(fl.name)) match {
            case None => null // hive null sentinel
            case Some(v) => DataSkipping.castPartValue(v, fl.dataType, zone)
          }
        })
      if (bound.eval(row) == true) fks else Seq.empty
    }.toSet
  }

  /** OPTIMIZE, optionally partition-scoped (`OPTIMIZE t WHERE p = v`):
    * bin-pack only the files in partitions matching `where` — at 100 TB
    * you only ever compact recent partitions, and the file-size probe
    * itself must be O(scope), not O(table). Out-of-scope files (and their
    * stats, rows and deletion-vector marks) are carried by reference,
    * byte-identical. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      where: Option[Column] = None): Long =
    compactImpl(spark, path, targetBytes, (root, c) => where match {
      case None => c.files.toSet
      case Some(p) => partitionScope(spark, root, c, p, "OPTIMIZE")
    })

  /** The one bin-pack loop behind [[compact]] and [[autoCompactAfter]]:
    * `scopeOf` names the candidate files per head re-read (CAS retries
    * recompute it), everything else carries by reference. */
  private def compactImpl(spark: SparkSession, path: String, targetBytes: Long,
      scopeOf: (Path, Commit) => Set[String]): Long = {
    val root = new Path(path)
    val f = fs(spark, root)
    commitLoop(spark, path, "compact") { head =>
      val (b, c) = head.getOrElse(noVersions(path))
      val scope: Set[String] = scopeOf(root, c)
      val sized = c.files.filter(scope)
        .map(r => r -> f.getFileStatus(new Path(root, r)).getLen)
      val smallSet = sized.filter(_._2 < targetBytes / 2).map(_._1).toSet
      if (smallSet.size < 2) Left(b) // nothing worth packing
      else {
        val totalSmall = sized.collect { case (r, n) if smallSet(r) => n }.sum
        val nOut = math.max(1, math.ceil(totalSmall.toDouble / targetBytes).toInt)
        val partCols = partitionColsOf(c.schema)
        val small = rewriteSource(spark, root, c, c.files.filter(smallSet))
        // partitioned tables pack PER DIRECTORY: a plain coalesce would give
        // every output task rows of many partitions, and the partitioned
        // stage would re-split each into one file per dir — nOut × dirs tiny
        // files, the opposite of compaction
        val packed =
          if (partCols.isEmpty) small.coalesce(nOut)
          else small.repartition(nOut, partCols.map(col): _*)
        Right(replaceFiles(spark, path, head, smallSet, Some(packed)))
      }
    }
  }

  /** OPTIMIZE ZORDER BY (cols): rewrite the head version z-ordered on the
    * clustering columns as a NEW version (dims × bits must fit a signed
    * long), recording per-file stats on exactly those columns — the
    * reference's own scan-pruning maintenance
    * (`sql/ddl/02_silver_events.sql:61` ZORDER BY; Delta's
    * `OPTIMIZE ... ZORDER BY`). After this commit every rewritten file
    * covers one aligned z-tile, so [[readWhere]]'s manifest pruning turns a
    * selective multi-column predicate into a handful of file opens. History
    * stays time-travelable and the streaming-txn watermarks carry forward.
    *
    * Partition-scoped ZORDER (`OPTIMIZE t WHERE p = v ZORDER BY (a, b)`):
    * `where` re-clusters only the partitions it matches (it must reference
    * partition columns only — see [[partitionScope]]); every out-of-scope
    * file is carried by reference, byte-identical, keeping its stats and
    * deletion-vector marks. Column mapping follows [[replaceFiles]]'s one
    * rule: kept while files are carried, shed by a rewrite of every file.
    * The idiom at 100 TB: cluster yesterday's partition after its last
    * append, never touch the other 3 years. */
  def zOrderBy(spark: SparkSession, path: String, cols: Seq[String],
      bits: Int = 16, where: Option[Column] = None): Long = {
    val root = new Path(path)
    commitLoop(spark, path, "zorder") { head =>
      val (b, c) = head.getOrElse(noVersions(path))
      // the bucket shuffle in stage would destroy the z-placement, and a
      // bucketed table's layout contract IS its clustering — refuse
      require(bucketSpecIn(c.props).isEmpty,
        s"$path: ZORDER is not supported on bucketed tables — the bucket " +
          "layout is the table's clustering (OPTIMIZE compacts per bucket)")
      val scope = where.fold(c.files.toSet)(partitionScope(spark, root, c, _, "ZORDER"))
      if (where.nonEmpty && scope.isEmpty) Left(b) // predicate matches no partition
      else {
        val partCols = partitionColsOf(c.schema)
        val base = rewriteSource(spark, root, c, c.files.filter(scope))
        // partitioned tables z-order WITHIN partitions (Delta's semantics):
        // clustering spans the z columns inside each dir, never across dirs
        val placed =
          if (partCols.isEmpty) TableIO.zPlaced(base, cols, bits)
          else TableIO.zPlacedWithin(base, partCols, cols, bits)
        // stats on exactly the clustering columns
        Right(replaceFiles(spark, path, head, scope, Some(placed), statsCols = cols))
      }
    }
  }

  /** The signed-multiplicity column of [[changes]]' aggregation. */
  private val ChangeSignCol = "__graft_cdf_net"

  /** Row-level change feed between two committed versions: multiset diff
    * tagged insert/delete (an unchanged row appears in neither).
    *
    * ONE SIGNED AGGREGATION: the rows of the added files carry +1, the
    * rows of the removed files −1; one group-by over every aligned column
    * sums the signs, groups netting to zero leave, and each survivor is
    * emitted |net| times — `insert` for a positive net, `delete` for a
    * negative one. That is the multiset `exceptAll` computes in each
    * direction (same null-safe, NaN/−0.0-normalized grouping), in one
    * exchange and one scan of each side instead of two of each.
    *
    * FILE-GRANULAR: a file carried by reference from `fromV` into `toV`
    * holds, by construction, identical live rows in both versions (same
    * bytes, same deletion-vector marks) — its rows cancel out of the
    * multiset diff without being read. So the aggregation runs ONLY
    * over files removed by one side or added by the other, plus the rows
    * whose marks differ in files common to both ([[markDelta]], looked up
    * by (file, row_index) in the marked files alone): a MERGE that marks
    * k rows of one tile at 100 TB aggregates its applied rows and those k
    * rows, not the tile and not the table. Marked rows join the same
    * signed aggregation (−1 when newly marked, +1 when un-marked), so a
    * re-sent unchanged row cancels like any other.
    *
    * Versions with evolved schemas (see upsert's evolveSchema) are aligned
    * first: columns missing on one side become typed nulls, so a row that
    * only gained a null new column reads as unchanged. */
  def changes(spark: SparkSession, path: String, fromV: Long, toV: Long): DataFrame = {
    val (root, _, cFrom) = commitFor(spark, path, Some(fromV))
    val (_, _, cTo) = commitFor(spark, path, Some(toV))
    val fromSet = cFrom.files.toSet
    val toSet = cTo.files.toSet
    val before = dataFrameFor(spark, root, cFrom, cFrom.files.filterNot(toSet))
    val after = dataFrameFor(spark, root, cTo, cTo.files.filterNot(fromSet))
    val types = (before.schema ++ after.schema).map(fl => fl.name -> fl.dataType).toMap
    val allCols = (before.columns ++ after.columns).distinct
    def aligned(df: DataFrame, sign: Column) = df.select(allCols.map { c =>
      if (df.columns.contains(c)) col(c) else lit(null).cast(types(c)).as(c)
    } :+ sign.as(ChangeSignCol): _*)
    val signed = aligned(after, lit(1L)).unionByName(aligned(before, lit(-1L)))
    val net = markDelta(spark, root, cFrom, cTo, withIds = false)
      .fold(signed)(m => signed.unionByName(aligned(m, col(ChangeSignCol))))
      .groupBy(allCols.map(col): _*)
      .agg(sum(col(ChangeSignCol)).as(ChangeSignCol))
      .filter(col(ChangeSignCol) =!= 0L)
    net.select(allCols.map(col) :+ explode(array_repeat(
      when(col(ChangeSignCol) > 0L, lit("insert")).otherwise(lit("delete")),
      abs(col(ChangeSignCol)).cast("int"))).as("_change_type"): _*)
  }

  /** The rows of files CARRIED from `cFrom` into `cTo` whose deletion-vector
    * marks differ, with `cTo`'s columns (and with `withIds` their tracked
    * [[RowIdCol]]) and a [[ChangeSignCol]]: −1 for a row `cTo` newly marks,
    * +1 for a row it un-marks. Both directions occur: a DV delete or a
    * marked MERGE grows a file's mark set, RESTORE across one shrinks it
    * (un-deleting rows) or swaps it at an equal count. Only an identical
    * sidecar list proves identical marks; otherwise every carried file
    * with marks on either side is a candidate, and unchanged marks cancel
    * in the two anti-joins (sidecars hold marks only, so reading them twice
    * is cheap). None when no carried file can differ. The rows bind with
    * `cTo`'s physical mapping (carried files hold the same bytes; across a
    * DDL boundary they read as the destination version sees them, like
    * the file diff). */
  private def markDelta(spark: SparkSession, root: Path, cFrom: Commit, cTo: Commit,
      withIds: Boolean): Option[DataFrame] = {
    val fromSet = cFrom.files.toSet
    val cand =
      if (cFrom.dv == cTo.dv) Seq.empty
      else cTo.files.filter(fk => fromSet(fk) &&
        (cFrom.dvRows.getOrElse(fk, 0L) > 0L || cTo.dvRows.getOrElse(fk, 0L) > 0L))
    if (cand.isEmpty) return None
    def marksOf(c: Commit): DataFrame =
      if (c.dv.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField(FileKeyCol, StringType), StructField(RowIdxCol, LongType))))
      else spark.read.parquet(c.dv.map(r => new Path(root, r).toString): _*)
        .filter(col(FileKeyCol).isin(cand: _*))
        .select(col(FileKeyCol), col(RowIdxCol))
    val fromMarks = marksOf(cFrom)
    val toMarks = marksOf(cTo)
    val delta = toMarks.join(fromMarks, Seq(FileKeyCol, RowIdxCol), "left_anti")
      .withColumn(ChangeSignCol, lit(-1L))
      .unionByName(fromMarks.join(toMarks, Seq(FileKeyCol, RowIdxCol), "left_anti")
        .withColumn(ChangeSignCol, lit(1L)))
    val s = cTo.schema
    val sRead =
      if (withIds) StructType(s.fields :+ StructField(RowIdCol, LongType, nullable = true))
      else s
    val rows = physReadKeyed(spark, root, cTo, sRead, cand, withKeys = true)
      .join(broadcast(delta), Seq(FileKeyCol, RowIdxCol))
    // a carried file's base id is identical in both commits (immutable)
    val keyed = if (withIds) withTrackedIds(spark, cTo, cand, rows) else rows
    Some(keyed.select(sRead.fields.map(fl => col(fl.name)).toSeq :+ col(ChangeSignCol): _*))
  }

  /** Row-IDENTITY change feed between two versions — requires row
    * tracking ([[RowTrackingKey]]). Same file-granular bound as
    * [[changes]] (only files removed by one side or added by the other
    * are read; carried files contribute at most their deletion-vector
    * mark deltas), but keyed on the STABLE row id instead of row values:
    *
    *  - a row rewritten with identical values (OPTIMIZE, ZORDER, compact,
    *    the untouched rows of a MERGE/UPDATE file) appears on both sides
    *    under the same id and collapses to NOTHING;
    *  - a value change under a surviving id emits an `update_preimage` /
    *    `update_postimage` PAIR (UPDATE and MERGE-matched rows keep their
    *    ids through the rewrite — see [[rewriteSource]]);
    *  - ids present on one side only emit `delete` / `insert`.
    *
    * Output: the table columns + [[RowIdCol]] + `_change_type`. */
  def changesWithRowIds(spark: SparkSession, path: String, fromV: Long,
      toV: Long): DataFrame = {
    val (root, _, cFrom) = commitFor(spark, path, Some(fromV))
    val (_, _, cTo) = commitFor(spark, path, Some(toV))
    require(cFrom.baseRow.nonEmpty || cFrom.files.isEmpty,
      s"$path: version $fromV predates row tracking — use changes()")
    require(cTo.baseRow.nonEmpty || cTo.files.isEmpty,
      s"$path: version $toV predates row tracking — use changes()")
    val fromSet = cFrom.files.toSet
    val toSet = cTo.files.toSet
    // carried files differ only by their mark deltas: newly-marked rows
    // join the before side, un-marked ones (the RESTORE direction) the
    // after side — each with its tracked id, so a marked MERGE's replaced
    // row pairs with the row that inherited its id
    val marks = markDelta(spark, root, cFrom, cTo, withIds = true)
    def withMarks(df: DataFrame, sign: Long): DataFrame = marks.fold(df)(m =>
      df.unionByName(m.filter(col(ChangeSignCol) === sign).drop(ChangeSignCol),
        allowMissingColumns = true))
    val before = withMarks(rowIdFrame(spark, root, cFrom, cFrom.files.filterNot(toSet)), -1L)
    val after = withMarks(rowIdFrame(spark, root, cTo, cTo.files.filterNot(fromSet)), 1L)
    val types = (before.schema ++ after.schema)
      .map(fl => fl.name -> fl.dataType).toMap
    val allCols = (before.columns ++ after.columns).distinct
      .filterNot(_ == RowIdCol)
    def aligned(df: DataFrame) = df.select(
      allCols.map { c2 =>
        if (df.columns.contains(c2)) col(c2)
        else lit(null).cast(types(c2)).as(c2)
      }.toSeq :+ col(RowIdCol): _*)
    // one struct per side → a full-outer id join classifies in one pass;
    // struct <=> is null-safe field-wise, so a column null on both sides
    // still reads as unchanged. Schemas with UNORDERABLE columns (maps)
    // can't ride a struct comparison — those compare the sides' JSON
    // renderings instead (a rewrite preserves map entry order through
    // read→write, so equal stored rows render identically).
    val orderable = allCols.forall(c2 =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(types(c2)))
    def sameRow(x: Column, y: Column): Column =
      if (orderable) x <=> y else to_json(x) <=> to_json(y)
    val b = aligned(before)
      .select(struct(allCols.map(col): _*).as("__b"), col(RowIdCol))
    val a = aligned(after)
      .select(struct(allCols.map(col): _*).as("__a"), col(RowIdCol))
    val joined = b.join(a, Seq(RowIdCol), "full_outer")
    val pre = joined
      .filter(col("__b").isNotNull &&
        (col("__a").isNull || !sameRow(col("__b"), col("__a"))))
      .select(col(RowIdCol), col("__b").as("__row"),
        when(col("__a").isNull, lit("delete"))
          .otherwise(lit("update_preimage")).as("_change_type"))
    val post = joined
      .filter(col("__a").isNotNull &&
        (col("__b").isNull || !sameRow(col("__b"), col("__a"))))
      .select(col(RowIdCol), col("__a").as("__row"),
        when(col("__b").isNull, lit("insert"))
          .otherwise(lit("update_postimage")).as("_change_type"))
    pre.unionByName(post).select(
      allCols.map(c2 => col(s"__row.`$c2`").as(c2)) :+
        col(RowIdCol) :+ col("_change_type"): _*)
  }

  /** DESCRIBE HISTORY: one row per committed version — file count,
    * manifest row count, and the streaming txn watermarks — assembled from
    * manifests only (no data files opened). */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val root = new Path(path)
    val f = fs(spark, root)
    // SINGLE PASS over the log: each version resolves by replaying its
    // delta onto the PREVIOUS version's already-resolved commit (deltas
    // chain strictly to v-1; the oldest kept version is always full after
    // a vacuum re-anchor). Per-version chain walks would read each
    // checkpoint up to CheckpointEvery times — O(V·chain) vs this O(V).
    var cur: Option[(Long, Commit)] = None
    versions(spark, path).map { v =>
      val node = checkedManifest(f, root, v)
      val c = cur match {
        case Some((pv, pc)) if node.has("base") && node.get("base").asLong() == pv =>
          applyDelta(root, v, pc, node)
        case _ if node.has("base") => readManifest(spark, f, root, v) // gap: chain walk
        case _ => parseFull(spark, root, v, node)
      }
      cur = Some((v, c))
      val dvDeleted = c.files.map(fk => c.dvRows.getOrElse(fk, 0L)).sum
      (v, c.files.size, c.files.map(c.rows).sum - dvDeleted,
        c.txn.toSeq.sortBy(_._1).map { case (a, b) => s"$a=$b" }.mkString(","),
        dvDeleted)
    }.toDF("version", "num_files", "num_rows", "txn", "num_dv_deleted")
  }

  /** Default orphan-sweep retention: like Delta's VACUUM retention horizon,
    * an unreferenced dir must ALSO be at least this old before it is swept,
    * so a slow in-flight writer's staged-but-not-yet-committed dir survives
    * vacuums that run after newer commits landed. */
  val DefaultOrphanRetentionMs: Long = 24L * 3600 * 1000

  /** Drop the manifests of all but the last `keepLast` versions and delete
    * every data file referenced ONLY by dropped versions — file-granular: a
    * file a kept version carries by reference survives the drop of the
    * version that wrote it. Data dirs that end up referenced by no kept
    * version are removed; OTHER unreferenced dirs (stages of in-flight or
    * dead writers) are swept only once older than BOTH the oldest kept
    * commit AND `now - orphanRetentionMs` (Delta-style retention floor) —
    * the commit-time bound alone is not enough: a writer that staged
    * BEFORE a newer commit landed would look older than every kept
    * manifest and get swept mid-write, then win its CAS and commit a
    * manifest pointing at deleted data. A writer in flight LONGER than the
    * retention window is still exposed — same contract as Delta's
    * retention horizon; don't pass a window shorter than your slowest
    * writer. Stale `.commit-*.tmp` files, and the checksum sidecars of
    * head-pointer and re-anchor temp files, are swept under the same
    * cutoff. */
  /** `VACUUM ... RETAIN n HOURS` (Delta's retention spelling, the
    * reference's own runbook line `sql/ddl/01_bronze.sql:26`): drop every
    * version whose commit stamp is older than the horizon — except the
    * current head, which always survives — then sweep files referenced
    * only by dropped versions, with the same horizon as the orphan
    * retention floor. Commit stamps are monotonic (manifestJson), so the
    * kept set is a suffix, exactly what [[vacuum]]'s keepLast expresses. */
  def vacuumRetain(spark: SparkSession, path: String, retainMs: Long): Unit = {
    require(retainMs >= 0, "retention must be non-negative")
    val root = new Path(path)
    val f = fs(spark, root)
    val vs = versions(spark, path)
    if (vs.isEmpty) return
    val cutoff = System.currentTimeMillis() - retainMs
    val keepLast = math.max(1, vs.count(v => commitTime(f, root, v) >= cutoff))
    vacuum(spark, path, keepLast, orphanRetentionMs = retainMs)
  }

  /** Everything one retention sweep would remove, computed READ-ONLY —
    * the single source of truth behind both [[vacuum]] (which executes it)
    * and [[vacuumPreview]] (which shows it): dropped manifests, their
    * checkpoint parquet dirs, data/DV files referenced only by dropped
    * versions, fully-dead data dirs, and the orphan-dir/stale-tmp entries
    * under the mtime cutoff. One computation → the preview can never
    * understate the sweep. */
  private final case class SweepPlan(
      drop: Seq[Long], keep: Seq[Long], dropCkpts: Seq[String],
      deadFiles: Seq[String], deadDirs: Seq[String],
      orphans: Seq[(Path, Boolean)])

  /** A checksum sidecar Hadoop's local filesystem wrote beside a temp file
    * named `<prefix>*.tmp` (`.<name>.crc`), which a nio move of the temp
    * file, or a writer dying before it deleted it, left behind. */
  private def tmpChecksum(name: String, prefix: String): Boolean =
    name.startsWith("." + prefix) && name.endsWith(".tmp.crc")

  private def sweepPlan(spark: SparkSession, f: FileSystem, root: Path,
      path: String, keepLast: Int, orphanRetentionMs: Long): SweepPlan = {
    val vs = versions(spark, path)
    val (drop, keep) = (vs.dropRight(keepLast), vs.takeRight(keepLast))
    val live: Set[String] =
      keep.flatMap { v =>
        val c = readManifest(spark, f, root, v)
        c.files ++ c.dv // DV sidecars are live exactly like data files
      }.toSet
    val liveDirs: Set[String] = live.map(_.takeWhile(_ != '/'))
    // resolve EVERY dropped commit before deleting ANY manifest: dropped
    // versions may be deltas chained onto other dropped versions. A commit
    // left unresolvable by a previous vacuum crash just loses its file
    // list — its manifest still goes, and its files fall to the orphan
    // sweep rather than breaking this vacuum forever.
    val dropFiles = drop.flatMap(v =>
      scala.util.Try(readManifest(spark, f, root, v)).toOption.toSeq
        .flatMap(c => c.files ++ c.dv))
    // checkpoint parquet dirs referenced only by dropped manifests die with
    // them (kept chains never descend past the re-anchored oldest keep)
    val dropCkpts = drop.flatMap(v =>
      scala.util.Try(parseManifest(f, root, v)).toOption
        .flatMap(n => Option(n.get("ckpt")).map(_.asText())))
    val deadFiles = dropFiles.distinct.filterNot(live)
    // dirs that held only dropped-version files are fully dead: writers
    // never add files to a dir once its commit landed
    val deadDirs = deadFiles.map(_.takeWhile(_ != '/'))
      .distinct.filterNot(liveDirs)
    val oldestKeptTime = keep.headOption
      .map(v => f.getFileStatus(manifest(root, v)).getModificationTime)
      .getOrElse(Long.MaxValue)
    val cutoff = math.min(oldestKeptTime,
      System.currentTimeMillis() - orphanRetentionMs)
    // listed through the raw filesystem: a checksummed one hides `.crc`
    val lf = f match {
      case cf: org.apache.hadoop.fs.ChecksumFileSystem => cf.getRawFileSystem
      case _ => f
    }
    val rootOrphans = lf.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      val staleStage = !st.isDirectory &&
        (n.startsWith(".commit-") && n.endsWith(".tmp") ||
          tmpChecksum(n, ".commit-") || tmpChecksum(n, ".anchor-"))
      if (st.getModificationTime < cutoff &&
        ((st.isDirectory && n.startsWith("d-") && !liveDirs.contains(n)) || staleStage))
        Some(st.getPath -> st.isDirectory)
      else None
    }
    // orphaned checkpoint dirs (writers that died between ckpt write and
    // manifest CAS) and stale head-pointer tmps, under the same cutoff
    val keptCkpts: Set[String] = keep.flatMap(v =>
      scala.util.Try(parseManifest(f, root, v)).toOption
        .flatMap(n => Option(n.get("ckpt")).map(_.asText()))).toSet
    val logOrphans = lf.listStatus(new Path(root, LogDir)).toSeq.flatMap { st =>
      val n = st.getPath.getName
      val orphanCkpt = st.isDirectory && n.startsWith("ckpt-") &&
        !keptCkpts.contains(s"$LogDir/$n")
      val staleHead = !st.isDirectory &&
        (n.startsWith(".head-") && n.endsWith(".tmp") || tmpChecksum(n, ".head-"))
      if (st.getModificationTime < cutoff && (orphanCkpt || staleHead))
        Some(st.getPath -> st.isDirectory)
      else None
    }
    SweepPlan(drop, keep, dropCkpts, deadFiles, deadDirs,
      rootOrphans ++ logOrphans)
  }

  /** `VACUUM ... DRY RUN`: everything the retention horizon WOULD delete
    * — dropped manifests, checkpoint dirs, dead data/DV files, dead dirs
    * (trailing '/'), orphan dirs and stale tmps — computed from the SAME
    * [[sweepPlan]] the real vacuum executes, read-only, no re-anchor, no
    * deletion (re-anchoring re-encodes the same logical commit, so the
    * swept set is identical). The operator's look-before-you-leap for an
    * irreversible sweep. */
  def vacuumPreview(spark: SparkSession, path: String,
      retainMs: Long): Seq[String] = {
    val root = new Path(path)
    val f = fs(spark, root)
    val vs = versions(spark, path)
    if (vs.isEmpty) return Seq.empty
    val cutoff = System.currentTimeMillis() - retainMs
    val keepLast = math.max(1, vs.count(v => commitTime(f, root, v) >= cutoff))
    val plan = sweepPlan(spark, f, root, path, keepLast, retainMs)
    val rootUri = root.toUri.getPath
    def rel(p: Path): String = {
      val s = p.toUri.getPath
      if (s.startsWith(rootUri)) s.stripPrefix(rootUri).stripPrefix("/") else s
    }
    plan.drop.map(v => f"$LogDir/$v%08d.json") ++
      plan.dropCkpts ++ plan.deadFiles ++ plan.deadDirs.map(_ + "/") ++
      plan.orphans.map { case (p, isDir) => rel(p) + (if (isDir) "/" else "") }
  }

  def vacuum(spark: SparkSession, path: String, keepLast: Int,
      orphanRetentionMs: Long = DefaultOrphanRetentionMs): Unit = {
    require(keepLast >= 1, "must keep at least the current version")
    val root = new Path(path)
    val f = fs(spark, root)
    val vs = versions(spark, path)
    val (drop, keep) = (vs.dropRight(keepLast), vs.takeRight(keepLast))
    // RE-ANCHOR before dropping: if the oldest kept version's delta chain
    // descends into versions about to be dropped, materialize its FULL
    // manifest first (atomic replace of the same logical commit — readers
    // see either encoding, both resolve identically). Later kept versions'
    // chains stop there, since chains step one version at a time.
    keep.headOption.filter(_ => drop.nonEmpty).foreach { mk =>
      if (chainAnchor(f, root, mk) < mk) {
        val c = readManifest(spark, f, root, mk)
        // SAME logical commit re-encoded: preserve the original commit ts
        // so TIMESTAMP AS OF resolves identically across the vacuum
        val (body, _) = encodeCommit(spark, root, mk, c.files, c.schema.json,
          c.stats, c.rows, c.txn, c.dv, c.dvRows, // no parent → full form
          colMap = c.colMap, physDropped = c.physDropped, ts = c.ts,
          props = Some(c.props), // same logical commit: keep its props
          inheritWf = c.wf,
          // the re-encoded commit IS its own anchor source: a ckpt-chained
          // keep re-anchors via a Spark job over its anchor's parquet
          // instead of forcing the stats map onto the driver
          carriedIdentical = true, anchorSrc = Some(c),
          // verbatim re-encode: same files, same ids, same watermark
          rowIdSeed = Some((c.rowHwm, c.baseRow)))
        val tmp = new Path(root, s".anchor-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        val out = f.create(tmp, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        atomicReplace(f, root, tmp, manifest(root, mk))
      }
    }
    // one plan (shared with DRY RUN), executed in safety order: all
    // manifests first — a crash between manifest and data deletion must
    // not leave a committed version whose data is gone — then ckpt dirs,
    // dead files, dead dirs, and the orphan/stale-tmp sweep
    val plan = sweepPlan(spark, f, root, path, keepLast, orphanRetentionMs)
    plan.drop.foreach(v => f.delete(manifest(root, v), false))
    plan.dropCkpts.foreach(rel => f.delete(new Path(root, rel), true))
    plan.deadFiles.foreach(r => f.delete(new Path(root, r), false))
    plan.deadDirs.foreach(d => f.delete(new Path(root, d), true))
    plan.orphans.foreach { case (p, isDir) => f.delete(p, isDir) }
  }
}
