package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.sources.VersionedTable

/** Structured Streaming SOURCE over a [[graft.sources.VersionedTable]] —
  * the read half of Delta's streaming story (`spark.readStream.format
  * ("delta")`): the commit log IS the changelog, so a streaming query can
  * tail the table and receive each committed version's appended files as
  * one micro-batch, exactly once, with no file-listing race (uncommitted
  * staged files are invisible because offsets are VERSIONS, not directory
  * contents — precisely what a raw file stream over the data dirs could
  * never guarantee).
  *
  * Offsets are committed version numbers. Each batch (fromV, toV] emits the
  * files present in toV but not in fromV, read with toV's schema. Non-append
  * commits are REJECTED by default — a file-level changelog cannot
  * represent row-level rewrites — unless `ignoreChanges=true`, which
  * re-emits what they add (at-least-once for updated rows; Delta's option
  * of the same name and the same caveat). A commit is non-append when it
  * rewrites or drops files (a copy-on-write MERGE/UPDATE, OPTIMIZE, a
  * DELETE past the purge fraction), or when it adds files AND marks rows
  * of files it carries (a MERGE done by deletion vectors: the added rows
  * replace marked ones the stream already emitted) — decided per commit,
  * so an append followed by a marking delete in one batch still streams.
  * Deletion-vector-only commits add no files and emit an empty batch: a
  * [[graft.sources.VersionedTable.delete]] whose marks stay under the
  * purge fraction streams as an empty batch, while one that rewrites a
  * file past the fraction is refused (without `ignoreChanges`) like any
  * rewrite. Use [[graft.sources.VersionedTable.changes]] for a row-level
  * diff instead.
  *
  * RATE CONTROL (Delta's maxFilesPerTrigger / backfill-throttle parity):
  * without it, a query restarting after a long gap receives EVERYTHING
  * between its checkpoint and the head as ONE micro-batch — at 100 TB that
  * is an unbounded unit of work and an unbounded state-store update.
  * `maxVersionsPerTrigger` caps how many commits a batch may span;
  * `maxFilesPerTrigger` caps the cumulative appended files per batch
  * (always admitting at least one version, so progress is guaranteed).
  * Offsets stay exact version numbers, so throttled batches replay
  * deterministically across restarts — exactly-once is unaffected.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-table")          // or the class name
  *     .option("startingVersion", "0")               // default: from genesis
  *     .option("ignoreChanges", "false")
  *     .option("maxVersionsPerTrigger", "10")        // default: unbounded
  *     .option("maxFilesPerTrigger", "1000")         // default: unbounded
  *     .load(tablePath)
  * }}}
  */
class VersionedTableSourceProvider extends StreamSourceProvider
    with RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-table source requires .load(<tablePath>)"))

  private def statsCols(parameters: Map[String, String]): Seq[String] =
    parameters.get("statsCols").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** Partition layout for batch writes: `option("partitionBy", "a,b")` or
    * the writer's own `.partitionBy(...)`, which DSv1 forwards as a
    * JSON-array option under `__partition_columns`. */
  private def partitionCols(parameters: Map[String, String]): Seq[String] = {
    val explicit = parameters.get("partitionBy").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val writerSide = parameters.get("__partition_columns").toSeq.flatMap { js =>
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(js).elements().asScala.map(_.asText()).toSeq
    }
    require(explicit.isEmpty || writerSide.isEmpty || explicit == writerSide,
      s"conflicting partition declarations: option partitionBy=$explicit " +
        s"vs writer partitionBy=$writerSide")
    if (explicit.nonEmpty) explicit else writerSide
  }

  /** BATCH writes: `df.write.format("graft-table").mode(m).save(path)` —
    * every mode lands as an atomic commit on the versioned log:
    *
    *  - Append    → new version = parent files + df's files
    *  - Overwrite → new FULL-SNAPSHOT version (a logical overwrite: prior
    *                versions stay time-travelable, like Delta's)
    *  - ErrorIfExists (default) → snapshot write, refused if the table has
    *                any committed version
    *  - Ignore    → snapshot write only if the table does not exist
    *
    * `option("statsCols", "a,b")` records per-file min/max for those
    * columns in the manifest, feeding plan-time skipping on the read path. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = tablePath(parameters)
    val cols = statsCols(parameters)
    val parts = partitionCols(parameters)
    mode match {
      case SaveMode.Append => VersionedTable.append(data, path, cols, parts)
      case SaveMode.Overwrite => VersionedTable.write(data, path, cols, parts)
      // exists-or-not is decided INSIDE the commit loop (re-evaluated
      // after a lost CAS), so a concurrent creator makes ErrorIfExists
      // throw and Ignore no-op — never a silent second version
      case SaveMode.ErrorIfExists =>
        VersionedTable.writeIfAbsent(data, path, cols, errorIfExists = true,
          partitionCols = parts)
      case SaveMode.Ignore =>
        VersionedTable.writeIfAbsent(data, path, cols, errorIfExists = false,
          partitionCols = parts)
    }
    // the returned relation is unused by SaveIntoDataSourceCommand; keep it
    // LAZY (TableScan over the public read API) so a save() pays no read
    val outerCtx = sqlContext
    new BaseRelation with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: SQLContext = outerCtx
      override lazy val schema: StructType = VersionedTable.read(spark, path).schema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        VersionedTable.read(spark, path).rdd
    }
  }

  /** STREAMING sink: `df.writeStream.format("graft-table").start(path)` —
    * every micro-batch commits through the (appId, batchId) txn watermark
    * ([[graft.sources.VersionedTable.commitBatch]]), so a batch
    * re-delivered after a crash-restart is a NO-OP: exactly-once without
    * foreachBatch boilerplate. The appId defaults to the streaming query's
    * id (stable across restarts — it lives in the checkpoint), overridable
    * with `option("txnAppId", ...)` for cross-query dedup lineage.
    * Append mode appends the batch; Complete mode commits each batch as a
    * full-snapshot version (the log keeps history; replays of a Complete
    * batch are also suppressed by the watermark). */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-table sink: partitioning rides the table layout, not partitionBy")
    require(outputMode != OutputMode.Update(),
      "graft-table sink supports Append and Complete output modes " +
        "(Update emits row-level upserts; route them through foreachBatch " +
        "+ VersionedTable.upsert instead)")
    new VersionedTableSink(tablePath(parameters), statsCols(parameters),
      complete = outputMode == OutputMode.Complete(),
      appIdOverride = parameters.get("txnAppId"))
  }

  /** BATCH reads: `spark.read.format("graft-table").load(path)` — a
    * snapshot relation whose [[graft.sources.VersionedTable]] file index
    * prunes files at PLAN time from manifest stats (any later `.filter`
    * composes), with deletion vectors and column mapping applied inside
    * the scan. Time travel rides options, Delta-style:
    * {{{
    *   spark.read.format("graft-table")
    *     .option("versionAsOf", "3")            // or
    *     .option("timestampAsOf", "2026-01-01 00:00:00")  // or epoch millis
    *     .load(tablePath)
    * }}} */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = tablePath(parameters)
    if (parameters.get("history").exists(_.toBoolean)) {
      // DESCRIBE HISTORY through the format: one row per committed
      // version, from manifests alone. Lazy like the other metadata
      // relations — constructing the frame resolves the log, no data files.
      val outerCtx = sqlContext
      new BaseRelation with org.apache.spark.sql.sources.TableScan {
        private lazy val frame = VersionedTable.history(spark, path)
        override def sqlContext: SQLContext = outerCtx
        override lazy val schema: StructType = frame.schema
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          frame.rdd
        override def toString: String = "GraftHistory"
      }
    } else if (changeFeed(parameters) || rowChangeFeed(parameters)) {
      // BATCH CDF (Delta's table_changes): row-level diff between two
      // committed versions. startingVersion is REQUIRED (the diff's base,
      // exclusive — 0 means "from genesis", serving the v-end snapshot as
      // inserts); endingVersion defaults to the head. readRowChanges is
      // the row-IDENTITY variant (requires graft.rowTracking): rewritten-
      // but-unchanged rows collapse, updates pair as pre/post images.
      val what = if (rowChangeFeed(parameters)) "readRowChanges"
        else "readChangeFeed"
      val fromV = parameters.get("startingVersion").map(_.trim.toLong)
        .getOrElse(throw new IllegalArgumentException(
          s"$path: batch $what requires option(\"startingVersion\", v) " +
            "(exclusive diff base; 0 = from genesis)"))
      val toV = parameters.get("endingVersion").map(_.trim.toLong).getOrElse(
        VersionedTable.latestVersion(spark, path).getOrElse(
          throw new IllegalArgumentException(s"$path: empty table")))
      if (rowChangeFeed(parameters))
        VersionedTable.rowChangesRelation(spark, path, fromV, toV)
      else VersionedTable.changesRelation(spark, path, fromV, toV)
    } else {
      val asOf = parameters.get("versionAsOf").map(_.trim.toLong).orElse(
        parameters.get("timestampAsOf").map { raw =>
          val ts = scala.util.Try(raw.trim.toLong).getOrElse(
            java.sql.Timestamp.valueOf(raw.trim).getTime)
          VersionedTable.versionAt(spark, path, ts).getOrElse(
            throw new IllegalArgumentException(
              s"$path has no version committed at or before $raw"))
        })
      VersionedTable.batchRelation(spark, path, asOf)
    }
  }

  private def changeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  private def rowChangeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("readRowChanges").exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse {
      val spark = sqlContext.sparkSession
      VersionedTable.read(spark, tablePath(parameters)).schema // latest committed
    }
    // the tag column rides a USER-SUPPLIED schema too (idempotently): the
    // Source always declares it in CDF mode, and a declared/batch column
    // count mismatch trips MicroBatchExecution's plan assert
    (shortName(),
      if (rowChangeFeed(parameters)) VersionedTable.withRowChangeType(base)
      else if (changeFeed(parameters)) VersionedTable.withChangeType(base)
      else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val path = tablePath(parameters)
    // startingTimestamp (Delta's option of the same name): resolved to the
    // version horizon ONCE at source creation — the stream starts at the
    // first version committed AT or AFTER the instant (Delta's contract):
    // versionAt(ts-1) is the last version strictly before ts, so +1; when
    // nothing predates ts, every version qualifies → genesis
    val startV = (parameters.get("startingVersion"),
        parameters.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        s"$path: startingVersion and startingTimestamp are mutually exclusive")
      case (Some(v), None) => v.toLong
      case (None, Some(raw)) =>
        val ts = scala.util.Try(java.time.Instant.parse(raw.trim).toEpochMilli)
          .getOrElse(java.sql.Timestamp.valueOf(raw.trim).getTime)
        VersionedTable.versionAt(spark, path, ts - 1L).map(_ + 1L).getOrElse(0L)
      case (None, None) => 0L
    }
    new VersionedTableSource(
      spark,
      path,
      startingVersion = startV,
      ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean),
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toLong),
      maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map(_.toLong),
      changeFeed = changeFeed(parameters),
      rowChanges = rowChangeFeed(parameters))
  }
}

private[streaming] class VersionedTableSource(
    spark: SparkSession,
    path: String,
    startingVersion: Long,
    ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    changeFeed: Boolean = false,
    /** Row-IDENTITY change feed (requires graft.rowTracking): same
      * version cadence as changeFeed, but each batch is the row-keyed
      * diff — rewritten-but-unchanged rows collapse, updates pair as
      * pre/post images under one stable _graft_row_id. */
    rowChanges: Boolean = false) extends Source {

  require(maxVersionsPerTrigger.forall(_ >= 1L), "maxVersionsPerTrigger must be >= 1")
  require(maxFilesPerTrigger.forall(_ >= 1L), "maxFilesPerTrigger must be >= 1")

  // pinned at source creation: a streaming query's schema cannot drift
  // mid-run (evolve the table → restart the query, as with Delta).
  // CHANGE-FEED mode appends _change_type, Delta CDF's tag column.
  override val schema: StructType = {
    val base = VersionedTable.read(spark, path).schema
    if (rowChanges) VersionedTable.withRowChangeType(base)
    else if (changeFeed) VersionedTable.withChangeType(base)
    else base
  }

  /** Highest version already handed out as a batch END this run — the
    * throttle's anchor. RECOVERED on restart through BOTH engine paths:
    * the uncommitted-replay AND the committed cases call getBatch before
    * the first getOffset (MicroBatchExecution's populateStartOffsets
    * replays the previous batch precisely so sources can re-seed state),
    * and commit() re-seeds it again when the engine acknowledges a batch.
    * Without recovery, a post-drain restart would hand out an offset
    * BELOW the committed one — a permanent non-append-refusal wedge. */
  private var lastEnd: Option[Long] = None

  private def seedLastEnd(v: Long): Unit =
    lastEnd = Some(lastEnd.fold(v)(math.max(_, v)))

  /** Per-version file lists, column mappings and mark counts are
    * immutable once committed — memoize the few the throttle walk and
    * getBatch revisit (all from ONE manifest resolution), so a trigger
    * doesn't re-resolve the same chains for each fact. */
  private val metaCache =
    new java.util.LinkedHashMap[Long, VersionedTable.VersionMeta](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, VersionedTable.VersionMeta]): Boolean = size > 4
    }
  private def metaAt(v: Long): VersionedTable.VersionMeta =
    Option(metaCache.get(v)).getOrElse {
      val m = VersionedTable.versionMetaOf(spark, path, v)
      metaCache.put(v, m)
      m
    }
  private def filesAt(v: Long): Seq[String] = metaAt(v).files

  /** The first version of (fromV, toV] that adds files AND marks rows of
    * files it carries from its parent — a MERGE done by deletion vectors,
    * whose applied rows replace rows the file-level changelog already
    * emitted. Decided per commit: an append followed by a DV delete in one
    * batch is two commits, neither of which does both. */
  private def markedMergeIn(fromV: Long, toV: Long): Option[Long] = {
    // a first batch starts at the oldest version vacuum kept
    val first =
      if (fromV >= 1L) fromV
      else VersionedTable.versions(spark, path).headOption.getOrElse(toV)
    (first + 1L to toV).find { v =>
      val (prev, cur) = (metaAt(v - 1L), metaAt(v))
      val prevFiles = prev.files.toSet
      cur.files.exists(!prevFiles(_)) && cur.files.exists(fk => prevFiles(fk) &&
        cur.dvRows.getOrElse(fk, 0L) > prev.dvRows.getOrElse(fk, 0L))
    }
  }

  /** Column mapping PINNED at source creation, like the schema, together
    * with the version it came from. Every batch binds files under THIS
    * mapping — exactly how a batch read of the pinned version interprets
    * them — so historical DDL inside the backlog is fine: files appended
    * before a pre-pin DROP/re-ADD simply lack the re-added column's fresh
    * physical name and stream it as null (never the dropped column's stale
    * bytes). What CANNOT be served is a mapping change AFTER the pin: a
    * mid-run DROP/re-ADD is metadata-only (adds no files, so the
    * non-append guard can't see it), and files appended under the NEW
    * mapping would bind their remapped column as null under the pinned
    * one. Such batches fail, advising a restart (Delta fails a stream on
    * mid-run schema change the same way). */
  private val (pinnedVersion, pinnedMapping, pinnedPartCols, pinnedTypes)
      : (Long, Map[String, String], Seq[String], Map[String, org.apache.spark.sql.types.DataType]) =
    VersionedTable.latestVersion(spark, path)
      .map { v =>
        val m = metaAt(v)
        (v, m.colMap, m.partCols, m.schema.fields.map(f => f.name -> f.dataType).toMap)
      }
      .getOrElse((-1L, Map.empty[String, String], Seq.empty[String],
        Map.empty[String, org.apache.spark.sql.types.DataType]))

  override def getOffset: Option[Offset] = {
    val latest = VersionedTable.latestVersion(spark, path).filter(_ >= startingVersion)
    latest.map { lv =>
      val from = lastEnd.getOrElse(math.max(0L, startingVersion - 1L))
      if (lv <= from) LongOffset(lv) // fully caught up: no new batch
      else {
        var end = maxVersionsPerTrigger.fold(lv)(mv => math.min(lv, from + mv))
        maxFilesPerTrigger.foreach { mf =>
          // walk the backlog accumulating each version's APPENDED file count
          // from the CHEAP side of the log: a delta manifest's `files_add`
          // list is that count in one small JSON parse — no chain
          // resolution, no Spark job (resolving a ckpt-anchored version's
          // full file list costs one PER VERSION, making an unbounded walk
          // O(backlog) Spark jobs inside a single getOffset). A full/
          // checkpoint manifest (no cheap count) ends the walk: it is taken
          // alone if it must be (progress guarantee), otherwise the batch
          // stops just before it.
          var chosen = from
          var cum = 0L
          var v = from + 1L
          var stop = false
          while (v <= end && !stop && (chosen == from || cum < mf)) {
            graft.sources.VersionedTable.addedFilesHint(spark, path, v) match {
              case Some(added) =>
                if (chosen == from || cum + added <= mf) { chosen = v; cum += added }
                else stop = true // budget burst
              case None => // full/ckpt manifest: batch boundary
                if (chosen == from) chosen = v
                stop = true
            }
            v += 1L
          }
          end = chosen
        }
        seedLastEnd(end)
        LongOffset(end)
      }
    }
  }

  /** Offsets arrive as LongOffset in-run but as SerializedOffset (raw JSON)
    * after a checkpoint restart — parse the JSON form uniformly. */
  private def version(o: Offset): Long = o.json().trim.toLong

  override def commit(end: Offset): Unit = seedLastEnd(version(end))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val fromV = start.map(version).getOrElse(math.max(0L, startingVersion - 1L))
    val toV = version(end)
    seedLastEnd(toV) // re-seed after restart (committed AND replay paths)
    val VersionedTable.VersionMeta(toFiles, toMapping, toPartCols, toSchema, _) =
      metaAt(toV)
    // The guard fires in BOTH directions: forward (toV > pinned — the
    // table was re-partitioned after the stream started) AND on a
    // recovery-REPLAYED batch whose end version predates a re-partitioning
    // overwrite (toV < pinned, batch files laid out flat or under another
    // dimension). Either way, reading those files under pinnedPartCols
    // would stream partition columns as silent NULLs (the path-derived
    // joinFileMeta lookup misses), so both throw.
    if (toPartCols != pinnedPartCols)
      throw new IllegalStateException(
        s"$path: batch end $toV has a different partition layout " +
          s"(${if (toPartCols.isEmpty) "unpartitioned"
          else toPartCols.mkString(",")}) than the one this stream pinned " +
          s"(${if (pinnedPartCols.isEmpty) "unpartitioned"
          else pinnedPartCols.mkString(",")} at version $pinnedVersion) — " +
          "files laid out under one layout would stream their partition " +
          "columns as null under the other. Restart the query to pick up " +
          "the current layout.")
    if (toV > pinnedVersion && toMapping != pinnedMapping)
      throw new IllegalStateException(
        s"$path: the table's column mapping changed since this stream " +
          s"started (pinned at version $pinnedVersion, batch end $toV) — " +
          "a DROP/re-ADD COLUMN rebinds physical names, and files " +
          "appended under the new mapping would stream the remapped " +
          "column as null under the pinned one. Restart the query to pick " +
          "up the new schema.")
    // TYPE WIDENING guard: after a mid-run ALTER COLUMN ... TYPE, new
    // files store the WIDE physical type; reading them under the pinned
    // narrow schema is a NARROWING parquet read — unsupported, and the
    // low-level error would not name the cause. Fail with the remedy.
    // (Historic widenings inside the backlog are fine: the pinned WIDE
    // schema reads pre-widen narrow files via the native widening path.)
    if (toV > pinnedVersion) {
      val widened = toSchema.fields.collect {
        case f if pinnedTypes.get(f.name).exists(_ != f.dataType) =>
          s"${f.name}: ${pinnedTypes(f.name).simpleString}→${f.dataType.simpleString}"
      }.toSeq
      if (widened.nonEmpty)
        throw new IllegalStateException(
          s"$path: column type(s) changed since this stream started " +
            s"(pinned at version $pinnedVersion, batch end $toV): " +
            s"${widened.mkString(", ")} — files appended under the new " +
            "type cannot be read under the pinned one. Restart the query " +
            "to pick up the widened schema.")
    }
    if (changeFeed || rowChanges) {
      // CHANGE FEED: row-level CDC — non-append commits are the POINT here
      // (MERGE/DELETE/OPTIMIZE/DV emit their row diffs instead of being
      // refused), so the removed-files guard below does not apply. The
      // first batch snapshots the table as inserts (Delta CDF's initial
      // load); later batches ride VersionedTable.changes — or, in row
      // mode, the id-keyed diff (unchanged rewrites collapse; updates
      // pair) — whose DV mark diff is bidirectional (RESTORE un-deletes
      // surface as inserts).
      val diff =
        if (rowChanges) VersionedTable.rowChangeDf(spark, path, fromV, toV)
        else VersionedTable.changeDf(spark, path, fromV, toV)
      // backtick-quoted so a dotted column name binds literally (bare
      // col() would parse it as struct-field access)
      val ordered = diff.select(schema.fields.map(f =>
        org.apache.spark.sql.functions.col(
          s"`${f.name.replace("`", "``")}`")).toSeq: _*)
      return org.apache.spark.sql.graft.StreamingRelationShim.streamingOf(ordered)
    }
    val fromFiles =
      if (fromV <= 0L) Set.empty[String]
      else filesAt(fromV).toSet
    val removed = fromFiles -- toFiles
    if (removed.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        s"$path: versions ($fromV, $toV] contain a non-append commit " +
          s"(${removed.size} file(s) rewritten or removed). A file-level " +
          "changelog cannot represent row-level rewrites; restart with " +
          "option(\"ignoreChanges\",\"true\") to re-emit rewritten files " +
          "whole, or consume VersionedTable.changes for a row-level diff.")
    if (!ignoreChanges) markedMergeIn(fromV, toV).foreach { v =>
      throw new IllegalStateException(
        s"$path: versions ($fromV, $toV] contain a non-append commit " +
          s"(version $v adds files and marks rows of files it carries — a " +
          "MERGE by deletion vectors). A file-level changelog cannot " +
          "represent row-level rewrites; restart with " +
          "option(\"ignoreChanges\",\"true\") to emit the MERGE's applied " +
          "rows as appends, or consume VersionedTable.changes for a " +
          "row-level diff.")
    }
    val added = toFiles.filterNot(fromFiles)
    val root = new Path(path)
    // COLUMN MAPPING: appended files store PHYSICAL names — bind the
    // PINNED mapping and alias back to the pinned logical schema, exactly
    // like a batch read of the pinned version. Files older than a pre-pin
    // DROP/re-ADD lack the re-added column's fresh physical name and serve
    // nulls (binding each version's OWN historical mapping instead would
    // resurrect the dropped column's stale bytes).
    // PARTITIONED layout: partition columns live in dir names, not files —
    // reading them through the file schema would stream them as NULL. Read
    // the data columns only and rebuild the partition values from the
    // paths (same joinFileMeta lookup as the CDF/batch fallback read).
    val partCols = pinnedPartCols
    val partSet = partCols.toSet
    val dataFields = schema.fields.filterNot(f => partSet(f.name))
    val physSchema = StructType(dataFields.map(f =>
      f.copy(name = pinnedMapping.getOrElse(f.name, f.name))))
    val batch = org.apache.spark.sql.graft.StreamingRelationShim.parquetBatch(
      spark, physSchema, added.map(r => new Path(root, r).toString))
    if (partCols.isEmpty) {
      if (pinnedMapping.isEmpty) batch
      else batch.select(schema.fields.map(f =>
        org.apache.spark.sql.functions.col(pinnedMapping.getOrElse(f.name, f.name))
          .as(f.name)).toSeq: _*)
    } else {
      import org.apache.spark.sql.functions.col
      val partFields = partCols.map(n => schema(schema.fieldIndex(n)))
      VersionedTable.joinFileMeta(spark, batch, root, added, partFields,
        n => pinnedMapping.getOrElse(n, n), withKeys = false)
        .select(schema.fields.map(f =>
          (if (partSet(f.name)) col(s"__graft_p_${f.name}").cast(f.dataType)
           else col(pinnedMapping.getOrElse(f.name, f.name))).as(f.name)).toSeq: _*)
    }
  }

  override def stop(): Unit = ()

  override def toString: String = s"VersionedTableSource[$path]"
}

/** Exactly-once streaming SINK over a [[graft.sources.VersionedTable]] —
  * the write half of Delta's streaming story: each micro-batch is one
  * atomic commit, fenced by the (appId, batchId) txn watermark the
  * manifests already carry, so the crash-replay batch the engine
  * re-delivers after a restart is a NO-OP instead of a duplicate version.
  *
  * The micro-batch DataFrame arrives backed by an IncrementalExecution;
  * it is re-planned as a batch frame (shim `batchOf`) before the ordinary
  * write path stages parquet. appId = the streaming query id by default
  * (stable across restarts — it lives in the checkpoint metadata), the
  * same derivation Delta's sink uses. */
private[streaming] class VersionedTableSink(path: String,
    statsCols: Seq[String], complete: Boolean,
    appIdOverride: Option[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.graft.StreamingRelationShim.batchOf(data)
    val appId = appIdOverride
      .orElse(org.apache.spark.sql.graft.StreamingRelationShim
        .currentQueryId(data.sparkSession))
      .getOrElse(throw new IllegalStateException(
        "graft-table sink: no streaming query id on the context and no " +
          "txnAppId option — cannot fence replays"))
    if (complete)
      VersionedTable.commitSnapshot(batch, path, appId, batchId, statsCols)
    else
      VersionedTable.commitBatch(batch, path, appId, batchId, statsCols)
    ()
  }

  override def toString: String = s"VersionedTableSink[$path]"
}
