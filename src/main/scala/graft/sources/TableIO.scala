package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Partitioned-parquet table IO — the plain-Spark stand-in for the
  * reference's Delta tables (S2-S4 in SURVEY.md §2.1; this environment has
  * no Delta jars, SURVEY.md §1.3).
  *
  *  - hive-style `partitionBy` keeps partition pruning working for date
  *    filters, matching the reference layout (ingest_local.py:59,
  *    transform_local.py:193)
  *  - `clusterBy` approximates the suggested `ZORDER BY` via
  *    sortWithinPartitions: parquet min/max column stats become selective,
  *    so point lookups skip row groups (02_silver_events.sql:61)
  *  - full-table overwrites are ATOMIC for the writer (transaction-log-lite
  *    for Delta's ACID overwrite, 01_bronze.sql:18-26): the job writes into
  *    a hidden stage directory next to the table, a commit manifest is
  *    stamped only after every task has committed, and the table directory
  *    is then swapped in with directory renames. A job that dies mid-write
  *    leaves the previous table untouched (orphaned stage/retired dirs from
  *    crashed runs are swept by the next write). LIMITS: the two-rename
  *    swap has a brief window where the table path is absent, so a READER
  *    racing the swap can fail-and-retry (single-writer, retrying-reader
  *    contract); a crash exactly between the renames leaves the previous
  *    version recoverable under `.<table>.__old-*` but not live. For
  *    always-consistent concurrent reads plus history, use
  *    [[VersionedTable]], whose log-commit protocol has neither gap.
  */
object TableIO {

  /** Name of the commit manifest written inside a table directory. Its
    * presence marks a complete, swapped-in write. */
  val ManifestFile = "_graft_commit.json"

  def write(
      df: DataFrame,
      path: String,
      mode: SaveMode = SaveMode.Overwrite,
      partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val clustered =
      if (clusterBy.nonEmpty) df.sortWithinPartitions(clusterBy.map(col): _*)
      else df
    def writeTo(target: String): Unit = {
      val writer = clustered.write.mode(mode)
      val partitioned =
        if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer
      partitioned.parquet(target)
    }
    if (mode == SaveMode.Overwrite) {
      val spark = df.sparkSession
      val table = new Path(path)
      val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val parent = Option(table.getParent).getOrElse(new Path("."))
      fs.mkdirs(parent)
      // sweep orphans from crashed runs (single-writer: nothing else can be
      // mid-flight). A leftover __old means a crash hit between the two
      // renames with the table gone — restore it before overwriting anew.
      val orphans = fs.globStatus(new Path(parent, s".${table.getName}.__*"))
      if (orphans != null) orphans.foreach { o =>
        if (o.getPath.getName.contains("__old-") && !fs.exists(table))
          fs.rename(o.getPath, table)
        else fs.delete(o.getPath, true)
      }
      val stage = new Path(parent, s".${table.getName}.__stage-$nonce")
      writeTo(stage.toString)                          // crash here → old table intact
      var nFiles = 0
      val it = fs.listFiles(stage, true)
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) nFiles += 1
      // schema rides in the manifest so an EMPTY partitioned table stays
      // readable: a partitioned write of zero rows emits no parquet files,
      // leaving nothing to infer from (read() JSON-parses it back out)
      val manifest = s"""{"nonce":"$nonce","files":$nFiles,"partition_by":[${
        partitionBy.map("\"" + _ + "\"").mkString(",")}],"schema":${df.schema.json}}"""
      val out = fs.create(new Path(stage, ManifestFile), true)
      try out.write(manifest.getBytes("UTF-8")) finally out.close()
      val old = new Path(parent, s".${table.getName}.__old-$nonce")
      if (fs.exists(table) && !fs.rename(table, old))
        throw new java.io.IOException(s"atomic overwrite: cannot retire $table")
      if (!fs.rename(stage, table)) {                  // crash here → old recoverable
        fs.rename(old, table)                          // restore previous version
        throw new java.io.IOException(s"atomic overwrite: cannot publish $stage")
      }
      fs.delete(old, true)
    } else writeTo(path)
  }

  /** Per-partition (dynamic) overwrite: replaces ONLY the hive partitions
    * present in `df`, leaving all other partitions of the table in place —
    * the incremental/backfill write pattern of the silver runbook
    * (docs/runbooks/silver-transform.md:135-138). Uses Spark's staged
    * dynamic partitionOverwriteMode commit, restoring the session conf. */
  def overwritePartitions(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String],
      clusterBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    require(partitionBy.nonEmpty, "dynamic overwrite requires partition columns")
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      val clustered =
        if (clusterBy.nonEmpty) df.sortWithinPartitions(clusterBy.map(col): _*) else df
      clustered.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(path)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def read(spark: SparkSession, path: String): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        // zero-row table: no parquet files to infer from — recover the
        // schema from the commit manifest (its last key; see write())
        val mf = new Path(path, ManifestFile)
        val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(mf)) throw e
        val bytes = new Array[Byte](fs.getFileStatus(mf).getLen.toInt)
        val in = fs.open(mf)
        try in.readFully(bytes) finally in.close()
        // real JSON parse (Jackson, already on Spark's classpath) — a
        // positional substring would break on key reordering or on the
        // literal `"schema":` appearing inside StructField metadata
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new String(bytes, "UTF-8"))
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(node.get("schema").toString)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        spark.read.schema(schema).parquet(path)
    }

  /** N-dimensional Z-order value: interleaves the low `bits` bits of each
    * non-negative integer column (first column in the most significant
    * interleave position), so sorting by the result gives N-dimensional
    * locality — parquet and manifest min/max stats become selective on
    * EVERY column, where a lexicographic sort leaves the trailing
    * dimensions at full width per file. This is the actual mechanism
    * behind the reference's suggested `OPTIMIZE ... ZORDER BY`
    * (02_silver_events.sql:61), not just a stand-in sort. `dims × bits`
    * must fit a signed long. Pure shift/mask expression chain —
    * whole-stage codegen, no UDF. */
  def zValue(cols: Seq[org.apache.spark.sql.Column],
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat_ws, lit, raise_error, shiftright, when}
    import org.apache.spark.sql.types.LongType
    val d = cols.size
    require(d >= 1, "zValue needs at least one clustering column")
    require(d.toLong * bits <= 62, s"zValue: $d dims × $bits bits exceeds a signed long")
    // out-of-range values would alias mod 2^bits and silently destroy the
    // locality the clustering exists for — fail loudly instead. Nulls fail
    // loudly too: null-in-null-out here would make the whole z-value null,
    // which zPlaced's partitioner would hit as an opaque executor NPE
    // on getLong — surface the actual problem (a null clustering key) at
    // the row that has it.
    def checked(c: org.apache.spark.sql.Column) = {
      val v = c.cast(LongType)
      when(v.isNull, raise_error(lit("zValue: null clustering column value")))
        .when(v < 0L || v >= (1L << bits),
          raise_error(concat_ws("", lit(s"zValue: input out of [0, 2^$bits): "), v)))
        .otherwise(v)
    }
    val vs = cols.map(checked)
    (0 until bits).flatMap { i =>
      vs.zipWithIndex.map { case (v, j) =>
        shiftright(v, i).bitwiseAND(lit(1L)) * lit(1L << (i * d + (d - 1 - j)))
      }
    }.reduce(_ + _)
  }

  /** Tile-aligned z placement of `df` along the Z-curve of `cols`: one
    * output partition per aligned z-tile of the hypercube, rows z-sorted
    * within it, so a writer staging 1 file : 1 partition
    * ([[VersionedTable.write]] with stats columns, [[write]]) gives every
    * file provably narrow ranges on every column — exactly what file-level
    * min/max stats need to prune. The partition id is the z-value's top
    * bits (an identity partitioner), not a sampled range split: sampled
    * boundaries (repartitionByRange) land a few rows past power-of-two z
    * lines often enough that a file straddling e.g. the z-space midline
    * carries stats spanning every dimension's full width — exactly the
    * files stats pruning then can't skip. The RDD hop exists because Spark
    * SQL exposes no explicit-partition-placement exchange; this is an
    * OPTIMIZE-style maintenance rewrite, not a query path. */
  def zPlaced(df: DataFrame, cols: Seq[String], bits: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val zBits = cols.size * bits
    // smallest power of two ≥ n, capped by the z-space itself
    val nBuckets = math.min(
      1L << math.min(30, zBits),
      if (Integer.bitCount(n) == 1) n.toLong else Integer.highestOneBit(n).toLong * 2).toInt
    val shift = math.max(0, zBits - Integer.numberOfTrailingZeros(nBuckets))
    val keyed = df.withColumn("__z", zValue(cols.map(col), bits))
    val schema = keyed.schema
    val zIdx = schema.fieldIndex("__z")
    val placed = keyed.rdd
      .keyBy(r => (r.getLong(zIdx) >>> shift).toInt)
      .partitionBy(new org.apache.spark.Partitioner {
        def numPartitions: Int = nBuckets
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .values
    spark.createDataFrame(placed, schema)
      .sortWithinPartitions(col("__z")).drop("__z")
  }

  /** Z placement WITHIN partitions (Delta's ZORDER on a partitioned
    * table): range-partition by (partition columns, z) so each output task
    * covers a contiguous slice of ONE-ish partition's z-curve — the
    * partitioned stage then splits each task into ~one file per dir
    * (plain zPlaced would put every z-tile across ALL partitions,
    * exploding the file count to tiles × dirs), and files get narrow
    * per-partition z ranges for the manifest stats to prune. */
  def zPlacedWithin(df: DataFrame, partCols: Seq[String],
      cols: Seq[String], bits: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val keys = partCols.map(col) :+ col("__z")
    df.withColumn("__z", zValue(cols.map(col), bits))
      .repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__z")
  }

  /** Hive-partitioned NDJSON writer — the generator-side layout of the
    * reference (`data_generator/generator.py:395-411`: one directory per
    * `p_event_date=...`, newline-delimited JSON inside). Spark's json sink
    * IS newline-delimited. */
  def writeNdjson(df: DataFrame, path: String, partitionBy: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).json(path)

  /** Bucketed catalog table: co-locates join/aggregation keys at WRITE time
    * so repeated joins on the bucket key need no exchange at all — the
    * bucketed scan already exposes HashPartitioning. This is the
    * pre-partitioning strategy for fact-to-fact joins at 100 TB, where
    * re-shuffling either side per query would dominate cost. Both sides
    * must share the bucket count. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    ws.format("parquet").saveAsTable(table)
  }
}
