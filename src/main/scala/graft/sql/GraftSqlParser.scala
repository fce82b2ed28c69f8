package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graft.GraftBatchShim
import org.apache.spark.sql.types._

import graft.sources.{MaterializedView, VersionedTable}

/** Parser extension for the maintenance statements a lakehouse operator
  * runs but Spark's grammar lacks — exactly the reference's documented
  * operations playbook (`reference/sql/ddl/01_bronze.sql:24-26` OPTIMIZE /
  * VACUUM RETAIN 168 HOURS; `02_silver_events.sql:61` OPTIMIZE ... ZORDER
  * BY), each routed to its proven [[VersionedTable]] verb:
  *
  * {{{
  *   OPTIMIZE graft.`/p`                            -- compact (bin-pack)
  *   OPTIMIZE graft.`/p` WHERE dt = DATE'2026-01-01' -- partition-scoped
  *   OPTIMIZE graft.`/p` ZORDER BY (a, b)           -- whole-table zorder
  *   OPTIMIZE graft.`/p` WHERE dt = ... ZORDER BY (a, b) -- scoped zorder
  *   VACUUM graft.`/p` RETAIN 168 HOURS             -- version-horizon sweep
  *   RESTORE [TABLE] graft.`/p` TO VERSION AS OF 3
  *   RESTORE [TABLE] graft.`/p` TO TIMESTAMP AS OF '2026-01-01 00:00:00'
  *   DESCRIBE HISTORY graft.`/p`
  *   DESCRIBE DETAIL graft.`/p`
  *   SHOW CREATE TABLE graft.`/p`                   -- replayable DDL
  *   SHOW PARTITIONS graft.`/p`
  *   CREATE TABLE graft.`/dst` [SHALLOW] CLONE graft.`/src` [VERSION AS OF n]
  *   CONVERT TO GRAFT parquet.`/dir` [STATSCOLS (a, b)]
  *   APPLY CHANGES INTO graft.`/p` FROM cdc_view KEYS (k)
  *     [APPLY AS DELETE WHEN op = 'delete'] SEQUENCE BY seq
  *     [COLUMNS * EXCEPT (op)]              -- sequence-guarded CDC merge
  *   CREATE MATERIALIZED VIEW graft.`/mv` AS
  *     SELECT g, COUNT(*), SUM(v), AVG(v), MIN(v), MAX(v) FROM graft.`/src`
  *     [JOIN graft.`/dim` ON fk = pk]     -- star view (fact side first)
  *     [WHERE v % 2 = 0] GROUP BY g
  *   REFRESH MATERIALIZED VIEW graft.`/mv` -- applies the change feed
  * }}}
  *
  * Anything that doesn't match one of these shapes delegates verbatim to
  * the underlying parser, so the extension is invisible to every other
  * statement. The table reference is `catalog.`/path``; the catalog name
  * is verified to be a registered [[GraftCatalog]] at EXECUTION, not
  * parse, time (parsers must not touch the session). Delta spells these
  * statements the same way, for the same reason: a lakehouse operator
  * lives in SQL, and maintenance that only exists as a library API never
  * makes it into the runbook.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlStatements.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String) = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

private[sql] object GraftSqlStatements {

  // catalog.`/path/to/table` — the path-catalog reference shape
  private val Ref = """(\w+)\s*\.\s*`([^`]+)`"""

  private val OptimizeRe =
    s"""(?is)\\s*OPTIMIZE\\s+$Ref(?:\\s+WHERE\\s+(.+?))?(?:\\s+ZORDER\\s+BY\\s+(.+?))?\\s*;?\\s*""".r
  private val VacuumRe =
    s"""(?is)\\s*VACUUM\\s+$Ref(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS?)?(\\s+DRY\\s+RUN)?\\s*;?\\s*""".r
  private val RestoreVersionRe =
    s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$Ref\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*""".r
  private val RestoreTsRe =
    s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$Ref\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*""".r
  private val HistoryRe =
    s"""(?is)\\s*DESC(?:RIBE)?\\s+HISTORY\\s+$Ref\\s*;?\\s*""".r
  private val DetailRe =
    s"""(?is)\\s*DESC(?:RIBE)?\\s+DETAIL\\s+$Ref\\s*;?\\s*""".r
  private val ShowCreateRe =
    s"""(?is)\\s*SHOW\\s+CREATE\\s+TABLE\\s+$Ref\\s*;?\\s*""".r
  private val ShowPartsRe =
    s"""(?is)\\s*SHOW\\s+PARTITIONS\\s+$Ref\\s*;?\\s*""".r
  private val ShowMvsRe =
    s"""(?is)\\s*SHOW\\s+MATERIALIZED\\s+VIEWS\\s+(?:ON|FOR)\\s+$Ref\\s*;?\\s*""".r
  private val CloneRe =
    s"""(?is)\\s*CREATE\\s+TABLE\\s+$Ref\\s+(?:SHALLOW\\s+)?CLONE\\s+$Ref(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?\\s*;?\\s*""".r
  private val ReorgRe =
    s"""(?is)\\s*REORG\\s+TABLE\\s+$Ref\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*""".r
  private val ConvertRe =
    s"""(?is)\\s*CONVERT\\s+TO\\s+GRAFT\\s+parquet\\s*\\.\\s*`([^`]+)`(?:\\s+STATSCOLS\\s*\\(([^)]*)\\))?\\s*;?\\s*""".r
  private val CopyIntoRe =
    s"""(?is)\\s*COPY\\s+INTO\\s+$Ref\\s+FROM\\s+'([^']+)'\\s+FILEFORMAT\\s*=\\s*PARQUET(?:\\s+PATTERN\\s*=\\s*'([^']+)')?\\s*;?\\s*""".r
  private val AnalyzeNdvRe =
    s"""(?is)\\s*ANALYZE\\s+(?:TABLE\\s+)?$Ref\\s+COMPUTE\\s+(INCREMENTAL\\s+)?NDV\\s+FOR\\s+COLUMNS\\s*\\(([^)]+)\\)\\s*;?\\s*""".r
  /** Non-capturing twin of [[Ref]] for REPEATED sections (a capture group
    * inside a repetition would only keep its last occurrence). */
  private val RefNc = """\w+\s*\.\s*`[^`]+`"""
  private val CreateMvRe =
    s"""(?is)\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+$Ref(?:\\s+PARTITIONED\\s+BY\\s*\\(([^)]+)\\))?\\s+AS\\s+SELECT\\s+(.+?)\\s+FROM\\s+$Ref((?:\\s+JOIN\\s+$RefNc\\s+ON\\s+.+?)*)(?:\\s+WHERE\\s+(.+?))?\\s+GROUP\\s+BY\\s+(.+?)\\s*;?\\s*""".r
  /** One JOIN arm inside the captured block: (cat, path, ON text). */
  private val JoinArmRe =
    s"""(?is)\\s+JOIN\\s+$Ref\\s+ON\\s+(.+?)(?=\\s+JOIN\\s+$RefNc\\s+ON|$$)""".r
  private val RefreshMvRe =
    s"""(?is)\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+$Ref(\\s+FULL)?\\s*;?\\s*""".r
  // FOREIGN KEY ... RELY: validate + pin (ForeignKeys.declare); DROP
  // unpins. RELY is mandatory spelling — the declaration is ONLY an
  // optimizer license here, and the keyword says the user asked for that.
  private val AddFkRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Ref\\s+ADD\\s+FOREIGN\\s+KEY\\s*\\(([^)]+)\\)\\s*REFERENCES\\s+$Ref\\s*\\(([^)]+)\\)\\s+RELY\\s*;?\\s*""".r
  private val DropFkRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Ref\\s+DROP\\s+FOREIGN\\s+KEY\\s*\\(([^)]+)\\)\\s*;?\\s*""".r
  private val AddUniqueRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Ref\\s+ADD\\s+UNIQUE\\s*\\(([^)]+)\\)\\s+RELY\\s*;?\\s*""".r
  private val DropUniqueRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Ref\\s+DROP\\s+UNIQUE\\s*\\(([^)]+)\\)\\s*;?\\s*""".r
  // DLT's clause order: KEYS, [APPLY AS DELETE WHEN], SEQUENCE BY, [COLUMNS]
  private val ApplyChangesRe =
    s"""(?is)\\s*APPLY\\s+CHANGES\\s+INTO\\s+$Ref\\s+FROM\\s+(.+?)\\s+KEYS\\s*\\(([^)]+)\\)(?:\\s+APPLY\\s+AS\\s+DELETE\\s+WHEN\\s+(.+?))?\\s+SEQUENCE\\s+BY\\s+(`[^`]+`|\\w+)(?:\\s+COLUMNS\\s+\\*\\s+EXCEPT\\s*\\(([^)]+)\\))?\\s*;?\\s*""".r

  /** Guard for free-text clause captures. The regex grammar splits clauses
    * on keywords, so a string literal (or backticked name, or
    * parenthesized subexpression) containing a clause keyword — e.g.
    * `WHERE s = ' GROUP BY '` — would otherwise split MID-LITERAL and
    * execute a silently wrong statement. A mis-split always leaves at
    * least one fragment with an unbalanced quote/backtick/paren, so
    * balance-checking every captured fragment turns the silent mis-split
    * into a loud refusal (SQL's '' escape balances as two quotes). */
  private def balancedFrag(stmt: String, clause: String, text: String)
      : String = {
    var quote = false; var tick = false; var depth = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (quote) { if (c == '\'') quote = false }
      else if (tick) { if (c == '`') tick = false }
      else c match {
        case '\'' => quote = true
        case '`' => tick = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    if (quote || tick || depth != 0) throw new IllegalArgumentException(
      s"$stmt: the $clause clause '$text' has unbalanced quotes/backticks/" +
        "parentheses — a clause keyword (KEYS/GROUP BY/ZORDER BY/...) " +
        "inside a literal confuses the statement grammar; rewrite the " +
        "literal without the keyword text or quote it differently")
    text
  }

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case OptimizeRe(cat, path, where, zorder) =>
      Option(where).foreach(balancedFrag("OPTIMIZE", "WHERE", _))
      Option(zorder).foreach(balancedFrag("OPTIMIZE", "ZORDER BY", _))
      val zCols = Option(zorder).map(_.trim)
        .map(z => (if (z.startsWith("(") && z.endsWith(")"))
          z.substring(1, z.length - 1) else z)
          .split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      Some(GraftOptimizeCommand(cat, path, Option(where).map(_.trim), zCols))
    case VacuumRe(cat, path, hours, dry) =>
      Some(GraftVacuumCommand(cat, path, Option(hours).map(_.toLong),
        dryRun = dry != null))
    case RestoreVersionRe(cat, path, v) =>
      Some(GraftRestoreCommand(cat, path, Some(v.toLong), None))
    case RestoreTsRe(cat, path, ts) =>
      Some(GraftRestoreCommand(cat, path, None, Some(ts)))
    case HistoryRe(cat, path) =>
      Some(GraftDescribeHistoryCommand(cat, path))
    case DetailRe(cat, path) =>
      Some(GraftDescribeDetailCommand(cat, path))
    case ShowCreateRe(cat, path) =>
      Some(GraftShowCreateTableCommand(cat, path))
    case ShowPartsRe(cat, path) =>
      Some(GraftShowPartitionsCommand(cat, path))
    case ShowMvsRe(cat, path) =>
      Some(GraftShowMaterializedViewsCommand(cat, path))
    case CloneRe(dstCat, dstPath, srcCat, srcPath, v) =>
      Some(GraftCloneCommand(dstCat, dstPath, srcCat, srcPath,
        Option(v).map(_.toLong)))
    case ReorgRe(cat, path) =>
      Some(GraftReorgCommand(cat, path))
    case CopyIntoRe(cat, path, src, pat) =>
      Some(GraftCopyIntoCommand(cat, path, src, Option(pat)))
    case ConvertRe(path, stats) =>
      Some(GraftConvertCommand(path, Option(stats).toSeq
        .flatMap(_.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty))))
    case AnalyzeNdvRe(cat, path, inc, cols) =>
      Some(GraftAnalyzeNdvCommand(cat, path, cols.split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty).toSeq, incremental = inc != null))
    case CreateMvRe(cat, path, partBy, selectList, srcCat, srcPath,
        joinBlock, where, groupBy) =>
      val stmt = "CREATE MATERIALIZED VIEW"
      balancedFrag(stmt, "SELECT", selectList)
      val joins = Option(joinBlock).filter(_.trim.nonEmpty).toSeq
        .flatMap(b => JoinArmRe.findAllMatchIn(b).map(m =>
          (m.group(1), m.group(2), m.group(3).trim)).toSeq)
      joins.foreach { case (_, _, on) => balancedFrag(stmt, "ON", on) }
      Option(where).foreach(balancedFrag(stmt, "WHERE", _))
      balancedFrag(stmt, "GROUP BY", groupBy)
      Some(GraftCreateMvCommand(cat, path, srcCat, srcPath,
        selectList.trim, groupBy.trim, Option(where).map(_.trim),
        Option(partBy).toSeq.flatMap(_.split(",")
          .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)),
        joins))
    case RefreshMvRe(cat, path, full) =>
      Some(GraftRefreshMvCommand(cat, path, full != null))
    case AddFkRe(cat, path, fkCols, dimCat, dimPath, pkCols) =>
      def cols(s: String): Seq[String] = s.split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq
      Some(GraftForeignKeyCommand(cat, path, cols(fkCols),
        Some((dimCat, dimPath, cols(pkCols)))))
    case DropFkRe(cat, path, fkCols) =>
      def cols(s: String): Seq[String] = s.split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq
      Some(GraftForeignKeyCommand(cat, path, cols(fkCols), None))
    case AddUniqueRe(cat, path, uCols) =>
      def cols(s: String): Seq[String] = s.split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq
      Some(GraftUniqueKeyCommand(cat, path, cols(uCols), add = true))
    case DropUniqueRe(cat, path, uCols) =>
      def cols(s: String): Seq[String] = s.split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq
      Some(GraftUniqueKeyCommand(cat, path, cols(uCols), add = false))
    case ApplyChangesRe(cat, path, from, keys, deleteWhen, seqBy, except) =>
      // FROM stays free text (a table name or a parenthesized subquery,
      // executed via the session's own parser) — the balance check is what
      // refuses a literal containing ' KEYS (' that would mis-split here
      balancedFrag("APPLY CHANGES INTO", "FROM", from)
      Option(deleteWhen).foreach(
        balancedFrag("APPLY CHANGES INTO", "APPLY AS DELETE WHEN", _))
      def cols(s: String): Seq[String] = s.split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq
      Some(GraftApplyChangesCommand(cat, path, from.trim,
        cols(keys), Option(deleteWhen).map(_.trim),
        seqBy.stripPrefix("`").stripSuffix("`"),
        Option(except).toSeq.flatMap(cols)))
    case _ => None
  }

  /** Verify (at execution) that `cat` names a registered [[GraftCatalog]]
    * and return the table path. A typo'd catalog gets a loud, named error
    * rather than a statement that silently did nothing. */
  def graftPath(session: SparkSession, cat: String, path: String,
      stmt: String): String = {
    val plugin = GraftBatchShim.catalogPlugin(session, cat)
    require(plugin.exists(_.isInstanceOf[GraftCatalog]),
      s"$stmt: '$cat' is not a registered graft catalog (set " +
        s"spark.sql.catalog.$cat = graft.sql.GraftCatalog)")
    path
  }

  /** `TIMESTAMP AS OF` literal → epoch millis under the session zone
    * (accepts `yyyy-MM-dd[ HH:mm:ss[.S]]` and ISO-8601 instants). */
  def tsMillis(session: SparkSession, s: String): Long = {
    val zone = java.time.ZoneId.of(session.sessionState.conf.sessionLocalTimeZone)
    val t = s.trim
    scala.util.Try(java.time.Instant.parse(t).toEpochMilli)
      .orElse(scala.util.Try(java.time.LocalDateTime
        .parse(t.replace(' ', 'T')).atZone(zone).toInstant.toEpochMilli))
      .orElse(scala.util.Try(java.time.LocalDate.parse(t)
        .atStartOfDay(zone).toInstant.toEpochMilli))
      .getOrElse(throw new IllegalArgumentException(
        s"TIMESTAMP AS OF: cannot parse '$s' (use yyyy-MM-dd[ HH:mm:ss] " +
          "or an ISO-8601 instant)"))
  }
}

/** `OPTIMIZE [WHERE …] [ZORDER BY (…)]` → [[VersionedTable.compact]] /
  * [[VersionedTable.zOrderBy]] (partition-scoped when WHERE is given).
  * Returns the committed version (unchanged head when nothing qualified). */
case class GraftOptimizeCommand(cat: String, path: String,
    whereSql: Option[String], zorderBy: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "OPTIMIZE")
    val where = whereSql.map(expr)
    // Delta's liquid-clustering user story, expressed on the zorder
    // machinery: a table DECLARES its clustering once
    // (TBLPROPERTIES 'graft.clusterBy'='a,b') and every plain OPTIMIZE
    // applies it — the runbook never has to repeat the column list. An
    // explicit ZORDER BY clause still overrides per statement.
    val declared =
      if (zorderBy.nonEmpty) zorderBy
      else VersionedTable.propertiesOf(session, p).get("graft.clusterBy")
        .toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val v =
      if (declared.nonEmpty) VersionedTable.zOrderBy(session, p, declared,
        bits = 16, where = where)
      else VersionedTable.compact(session, p, 128L * 1024 * 1024, where)
    Seq(Row(v))
  }
}

/** `VACUUM [RETAIN n HOURS] [DRY RUN]` → [[VersionedTable.vacuumRetain]]
  * (default 168 hours — Delta's 7-day horizon, and the retention the
  * reference's runbook line spells out). DRY RUN lists what the horizon
  * WOULD delete, touching nothing — the look-before-you-leap for an
  * irreversible sweep (Delta's same clause). */
case class GraftVacuumCommand(cat: String, path: String,
    retainHours: Option[Long],
    dryRun: Boolean = false) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    if (dryRun) Seq(AttributeReference("would_delete", StringType, nullable = false)())
    else Seq(AttributeReference("retain_hours", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "VACUUM")
    val hours = retainHours.getOrElse(168L)
    if (dryRun)
      VersionedTable.vacuumPreview(session, p, hours * 3600L * 1000L)
        .map(Row(_))
    else {
      VersionedTable.vacuumRetain(session, p, hours * 3600L * 1000L)
      Seq(Row(hours))
    }
  }
}

/** `RESTORE [TABLE] … TO VERSION/TIMESTAMP AS OF …` →
  * [[VersionedTable.restore]] (metadata-only re-commit of the target
  * version as the new head). Returns (restored_to, new_version). */
case class GraftRestoreCommand(cat: String, path: String,
    version: Option[Long], timestamp: Option[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to", LongType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "RESTORE")
    val toV = version.getOrElse {
      val ms = GraftSqlStatements.tsMillis(session, timestamp.get)
      VersionedTable.versionAt(session, p, ms).getOrElse(
        throw new IllegalArgumentException(
          s"$p has no version committed at or before '${timestamp.get}'"))
    }
    Seq(Row(toV, VersionedTable.restore(session, p, toV)))
  }
}

/** `DESCRIBE DETAIL` (Delta's table-summary statement): ONE row of
  * operational facts — head version, file count, manifest row count,
  * partition dimension, properties and constraints — assembled from one
  * manifest resolution, zero data files opened (file SIZES are
  * deliberately absent: the manifest doesn't store them, and a
  * getFileStatus sweep would make a metadata statement O(table files)). */
case class GraftDescribeDetailCommand(cat: String,
    path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("properties", StringType, nullable = false)(),
    AttributeReference("check_constraints", StringType, nullable = false)(),
    AttributeReference("generated_columns", StringType, nullable = false)(),
    AttributeReference("identity_columns", StringType, nullable = false)(),
    AttributeReference("reader_features", StringType, nullable = false)(),
    AttributeReference("writer_features", StringType, nullable = false)(),
    AttributeReference("row_tracking", BooleanType, nullable = false)(),
    AttributeReference("row_id_high_watermark", LongType, nullable = true)(),
    AttributeReference("ndv_columns", StringType, nullable = false)(),
    AttributeReference("bucket_columns", StringType, nullable = false)(),
    AttributeReference("num_buckets", IntegerType, nullable = true)(),
    // materialized-view facts: what this view maintains (source + refresh
    // watermark + whether the rewrite would fire right now), and which
    // views are registered over this table when it is a SOURCE
    AttributeReference("mv_source", StringType, nullable = false)(),
    AttributeReference("mv_watermark", LongType, nullable = true)(),
    AttributeReference("mv_fresh", BooleanType, nullable = true)(),
    AttributeReference("mv_views", StringType, nullable = false)(),
    // join views: the pinned dimension and whether the pin still matches
    // the dim's head (stale = incremental refresh will refuse; FULL re-pins)
    AttributeReference("mv_join", StringType, nullable = false)(),
    // declared key pins (FOREIGN KEY ... RELY / UNIQUE ... RELY), each
    // suffixed with whether its pin still ARMS join elimination right now
    AttributeReference("foreign_keys", StringType, nullable = false)(),
    AttributeReference("unique_keys", StringType, nullable = false)(),
    // exact-distinct state: the maintained COUNT(DISTINCT) tuples and
    // their (group, value) helper tables, each with its watermark and
    // whether it is in step with the view (helpers run AHEAD, never
    // behind — "stale" means a crashed refresh left drift: run FULL)
    AttributeReference("mv_distinct", StringType, nullable = false)(),
    AttributeReference("mv_helpers", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "DESCRIBE DETAIL")
    val v = VersionedTable.latestVersion(session, p).getOrElse(
      throw new IllegalArgumentException(s"$p has no committed versions"))
    val partCols = VersionedTable.partitionColsOf(
      VersionedTable.read(session, p).schema)
    val props = VersionedTable.propertiesOf(session, p)
    val cons = VersionedTable.checkConstraintsOf(session, p)
    def kv(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (k, x) => s"$k=$x" }.mkString(",")
    val gens = VersionedTable.generatedColumnsOf(session, p)
    val ids = VersionedTable.identityColumnsOf(session, p).map { case (n, sp) =>
      n -> s"start=${sp.start};step=${sp.step};explicit=${sp.allowExplicit}" }
    val declPrefixes = VersionedTable.declarationPrefixes
    val (rf, wf) = VersionedTable.protocolOf(session, p)
    val (wm, fresh) = mvFacts(session, p, props)
    Seq(Row(p, "graft-table", v,
      VersionedTable.filesOf(session, p, v).size,
      VersionedTable.countRows(session, p),
      partCols.mkString(","),
      kv(props.filterNot(e => declPrefixes.exists(e._1.startsWith) ||
        e._1 == VersionedTable.NdvColsKey || // surfaced in dedicated columns
        e._1 == VersionedTable.BucketByKey ||
        e._1 == VersionedTable.NumBucketsKey ||
        e._1 == MaterializedView.SourceKey ||
        e._1 == MaterializedView.ViewsKey ||
        e._1 == MaterializedView.JoinsKey ||
        e._1 == MaterializedView.DistinctColsKey ||
        e._1.startsWith(graft.sources.ForeignKeys.Prefix) ||
        e._1.startsWith(graft.sources.ForeignKeys.UniquePrefix))),
      kv(cons), kv(gens), kv(ids),
      rf.toSeq.sorted.mkString(","), wf.toSeq.sorted.mkString(","),
      wf.contains("rowtracking"),
      VersionedTable.rowIdHighWatermark(session, p)
        .map(java.lang.Long.valueOf).orNull,
      props.getOrElse(VersionedTable.NdvColsKey, ""),
      props.getOrElse(VersionedTable.BucketByKey, ""),
      props.get(VersionedTable.NumBucketsKey)
        .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
        .map(java.lang.Integer.valueOf).orNull,
      props.getOrElse(MaterializedView.SourceKey, ""),
      wm.map(java.lang.Long.valueOf).orNull,
      fresh.map(java.lang.Boolean.valueOf).orNull,
      props.getOrElse(MaterializedView.ViewsKey, ""),
      MaterializedView.joinsIn(props).map { case (dim, keys, dimV) =>
        val head = scala.util.Try(
          VersionedTable.latestVersion(session, dim)).toOption.flatten
        val state = if (head.contains(dimV)) "armed" else "stale"
        s"$dim@$dimV(${keys.map(k => s"${k._1}=${k._2}").mkString(",")})" +
          s"[$state]"
      }.mkString(";"),
      graft.sources.ForeignKeys.declsIn(props).map { d =>
        val dimHead = scala.util.Try(
          VersionedTable.latestVersion(session, d.dimPath)).toOption.flatten
        val armed = d.factPin == v && dimHead.contains(d.dimPin)
        s"(${d.fkCols.mkString("~")})->${d.dimPath}" +
          s"(${d.pkCols.mkString("~")})[${if (armed) "armed" else "stale"}]"
      }.mkString(","),
      graft.sources.ForeignKeys.uniqueDeclsIn(props).map { u =>
        s"(${u.cols.mkString("~")})" +
          s"[${if (u.pin == v) "armed" else "stale"}]"
      }.mkString(","),
      props.getOrElse(MaterializedView.DistinctColsKey, ""),
      MaterializedView.distinctsIn(props).map { t =>
        val hp = MaterializedView.distinctHelperPath(p, t)
        val hWm = scala.util.Try(VersionedTable.lastTxn(session, hp,
          MaterializedView.App)).toOption.flatten
        // in step = the helper's watermark has not fallen BEHIND the
        // view's (the crash order keeps helpers ahead), and for join
        // views its pin copy matches the view's
        val inStep = (wm, hWm) match {
          case (Some(vw), Some(hw)) =>
            hw >= vw && props.get(MaterializedView.JoinsKey) ==
              VersionedTable.propertiesOf(session, hp).get(MaterializedView.JoinsKey)
          case _ => false
        }
        s"$hp@${hWm.map(_.toString).getOrElse("?")}" +
          s"[${if (inStep) "fresh" else "stale"}]"
      }.mkString(";")))
  }

  /** (refresh watermark, fresh-right-now) for a materialized view; (None,
    * None) for plain tables. Fresh = the watermark equals the source's
    * head version — exactly [[graft.sql.GraftMvRewrite]]'s gate, so this
    * column answers "would the rewrite fire" without running a query. */
  private def mvFacts(session: SparkSession, p: String,
      props: Map[String, String]): (Option[Long], Option[Boolean]) =
    props.get(MaterializedView.SourceKey) match {
      case None => (None, None)
      case Some(src) =>
        val wm = VersionedTable.lastTxn(session, p, MaterializedView.App)
        val head = scala.util.Try(
          VersionedTable.latestVersion(session, src)).toOption.flatten
        (wm, Some(wm.isDefined && wm == head))
    }
}

/** `CREATE TABLE dst [SHALLOW] CLONE src [VERSION AS OF n]` →
  * [[VersionedTable.cloneTo]]: a new table sharing the source's live
  * bytes via hard links — zero data copied, fresh history, properties
  * and constraints carried. */
case class GraftCloneCommand(dstCat: String, dstPath: String,
    srcCat: String, srcPath: String,
    version: Option[Long]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val src = GraftSqlStatements.graftPath(session, srcCat, srcPath, "CLONE")
    val dst = GraftSqlStatements.graftPath(session, dstCat, dstPath, "CLONE")
    val v = VersionedTable.cloneTo(session, src, dst, version)
    Seq(Row(v, VersionedTable.filesOf(session, dst, v).size))
  }
}

/** `REORG TABLE ... APPLY (PURGE)` (Delta's DV-materialization verb) →
  * [[VersionedTable.purgeDeletes]]: rewrite every file carrying deletion-
  * vector marks as its surviving rows in one commit, so those files scan
  * plain again (no anti-join). Returns the committed version — unchanged
  * head when no file carries marks. */
case class GraftReorgCommand(cat: String,
    path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "REORG TABLE")
    Seq(Row(VersionedTable.purgeDeletes(session, p)))
  }
}

/** `COPY INTO ... FROM '<dir>' FILEFORMAT = PARQUET [PATTERN = '<glob>']`
  * (Delta's idempotent bulk-ingest statement) → [[VersionedTable.copyInto]]:
  * one append commit of exactly the source files not already loaded; a
  * re-run is a no-op. Returns (version, files_loaded). */
case class GraftCopyIntoCommand(cat: String, path: String,
    srcDir: String, pattern: Option[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files_loaded", IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "COPY INTO")
    val (v, n) = VersionedTable.copyInto(session, p, srcDir, pattern)
    Seq(Row(v, n))
  }
}

/** `CONVERT TO GRAFT parquet.`/dir`` (Delta's CONVERT TO DELTA): adopt a
  * plain parquet directory in place as a one-commit graft table —
  * [[VersionedTable.convertToGraft]]. The reference is `parquet.`...``
  * (not a graft catalog): the target is by definition NOT a graft table
  * yet, exactly Delta's spelling. */
case class GraftConvertCommand(path: String,
    statsCols: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val v = VersionedTable.convertToGraft(session, path, statsCols)
    Seq(Row(v, VersionedTable.filesOf(session, path, v).size))
  }
}

/** `ANALYZE [TABLE] graft.`/p` COMPUTE [INCREMENTAL] NDV FOR COLUMNS
  * (a, b)` — collect per-file KMV NDV sketches into the manifest stats
  * (one column-pruned distributed scan, a stats-only commit). INCREMENTAL
  * scans only the files still missing a sketch — the O(new files)
  * steady-state re-analyze after appends. The sketches power the CBO-lite
  * broadcast decisions of GraftNdvJoinEstimation and dictionary-complete
  * equality pruning. Returns the committed version. */
case class GraftAnalyzeNdvCommand(cat: String, path: String,
    cols: Seq[String], incremental: Boolean = false)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "ANALYZE")
    Seq(Row(VersionedTable.analyzeNdv(session, p, cols, incremental)))
  }
}

/** `APPLY CHANGES INTO` (Databricks DLT's CDC-apply statement, here in its
  * batch form): apply one out-of-order-tolerant CDC batch to a graft table
  * as ONE sequence-guarded merge commit. The reference's silver dedupe
  * contract (`docs/runbooks/silver-transform.md:114-122`, keep the record
  * with max(ingested_at)) is exactly this statement with
  * `SEQUENCE BY ingested_at`. Every clause maps 1:1 onto the proven
  * [[VersionedTable.upsert]] knobs — the SQL surface adds NO new
  * semantics, so the guarded-merge specs and the q_guarded_merge oracle
  * cover this path's engine behavior:
  *
  *  - `FROM <rel>` — a view/table name or parenthesized subquery, resolved
  *    by the session at execution (`SELECT * FROM <rel>`);
  *  - `KEYS (…)` — the merge keys;
  *  - `SEQUENCE BY c` — BOTH intra-batch dedup (`latestBy`: the newest row
  *    per key within the batch wins) and the cross-commit out-of-order
  *    guard (`guardBy`: a stored row is replaced only by a change with
  *    sequence >= its own, so late updates AND late tombstones are
  *    ignored);
  *  - `APPLY AS DELETE WHEN <cond>` — tombstone clause (`deleteWhere`);
  *  - `COLUMNS * EXCEPT (…)` — bookkeeping columns (the CDC op marker)
  *    dropped before landing, AFTER the delete/guard decisions that read
  *    them (`dropCols`).
  *
  * Returns the committed version. */
case class GraftApplyChangesCommand(cat: String, path: String,
    fromText: String, keys: Seq[String], deleteWhen: Option[String],
    seqCol: String, exceptCols: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "APPLY CHANGES INTO")
    val src = session.sql(s"SELECT * FROM $fromText")
    val v = VersionedTable.upsert(src, p, keys, evolveSchema = false,
      latestBy = Some(seqCol), statsCols = Nil, txn = None,
      deleteWhere = deleteWhen.map(expr), guardBy = Some(seqCol),
      dropCols = exceptCols)
    Seq(Row(v))
  }
}

/** `SHOW MATERIALIZED VIEWS ON src` — one row per registered view with
  * its maintenance facts: group/aggregate definition, predicate, refresh
  * watermark vs the source head, and whether the rewrite would fire RIGHT
  * NOW. Dropped-but-unregistered paths (an fs-level delete that bypassed
  * DROP TABLE) report fresh=false with a null watermark. */
case class GraftShowMaterializedViewsCommand(cat: String,
    path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("group_by", StringType, nullable = false)(),
    AttributeReference("aggregates", StringType, nullable = false)(),
    AttributeReference("where", StringType, nullable = false)(),
    AttributeReference("watermark", LongType, nullable = true)(),
    AttributeReference("source_version", LongType, nullable = false)(),
    AttributeReference("fresh", BooleanType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path,
      "SHOW MATERIALIZED VIEWS")
    val head = VersionedTable.latestVersion(session, p).getOrElse(
      throw new IllegalArgumentException(s"$p has no committed versions"))
    val props = VersionedTable.propertiesOf(session, p)
    MaterializedView.viewsIn(props).map { mv =>
      val vp = scala.util.Try(
        VersionedTable.propertiesOf(session, mv)).getOrElse(Map.empty)
      def l(k: String) = vp.getOrElse(k, "")
      val sums = l(MaterializedView.SumColsKey).split(",").filter(_.nonEmpty)
        .map(c => s"SUM($c)")
      val mms = l(MaterializedView.MinMaxColsKey).split(",").filter(_.nonEmpty)
        .flatMap(c => Seq(s"MIN($c)", s"MAX($c)"))
      val wm = scala.util.Try(
        VersionedTable.lastTxn(session, mv, MaterializedView.App))
        .toOption.flatten
      Row(mv, l(MaterializedView.GroupByKey),
        ("COUNT(*)" +: (sums ++ mms)).mkString(","),
        l(MaterializedView.WhereKey),
        wm.map(java.lang.Long.valueOf).orNull, head,
        wm.contains(head))
    }
  }
}

/** `SHOW PARTITIONS` from the manifest alone: one row per live partition
  * value with its file count and exact row count (DV-subtracted). No
  * directory listing, no data files opened — partition values come from
  * the file keys the manifest already holds. */
case class GraftShowPartitionsCommand(cat: String,
    path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "SHOW PARTITIONS")
    VersionedTable.partitionsOf(session, p).map { case (part, nf, nr) =>
      Row(part, nf, nr)
    }
  }
}

/** `SHOW CREATE TABLE` — reconstruct replayable DDL from the commit log
  * alone: the column list (generated and identity declarations inline,
  * exactly the CREATE TABLE grammar this parser accepts), the partition
  * dimension, the user-replayable TBLPROPERTIES (declaration and
  * wiring keys excluded — constraints re-enter through their own ALTER
  * statements, appended after the CREATE so the whole output replays
  * top to bottom). One row, one `createtab_stmt` string, Delta's
  * convention. */
case class GraftShowCreateTableCommand(cat: String,
    path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("createtab_stmt", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "SHOW CREATE TABLE")
    require(VersionedTable.latestVersion(session, p).isDefined,
      s"$p has no committed versions")
    val schema = VersionedTable.read(session, p).schema
    val partCols = VersionedTable.partitionColsOf(schema)
    val props = VersionedTable.propertiesOf(session, p)
    val gens = VersionedTable.generatedColumnsOf(session, p)
    val ids = VersionedTable.identityColumnsOf(session, p)
    val cons = VersionedTable.checkConstraintsOf(session, p)
    // escaping in the dialect the CREATE TABLE path parses: identifiers
    // double embedded backticks, string literals double embedded quotes
    // (backslash escapes depend on a parser mode; doubling never does)
    def q(n: String) = s"`${n.replace("`", "``")}`"
    def qs(v: String) = s"'${v.replace("'", "''")}'"
    val colLines = schema.fields.map { f =>
      val base = s"  ${q(f.name)} ${f.dataType.sql}"
      ids.get(f.name) match {
        case Some(sp) =>
          val kind = if (sp.allowExplicit) "BY DEFAULT" else "ALWAYS"
          s"$base GENERATED $kind AS IDENTITY (START WITH ${sp.start} " +
            s"INCREMENT BY ${sp.step})"
        case None => gens.get(f.name) match {
          case Some(sql) => s"$base GENERATED ALWAYS AS ($sql)"
          case None => base
        }
      }
    }
    // replayable properties only: declarations re-enter through their own
    // statements; MV/FK wiring and stats rosters are engine-managed
    // state; the bucket layout re-enters as its own CLUSTERED BY clause
    val managed = Seq("graft.mv.", "graft.fk.", "graft.uk.", "graft.ndvCols",
      VersionedTable.BucketByKey, VersionedTable.NumBucketsKey,
      VersionedTable.BucketSortByKey)
    val userProps = props.toSeq.filterNot { case (k, _) =>
      VersionedTable.declarationPrefixes.exists(k.startsWith) ||
        managed.exists(k.startsWith)
    }.sortBy(_._1)
    val sb = new StringBuilder
    sb.append(s"CREATE TABLE $cat.${q(p)} (\n")
    sb.append(colLines.mkString(",\n")).append(")")
    // no USING clause: the graft catalog prefix IS the format, and its
    // CREATE TABLE grammar takes none — the output replays verbatim
    if (partCols.nonEmpty)
      sb.append(s"\nPARTITIONED BY (${partCols.map(q).mkString(", ")})")
    // the bucket layout is a CLAUSE, not properties — emit the canonical
    // grammar the parser itself accepts (CLUSTERED BY excludes
    // PARTITIONED BY at create, so at most one of the two appears)
    for {
      by <- props.get(VersionedTable.BucketByKey)
      n <- props.get(VersionedTable.NumBucketsKey)
    } {
      sb.append(s"\nCLUSTERED BY (${by.split(",").map(q).mkString(", ")})")
      props.get(VersionedTable.BucketSortByKey).foreach { sc =>
        sb.append(s" SORTED BY (${sc.split(",").map(q).mkString(", ")})")
      }
      sb.append(s" INTO $n BUCKETS")
    }
    if (userProps.nonEmpty)
      sb.append("\nTBLPROPERTIES (\n").append(userProps.map { case (k, v) =>
        s"  ${qs(k)} = ${qs(v)}" }.mkString(",\n")).append(")")
    sb.append(";")
    cons.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      // the constraint NAME escapes like any identifier — replayable DDL
      // even for names that need quoting
      sb.append(s"\nALTER TABLE $cat.${q(p)} ADD CONSTRAINT ${q(name)} " +
        s"CHECK ($sql);")
    }
    Seq(Row(sb.toString))
  }
}

/** `DESCRIBE HISTORY` → [[VersionedTable.history]]: one row per committed
  * version, newest first, assembled from manifests only. */
case class GraftDescribeHistoryCommand(cat: String,
    path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("txn", StringType, nullable = false)(),
    AttributeReference("num_dv_deleted", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path, "DESCRIBE HISTORY")
    VersionedTable.history(session, p)
      .orderBy(org.apache.spark.sql.functions.col("version").desc)
      .collect().toSeq
  }
}

/** `CREATE MATERIALIZED VIEW mv AS SELECT g…, COUNT(*), SUM(c)…, MIN(c)…,
  * MAX(c)… FROM src [WHERE p] GROUP BY g…` — the incremental-view DDL
  * ([[graft.sources.MaterializedView]]). The SELECT shape is restricted to
  * the INCREMENTALLY-MAINTAINABLE aggregates: COUNT/SUM repair from the
  * change-feed delta alone; MIN/MAX fold on inserts and repair a group
  * from the source only when its stored extremum was deleted;
  * COUNT(DISTINCT col[, col…]) maintains through a per-(group, value)
  * helper table — on plain AND join views alike. Anything else (AVG
  * derives as sum/count at query time) is refused. View columns land as
  * the group columns + `mv_count` + `sum_<col>`/`min_<col>`/`max_<col>` +
  * `nn_<col>` + `ndv_<col>`. */
case class GraftCreateMvCommand(cat: String, path: String,
    srcCat: String, srcPath: String, selectList: String,
    groupByList: String, where: Option[String] = None,
    partitionBy: Seq[String] = Nil,
    joins: Seq[(String, String, String)] = Nil)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq.empty

  override def run(session: SparkSession): Seq[Row] = {
    val stmt = "CREATE MATERIALIZED VIEW"
    val p = GraftSqlStatements.graftPath(session, cat, path, stmt)
    val src = GraftSqlStatements.graftPath(session, srcCat, srcPath, stmt)
    def strip(s: String) = s.trim.stripPrefix("`").stripSuffix("`")
    val groupBy = groupByList.split(",").map(strip).filter(_.nonEmpty).toSeq
    val Count = """(?i)COUNT\s*\(\s*\*\s*\)""".r
    val CountD =
      """(?i)COUNT\s*\(\s*DISTINCT\s+((?:`[^`]+`|\w+)(?:\s*,\s*(?:`[^`]+`|\w+))*)\s*\)""".r
    val Sum = """(?i)SUM\s*\(\s*(`[^`]+`|\w+)\s*\)""".r
    val AvgAgg = """(?i)AVG\s*\(\s*(`[^`]+`|\w+)\s*\)""".r
    val MinAgg = """(?i)MIN\s*\(\s*(`[^`]+`|\w+)\s*\)""".r
    val MaxAgg = """(?i)MAX\s*\(\s*(`[^`]+`|\w+)\s*\)""".r
    val plainCols = scala.collection.mutable.ArrayBuffer[String]()
    val sumCols = scala.collection.mutable.ArrayBuffer[String]()
    val minMaxCols = scala.collection.mutable.ArrayBuffer[String]()
    val distinctCols = scala.collection.mutable.ArrayBuffer[String]()
    var hasCount = false
    // split on TOP-LEVEL commas only: COUNT(DISTINCT a, b) is one item
    def splitTop(s: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val sb = new StringBuilder
      var depth = 0
      s.foreach {
        case '(' => depth += 1; sb.append('(')
        case ')' => depth -= 1; sb.append(')')
        case ',' if depth == 0 => out += sb.toString; sb.clear()
        case ch => sb.append(ch)
      }
      out += sb.toString
      out.result()
    }
    splitTop(selectList).map(_.trim).filter(_.nonEmpty).foreach {
      case Count() => hasCount = true
      // exact COUNT(DISTINCT col[, col…]): maintained through a
      // per-(group, value-tuple) occurrence-count helper table beside the
      // view (tuples encode pipe-joined in the definition property)
      case CountD(cs) => distinctCols +=
        cs.split(",").map(x => strip(x.trim)).mkString("|")
      case Sum(c) => sumCols += strip(c)
      // AVG maintains as its exact components — the view stores
      // sum_<c>/nn_<c> and the mean derives at query time (a stored
      // quotient column would go stale the moment either component moves)
      case AvgAgg(c) => sumCols += strip(c)
      case MinAgg(c) => minMaxCols += strip(c)
      case MaxAgg(c) => minMaxCols += strip(c)
      case c if c.matches("`[^`]+`|\\w+") => plainCols += strip(c)
      case other => throw new IllegalArgumentException(
        s"$stmt: unsupported select item '$other' — an incremental view " +
          "maintains GROUP BY columns, COUNT(*), COUNT(DISTINCT col), " +
          "SUM(col), AVG(col) (as its sum/count components), MIN(col) " +
          "and MAX(col) (inserts fold; a deleted extremum repairs its " +
          "group from the source)")
    }
    require(plainCols.toSeq == groupBy,
      s"$stmt: the select list's plain columns (${plainCols.mkString(",")}) " +
        s"must equal GROUP BY (${groupBy.mkString(",")}), in order")
    require(hasCount,
      s"$stmt: the select list must include COUNT(*) — the group-liveness " +
        "aggregate that lets emptied groups leave the view")
    if (joins.isEmpty)
      graft.sources.MaterializedView.create(session, src, p, groupBy,
        sumCols.distinct.toSeq, minMaxCols.distinct.toSeq, where,
        partitionBy, distinctCols = distinctCols.distinct.toSeq)
    else {
      // ON left_col = dim_col [AND ...] — plain or backticked names; the
      // left side of each equality belongs to the ACCUMULATED frame (the
      // fact, or an earlier dim for snowflakes), the right to this dim
      val Pair = """(?i)\s*(`[^`]+`|\w+)\s*=\s*(`[^`]+`|\w+)\s*""".r
      val dims = joins.map { case (dc, dp, on) =>
        val dim = GraftSqlStatements.graftPath(session, dc, dp, stmt)
        val keys = on.split("(?i)\\s+AND\\s+").toSeq.map {
          case Pair(fk, pk) => strip(fk) -> strip(pk)
          case bad => throw new IllegalArgumentException(
            s"$stmt: unsupported ON term '$bad' — the join condition is " +
              "left_col = dim_col equalities joined by AND (dim side " +
              "second)")
        }
        dim -> keys
      }
      graft.sources.MaterializedView.createJoinedMulti(session, src, dims,
        p, groupBy, sumCols.distinct.toSeq,
        minMaxCols.distinct.toSeq, where, partitionBy,
        distinctCols = distinctCols.distinct.toSeq)
    }
    Seq.empty
  }
}

/** `ALTER TABLE fact ADD FOREIGN KEY (fk) REFERENCES dim (pk) RELY` →
  * [[graft.sources.ForeignKeys.declare]] (validate + pin), and the DROP
  * twin → unpin. Returns the fact version carrying (or dropping) the
  * declaration. */
case class GraftForeignKeyCommand(cat: String, path: String,
    fkCols: Seq[String],
    refDim: Option[(String, String, Seq[String])])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val stmt = refDim.fold("ALTER TABLE DROP FOREIGN KEY")(_ =>
      "ALTER TABLE ADD FOREIGN KEY")
    val fact = GraftSqlStatements.graftPath(session, cat, path, stmt)
    Seq(Row(refDim match {
      case Some((dc, dp, pkCols)) =>
        val dim = GraftSqlStatements.graftPath(session, dc, dp, stmt)
        graft.sources.ForeignKeys.declare(session, fact, fkCols, dim, pkCols)
      case None =>
        graft.sources.ForeignKeys.drop(session, fact, fkCols)
    }))
  }
}

/** `ALTER TABLE t ADD UNIQUE (cols) RELY` →
  * [[graft.sources.ForeignKeys.declareUnique]] (validate + pin; licenses
  * LEFT-join elimination), and the DROP twin → unpin. */
case class GraftUniqueKeyCommand(cat: String, path: String,
    cols: Seq[String], add: Boolean) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val stmt = if (add) "ALTER TABLE ADD UNIQUE" else "ALTER TABLE DROP UNIQUE"
    val p = GraftSqlStatements.graftPath(session, cat, path, stmt)
    Seq(Row(
      if (add) graft.sources.ForeignKeys.declareUnique(session, p, cols)
      else graft.sources.ForeignKeys.dropUnique(session, p, cols)))
  }
}

/** `REFRESH MATERIALIZED VIEW mv` → [[graft.sources.MaterializedView
  * .refresh]]: apply the source's change feed since the view's txn
  * watermark as one CoW MERGE. Returns the view's (possibly unchanged)
  * version. */
case class GraftRefreshMvCommand(cat: String,
    path: String, full: Boolean = false) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val p = GraftSqlStatements.graftPath(session, cat, path,
      "REFRESH MATERIALIZED VIEW")
    Seq(Row(
      if (full) graft.sources.MaterializedView.fullRefresh(session, p)
      else graft.sources.MaterializedView.refresh(session, p)))
  }
}
