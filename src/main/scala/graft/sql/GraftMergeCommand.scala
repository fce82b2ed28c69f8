package graft.sql

import org.apache.spark.sql.{Row, SparkSession}

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, Project, UpdateAction, UpdateStarAction}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.GraftBatchShim

import graft.sources.VersionedTable

/** Translates a resolved `MERGE INTO` over a graft table to one
  * [[VersionedTable.upsert]] commit — the documented runbook contract
  * (reference/docs/runbooks/silver-transform.md:114-122: dedupe source on
  * the key, update matched, insert unmatched) plus the CDC tombstone
  * clause. The supported shape is the upsert-expressible subset:
  *
  * {{{
  *   MERGE INTO graft.`/p` t USING src s
  *   ON t.k1 = s.k1 [AND t.k2 = s.k2 ...]
  *   [WHEN MATCHED AND <cond> THEN DELETE]
  *   WHEN MATCHED THEN UPDATE SET *          -- or explicit full-row SET
  *   WHEN NOT MATCHED THEN INSERT *          -- or explicit full-row VALUES
  * }}}
  *
  * Everything else — partial-row updates, different UPDATE vs INSERT rows,
  * conditional UPDATE/INSERT, update-only merges, NOT MATCHED BY SOURCE —
  * is refused with an error naming the unsupported clause, because a
  * silent approximation would commit rows the SQL didn't ask for. The
  * refusals mirror what upsert cannot express; they are contracts, not
  * gaps: upsert replaces the WHOLE row for matched keys and always inserts
  * unmatched source rows.
  */
object GraftMergeTranslation {

  def translate(spark: SparkSession, m: MergeIntoTable,
      target: GraftTable): LogicalPlan = {
    def fail(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"MERGE INTO ${target.path}: $what. graft MERGE supports: ON " +
          "equality of same-named key columns; optional WHEN MATCHED AND " +
          "<cond over source> THEN DELETE; WHEN MATCHED THEN UPDATE SET * " +
          "(full row); WHEN NOT MATCHED THEN INSERT * (same full row). " +
          "For other shapes use the DataFrame API (VersionedTable.upsert/" +
          "delete).")

    val targetOut =
      org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(
        m.targetTable).output
    val sourceOut = m.sourceTable.output
    val targetSet = AttributeSet(targetOut)
    val sourceSet = AttributeSet(sourceOut)
    val sourceByName = sourceOut.map(a => a.name.toLowerCase -> a).toMap

    // ON: conjunction of target.k = source.k equalities, same column name
    def splitAnd(e: Expression): Seq[Expression] = e match {
      case And(l, r) => splitAnd(l) ++ splitAnd(r)
      case other => Seq(other)
    }
    val keys = splitAnd(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val (t, s) =
          if (targetSet.contains(a) && sourceSet.contains(b)) (a, b)
          else if (targetSet.contains(b) && sourceSet.contains(a)) (b, a)
          else fail(s"ON clause term ${a.name} = ${b.name} must compare a " +
            "target column to a source column")
        if (!t.name.equalsIgnoreCase(s.name))
          fail(s"ON clause pairs differently-named columns (${t.name} = " +
            s"${s.name}); merge keys must share a name")
        t.name
      case other => fail(s"ON clause term '${other.sql}' is not an equality " +
        "between key columns")
    }

    // full-row assignments → per-target-column expression over the source
    def fullRow(assignments: Seq[Assignment], clause: String): Map[String, Expression] = {
      val byCol = assignments.map { as =>
        val name = as.key match {
          case a: AttributeReference if targetSet.contains(a) => a.name
          case other => fail(s"$clause assigns to '${other.sql}', not a " +
            "top-level target column")
        }
        if (!as.value.references.subsetOf(sourceSet))
          fail(s"$clause expression for '$name' references target columns; " +
            "only source expressions are supported")
        name.toLowerCase -> as.value
      }.toMap
      val missing = targetOut.map(_.name).filterNot(n => byCol.contains(n.toLowerCase))
      if (missing.nonEmpty)
        fail(s"$clause writes a partial row (missing ${missing.mkString(", ")}); " +
          "upsert semantics replace the whole row")
      byCol
    }
    // star actions resolve by name against the source
    def starRow(clause: String): Map[String, Expression] =
      targetOut.map { t =>
        t.name.toLowerCase -> (sourceByName.getOrElse(t.name.toLowerCase,
          fail(s"$clause: source has no column '${t.name}'")): Expression)
      }.toMap

    // matched actions: optional leading conditional DELETE, then one
    // unconditional full-row UPDATE (first-match-wins order preserved)
    val (deleteCond, updateRow) = m.matchedActions match {
      case Seq(UpdateAction(None, as, _)) => (None, fullRow(as, "UPDATE"))
      case Seq(UpdateStarAction(None)) => (None, starRow("UPDATE SET *"))
      case Seq(DeleteAction(Some(cond)), UpdateAction(None, as, _)) =>
        (Some(cond), fullRow(as, "UPDATE"))
      case Seq(DeleteAction(Some(cond)), UpdateStarAction(None)) =>
        (Some(cond), starRow("UPDATE SET *"))
      case Seq() => fail("a WHEN MATCHED THEN UPDATE clause is required")
      case other => fail(s"unsupported WHEN MATCHED clauses: " +
        other.map(_.getClass.getSimpleName).mkString(", "))
    }

    // With a tombstone DELETE clause, upsert NEVER inserts a row matching
    // the condition — matched or not. SQL's unconditional NOT MATCHED
    // INSERT would insert an unmatched tombstone row, so that combination
    // is refused rather than silently diverging; the expressible (and, in
    // CDC practice, intended) shape carries the negated condition on the
    // INSERT clause, which upsert's tombstone filter implements exactly.
    def negates(ic: Expression, dc: Expression): Boolean =
      ic.semanticEquals(Not(dc)) || (ic match {
        case Not(inner) => inner.semanticEquals(dc)
        case _ => false
      })
    val insertRow = (deleteCond, m.notMatchedActions) match {
      case (None, Seq(InsertAction(None, as))) => fullRow(as, "INSERT")
      case (None, Seq(InsertStarAction(None))) => starRow("INSERT *")
      case (Some(dc), Seq(InsertAction(Some(ic), as))) if negates(ic, dc) =>
        fullRow(as, "INSERT")
      case (Some(dc), Seq(InsertStarAction(Some(ic)))) if negates(ic, dc) =>
        starRow("INSERT *")
      case (Some(_), Seq(InsertAction(None, _)) | Seq(InsertStarAction(None))) =>
        fail("a MERGE with WHEN MATCHED AND <cond> THEN DELETE needs " +
          "WHEN NOT MATCHED AND NOT <cond> THEN INSERT: tombstone rows are " +
          "never inserted by upsert, so an unconditional INSERT of an " +
          "unmatched tombstone row is not expressible")
      case (_, Seq()) => fail("a WHEN NOT MATCHED THEN INSERT clause is " +
        "required (upsert always inserts unmatched source rows)")
      case (_, other) => fail(s"unsupported WHEN NOT MATCHED clauses: " +
        other.map(_.getClass.getSimpleName).mkString(", "))
    }
    if (m.notMatchedBySourceActions.nonEmpty)
      fail("WHEN NOT MATCHED BY SOURCE is not supported")

    // upsert writes ONE row per source key — update and insert must agree
    targetOut.foreach { t =>
      if (!updateRow(t.name.toLowerCase).semanticEquals(insertRow(t.name.toLowerCase)))
        fail(s"UPDATE and INSERT write different values for '${t.name}'; " +
          "upsert semantics use one row for both")
    }

    val projected = targetOut.map(t =>
      Alias(updateRow(t.name.toLowerCase), t.name)())
    val aliasOf = targetOut.zip(projected).map { case (t, al) =>
      t.name.toLowerCase -> al }.toMap

    // The DELETE condition is evaluated by upsert ON THE PROJECTED ROW, so
    // every attribute it references must survive the projection: rewrite
    // each referenced source attr to the projection-output attribute whose
    // assigned expression IS that attr. The rewritten condition stays fully
    // RESOLVED (it references the Project's alias ids) — an unresolved
    // leftover inside the command node would wedge the analyzer.
    val deleteOnRow = deleteCond.map { cond =>
      cond.transformUp {
        case a: AttributeReference if sourceSet.contains(a) =>
          targetOut.find(t => updateRow(t.name.toLowerCase).semanticEquals(a))
            .map(t => aliasOf(t.name.toLowerCase).toAttribute: Expression)
            .getOrElse(fail(s"DELETE condition references source column " +
              s"'${a.name}', which no target column is assigned from — the " +
              "condition is evaluated on the merged row"))
        case a: AttributeReference if targetSet.contains(a) =>
          fail(s"DELETE condition references target column '${a.name}'; " +
            "only the incoming (source) row is visible to the condition")
      }
    }
    GraftMergeCommand(
      target.path, keys,
      Project(projected, m.sourceTable),
      deleteOnRow,
      evolveSchema = m.withSchemaEvolution)
  }
}

/** The executable half: project the source to the target row shape, run
  * [[VersionedTable.upsert]] (optimistic-concurrency merge — file
  * selection via manifest stats, matched rows marked or their files
  * rewritten, recompute on lost CAS, tombstone rows removed not
  * inserted). */
case class GraftMergeCommand(
    path: String,
    keys: Seq[String],
    updatesPlan: LogicalPlan,
    deleteOnRow: Option[Expression],
    evolveSchema: Boolean) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val updates = GraftBatchShim.ofPlan(session, updatesPlan)
    VersionedTable.upsert(updates, path, keys, evolveSchema = evolveSchema,
      latestBy = None, statsCols = Nil, txn = None,
      deleteWhere = deleteOnRow.map(GraftBatchShim.columnOf))
    Seq.empty
  }
}
