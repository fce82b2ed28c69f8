package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, LogicalPlan, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.GraftBatchShim

import graft.sources.VersionedTable

/** Translates the two simple row-level DML statements over a graft table —
  * `DELETE FROM graft.`/p` WHERE p` and `UPDATE graft.`/p` SET c = e WHERE p`
  * — to their one-commit [[VersionedTable]] verbs ([[VersionedTable.delete]]
  * marks matched rows, rewriting only files past the mark-or-rewrite
  * fraction; [[VersionedTable.update]] rewrites copy-on-write): file-
  * granular (untouched files and whole partition directories carry by
  * reference), optimistic concurrency, pre-statement snapshot
  * time-travelable. Without this rule
  * the statements die in DSv2 planning ("table does not support deletes") —
  * and a user's first CDC fix-up IS `DELETE FROM t WHERE ...`
  * (the operational half of the reference's MERGE runbook,
  * reference/docs/runbooks/silver-transform.md:114-122).
  *
  * Conditions and assignment values may reference target columns and use
  * any deterministic scalar expression; SUBQUERIES are refused loudly (a
  * correlated delete belongs in MERGE), as are assignments to nested
  * fields. Shapes are validated at ANALYSIS time; the stored expressions
  * stay fully resolved (an unresolved leftover would wedge the analyzer)
  * and are re-bound BY NAME against the table's fresh read at execution —
  * the verbs re-read the head inside their CAS loop, so binding must
  * follow names, not the analysis-time exprIds.
  */
object GraftDmlTranslation {

  private def checkSimple(e: Expression, path: String, what: String): Unit = {
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      throw new UnsupportedOperationException(
        s"$what ${path}: subqueries in the condition/assignments are not " +
          "supported — rewrite as MERGE INTO with the subquery as the source")
  }

  def delete(spark: SparkSession, d: DeleteFromTable,
      target: GraftTable): LogicalPlan = {
    require(target.asOf.isEmpty,
      s"${target.path}: cannot DELETE from a time-travelled snapshot")
    checkSimple(d.condition, target.path, "DELETE FROM")
    GraftDeleteCommand(target.path, d.condition)
  }

  def update(spark: SparkSession, u: UpdateTable,
      target: GraftTable): LogicalPlan = {
    require(target.asOf.isEmpty,
      s"${target.path}: cannot UPDATE a time-travelled snapshot")
    val sets = u.assignments.map { case Assignment(key, value) =>
      val name = key match {
        case a: AttributeReference => a.name
        case other => throw new UnsupportedOperationException(
          s"UPDATE ${target.path}: SET target '${other.sql}' is not a " +
            "top-level column (nested-field updates are not supported)")
      }
      checkSimple(value, target.path, "UPDATE")
      name -> value
    }
    require(sets.map(_._1.toLowerCase).distinct.size == sets.size,
      s"UPDATE ${target.path}: duplicate assignment targets")
    u.condition.foreach(checkSimple(_, target.path, "UPDATE"))
    GraftUpdateCommand(target.path, sets,
      u.condition.getOrElse(
        org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral))
  }

  /** Rebind an analysis-time expression BY NAME for evaluation against the
    * verb's own fresh read (single-relation scope → names are unambiguous;
    * quoted so dotted column names bind literally). Runs at EXECUTION time,
    * outside the analyzer — the stored form stays resolved. */
  private[sql] def byName(e: Expression): Expression = e.transformUp {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }
}

/** `DELETE FROM graft.`/p` WHERE cond` → one [[VersionedTable.delete]]
  * commit (file-granular: matched rows are marked in a deletion-vector
  * sidecar, and a file whose marks would pass the purge fraction is
  * rewritten instead; a predicate matching no live row is a no-op). */
case class GraftDeleteCommand(path: String,
    condition: Expression) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    VersionedTable.delete(session, path,
      GraftBatchShim.columnOf(GraftDmlTranslation.byName(condition)))
    Seq.empty
  }
}

/** `UPDATE graft.`/p` SET c = e, ... WHERE cond` → one
  * [[VersionedTable.update]] commit (CoW rewrite of stat-matched files
  * only; assignments see the old row; values cast to the recorded column
  * types under ANSI semantics). */
case class GraftUpdateCommand(path: String, sets: Seq[(String, Expression)],
    condition: Expression) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    VersionedTable.update(session, path,
      GraftBatchShim.columnOf(GraftDmlTranslation.byName(condition)),
      sets.map { case (n, e) =>
        n -> GraftBatchShim.columnOf(GraftDmlTranslation.byName(e))
      }.toMap)
    Seq.empty
  }
}
