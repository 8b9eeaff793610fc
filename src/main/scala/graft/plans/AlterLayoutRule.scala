package graft.plans

import graft.operators.MergeOps
import graft.sources.Chain
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFieldName, UnresolvedTable}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.DataType

/** SQL surface for schema evolution over a served corpus layout
  * (SURVEY §2.I): `ALTER TABLE <graft_cl_… | graft_plt_…> ADD COLUMNS /
  * RENAME COLUMN / DROP COLUMN` lower onto the metadata-only evolution
  * verbs [[graft.operators.MergeOps.renameColumn]] / `dropColumn` (the
  * `_MAPPING` swing: every byte hard-links) and `addColumns` (a
  * zero-row schema anchor; untouched rows read the column as NULL — the
  * Delta/Iceberg metadata-only ADD COLUMN), one implementation for flat
  * and partitioned chains alike.
  *
  * Placement is the [[TimeTravelLayoutRule]] recipe, NOT
  * [[MergeIntoLayoutRule]]'s: Spark's `ResolveSessionCatalog` throws
  * UNSUPPORTED_FEATURE for v1 ALTER … COLUMN in the SAME resolution
  * pass that resolves the table, BEFORE injected resolution rules run —
  * the hint batch precedes Resolution entirely, and this rewrite needs
  * nothing resolved (it matches the table by NAME; a name that is not a
  * served layout keeps Spark's stock path and its stock error).
  *
  * Loud limits: single-part (non-nested) names only; the layout key can
  * be neither renamed nor dropped (row identity); added columns must be
  * nullable with no DEFAULT and no position (untouched rows read NULL —
  * a NOT NULL or defaulted column would lie about unrewritten files).
  */
class AlterLayoutRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"ALTER TABLE <graft layout table>: $msg")

  private def layoutChain(p: LogicalPlan): Option[Chain] = p match {
    case u: UnresolvedTable =>
      LayoutSql.layoutName(session, u.multipartIdentifier)
        .flatMap(Chain.forCatalogName(session, _))
    case _ => None
  }

  private def onePart(f: org.apache.spark.sql.catalyst.analysis.FieldName): String =
    f match {
      case UnresolvedFieldName(Seq(n)) => n
      case other => fail(s"nested fields are not supported, got $other")
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case r @ RenameColumn(t, col, newName) =>
      layoutChain(t).map(c =>
        AlterLayoutCommand(c, AlterLayoutCommand.Rename(onePart(col), newName))
          : LogicalPlan).getOrElse(r)
    case d @ DropColumns(t, cols, ifExists) =>
      layoutChain(t).map(c =>
        AlterLayoutCommand(c,
          AlterLayoutCommand.Drop(cols.map(onePart), ifExists)): LogicalPlan)
        .getOrElse(d)
    case a @ AddColumns(t, cols) =>
      layoutChain(t).map { chain =>
        val adds = cols.map { c =>
          if (c.path.isDefined) fail(
            s"nested ADD COLUMNS is not supported, got ${c.name.mkString(".")}")
          if (c.position.isDefined) fail(
            "FIRST/AFTER is not supported — layout columns are unordered " +
              "metadata")
          if (c.default.isDefined) fail(
            "DEFAULT is not supported — untouched rows read an added " +
              "column as NULL")
          if (!c.nullable) fail(
            "added columns must be nullable — untouched files are " +
              "hard-linked, their rows read NULL")
          c.colName -> c.dataType
        }
        AlterLayoutCommand(chain, AlterLayoutCommand.Add(adds)): LogicalPlan
      }.getOrElse(a)
  }
}

object AlterLayoutCommand {
  sealed trait Action
  final case class Rename(from: String, to: String) extends Action
  final case class Drop(cols: Seq[String], ifExists: Boolean) extends Action
  final case class Add(cols: Seq[(String, DataType)]) extends Action
}

/** The runnable command [[AlterLayoutRule]] lowers ALTER TABLE onto —
  * the chain was resolved once, by the rule that claimed the name.
  */
case class AlterLayoutCommand(chain: Chain, action: AlterLayoutCommand.Action)
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    action match {
      case AlterLayoutCommand.Rename(from, to) =>
        MergeOps.renameColumn(spark, chain, from, to)
      case AlterLayoutCommand.Drop(cols, ifExists) =>
        val served = chain.served(spark).getOrElse(throw new IllegalStateException(
          s"ALTER TABLE ${chain.catalogName}: the layout table is not served"))
        cols.foreach { c =>
          if (!ifExists || served.columns.contains(c))
            MergeOps.dropColumn(spark, chain, c)
        }
      case AlterLayoutCommand.Add(cols) =>
        MergeOps.addColumns(spark, chain, cols)
    }
    Seq.empty
  }
}
