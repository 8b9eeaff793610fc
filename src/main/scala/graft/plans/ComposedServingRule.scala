package graft.plans

import graft.sources.Chain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule

/** Serve a layout table through its catalog NAME (SURVEY §2.H): every
  * reference to a `graft_cl_` flat or `graft_plt_` partitioned name —
  * bare or qualified ([[LayoutSql.layoutName]]) — resolves to its
  * chain's [[graft.sources.Chain.served]] frame, the same read
  * `Tables.load` serves: the pointer's generation, its `_dv` sidecars
  * folded and its column mapping projected. The catalog registration
  * is metadata only (SHOW TABLES, DESCRIBE) and never serves data: a
  * raw read of it would resurrect deleted rows of a merge-on-read tip,
  * expose dropped or renamed physical names, and — since no commit
  * moves it — read a frozen generation. Because every reference
  * resolves the pointer afresh, a session sees another session's commit
  * at its next query with nothing to refresh.
  *
  * Placement and shape mirror [[TimeTravelLayoutRule]]: hint-batch
  * (BEFORE the Resolution batch), matching the relation by NAME — early
  * substitution means every reference above resolves against the
  * served (logical) output naturally, with no exprId rebinding, and
  * queries naming dropped/physical columns fail as ordinary unresolved
  * columns. The substitute is already resolved, so the rule cannot
  * re-match inside it.
  *
  * DML targets substitute too — deliberately: a MERGE / UPDATE / DELETE
  * / INSERT against a mapped generation must resolve its assignments
  * and conditions against the LOGICAL schema (the physical schema
  * would let `SET old_name = …` resolve and then silently no-op
  * against the logically-named serving frame). The substituted plan is
  * wrapped in a `SubqueryAlias` carrying the qualified name, as a
  * catalog relation would be, so qualified column references resolve
  * and the DML lowering rules ([[MergeIntoLayoutRule]],
  * [[DmlLayoutRule]]) identify the layout table under the resolved
  * target and route the edit through the generation-chain verbs.
  */
class ComposedServingRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case u: UnresolvedRelation
        if LayoutSql.layoutName(session, u.multipartIdentifier).isDefined =>
      val name = u.multipartIdentifier.last
      Chain.forCatalogName(session, name).flatMap(_.served(session))
        .map(df => SubqueryAlias(Seq("spark_catalog",
          session.sessionState.catalog.getCurrentDatabase, name),
          df.queryExecution.analyzed))
        .getOrElse(u)
  }
}
