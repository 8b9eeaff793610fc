package graft.plans

import graft.sources.Chain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule

/** Serve the COMPOSED view through the catalog NAME (SURVEY §2.H): a
  * layout table — `graft_cl_` flat or `graft_plt_` partitioned — whose
  * served generation carries deletion-vector sidecars or a column
  * mapping must never be read raw — a plain `SELECT * FROM graft_cl_…`
  * over a MOR generation would resurrect deleted rows and lose updates
  * (the base files are hard links by design), and over a mapped one
  * would expose dropped/renamed physical names plus the internal `_zv`
  * column. `Tables.load` / [[graft.sources.Chain.served]] compose
  * explicitly; this rule closes the SQL spelling the MERGE INTO and
  * VERSION AS OF surfaces legitimize, with ONE arm for both chain kinds:
  * the name resolves to its chain ([[graft.sources.Chain.forCatalogName]])
  * and the chain's [[graft.sources.Chain.composedPlan]] substitutes.
  *
  * Placement and shape mirror [[TimeTravelLayoutRule]]: hint-batch
  * (BEFORE the Resolution batch), matching the relation by NAME — early
  * substitution means every reference above resolves against the
  * composed (logical) output naturally, with no exprId rebinding, and
  * queries naming dropped/physical columns fail as ordinary unresolved
  * columns. The substituted base is the catalog read (or the manifest
  * relation) resolved under [[graft.sources.Chain.composing]], on which
  * this rule no-ops, so it can never re-match inside its own
  * replacement. Generations needing no composition keep the stock
  * catalog path (zero overhead, relation cache intact).
  *
  * DML targets substitute too — deliberately: a MERGE / UPDATE / DELETE
  * / INSERT against a mapped generation must resolve its assignments
  * and conditions against the LOGICAL schema (the physical catalog
  * schema would let `SET old_name = …` resolve and then silently no-op
  * against the logically-named serving frame — the round-13 review
  * hole). The substituted plan is wrapped in a `SubqueryAlias` carrying
  * the catalog name, so the DML lowering rules ([[MergeIntoLayoutRule]],
  * [[DmlLayoutRule]]) can still identify the layout table under the
  * resolved target and route the edit through the generation-chain
  * verbs.
  */
class ComposedServingRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case u: UnresolvedRelation
        if u.multipartIdentifier.size == 1 && !Chain.composing.get() =>
      val name = u.multipartIdentifier.head
      Chain.forCatalogName(session, name).flatMap(_.composedPlan(session))
        .map(p => SubqueryAlias(name, p))
        .getOrElse(u)
  }
}
