package graft.plans

import graft.operators.MergeOps
import graft.sources.{Chain, CorpusLayout}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** SQL surface for generation time travel (SURVEY §2.I): `SELECT …
  * FROM <layout table> VERSION AS OF n` resolves to
  * [[graft.operators.MergeOps.readGeneration]]'s frame — the SAME
  * composed view the generation served (dv sidecar + column mapping,
  * manifest-pruned scan), so a SQL-first user audits or reproduces any
  * retained generation without the Scala API. Spark's stock parser
  * already yields `RelationTimeTravel` and its analyzer rejects v1
  * tables; this rule (the [[MergeIntoLayoutRule]] recipe for a
  * relation, not a command) claims the node when the relation is a
  * `graft_cl_` or `graft_plt_` layout table — one `readGeneration` for
  * both chain kinds — leaving every other target on Spark's stock
  * behavior.
  *
  * `TIMESTAMP AS OF <ts>` resolves through the generation ledger's
  * commit times ([[graft.sources.CorpusLayout.commitTsOf]] — the
  * `_COMMIT_TS` marker every epoch bump stamps once): the newest
  * retained generation committed at-or-before `ts`; a moment before
  * the first retained commit fails loudly with the valid range
  * (Delta's semantics — DESCRIBE HISTORY's `committed_at` column
  * serves the ledger). Cross-table moment pinning stays
  * [[graft.operators.MergeOps.snapshot]]'s job. A vacuumed or unknown
  * generation fails with readGeneration's have-list. The rewrite embeds the
  * resolved generation frame's ANALYZED plan, so everything above
  * (filters, projections) re-resolves against it and pushdown reaches
  * the manifest index exactly as on the live table.
  */
class TimeTravelLayoutRule(session: SparkSession) extends Rule[LogicalPlan] {

  /** Resolve VERSION/TIMESTAMP AS OF operands to a generation number
    * against a chain's retained (gen, path) list. `tags` is the chain's
    * name→generation map (empty-by-construction chains pass
    * `Map.empty` and fail the non-integer case loudly).
    */
  private def resolveGeneration(name: String, ts: Option[Expression],
                                version: Option[String],
                                stamped: Seq[(Int, String)],
                                tags: => Map[String, Int]): Int =
    if (ts.nonEmpty) {
      // TIMESTAMP AS OF: newest retained generation committed
      // at-or-before the asked moment; before-the-first-commit fails
      // loudly (Delta's semantics). Driver-side: one marker read per
      // retained generation.
      val expr = ts.get
      if (!expr.foldable) throw new IllegalArgumentException(
        s"TIMESTAMP AS OF on $name needs a constant timestamp, " +
          s"got ${expr.sql}")
      val micros = org.apache.spark.sql.catalyst.expressions.Cast(
        expr, org.apache.spark.sql.types.TimestampType,
        Some(session.sessionState.conf.sessionLocalTimeZone)).eval()
      if (micros == null) throw new IllegalArgumentException(
        s"TIMESTAMP AS OF on $name: ${expr.sql} does not parse as " +
          "a timestamp")
      val askedMs = micros.asInstanceOf[Long] / 1000L
      val commits = stamped.map { case (g, p) =>
        (g, CorpusLayout.commitTsOf(p)) }
      val eligible = commits.filter(_._2 <= askedMs)
      if (eligible.isEmpty) throw new IllegalArgumentException(
        s"TIMESTAMP AS OF on $name: ${expr.sql} is before the " +
          s"first retained commit (${new java.sql.Timestamp(
            commits.map(_._2).min)}) — DESCRIBE HISTORY $name " +
          "lists the retained range")
      eligible.maxBy(_._1)._1
    } else {
      val gen = version.getOrElse(throw new IllegalArgumentException(
        s"time travel on $name needs VERSION AS OF <generation | " +
          "'tag'> or TIMESTAMP AS OF <ts>"))
      // an integer reads that generation; anything else resolves as
      // a TAG (MergeOps.tagGeneration — Iceberg's `VERSION AS OF
      // 'ref'` spelling), failing with the available names
      try gen.toInt catch {
        case _: NumberFormatException =>
          val t = tags
          t.getOrElse(gen, throw new IllegalArgumentException(
            s"VERSION AS OF on $name: '$gen' is neither an integer " +
              s"generation nor a retained tag — tags: " +
              s"${t.keys.toSeq.sorted.mkString(", ")}"))
      }
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, version)
        if LayoutSql.layoutName(session, u.multipartIdentifier).isDefined =>
      val name = u.multipartIdentifier.last
      Chain.forCatalogName(session, name) match {
        case None => tt // no marker maps it — keep Spark's stock path
        case Some(chain) =>
          val n = resolveGeneration(name, ts, version,
            MergeOps.generations(session, chain), MergeOps.tags(session, chain))
          MergeOps.readGeneration(session, chain, n).queryExecution.analyzed
      }
  }
}
