package graft.plans

import graft.sources.CorpusLayout
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.{Column, GraftPlanBridge}

/** SQL surface for the CDC MERGE (SURVEY §2.I): `MERGE INTO <layout
  * table> USING <source> ON t.key = s.key WHEN …` lowers onto
  * [[graft.operators.MergeOps.applyToLayout]], so a SQL-first user gets
  * the copy-on-write generation apply without touching the Scala API —
  * the same extension recipe as [[AsOfHintRule]], but at the command
  * tier: Spark's stock parser already yields a [[MergeIntoTable]]
  * logical plan, its analyzer resolves the relations, condition and
  * action assignments generically, and only THEN rejects v1 tables
  * (UNSUPPORTED_FEATURE.TABLE_OPERATION). This resolution rule claims
  * the plan first — when (and only when) the target is a graft corpus
  * layout table (`graft_cl_…`) — and rewrites it to a runnable command;
  * any other target keeps Spark's stock behavior, including the stock
  * error.
  *
  * Supported shape (anything else fails loudly with the expected form —
  * silently keeping a clause the lowering ignores would corrupt data):
  *
  * {{{
  *   MERGE INTO graft_cl_documents_<k> t USING changes s
  *   ON t.doc_id = s.doc_id                 -- equality on the layout key
  *   WHEN MATCHED [AND <cond>] THEN DELETE
  *   WHEN MATCHED [AND <cond>] THEN UPDATE SET col = <expr over s/t>, …
  *   WHEN NOT MATCHED [AND <cond over s>] THEN INSERT (cols…) VALUES (…)
  *   WHEN NOT MATCHED BY SOURCE [AND <cond over t>] THEN DELETE
  * }}}
  *
  * Clause order is SQL's: the FIRST matching WHEN clause wins per row.
  * Semantic deltas from a full row-level-operation engine, documented
  * rather than approximated: (1) a NOT MATCHED INSERT whose key already
  * exists in the target behaves as an upsert (the changeset law) rather
  * than erroring; (2) two surviving source rows for one key reject
  * loudly (applyToLayout's one-row-per-key gate — SQL's multiple-match
  * error, enforced at the changeset, so a source row whose every clause
  * condition is false cannot trigger it); (3) schema evolution is the
  * API's `evolveSchema` — SQL assignments to unknown columns fail in
  * resolution, which is the loud path we want.
  *
  * Scale: the lowering builds the changeset with expandPartial's
  * discipline — ONE left-semi of the corpus against the source keys
  * (broadcast-sized build, bucket-co-located over the layout, so the
  * corpus never shuffles) fetches matched rows' old values; every other
  * stage is source-sized. `WHEN NOT MATCHED BY SOURCE` adds one key
  * anti-join over the corpus (key column only — wide columns never
  * ride). The apply itself is [[graft.operators.MergeOps.applyToLayout]]'s
  * bucket-scoped copy-on-write: cost tracks the changeset, not the
  * corpus.
  */
object MergeIntoLayoutRule extends Rule[LogicalPlan] {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(
      s"MERGE INTO <graft layout table>: $msg. Supported: ON t.<key> = " +
        "s.<expr>; WHEN MATCHED [AND c] THEN UPDATE SET col = expr | " +
        "DELETE; WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES " +
        "(exprs over source); WHEN NOT MATCHED BY SOURCE [AND c over " +
        "target] THEN DELETE")

  /** The layout table under a MERGE target, if any — the served view
    * [[ComposedServingRule]] tags with its name (see
    * [[LayoutSql.layoutTarget]]).
    */
  private def layoutTarget(p: LogicalPlan): Option[String] =
    LayoutSql.layoutTarget(p)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case m: MergeIntoTable if m.resolved && layoutTarget(m.targetTable).isDefined =>
      rewrite(m, layoutTarget(m.targetTable).get)
  }

  /** Rewrite target-side attribute references to name-space lookups
    * (`__old_<col>`) the command resolves against its joined frame at
    * run time — the run-time target read is a FRESH scan whose exprIds
    * cannot match the analyzed plan's, so names are the stable currency.
    * Source-side references keep their exprIds: the command evaluates
    * them against a frame built from this very source subplan.
    */
  private def nameSpaced(e: Expression, tgtOut: AttributeSet): Expression =
    e.transform {
      case a: AttributeReference if tgtOut.contains(a) =>
        UnresolvedAttribute(Seq("__old_" + a.name))
    }

  private def rewrite(m: MergeIntoTable, tableName: String): LogicalPlan = {
    val keyCol = LayoutSql.keyOf(tableName, msg => fail(msg))
    val tgtOut = m.targetTable.outputSet
    val srcOut = m.sourceTable.outputSet
    m.sourceTable.output.find(_.name.startsWith("__")).foreach(a =>
      fail(s"source column '${a.name}' collides with the lowering's " +
        "reserved __ prefix — alias it"))

    // ON: exactly one equality, layout key on the target side, a pure
    // source expression on the other. More general conditions would make
    // "matched" row-dependent beyond the key and the changeset law
    // (one row per key) unstatable.
    val sKey = m.mergeCondition match {
      case EqualTo(a: AttributeReference, b)
          if tgtOut.contains(a) && b.references.subsetOf(srcOut) =>
        if (a.name != keyCol) fail(
          s"ON must equate the layout key '$keyCol', got '${a.name}'")
        b
      case EqualTo(b, a: AttributeReference)
          if tgtOut.contains(a) && b.references.subsetOf(srcOut) =>
        if (a.name != keyCol) fail(
          s"ON must equate the layout key '$keyCol', got '${a.name}'")
        b
      case other => fail(s"ON must be t.$keyCol = <source expr>, got $other")
    }

    def clauseCond(c: Option[Expression], allow: AttributeSet,
                   what: String): Option[Expression] = c.map { e =>
      if (!e.references.subsetOf(allow))
        fail(s"$what condition references columns outside its scope: $e")
      nameSpaced(e, tgtOut)
    }
    def assigns(as: Seq[Assignment], allow: AttributeSet,
                what: String): Seq[(String, Expression)] = as.map {
      case Assignment(k: AttributeReference, v) if tgtOut.contains(k) =>
        if (!v.references.subsetOf(allow))
          fail(s"$what assignment to '${k.name}' references columns " +
            s"outside its scope: $v")
        k.name -> nameSpaced(v, tgtOut)
      case Assignment(k, _) => fail(s"$what assigns to a non-target column: $k")
    }

    val matched = m.matchedActions.map {
      case DeleteAction(c) =>
        MergeIntoLayoutCommand.Clause(clauseCond(c, tgtOut ++ srcOut,
          "WHEN MATCHED DELETE"), Seq.empty, delete = true)
      case UpdateAction(c, as, _) =>
        val a = assigns(as, tgtOut ++ srcOut, "WHEN MATCHED UPDATE")
        a.find(_._1 == keyCol).foreach(_ => fail(
          s"UPDATE SET must not reassign the layout key '$keyCol' (row " +
            "identity — delete + insert instead)"))
        MergeIntoLayoutCommand.Clause(clauseCond(c, tgtOut ++ srcOut,
          "WHEN MATCHED UPDATE"), a, delete = false)
      case other => fail(s"unsupported WHEN MATCHED action: $other")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertAction(c, as) =>
        val a = assigns(as, srcOut, "WHEN NOT MATCHED INSERT")
        if (!a.exists(_._1 == keyCol)) fail(
          s"INSERT must assign the layout key '$keyCol'")
        MergeIntoLayoutCommand.Clause(clauseCond(c, srcOut,
          "WHEN NOT MATCHED INSERT"), a, delete = false)
      case other => fail(s"unsupported WHEN NOT MATCHED action: $other")
    }
    val bySource = m.notMatchedBySourceActions.map {
      case DeleteAction(c) => clauseCond(c, tgtOut,
        "WHEN NOT MATCHED BY SOURCE DELETE")
      case other => fail("only DELETE is supported for WHEN NOT MATCHED " +
        s"BY SOURCE (an UPDATE there is a corpus-sized rewrite the " +
        s"changeset form cannot bound), got $other")
    }
    if (bySource.size > 1) fail(
      "at most one WHEN NOT MATCHED BY SOURCE DELETE clause")
    if (m.withSchemaEvolution) fail(
      "WITH SCHEMA EVOLUTION is not supported on the SQL surface — use " +
        "MergeOps.applyToLayout(evolveSchema = true)")

    MergeIntoLayoutCommand(tableName, keyCol, m.sourceTable,
      MergeIntoLayoutCommand.Spec(sKey, matched, notMatched,
        bySource.headOption.map(_.getOrElse(
          org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral))))
  }
}

object MergeIntoLayoutCommand {
  /** One WHEN clause, expressions already name-spaced for the command's
    * joined frame. Held inside an opaque holder (not Expression-typed
    * constructor args) so TreeNode's expression traversal — and with it
    * CheckAnalysis' unresolved-reference sweep — never walks the
    * deliberately-unresolved `__old_*` lookups.
    */
  final case class Clause(cond: Option[Expression],
                          assigns: Seq[(String, Expression)],
                          delete: Boolean)

  /** The full lowered spec (same opacity rationale as [[Clause]]). */
  final case class Spec(sourceKey: Expression,
                        matched: Seq[Clause],
                        notMatched: Seq[Clause],
                        deleteBySource: Option[Expression])
}

/** The runnable command [[MergeIntoLayoutRule]] lowers MERGE INTO onto:
  * builds the full-row changeset (matched rows' absent columns and, on a
  * partitioned chain, old homes carried from ONE corpus semi-join, so
  * the apply reads the corpus no second time; SQL first-clause-wins
  * selection as a chained CASE) inside [[graft.operators.MergeOps.applyToLayoutFrom]]'s
  * lease, from the frame the lease resynced — the same durable
  * copy-on-write path the Scala API and [[graft.streaming.StreamingMerge]]
  * use, so the SQL verb inherits the generation chain, the key-validation
  * gate, manifest carry and store coherence for free.
  */
case class MergeIntoLayoutCommand(
    tableName: String,
    keyCol: String,
    source: LogicalPlan,
    spec: MergeIntoLayoutCommand.Spec) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions._
    import graft.operators.MergeOps
    val chain = graft.sources.Chain.resolve(spark, tableName, "MERGE INTO")
    // the changeset reads the frame the lease just resynced — not a
    // pre-lease snapshot a concurrent writer could have moved past
    // (check-then-act; UPDATE's note)
    MergeOps.applyToLayoutFrom(spark, chain) { tgt =>
      val payload = tgt.columns.filterNot(_ == keyCol).toSeq
      val src = GraftPlanBridge.ofRows(spark, source)
        .withColumn("__k", Bridge.column(spec.sourceKey))
      val srcKeys = src.select(col("__k"))

      // expandPartial's discipline: matched-ness and old values come from
      // ONE corpus×source-keys semi-join (broadcast / bucket-co-located —
      // the corpus side never shuffles), then everything downstream is
      // source-sized.
      // __old_<key> rides along (aliased from the same column as __k):
      // clause conditions and UPDATE values may reference t.<key> too,
      // and the rule name-spaced EVERY target attribute
      val olds = tgt.join(srcKeys, tgt(keyCol) === srcKeys("__k"), "left_semi")
        .select((col(keyCol).as("__k") +: col(keyCol).as(s"__old_$keyCol") +:
          payload.map(c => col(c).as(s"__old_$c"))) :+
          lit(true).as("__matched"): _*)
      val joined = src.join(olds, Seq("__k"), "left")
        .withColumn("__matched", coalesce(col("__matched"), lit(false)))

      def cc(c: Option[Expression]): Column =
        c.map(Bridge.column).getOrElse(lit(true))
      // first-true-clause index; null = no clause fires (row is a no-op)
      def firstIdx(cs: Seq[MergeIntoLayoutCommand.Clause]): Column =
        cs.zipWithIndex.foldRight(lit(null).cast("int")) {
          case ((cl, i), rest) => when(cc(cl.cond), lit(i)).otherwise(rest)
        }
      val mIdx = when(col("__matched"), firstIdx(spec.matched))
      val nIdx = when(!col("__matched"), firstIdx(spec.notMatched))
      val keep = mIdx.isNotNull || nIdx.isNotNull
      def pick(cs: Seq[MergeIntoLayoutCommand.Clause], idx: Column,
               v: MergeIntoLayoutCommand.Clause => Column): Column =
        cs.zipWithIndex.foldRight(lit(null): Column) {
          case ((cl, i), rest) => when(idx === i, v(cl)).otherwise(rest)
        }
      val tomb = coalesce(
        pick(spec.matched, mIdx, cl => lit(cl.delete)), lit(false))
      def valueFor(c: String): Column = {
        val dt = tgt.schema(c).dataType
        val mVal = pick(spec.matched, mIdx, cl =>
          if (cl.delete) lit(null).cast(dt)
          else cl.assigns.collectFirst { case (`c`, e) => Bridge.column(e) }
            .getOrElse(col(s"__old_$c")))
        val nVal = pick(spec.notMatched, nIdx, cl =>
          cl.assigns.collectFirst { case (`c`, e) => Bridge.column(e) }
            .getOrElse(lit(null).cast(dt)))
        when(col("__matched"), mVal).otherwise(nVal).cast(dt).as(c)
      }
      val keyType = tgt.schema(keyCol).dataType
      val keyVal = when(col("__matched"), col("__k")).otherwise(
        pick(spec.notMatched, nIdx, cl =>
          cl.assigns.collectFirst { case (n, e) if n == keyCol =>
            Bridge.column(e) }.get)).cast(keyType).as(keyCol)
      // a partitioned chain's old homes ride along from the same semi-join
      // (NULL for an unmatched key), so the apply looks none up itself
      val oldHome = chain.partitionCol.map(p => col(s"__old_$p").as(MergeOps.OldHomeCol))
      val fromSource = joined.filter(keep)
        .select(((keyVal +: payload.map(valueFor)) ++ oldHome) :+
          tomb.as(MergeOps.TombstoneCol): _*)

      // WHEN NOT MATCHED BY SOURCE DELETE: target keys absent from the
      // source, filtered on target columns — key + referenced columns only
      // ride the anti-join; tombstones carry the key alone.
      spec.deleteBySource match {
        case None => fromSource
        case Some(condE) =>
          val gone = tgt.join(srcKeys, tgt(keyCol) === srcKeys("__k"),
              "left_anti")
            // the key aliases like the payload: the rule name-spaced EVERY
            // target reference in the clause condition, t.doc_id included
            .select(tgt.columns.toSeq.map(c => col(c).as(s"__old_$c")): _*)
            .filter(Bridge.column(condE))
            .select(((col(s"__old_$keyCol").as(keyCol) +: payload.map(c =>
              lit(null).cast(tgt.schema(c).dataType).as(c))) ++ oldHome) :+
              lit(true).as(MergeOps.TombstoneCol): _*)
          fromSource.unionByName(gone)
      }
    }
    Seq.empty
  }
}
