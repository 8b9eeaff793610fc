package graft.plans

import graft.sources.{Chain, CorpusLayout}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.{Column, GraftPlanBridge}

/** Shared name recognition for graft's SQL rules. A layout name —
  * `graft_cl_…` flat or `graft_plt_…` partitioned — is claimed bare,
  * as `<currentDb>.name` and as `spark_catalog.<currentDb>.name`
  * ([[layoutName]], used by [[ComposedServingRule]],
  * [[TimeTravelLayoutRule]] and [[AlterLayoutRule]] alike), so no
  * spelling of the name reaches the catalog registration. A resolved
  * DML target is recognized by the `SubqueryAlias` [[ComposedServingRule]]
  * wraps around the served view, or by the table identity the served
  * relation carries ([[layoutTarget]]).
  */
private[plans] object LayoutSql {

  private def isLayoutName(n: String): Boolean =
    n.startsWith("graft_cl_") || n.startsWith("graft_plt_")

  /** The layout name a multipart relation identifier spells, if any. */
  def layoutName(s: SparkSession, parts: Seq[String]): Option[String] = {
    lazy val db = s.sessionState.catalog.getCurrentDatabase.toLowerCase(java.util.Locale.ROOT)
    val qualifier = parts.init.map(_.toLowerCase(java.util.Locale.ROOT))
    Some(parts.last).filter(n => isLayoutName(n) && (qualifier.isEmpty ||
      qualifier == Seq(db) || qualifier == Seq("spark_catalog", db)))
  }

  def layoutTarget(p: LogicalPlan): Option[String] = p.collectFirst {
    case sa: SubqueryAlias if isLayoutName(sa.alias) => sa.alias
    // an INSERT target arrives with its aliases stripped (Spark's
    // relation resolution unwraps them); the served relation carries
    // the registration as its table identity
    case lr: LogicalRelation
        if lr.catalogTable.exists(ct => isLayoutName(ct.identifier.table)) =>
      lr.catalogTable.get.identifier.table
  }

  /** The key column of a `graft_cl_|graft_plt_<table>_<k>` name. */
  def keyOf(tableName: String, fail: String => Nothing): String = {
    val stripped = tableName.stripPrefix("graft_cl_").stripPrefix("graft_plt_")
    CorpusLayout.keyed.toSeq.sorted.collectFirst {
      case (t, k) if stripped.startsWith(t + "_") => k
    }.getOrElse(fail(s"cannot parse layout table name '$tableName'"))
  }

  /** Rewrite resolved target attribute references to plain name lookups:
    * the command re-reads the target as a FRESH served frame whose
    * exprIds cannot match the analyzed plan's, so names are the stable
    * currency (single-relation scope — every reference is the target's).
    * Subqueries reject loudly: their outer references would need exprId
    * rebinding against the fresh frame, which names cannot express —
    * MERGE INTO … USING (the subquery as a source) is the supported
    * spelling.
    */
  def nameOnly(e: Expression, what: String, fail: String => Nothing): Expression = {
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      fail(s"$what must not contain a subquery — stage the subquery as a " +
        "MERGE INTO source instead")
    e.transform { case a: AttributeReference => UnresolvedAttribute(Seq(a.name)) }
  }

  /** Store-assignment cast for SET / INSERT column coercions, mirroring
    * [[graft.operators.MergeOps.applyToLayout]]'s key-cast guard: plain
    * `cast` silently WRAPS an overflowing narrowing with ANSI off (and
    * throws mid-write with it on), so a `SET n_chars = <too-wide expr>`
    * would persist wrong values without error. `try_cast` nulls on
    * overflow under either setting, and the round-trip comparison also
    * rejects value-CHANGING conversions that don't null (double→long
    * truncation) — any non-value-preserving assignment raises loudly
    * per offending row, before anything durable (the changeset snapshot
    * forces this projection under the lease, ahead of the swing).
    *
    * `raw` must already be resolved (so the SOURCE type is known); the
    * returned column reads `raw(name)` and carries the TARGET type.
    */
  def storeAssign(raw: org.apache.spark.sql.DataFrame, name: String,
                  to: org.apache.spark.sql.types.DataType,
                  verb: String, table: String): Column = {
    import org.apache.spark.sql.functions._
    val from = raw.schema(name).dataType
    if (from == to) col(name)
    // NULL-literal assignments type as NullType; nothing casts TO NullType,
    // so the round-trip probe below would fail analysis on valid DML
    // (`SET c = NULL`). NULL round-trips to any type trivially.
    else if (from == org.apache.spark.sql.types.NullType)
      lit(null).cast(to).as(name)
    else {
      val casted = col(name).try_cast(to)
      when(col(name).isNotNull &&
          (casted.isNull || !(casted.try_cast(from) <=> col(name))),
          raise_error(concat(
            lit(s"$verb $table: value for '$name' "),
            col(name).cast("string"),
            lit(s" does not round-trip ${from.sql} -> ${to.sql} — " +
              "cast explicitly if the loss is intended")))
            .cast(to))
        .otherwise(casted).as(name)
    }
  }
}

/** SQL surface for the row-level DML verbs Spark's v1 path lacks
  * (SURVEY §2.I): `UPDATE`, `DELETE FROM` and `INSERT INTO | OVERWRITE`
  * against a served corpus-layout table lower onto
  * [[graft.operators.MergeOps.applyToLayout]] — the same copy-on-write /
  * merge-on-read generation apply the Scala API, SQL MERGE and the
  * streaming applier use, so every SQL edit inherits the generation
  * chain, the key-validation gate, manifest carry, index-store coherence
  * and the single-writer lease for free. The [[MergeIntoLayoutRule]]
  * recipe: Spark resolves these plans generically and only rejects v1
  * tables at planning (`DataSourceV2Strategy`), so a resolution rule
  * claims the resolved node first; non-layout targets keep Spark's stock
  * rejection. Without the INSERT lowering, Spark's stock v1 path would
  * APPEND RAW PARQUET into the served generation directory — bytes the
  * manifest, bucket markers and generation chain know nothing about.
  *
  * Semantics and scale:
  *  - `UPDATE t SET c = e, … [WHERE p]` — changeset = the served read
  *    filtered by `p` (manifest file-skipping applies) as full rows, the
  *    assigned columns replaced. All RHS evaluate against the OLD row
  *    (SQL's rule). On a partitioned chain each row also carries its old
  *    partition value, so this WHERE scan is the apply's only corpus
  *    read on either chain kind.
  *  - `DELETE FROM t [WHERE p]` — the same scan, every row a tombstone.
  *  - `INSERT INTO` — full-row inserts (unlisted columns = NULL); a key
  *    that already exists rejects LOUDLY with the offenders (layout
  *    tables are keyed; silent upsert would make INSERT destructive —
  *    that verb is spelled MERGE). The existence probe is one keys-only
  *    semi-join, insert-sized build side, the corpus never shuffles.
  *  - `INSERT OVERWRITE` — full replacement: the query's rows as
  *    upserts plus one keys-only anti-join emitting tombstones for
  *    every key the query no longer carries.
  *
  * Cost honesty: an unfiltered UPDATE/DELETE/OVERWRITE is a corpus-sized
  * changeset and degrades to applyToLayout's full-rewrite arm — exactly
  * what the statement asked for; a selective one stays changeset-sized
  * under CoW and delta-sized under `spark.graft.merge.mode = mor`.
  */
object DmlLayoutRule extends Rule[LogicalPlan] {

  private def fail(verb: String)(msg: String): Nothing =
    throw new IllegalArgumentException(s"$verb <graft layout table>: $msg")

  /** The served rows an UPDATE or DELETE edits, as full rows; on a
    * partitioned chain each also carries its pre-image's partition value
    * as [[graft.operators.MergeOps.OldHomeCol]], so the apply needs no
    * old-home lookup of its own.
    */
  private[plans] def whereRows(tgt: org.apache.spark.sql.DataFrame,
                               cond: Option[Expression],
                               chain: Chain): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val rows = cond.map(c => tgt.filter(Bridge.column(c))).getOrElse(tgt)
    chain.partitionCol.foldLeft(rows)((d, p) =>
      d.withColumn(graft.operators.MergeOps.OldHomeCol, col(p)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case u: UpdateTable if u.resolved && LayoutSql.layoutTarget(u.table).isDefined =>
      lowerUpdate(u, LayoutSql.layoutTarget(u.table).get)
    case d: DeleteFromTable if d.resolved && LayoutSql.layoutTarget(d.table).isDefined =>
      lowerDelete(d, LayoutSql.layoutTarget(d.table).get)
    case i: InsertIntoStatement
        if i.table.resolved && i.query.resolved &&
          LayoutSql.layoutTarget(i.table).isDefined =>
      lowerInsert(i, LayoutSql.layoutTarget(i.table).get)
  }

  private def lowerUpdate(u: UpdateTable, tableName: String): LogicalPlan = {
    val f = fail("UPDATE") _
    val keyCol = LayoutSql.keyOf(tableName, f)
    val assigns = u.assignments.flatMap {
      case Assignment(k: AttributeReference, v: AttributeReference)
          if k.exprId == v.exprId => None // identity (aligned) assignment
      case Assignment(k: AttributeReference, v) =>
        Some(k.name -> LayoutSql.nameOnly(v, s"SET ${k.name}", f))
      case Assignment(k, _) => f(s"SET must assign a target column, got $k")
    }
    if (assigns.isEmpty) f("no effective SET assignment")
    assigns.groupBy(_._1).collect { case (n, as) if as.size > 1 => n }
      .headOption.foreach(n => f(s"column '$n' assigned more than once"))
    if (assigns.exists(_._1 == keyCol)) f(
      s"SET must not reassign the layout key '$keyCol' (row identity — " +
        "DELETE + INSERT instead)")
    UpdateLayoutCommand(tableName, keyCol,
      UpdateLayoutCommand.Spec(assigns,
        u.condition.map(LayoutSql.nameOnly(_, "WHERE", f))))
  }

  private def lowerDelete(d: DeleteFromTable, tableName: String): LogicalPlan = {
    val f = fail("DELETE FROM") _
    val keyCol = LayoutSql.keyOf(tableName, f)
    DeleteLayoutCommand(tableName, keyCol,
      DeleteLayoutCommand.Spec(LayoutSql.nameOnly(d.condition, "WHERE", f)))
  }

  private def lowerInsert(i: InsertIntoStatement, tableName: String): LogicalPlan = {
    val verb = if (i.overwrite) "INSERT OVERWRITE" else "INSERT INTO"
    val f = fail(verb) _
    val keyCol = LayoutSql.keyOf(tableName, f)
    // static PARTITION (pcol = 'v') names the inserted rows' partition
    // on a partitioned layout (the command checks it names the chain's
    // partition column; flat chains have none)
    val staticPart: Option[(String, String)] =
      if (i.partitionSpec.isEmpty) None
      else i.partitionSpec.toSeq match {
        case Seq((c, Some(v))) => Some(c -> v)
        case _ => f("PARTITION must statically pin exactly the one " +
          "partition column: PARTITION (<pcol> = '<value>') — dynamic " +
          "partition values come from the rows themselves (omit PARTITION)")
      }
    if (i.ifPartitionNotExists) f("IF NOT EXISTS is not supported")
    val tgtCols0 = i.table.output.map(_.name)
    // a statically-pinned partition column is not a query-supplied
    // column: positional inserts expect the remaining columns, and
    // naming it in a column list rejects (its value is the PARTITION's)
    val tgtCols = staticPart match {
      case Some((c, _)) =>
        if (!tgtCols0.contains(c)) f(s"unknown partition column '$c'")
        tgtCols0.filterNot(_ == c)
      case None => tgtCols0
    }
    val qOut = i.query.output
    // (target column, query output position); unmapped target columns
    // insert as NULL
    val mapping: Seq[(String, Int)] =
      if (i.byName) {
        val bad = qOut.map(_.name).filterNot(n => tgtCols.contains(n))
        if (bad.nonEmpty) f(
          s"BY NAME columns not in the target: ${bad.mkString(", ")}")
        qOut.map(_.name).distinct.size == qOut.size ||
          f("BY NAME query emits a duplicate column name")
        qOut.zipWithIndex.map { case (a, idx) => a.name -> idx }
      } else if (i.userSpecifiedCols.nonEmpty) {
        if (i.userSpecifiedCols.size != qOut.size) f(
          s"column list names ${i.userSpecifiedCols.size} columns but the " +
            s"query emits ${qOut.size}")
        val bad = i.userSpecifiedCols.filterNot(tgtCols.contains)
        if (bad.nonEmpty) f(s"unknown target columns: ${bad.mkString(", ")}")
        if (i.userSpecifiedCols.distinct.size != i.userSpecifiedCols.size)
          f("duplicate column in the column list")
        i.userSpecifiedCols.zipWithIndex
      } else {
        if (qOut.size != tgtCols.size) f(
          s"positional INSERT needs ${tgtCols.size} columns " +
            s"(${tgtCols.mkString(", ")}), the query emits ${qOut.size}")
        tgtCols.zipWithIndex
      }
    if (!mapping.exists(_._1 == keyCol)) f(
      s"INSERT must supply the layout key '$keyCol'")
    InsertLayoutCommand(tableName, keyCol, i.query, mapping,
      overwrite = i.overwrite, staticPartition = staticPart)
  }
}

object UpdateLayoutCommand {
  /** Opaque expression holder — same rationale as
    * [[MergeIntoLayoutCommand.Clause]]: the name-only lookups are
    * deliberately unresolved, so they must not ride Expression-typed
    * constructor args where CheckAnalysis' traversal walks them.
    */
  final case class Spec(assigns: Seq[(String, Expression)],
                        cond: Option[Expression])
}

/** `UPDATE <layout> SET … [WHERE …]` lowered onto the generation chain. */
case class UpdateLayoutCommand(
    tableName: String, keyCol: String,
    spec: UpdateLayoutCommand.Spec) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions._
    import graft.operators.MergeOps
    val chain = Chain.resolve(spark, tableName, "UPDATE")
    // the WHERE scan and RHS evaluation read the frame the lease just
    // resynced — not a pre-lease snapshot a concurrent writer could
    // have moved past (check-then-act). The scan emits full rows plus
    // the old home, so it is the apply's only corpus read
    MergeOps.applyToLayoutFrom(spark, chain) { tgt =>
      // resolve the RHS first so storeAssign sees the SOURCE types
      val raw = DmlLayoutRule.whereRows(tgt, spec.cond, chain)
        .withColumns(spec.assigns.map { case (n, e) => n -> Bridge.column(e) }.toMap)
      raw.withColumns(spec.assigns.map { case (n, _) => n ->
          LayoutSql.storeAssign(raw, n, tgt.schema(n).dataType, "UPDATE", tableName) }.toMap)
        .withColumn(MergeOps.TombstoneCol, lit(false))
    }
    Seq.empty
  }
}

object DeleteLayoutCommand {
  /** Opaque holder — see [[UpdateLayoutCommand.Spec]]. */
  final case class Spec(cond: Expression)
}

/** `DELETE FROM <layout> [WHERE …]` lowered onto the generation chain. */
case class DeleteLayoutCommand(
    tableName: String, keyCol: String,
    spec: DeleteLayoutCommand.Spec) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions._
    import graft.operators.MergeOps
    val chain = Chain.resolve(spark, tableName, "DELETE FROM")
    // WHERE scan under the lease — see UPDATE's note. A tombstone keeps
    // its row, which the change feed records as the deleted image
    MergeOps.applyToLayoutFrom(spark, chain) { tgt =>
      DmlLayoutRule.whereRows(tgt, Some(spec.cond), chain)
        .withColumn(MergeOps.TombstoneCol, lit(true))
    }
    Seq.empty
  }
}

/** `INSERT INTO | OVERWRITE <layout>` lowered onto the generation chain.
  * INTO rejects existing keys loudly (upsert is spelled MERGE);
  * OVERWRITE tombstones every key the query no longer carries.
  */
case class InsertLayoutCommand(
    tableName: String, keyCol: String,
    source: LogicalPlan, mapping: Seq[(String, Int)],
    overwrite: Boolean,
    staticPartition: Option[(String, String)] = None)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions._
    import graft.operators.MergeOps
    val verb = if (overwrite) "INSERT OVERWRITE" else "INSERT INTO"
    val chain = Chain.resolve(spark, tableName, verb)
    // a static PARTITION pin must name the chain's actual partition
    // column (only knowable here — the marker lives with the layout)
    staticPartition.foreach { case (c, _) =>
      val pcol = chain.partitionCol.getOrElse(throw new IllegalArgumentException(
        s"$verb $tableName: PARTITION is not supported — flat layout " +
          "tables are bucketed, not partitioned"))
      require(c == pcol,
        s"$verb $tableName: PARTITION names '$c' but the layout " +
          s"partitions by '$pcol'")
    }
    val src = GraftPlanBridge.ofRows(spark, source)
    val qOut = source.output
    val byName = mapping.toMap
    // full-row inserts: unmapped columns are explicit NULL (OVERWRITE
    // must not carry old values for kept keys — the query's row IS the
    // row). mkChanges/preApply run INSIDE the generation lease against
    // the lease-resynced frame: the existing-key probe and the
    // gone-key anti-join would otherwise check-then-act across the
    // lease boundary (a concurrent writer committing the same key in
    // that window turns the loudly-rejecting INSERT into a silent
    // upsert, or survives an OVERWRITE that should have tombstoned it).
    def insertsFor(tgt: org.apache.spark.sql.DataFrame) = {
      // resolve the query's columns first so storeAssign sees SOURCE
      // types; unmapped columns join as typed NULLs afterwards
      val mapped = tgt.columns.toSeq.filter(byName.contains)
      val raw = src.select(mapped.map(c =>
        Bridge.column(qOut(byName(c))).as(c)): _*)
      raw.select(tgt.columns.toSeq.map { c =>
        if (byName.contains(c))
          LayoutSql.storeAssign(raw, c, tgt.schema(c).dataType, verb, tableName)
        else staticPartition match {
          case Some((`c`, v)) => lit(v).cast(tgt.schema(c).dataType).as(c)
          case _ => lit(null).cast(tgt.schema(c).dataType).as(c)
        }
      } :+ lit(false).as(MergeOps.TombstoneCol): _*)
    }
    if (overwrite)
      MergeOps.applyToLayoutFrom(spark, chain) { tgt =>
        // snapshot: the plan reads `inserts` twice (rows + anti-join
        // build) — a non-deterministic query must not diverge between
        // the kept keys and the tombstoned complement — and the anti-join
        // plans at the rows' measured size, not the query's estimate
        val inserts = MergeOps.snapshot(insertsFor(tgt))
        // a static PARTITION pin scopes the replacement: only THAT
        // partition's gone keys tombstone (SQL's partition-overwrite
        // semantics); unpinned OVERWRITE replaces the whole table
        val scope = staticPartition
          .map { case (c, v) => tgt.filter(col(c) === lit(v)) }
          .getOrElse(tgt)
        val gone = scope.select(col(keyCol))
          .join(inserts.select(col(keyCol)), Seq(keyCol), "left_anti")
          .select(col(keyCol) +: tgt.columns.toSeq.filterNot(_ == keyCol).map(c =>
            lit(null).cast(tgt.schema(c).dataType).as(c)) :+
            lit(true).as(MergeOps.TombstoneCol): _*)
        inserts.unionByName(gone)
      }
    else
      // keys-only existence probe: insert-sized build side, the corpus
      // never shuffles; sample offenders ride back for the message. It
      // runs as a post-snapshot preApply: the keys it approves are
      // bit-for-bit the keys applied (a non-deterministic query cannot
      // pass the probe yet insert different keys), and no concurrent
      // writer can commit between probe and apply (both hold the lease).
      MergeOps.applyToLayoutFrom(spark, chain,
          preApply = (tgt, snap) => {
            val dup = tgt.select(col(keyCol))
              .join(snap.select(col(keyCol)), Seq(keyCol), "left_semi")
              .limit(5).collect()
            require(dup.isEmpty,
              s"$verb $tableName: key(s) already present — layout tables are " +
                s"keyed on '$keyCol' and INSERT never overwrites; upsert is " +
                s"spelled MERGE INTO: ${dup.map(_.get(0)).mkString(", ")}")
          })(insertsFor)
    Seq.empty
  }
}
