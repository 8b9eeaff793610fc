package graft

import graft.functions.{CdcBoundsExpr, CosineSim, DotProduct, HeavyHittersAgg, QuantileSketchAgg, ShingleExpr, SignBitsExpr, TopKAgg}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions wiring: the engine's custom Catalyst expressions
  * exposed as SQL functions, so `spark.sql` users get them too:
  *
  *   SELECT cosine_sim(a, b)          -- codegen'd cosine over array<double>
  *   SELECT shingles(tokens, 3)       -- codegen'd k-token shingles
  *
  * Registered via injectFunction (not a runtime UDF): the planner sees the
  * real expression nodes, so codegen and null-semantics match the Column
  * DSL exactly. Activated by GraftSession.builder().withExtensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    // Opt-in optimizer rule: keyless BETWEEN joins → binned equi-join
    // (see BinnedRangeJoinRule; off unless spark.graft.binjoin.width > 0).
    e.injectOptimizerRule(_ => graft.plans.BinnedRangeJoinRule)

    // Whole-operator tier: AsOfJoinPlan → AsOfJoinExec (sorted-merge
    // as-of join; see graft.plans.AsOfJoin).
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)

    // SQL surface for the same operator: /*+ ASOF(lt, rt[, dir[, tol]]) */
    // over a plain equi-join rewrites to AsOfJoinPlan during analysis
    // (see AsOfHintRule; e38 gates it against DuckDB's native ASOF JOIN).
    e.injectResolutionRule(_ => graft.plans.AsOfHintRule)

    // SQL surface for the CDC MERGE: MERGE INTO <graft_cl_… layout
    // table> lowers onto MergeOps.applyToLayout via a runnable command
    // (see MergeIntoLayoutRule; p29 gates it against a DuckDB-composed
    // oracle). Non-layout targets keep Spark's stock v1 rejection.
    e.injectResolutionRule(_ => graft.plans.MergeIntoLayoutRule)

    // SQL surface for the remaining row-level DML verbs: UPDATE /
    // DELETE FROM / INSERT INTO|OVERWRITE against a graft_cl_ layout
    // table lower onto the same applyToLayout generation apply (see
    // DmlLayoutRule; p32/p33/p34 gate them against DuckDB-composed
    // oracles). Non-layout targets keep Spark's stock v1 rejection.
    e.injectResolutionRule(_ => graft.plans.DmlLayoutRule)

    // SQL surface for schema evolution: ALTER TABLE <graft_cl_…> ADD
    // COLUMNS / RENAME COLUMN / DROP COLUMN lower onto the metadata-only
    // mapping swings (see AlterLayoutRule; p35 gates the composition).
    // Hint-batch placement: ResolveSessionCatalog rejects v1 ALTER …
    // COLUMN inside the Resolution batch itself, before injected
    // resolution rules run.
    e.injectHintResolutionRule(s => new graft.plans.AlterLayoutRule(s))

    // SQL surface for the chain-maintenance verbs Spark's grammar has
    // no spelling for: DESCRIBE HISTORY / VACUUM [RETAIN n GENERATIONS]
    // / OPTIMIZE over graft_cl_ tables — the Delta-style delegating
    // parser (see GraftSqlParser); every other statement delegates to
    // the stock parser verbatim.
    e.injectParser((s, delegate) => new graft.plans.GraftSqlParser(s, delegate))

    // SQL surface for generation time travel: SELECT … FROM
    // <graft_cl_… layout table> VERSION AS OF n resolves to
    // MergeOps.readGeneration's composed frame (see TimeTravelLayoutRule;
    // p31 gates it against a DuckDB-composed oracle). HINT-resolution
    // placement, not extendedResolutionRules: the stock
    // RelationResolution throws UNSUPPORTED_FEATURE.TIME_TRAVEL for v1
    // tables in the SAME fixpoint pass, BEFORE extended rules run — the
    // hint batch precedes Resolution entirely, and this rewrite needs
    // nothing resolved (it matches the relation by NAME).
    e.injectHintResolutionRule(s => new graft.plans.TimeTravelLayoutRule(s))

    // Composed serving through the catalog NAME: a plain SELECT of a
    // graft_cl_ table whose generation carries a dv sidecar or column
    // mapping substitutes the composed view during analysis — raw base
    // files must never serve a MOR/mapped generation (see
    // ComposedServingRule; registered AFTER the time-travel rule so
    // VERSION AS OF claims its relations first).
    e.injectHintResolutionRule(s => new graft.plans.ComposedServingRule(s))

    // Change-data-feed read surface: SELECT * FROM
    // graft_changes('<graft_cl_ table>', fromGen[, toGen]) substitutes
    // MergeOps.changeFeed's plan — a TABLE function, so the feed stays a
    // distributed scan of the _cdf sidecars (a command would collect to
    // the driver). Args must be literals (it is a catalog-metadata
    // lookup, not a per-row function).
    e.injectTableFunction((
      FunctionIdentifier("graft_changes"),
      info("graft_changes",
        "graft_changes(table, fromGen[, toGen]) - change data feed of a graft_cl_ layout table across generations (fromGen, toGen]"),
      (exprs: Seq[Expression]) => {
        val s = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(
          throw new IllegalStateException(
            "graft_changes requires an active SparkSession"))
        if (exprs.size < 2 || exprs.size > 3) throw new IllegalArgumentException(
          "graft_changes(table, fromGen[, toGen]) takes 2 or 3 arguments")
        val name = exprs.head match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_changes: table must be a string literal, got $other")
        }
        def gen(e: Expression, what: String): Int = e match {
          case Literal(i: Int, org.apache.spark.sql.types.IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"graft_changes: $what must be an integer literal, got $other")
        }
        val chain = graft.sources.Chain.resolve(s, name, "graft_changes")
        val from = gen(exprs(1), "fromGen")
        val to = exprs.lift(2).map(gen(_, "toGen")).getOrElse(-1)
        graft.operators.MergeOps.changeFeed(s, chain, from, to)
          .queryExecution.analyzed
      }))

    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two array<double> vectors"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))

    e.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - inner product of two array<double> vectors"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))

    e.injectFunction((
      FunctionIdentifier("shingles"),
      info("shingles", "shingles(tokens, k) - space-joined consecutive k-grams of array<string>"),
      (exprs: Seq[Expression]) => exprs(1) match {
        case Literal(k: Int, _) => ShingleExpr(exprs(0), k)
        case other => throw new IllegalArgumentException(
          s"shingles(tokens, k): k must be an integer literal, got $other")
      }))

    e.injectFunction((
      FunctionIdentifier("top_k"),
      info("top_k", "top_k(score, id, k) - top-k (score,id) pairs per group as a partial aggregate"),
      (exprs: Seq[Expression]) => exprs(2) match {
        case Literal(k: Int, _) => TopKAgg(exprs(0), exprs(1), k)
        case other => throw new IllegalArgumentException(
          s"top_k(score, id, k): k must be an integer literal, got $other")
      }))

    e.injectFunction((
      FunctionIdentifier("heavy_hitters"),
      info("heavy_hitters", "heavy_hitters(word, capacity) - Misra-Gries heavy-hitter candidates as array<struct<word,est>>"),
      (exprs: Seq[Expression]) => exprs(1) match {
        case Literal(c: Int, _) => HeavyHittersAgg(exprs(0), c)
        case other => throw new IllegalArgumentException(
          s"heavy_hitters(word, capacity): capacity must be an integer literal, got $other")
      }))

    e.injectFunction((
      FunctionIdentifier("cdc_bounds"),
      info("cdc_bounds", "cdc_bounds(payload, maskBits, maxBytes) - content-defined chunk boundaries as array<struct<off,len>>"),
      (exprs: Seq[Expression]) => (exprs(1), exprs(2)) match {
        case (Literal(m: Int, _), Literal(x: Int, _)) => CdcBoundsExpr(exprs(0), m, x)
        case other => throw new IllegalArgumentException(
          s"cdc_bounds(payload, maskBits, maxBytes): maskBits/maxBytes must be integer literals, got $other")
      }))

    e.injectFunction((
      FunctionIdentifier("quantile_sketch"),
      info("quantile_sketch", "quantile_sketch(v, k) - mergeable quantile summary as struct<items array<struct<v,w>>, n, err>"),
      (exprs: Seq[Expression]) => exprs(1) match {
        case Literal(k: Int, _) => QuantileSketchAgg(exprs(0), k)
        case other => throw new IllegalArgumentException(
          s"quantile_sketch(v, k): k must be an integer literal, got $other")
      }))

    e.injectFunction((
      FunctionIdentifier("sign_bits"),
      info("sign_bits", "sign_bits(v, nBits) - packed 1-bit sign signature of array<double>"),
      (exprs: Seq[Expression]) => exprs(1) match {
        case Literal(n: Int, _) => SignBitsExpr(exprs(0), n)
        case other => throw new IllegalArgumentException(
          s"sign_bits(v, nBits): nBits must be an integer literal, got $other")
      }))
  }
}
