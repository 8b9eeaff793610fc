package graft.operators

import graft.functions.TextFunctions.MinHashParams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta-style incremental MinHash dedup — the nightly-ingest shape: a
  * persistent parquet SIGNATURE STORE holds one banded-signature row per
  * already-seen document; each arriving batch
  *
  *   1. computes its own signatures ([[Dedup.signatureFrame]] — per-doc,
  *      corpus-independent, so incremental ≡ batch exactly),
  *   2. finds near-dup pairs against the store (band-bucket equality join,
  *      new-side driven: volume is new×store co-bucketed rows, NEVER
  *      store×store) and within itself (the d02 self-join on the batch
  *      only),
  *   3. appends its signatures to the store.
  *
  * At 100 TB the store is written bucketed by band key (or kept in a table
  * format with data skipping) so step 2 shuffles only the new batch; this
  * local form appends plain parquet and relies on the band join's hash
  * shuffle. Replayed doc_ids (at-least-once ingest) are dropped against
  * the store before comparing, mirroring StreamingDedup's replay guard.
  */
object IncrementalDedup {

  private val NumPerms = MinHashParams.NumPerms
  private val NumBands = MinHashParams.NumBands

  private def sigArray: org.apache.spark.sql.Column =
    array((0 until NumPerms).map(p => col(s"m$p")): _*)

  private def bandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      posexplode(array((0 until NumBands).map(b => col(s"b$b")): _*)))
      .toDF("doc_id", "band", "bkey")

  /** Estimated-jaccard filter over candidate (i, j) pairs, identical to
    * d02's: fraction of agreeing minhash components ≥ 0.5.
    */
  private def estimate(cand: DataFrame, sigs: DataFrame): DataFrame = {
    val si = sigs.select(col("doc_id").as("i"), sigArray.as("sig_i"))
    val sj = sigs.select(col("doc_id").as("j"), sigArray.as("sig_j"))
    cand.join(si, "i").join(sj, "j")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_i"), col("sig_j"), (a, b) => a === b),
          x => x)).cast(DoubleType) / NumPerms)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("i"), col("j"), col("est_jaccard"))
  }

  /** Process one arriving batch: emit the new near-dup pairs (new×store +
    * new×new, d02 semantics with i < j over doc_id) and append the batch's
    * signatures to the store. Returns the pairs frame (already computed —
    * caller materializes it before the store append is visible to the
    * next batch).
    */
  def processBatch(newDocs: DataFrame, storeDir: String): DataFrame = {
    val spark = newDocs.sparkSession
    val sigNew = Dedup.signatureFrame(newDocs).cache()
    val store: Option[DataFrame] =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(storeDir)))
        Some(spark.read.parquet(storeDir))
      else None

    // replay guard: a doc_id already in the store is a redelivery, not a
    // new document — drop it before comparing or it pairs with itself.
    // Cached + materialized NOW: the append below writes into the same
    // directory this plan reads, so it must not re-execute lazily there.
    val fresh = (store match {
      case Some(st) => sigNew.join(st.select(col("doc_id")), Seq("doc_id"), "left_anti")
      case None => sigNew
    }).cache()
    fresh.count()

    val bandsNew = bandRows(fresh)
    val newVsOld = store.map { st =>
      bandsNew.as("x").join(bandRows(st).as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("i"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("j"))
    }
    val newVsNew = bandsNew.as("x").join(bandsNew.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
    val cand = newVsOld.map(_.union(newVsNew)).getOrElse(newVsNew).distinct()

    val allSigs = store.map(_.unionByName(fresh)).getOrElse(fresh)
    val pairs = estimate(cand, allSigs).orderBy(col("i"), col("j"))
    // Materialize pairs and CUT their lineage from the store path before
    // appending: Spark's CacheManager re-executes cached plans that scan a
    // path being written (recacheByPath), so a merely-cached result would
    // recompute against the grown store and anti-join itself to empty.
    // localCheckpoint is eager and block-manager-backed; a cluster
    // deployment writes pairs to its own sink path, same effect.
    val out = pairs.localCheckpoint()
    fresh.write.mode("append").parquet(storeDir)
    fresh.unpersist()
    sigNew.unpersist()
    out
  }

  /** INCREMENTAL duplicate-component maintenance: fold a batch of new
    * near-dup pairs (this module's [[processBatch]] output, or any
    * (i, j) edge frame) into an existing (node, label) labeling WITHOUT
    * re-deriving the corpus graph — the missing half of
    * [[SignatureStore.append]]'s contract, whose doc correctly
    * says labels are a global fixpoint that appends alone can't update.
    *
    * Exactness: an existing labeling IS its components' star edge set
    * (node→label connects exactly what was connected), so components of
    * (star edges ∪ new pairs) = components of (old graph ∪ new pairs) —
    * the merged labeling equals a full rebuild bit-for-bit, including
    * when a new pair BRIDGES two existing components or introduces
    * brand-new nodes (spec-pinned against the rebuilt labeling on
    * generated multigraphs and on the real LSH pair stream).
    *
    * Scale shape — the reason this beats re-running convergence over
    * the corpus: only components actually TOUCHED by a new pair enter
    * the contraction ([[Dedup.components]]). Touched labels are bounded
    * by 2·|newPairs| (a broadcast), the contraction runs over |touched
    * members| + |newPairs| edges, and every untouched row streams through
    * unchanged — nightly merge work is proportional to the delta's
    * blast radius, never to the corpus.
    */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    // processBatch emits (i, j, est_jaccard); accept any frame whose first
    // two columns are the edge endpoints rather than requiring exact arity.
    val pairs = newPairs.select(
      col(newPairs.columns(0)).as("i"), col(newPairs.columns(1)).as("j"))
    val touchedNodes = pairs.select(col("i").as("node"))
      .union(pairs.select(col("j").as("node"))).distinct()
    val touchedLabels = labels.join(touchedNodes, "node")
      .select(col("label")).distinct()
    val untouched = labels.join(broadcast(touchedLabels), Seq("label"), "left_anti")
      .select(col("node"), col("label"))
    val affected = labels.join(broadcast(touchedLabels), Seq("label"))
      .select(col("node"), col("label"))
    // star edges of the affected components ∪ the new pairs; new nodes
    // (absent from `labels`) enter through their pair edges
    val edges = affected.select(col("node").as("i"), col("label").as("j"))
      .union(pairs.select(col("i"), col("j")))
    untouched.unionByName(Dedup.components(edges))
  }
}
