package graft.operators

import graft.Tables
import graft.functions.VectorFunctions._
import graft.sources.VersionedStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized IVF index — the production/serving form of the s04/s06/
  * s08/s17 vector family (SURVEY §2.E), mirroring [[SignatureStore]]'s
  * discipline on the embedding side.
  *
  * Inline, every probe query recomputes centroids (a full corpus agg) and
  * every vector's nearest-centroid assignment (corpus × k scoring) before
  * it can scan a cell. At 100 TB you do that ONCE: write the k×d centroid
  * table and the per-vector cell assignment next to the corpus, with the
  * assignment **partitioned by cell** — then a probe query reads ONLY the
  * nprobe/k slice of the corpus off disk. The cell filter lands in the
  * scan's PartitionFilters (pinned by VectorIndexStoreSpec), which is the
  * physical form of "IVF visits nprobe cells": file-level skipping, not a
  * post-scan filter.
  *
  * The store computes exactly what the inline queries compute because it
  * calls the same kernels: [[Similarity.assignCells]] (nearest centroid),
  * [[Similarity.probedCells]] (a query's nearest cells) and
  * [[Similarity.pqEncode]] (residual PQ codes). Every index generation is
  * born by one staged build ([[materialize]] / [[retrain]]) and edited by
  * [[appendAssignments]] and [[applyChangeset]]; builds and applies commit
  * through [[VersionedStore]] — a complete `$store/vN` behind one atomic
  * CURRENT pointer — the protocol [[SignatureStore]] commits through too.
  *
  * Same opt-in/refresh contract as [[SignatureStore]]: [[ConfKey]] names
  * a base directory; the driver's Verify gate never sets it, so the
  * DuckDB oracle keeps exercising the real inline pipeline; refresh is
  * the caller's responsibility and keys on the corpus path.
  */
object VectorIndexStore {

  /** Session conf holding the store base directory; unset = inline. */
  val ConfKey = "spark.graft.vecindex.dir"

  private def corpusKey(corpusDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(corpusDir.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Store directory for a corpus, if the session opted in. */
  def storeDir(s: SparkSession, corpusDir: String): Option[String] =
    s.conf.getOption(ConfKey).map(b => s"$b/${corpusKey(corpusDir)}")

  private def ready(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))

  // ── Versioned generations ([[VersionedStore]], the protocol the
  // signature store shares) ──
  //
  // A retrain is a NEW INDEX, not an edit: centroids, assignments and the
  // PQ facet are mutually consistent only within one generation, so a
  // rebuild-in-place would let a probe racing the retrain read half of
  // each. Every build and apply therefore stages a complete `$store/vN`
  // and flips the CURRENT pointer in one atomic move. A probe PLAN built
  // against an older vN (Spark resolves parquet paths at DataFrame
  // construction) keeps executing against intact files after the flip;
  // new plans read the new one. A store without a pointer serves nothing.

  /** Directory holding the SERVED generation's facets, `$store/vN`. */
  def servedDir(s: SparkSession, corpusDir: String): Option[String] =
    storeDir(s, corpusDir).flatMap(VersionedStore.served)

  /** One complete facet of generation `vdir`. `batch_id` is append
    * bookkeeping (see [[appendAssignments]]), never a served column.
    */
  private def facetIn(s: SparkSession, vdir: String, facet: String): Option[DataFrame] =
    Some(s"$vdir/$facet").filter(ready).map(s.read.parquet(_).drop("batch_id"))

  /** The served generation and its `facets`, from ONE pointer read: every
    * facet a call reads comes from the same vN even if a retrain flips
    * the pointer mid-call.
    */
  private def servedFacets(s: SparkSession, corpusDir: String,
                           facets: String*): (String, Seq[DataFrame]) = {
    val dir = storeDir(s, corpusDir).getOrElse(
      throw new IllegalStateException(s"$ConfKey is not set on this session"))
    val vdir = VersionedStore.served(dir).getOrElse(
      throw new IllegalStateException(s"no materialized index under $ConfKey"))
    (vdir, facets.map(f => facetIn(s, vdir, f).getOrElse(
      throw new IllegalStateException(s"index generation $vdir has no " +
        s"complete $f facet — its build is incomplete or still running"))))
  }

  /** (vec_id, embedding, cell): `vecs`' nearest cells under `cent`. */
  private def assign(vecs: DataFrame, cent: DataFrame): DataFrame =
    Similarity.assignCells(vecs.select(col("vec_id"), col("embedding")),
      "embedding", cent).drop("cos")

  /** Inline centroid table: per-label element-wise means (s04's form —
    * k×d doubles, always broadcast-able).
    */
  def centroidFrame(s: SparkSession, corpusDir: String): DataFrame =
    Similarity.centroids(
      Tables.load(s, corpusDir, "embeddings"))

  /** Inline cell assignment for EVERY vector — the assignment s06
    * computes on the fly, but corpus-wide and query-independent (an index
    * property, so it can be materialized).
    */
  def assignmentFrame(s: SparkSession, corpusDir: String): DataFrame =
    assign(Tables.load(s, corpusDir, "embeddings"), centroidFrame(s, corpusDir))

  /** Build the store as a NEW generation ([[build]] without a forced PQ
    * facet — it is still rebuilt when the served generation carries one).
    * Requires [[ConfKey]]. Returns the new generation's directory.
    */
  def materialize(s: SparkSession, corpusDir: String): String =
    build(s, corpusDir, withPQ = false)(())

  /** Full atomic retrain: centroids, assignments AND the PQ facet are
    * rebuilt into `$store/vN+1` against the fresh corpus (see [[build]]).
    * [[appendAssignments]] composes: after the flip it routes new vectors
    * against vN+1's centroids into vN+1's assignment directories. Old
    * generations stay on disk (in-flight plans keep their files); reclaim
    * them with [[pruneOldVersions]].
    */
  def retrain(s: SparkSession, corpusDir: String): String =
    retrainStaged(s, corpusDir)(())

  /** [[retrain]] with a test seam: `beforeFlip` runs after every facet of
    * the new generation is written but BEFORE the pointer swings — the
    * window the atomicity claim is about (VectorIndexStoreSpec probes the
    * served index inside it and must see the OLD generation, complete).
    */
  private[graft] def retrainStaged(s: SparkSession, corpusDir: String)
                                  (beforeFlip: => Unit): String =
    build(s, corpusDir, withPQ = true)(beforeFlip)

  /** The one staged build. Centroids, the cell-partitioned assignment and
    * — when `withPQ`, or when the served generation already carries one —
    * the PQ facet land under a fresh `$store/vN` ([[VersionedStore.commit]]);
    * `beforeFlip` runs; then the
    * CURRENT pointer swings, so a reader never sees centroids without
    * their assignments, and an index serving ADC keeps serving ADC (a
    * codes-less generation would make every ADC probe that worked before
    * the call throw after it). The staged PQ codebook trains on the
    * STAGED assignments, so vN+1 is internally consistent by construction.
    */
  private def build(s: SparkSession, corpusDir: String, withPQ: Boolean)
                   (beforeFlip: => Unit): String = {
    val dir = storeDir(s, corpusDir).getOrElse(throw new IllegalStateException(
      s"$ConfKey is not set on this session — nowhere to build the index"))
    val pq = withPQ || servedDir(s, corpusDir).exists(v => ready(s"$v/pq_codes"))
    VersionedStore.commit(dir) { vdir =>
      centroidFrame(s, corpusDir)
        .write.mode("overwrite").parquet(s"$vdir/centroids")
      // batch_id = -1 marks the base build; streamed appends land under
      // their own (cell, batch_id) leaves so replays overwrite in place
      // (see appendAssignments). cell stays the TOP partition level — the
      // probe's pruning unit.
      assign(Tables.load(s, corpusDir, "embeddings"), facetIn(s, vdir, "centroids").get)
        .withColumn("batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("cell", "batch_id")
        .parquet(s"$vdir/assignments")
      if (pq) buildPQInto(s, vdir)
      beforeFlip
    }
  }

  /** Delete generation dirs older than the served one (explicit reclaim —
    * run it once in-flight readers of old generations are known drained).
    */
  def pruneOldVersions(s: SparkSession, corpusDir: String): Unit =
    storeDir(s, corpusDir).foreach(VersionedStore.pruneOld)

  /** Store facets of the SERVED generation, when materialized. */
  def centroidsIfPresent(s: SparkSession, corpusDir: String): Option[DataFrame] =
    servedDir(s, corpusDir).flatMap(facetIn(s, _, "centroids"))

  def assignmentsIfPresent(s: SparkSession, corpusDir: String): Option[DataFrame] =
    servedDir(s, corpusDir).flatMap(facetIn(s, _, "assignments"))

  /** Store-read IVF probe of one corpus vector: top-k by exact cosine
    * among the vectors whose cell is one of its `nprobe` nearest centroid
    * cells, itself excluded — s06's semantics served FROM the store, as
    * (vec_id, cell, cos) in rank order. [[probeBatch]] over the one query.
    */
  def probe(s: SparkSession, corpusDir: String, queryVecId: Long,
            nprobe: Int = 2, topK: Int = 5): DataFrame = {
    import s.implicits._
    val q = Tables.load(s, corpusDir, "embeddings")
      .filter($"vec_id" === queryVecId)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    probeRanked(s, corpusDir, q, nprobe, topK, Some($"vec_id" =!= queryVecId))
      .select($"vec_id", $"cell", $"cos")
  }

  /** Store-read IVF probe for a query WORKLOAD — s08's batch shape served
    * FROM the store. `queries` is a (query_id, qv) frame; each query
    * explodes to its `nprobe` nearest centroid cells (ranked against the
    * k-row centroid parquet, broadcast), candidates come from an EQUALITY
    * join on the cell id, and each query keeps its exact-cosine top-`topK`
    * as (query_id, rn, vec_id, cos).
    *
    * The scale property: the UNION of probed cells (≤ |queries|×nprobe
    * ids, k-bounded metadata) is inlined as literals, so the
    * cell-partitioned assignment scan prunes STATICALLY — selected
    * partitions == |probed cells|, spec-pinned. The corpus side never
    * shuffles: the probe frame broadcasts onto it.
    *
    * `corpusPredicate` optionally restricts the candidate corpus (tenant
    * or recency filters, self-exclusion; the spec uses it to reproduce
    * s08's corpus split exactly).
    */
  def probeBatch(s: SparkSession, corpusDir: String, queries: DataFrame,
                 nprobe: Int = 2, topK: Int = 3,
                 corpusPredicate: Option[Column] = None): DataFrame =
    probeRanked(s, corpusDir, queries, nprobe, topK, corpusPredicate)
      .drop("cell")

  /** [[probeBatch]] with each hit's cell: (query_id, rn, vec_id, cell, cos). */
  private def probeRanked(s: SparkSession, corpusDir: String, queries: DataFrame,
                          nprobe: Int, topK: Int,
                          corpusPredicate: Option[Column]): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (_, Seq(cent, asn)) = servedFacets(s, corpusDir, "centroids", "assignments")
    val (qprobe, cells) = probeSet(queries, cent, nprobe)
    val assign0 = asn.filter($"cell".isin(cells: _*))
    val wRank = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id".asc)
    corpusPredicate.fold(assign0)(assign0.filter)
      .join(broadcast(qprobe), "cell")
      .select($"query_id", $"vec_id", $"cell",
        Similarity.cellScore($"embedding", $"qv").as("cos"))
      .withColumn("rn", row_number().over(wRank)).filter($"rn" <= topK)
      .select($"query_id", $"rn", $"vec_id", $"cell", $"cos")
      .orderBy($"query_id", $"rn")
  }

  /** Per-query probed cells (query_id, qv, cell) plus the distinct
    * probed-cell union, collected driver-side deliberately: ≤ |q|×nprobe
    * cell ids (k-bounded metadata, the same class of driver state as
    * s06's broadcast probe list), and inlining them as literals is what
    * lets the cell-partitioned scans prune STATICALLY, before any join
    * runs. Shared by [[probeBatch]] and [[probeBatchADC]].
    */
  private def probeSet(queries: DataFrame, cent: DataFrame,
                       nprobe: Int): (DataFrame, Seq[Int]) = {
    val qprobe = Similarity.probedCells(queries, cent, nprobe).drop("cell_rank")
    (qprobe, qprobe.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq)
  }

  /** Assign NEW vectors against the FROZEN stored centroids and append
    * them to the cell-partitioned assignment — the serving-time index
    * update (the IVF analog of [[SignatureStore.append]]'s
    * contract): centroids are an index property you retrain offline;
    * between retrains, arriving vectors route to existing cells, each
    * append touching only the cell directories its vectors land in.
    * Because assignment is a pure function of (vector, centroids),
    * append ≡ rebuild for the same centroid generation — spec-pinned.
    *
    * REPLAY-IDEMPOTENT by construction (ParquetSink.writeBatch's recipe):
    * every append carries a `batchId` and lands in its own
    * (cell, batch_id) leaves under dynamic partition overwrite, so a
    * recovered/replayed micro-batch REPLACES its previous attempt instead
    * of double-inserting beside it. The batch id is the idempotency key;
    * no manifest or compaction needed, and cell-level pruning is
    * untouched (cell stays the top partition level).
    *
    * `newVecs`: (vec_id, embedding) rows not yet in the index.
    */
  def appendAssignments(s: SparkSession, corpusDir: String,
                        newVecs: DataFrame, batchId: Long): Unit = {
    // the append scores against the SERVED centroids and lands in the
    // SAME generation's assignment dirs, so it composes with retrain
    // (after a flip, appends route into vN+1)
    val (vdir, Seq(cent)) = servedFacets(s, corpusDir, "centroids")
    assign(newVecs, cent)
      .withColumn("batch_id", lit(batchId))
      // per-WRITE dynamic mode: overwrite touches only the (cell,
      // batch_id) leaves present in this batch, never the whole table —
      // and the session's global overwrite mode is left alone
      .write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy("cell", "batch_id")
      .parquet(s"$vdir/assignments")
  }

  /** Partition-dir children of `facetDir` (e.g. `cell=7`) whose cell is
    * NOT in `touched`, as (cellDirName) — the link set of a CoW apply.
    */
  private def untouchedCellDirs(facetDir: String,
                                touched: Set[Int]): Seq[String] =
    graft.FsUtil.list(java.nio.file.Paths.get(facetDir))
      .map(_.getFileName.toString)
      .filter(_.startsWith("cell="))
      .filter(n => !touched.contains(n.stripPrefix("cell=").toInt))

  /** Carry the vector index through an embeddings CDC MERGE
    * ([[MergeOps.applyToLayout]] calls this automatically for the
    * embeddings table): the corpus CoW recipe at CELL granularity,
    * staged as a complete new generation behind the CURRENT pointer.
    *
    *  - one thin-column scan of the served assignments finds the
    *    changed vectors' old cells (vec_id + the cell partition column —
    *    columnar pruning reads ~16 bytes/row of a facet whose weight is
    *    the embeddings);
    *  - TOUCHED cells (old homes ∪ re-assigned upsert homes, scored
    *    against the FROZEN centroids — this is an index edit, not a
    *    retrain) rewrite minus the changed keys plus the upserts,
    *    compacted to one (cell, batch_id=N+1) leaf each; untouched cell
    *    dirs hard-link forward, batch history intact;
    *  - when the generation serves a PQ facet, the frozen codebook links
    *    forward and only the touched cells' residual codes re-encode
    *    (the full build's [[Similarity.pqEncode]], subset-scoped);
    *    untouched cells' code dirs link;
    *  - the pointer flips once the staged generation is complete, so
    *    probes racing the apply read one consistent index (retrain's
    *    guarantee, inherited).
    *
    * Deletions are exact: a deleted vector's assignment row and PQ code
    * vanish with its cell's rewrite. Like compaction, the apply must not
    * race an in-flight streaming-ingest replay (a replayed batch leaf
    * would land beside rows the apply already compacted) — run it in the
    * same single-writer maintenance window as [[retrain]]. Returns false
    * (no-op) when no materialized index exists for the corpus.
    */
  def applyChangeset(s: SparkSession, corpusDir: String,
                     changes: DataFrame): Boolean = {
    import s.implicits._
    val served = servedDir(s, corpusDir)
      .filter(v => ready(s"$v/centroids") && ready(s"$v/assignments"))
    if (served.isEmpty) return false
    val keys = changes.select($"vec_id").distinct().cache()
    // unpersist on EVERY exit (an exception mid-apply would otherwise
    // leak the cached frame for the session's lifetime); the commit
    // itself tears down a half-staged vN
    try VersionedStore.commit(storeDir(s, corpusDir).get)(
      applyChangesetStaged(s, served.get, _, changes, keys))
    finally keys.unpersist()
    true
  }

  private def applyChangesetStaged(s: SparkSession, served: String, vdir: String,
                                   changes: DataFrame, keys: DataFrame): Unit = {
    import s.implicits._
    val next = graft.FsUtil.numberOf(java.nio.file.Paths.get(vdir).getFileName.toString, "v").get
    def link(facet: String, child: String = ""): Unit =
      VersionedStore.link(java.nio.file.Paths.get(served, facet, child),
        java.nio.file.Paths.get(vdir, facet, child))
    val asn = facetIn(s, served, "assignments").get
    val cent = facetIn(s, served, "centroids").get
    def cellsOf(df: DataFrame): Set[Int] =
      df.select($"cell").distinct().collect().map(_.get(0).toString.toInt).toSet
    val newAsn = assign(changes.filter(!col(MergeOps.TombstoneCol)), cent)
    val touched = cellsOf(asn.join(keys, Seq("vec_id"), "left_semi")) ++ cellsOf(newAsn)
    val inTouched = if (touched.isEmpty) lit(false) else $"cell".isin(touched.toSeq: _*)
    asn.filter(inTouched).join(keys, Seq("vec_id"), "left_anti")
      .unionByName(newAsn)
      .withColumn("batch_id", lit(next))
      .write.mode("overwrite").partitionBy("cell", "batch_id")
      .parquet(s"$vdir/assignments")
    untouchedCellDirs(s"$served/assignments", touched).foreach(link("assignments", _))
    link("centroids")
    for (cb <- facetIn(s, served, "pq_codebook") if ready(s"$served/pq_codes")) {
      link("pq_codebook")
      // re-encode ONLY the touched cells against the frozen codebook;
      // norms come from the staged assignments' own embeddings
      Similarity.pqEncode(facetIn(s, vdir, "assignments").get.filter(inTouched), cent, cb)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$vdir/pq_codes")
      untouchedCellDirs(s"$served/pq_codes", touched).foreach(link("pq_codes", _))
    }
  }

  // ── PQ facet: product-quantized RESIDUAL codes per cell (IVFADC) ──

  /** PQ geometry shared with s12: 64-dim vectors → 8 subspaces × 8 dims;
    * 16 codewords per subspace (4-bit codes).
    */
  val NumSubspaces = 8
  val SubDim = 8
  val NumCodewords = 16
  /** Lloyd refinement rounds for the residual codebook. */
  val CodebookIters = 2

  private def dotSub(a: Column, b: Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def meansOf(asn: DataFrame): DataFrame = {
    import asn.sparkSession.implicits._
    asn.select($"cw_id", $"ss", posexplode($"vs"))
      .groupBy($"cw_id", $"ss", $"pos")
      .agg((sum($"col") / count(lit(1))).as("m"))
      .groupBy($"cw_id", $"ss")
      .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"cw_id".as("c_label"), $"ss", transform($"pm", x => x.getField("m")).as("cw"))
  }

  /** Per-subspace residual codebook trained by k-means (deterministic
    * hash-bucket init + [[CodebookIters]] Lloyd rounds): (c_label, ss,
    * cw array<double>). NumCodewords×NumSubspaces×SubDim doubles —
    * always broadcast-able, an index property independent of queries.
    * Each Lloyd round is a broadcast join + two-phase agg over the
    * subvector frame — the s10_kmeans_refine pattern, never pairwise.
    */
  def codebookFrame(s: SparkSession, corpusDir: String): DataFrame =
    codebookFrameIn(s, servedFacets(s, corpusDir)._1)

  private def codebookFrameIn(s: SparkSession, vdir: String): DataFrame = {
    import s.implicits._
    val sub = Similarity.residualSubvectors(facetIn(s, vdir, "assignments").get,
      facetIn(s, vdir, "centroids").get)
    var cb = meansOf(sub.withColumn("cw_id", pmod(hash($"vec_id"), lit(NumCodewords))))
    (1 to CodebookIters).foreach { _ =>
      cb = meansOf(Similarity.nearestCodewords(sub, cb)
        .withColumnRenamed("c_label", "cw_id"))
    }
    cb
  }

  /** Every vector's residual PQ code word ids plus its exact L2 norm,
    * one row per vector: (vec_id, codes array<int> ordered by subspace,
    * norm). NumSubspaces 4-bit codes + one double instead of 64 doubles
    * — the ~16× memory/IO compression that lets the candidate scan stay
    * in cache at 100 TB; raw vectors are only touched for the exact
    * rerank of the ADC shortlist. The norm turns dot-product ADC into
    * approximate COSINE at probe time (adc/|v|; |q| is a per-query
    * constant) — without it, high-norm vectors crowd out true cosine
    * neighbors.
    */
  def codesFrame(s: SparkSession, corpusDir: String): DataFrame = {
    val (vdir, Seq(cent, asn)) = servedFacets(s, corpusDir, "centroids", "assignments")
    Similarity.pqEncode(asn, cent, codebookFrameIn(s, vdir)).drop("cell")
  }

  /** Write the PQ facet into generation `vdir`: the tiny codebook as
    * plain parquet, the per-vector codes partitioned by the SAME cell key
    * as the assignments — so the ADC candidate scan prunes to the probed
    * cells exactly like the raw-vector path, but reads NumSubspaces ints
    * per row instead of the full vector.
    */
  private def buildPQInto(s: SparkSession, vdir: String): Unit = {
    codebookFrameIn(s, vdir)
      .write.mode("overwrite").parquet(s"$vdir/pq_codebook")
    Similarity.pqEncode(facetIn(s, vdir, "assignments").get,
        facetIn(s, vdir, "centroids").get, facetIn(s, vdir, "pq_codebook").get)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$vdir/pq_codes")
  }

  /** Add the PQ facet to the served generation in place. */
  def materializePQ(s: SparkSession, corpusDir: String): String = {
    val (vdir, _) = servedFacets(s, corpusDir, "centroids", "assignments")
    buildPQInto(s, vdir)
    vdir
  }

  def codebookIfPresent(s: SparkSession, corpusDir: String): Option[DataFrame] =
    servedDir(s, corpusDir).flatMap(facetIn(s, _, "pq_codebook"))

  def codesIfPresent(s: SparkSession, corpusDir: String): Option[DataFrame] =
    servedDir(s, corpusDir).flatMap(facetIn(s, _, "pq_codes"))

  /** ADC workload probe — [[probeBatch]]'s shape with the candidate scan
    * running over PQ CODES instead of raw vectors (the serving path when
    * the raw corpus no longer fits the scan budget):
    *
    *  1. per-query centroid ranking against the broadcast centroid
    *     table → probed cells, inlined as a static partition filter;
    *  2. the query builds its ADC lookup table once — every (subspace,
    *     codeword) dot product, |q|×NumSubspaces×k rows, broadcast;
    *  3. candidates = pruned codes scan ⋈ probed-cell frame, scored by
    *     SUMMING the LUT terms their codes select (DECIMAL-exact, no
    *     vector arithmetic on the corpus side at all);
    *  4. the per-query top-`shortlist` by ADC fetches raw vectors —
    *     shortlist-sized, cell-pruned — for the exact-cosine top-`topK`.
    *
    * With `shortlist` ≥ the probed-cell candidate count the result is
    * IDENTICAL to [[probeBatch]] (exact rerank of everything ADC saw) —
    * spec-pinned; with a tight shortlist it is the classic IVFADC
    * recall/IO trade, probed in the spec against the exact path.
    */
  def probeBatchADC(s: SparkSession, corpusDir: String, queries: DataFrame,
                    nprobe: Int = 2, shortlist: Int = 20, topK: Int = 3,
                    corpusPredicate: Option[Column] = None): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val (_, Seq(cent, asn, codebook, codes0)) = servedFacets(s, corpusDir,
      "centroids", "assignments", "pq_codebook", "pq_codes")
    val (qprobe, cells) = probeSet(queries, cent, nprobe)
    // ADC lookup table: |q| × NumSubspaces × k rows — broadcast metadata
    val lut = queries
      .select($"query_id", asDouble($"qv").as("qdv"))
      .select($"query_id", explode(sequence(lit(0), lit(NumSubspaces - 1))).as("ss"), $"qdv")
      .select($"query_id", $"ss", slice($"qdv", $"ss" * SubDim + 1, lit(SubDim)).as("qs"))
      .join(broadcast(codebook), Seq("ss"))
      .select($"query_id", $"ss", $"c_label".as("code"),
        graft.GQuery.roundz(dotSub($"qs", $"cw"), 4).cast(DecimalType(14, 4)).as("term"))
    val codes1 = codes0.filter($"cell".isin(cells: _*))
    val codes = corpusPredicate.fold(codes1)(codes1.filter)
    // per-(query, probed cell) coarse term: q·centroid — the part of
    // q·v the residual codes don't carry (IVFADC: q·v ≈ q·c + q·r)
    val probeCells = qprobe
      .join(broadcast(cent), $"cell" === $"c_label")
      .select($"query_id", $"cell", dotSub(asDouble($"qv"), $"centroid").as("qc"))
    val adc = codes
      .join(broadcast(probeCells), "cell")
      .select($"query_id", $"vec_id", $"norm", $"qc", posexplode($"codes"))
      .withColumnRenamed("pos", "ss").withColumnRenamed("col", "code")
      .join(broadcast(lut), Seq("query_id", "ss", "code"))
      .groupBy($"query_id", $"vec_id", $"norm", $"qc")
      // approximate cosine: PQ-approximated v·q over the EXACT stored
      // |v| (|q| is a per-query constant — rank-invariant)
      .agg((($"qc" + sum($"term").cast(DoubleType)) / $"norm").as("adc"))
    val wShort = Window.partitionBy($"query_id").orderBy($"adc".desc, $"vec_id".asc)
    val short = adc
      .withColumn("rn", row_number().over(wShort)).filter($"rn" <= shortlist)
      .select($"query_id", $"vec_id", $"adc")
    // exact rerank: raw vectors only for the shortlist, still cell-pruned
    val raw = asn.filter($"cell".isin(cells: _*)).select($"vec_id", $"embedding")
    val wRank = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id".asc)
    raw.join(broadcast(short), "vec_id")
      .join(broadcast(queries.select($"query_id", $"qv")), "query_id")
      .select($"query_id", $"vec_id", $"adc",
        Similarity.cellScore($"embedding", $"qv").as("cos"))
      .withColumn("rn", row_number().over(wRank)).filter($"rn" <= topK)
      .select($"query_id", $"rn", $"vec_id", $"cos")
      .orderBy($"query_id", $"rn")
  }

  /** Drop the store for a corpus (files only; no catalog state).
    * deleteIfExists + closed directory streams: tolerant of concurrent
    * cleanup and leak-free on deep trees.
    */
  def drop(s: SparkSession, corpusDir: String): Unit =
    storeDir(s, corpusDir).foreach { d =>
      val root = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(root))
        graft.FsUtil.deleteRecursively(root)
    }
}
