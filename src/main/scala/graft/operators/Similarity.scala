package graft.operators

import graft.{GQuery, Tables}
import graft.GQuery._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (SURVEY.md §2.E).
  *
  * Brute-force top-k is the exact baseline: one scan with the codegen'd
  * CosineSim and a TakeOrdered (per-partition top-k, then a k-row merge —
  * never a global sort). The scale paths are s02 (sign-LSH bucketing: scan
  * only the query's bucket) and s04 (IVF-style: nearest-centroid cells).
  * Queries broadcast; the corpus never re-shuffles.
  */
object Similarity {

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")

  private def cosSql(a: String, b: String): String = cosineSimSql(a, b)

  /** IVF centroids: per-label element-wise means (2-stage agg over exploded
    * coords, re-assembled in pos order) — k×d doubles, always broadcast-able.
    * Shared by s04 (assignment) and s06 (probe search).
    */
  private[operators] def centroids(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.select($"label", posexplode(asDouble($"embedding")))
      .groupBy($"label".as("c_label"), $"pos")
      .agg((sum($"col") / count(lit(1))).as("m"))
      .groupBy($"c_label")
      .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"c_label", transform($"pm", x => x.getField("m")).as("centroid"))
  }

  // ── IVF kernels: the one nearest-centroid assignment, probed-cell
  // ranking and residual PQ encode. The inline family (s04/s06/s08/s10/
  // s17) and every VectorIndexStore build, append, apply and probe call
  // these, so the store computes what the inline queries compute by
  // construction, not by copy.

  /** The family's cell score (4-dp rounded cosine — the oracle's rounding). */
  private[operators] def cellScore(a: Column, b: Column): Column =
    roundz(cosineSim(a, b), 4)

  /** The family's cell order: higher `score` first, lower `c_label` on ties. */
  private[operators] def byCellScore(score: String): Seq[Column] =
    Seq(col(score).desc, col("c_label").asc)

  /** Nearest centroid of every row of `vecs` (keyed by `vec_id`, vector in
    * `vecCol`) against the broadcast centroid table: `vecs`' columns plus
    * `cell` and its `cos`, one row per vector.
    */
  private[operators] def assignCells(vecs: DataFrame, vecCol: String,
                                     cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keep = vecs.columns.toSeq.map(col)
    val w = Window.partitionBy(col("vec_id")).orderBy(byCellScore("cos"): _*)
    vecs.join(broadcast(cent))
      .select(keep :+ col("c_label") :+
        cellScore(col(vecCol), col("centroid")).as("cos"): _*)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(keep :+ col("c_label").as("cell") :+ col("cos"): _*)
  }

  /** Each query's `nprobe` nearest cells: (query_id, qv) rows ranked
    * against the broadcast centroid table, as (query_id, qv, cell,
    * cell_rank) with cell_rank 1..nprobe.
    */
  private[operators] def probedCells(queries: DataFrame, cent: DataFrame,
                                     nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(byCellScore("qcos"): _*)
    queries.join(broadcast(cent))
      .select(col("query_id"), col("qv"), col("c_label"),
        cellScore(col("qv"), col("centroid")).as("qcos"))
      .withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= nprobe)
      .select(col("query_id"), col("qv"), col("c_label").as("cell"), col("cell_rank"))
  }

  /** Residual subvectors of assigned vectors — (vec_id, embedding, cell)
    * rows — against their OWN cell centroid: (vec_id, ss, vs). IVFADC
    * quantizes residuals, not raw vectors: the cell already explains the
    * between-cell structure, so the codebook's budget goes to the
    * within-cell variation that ranks candidates inside a probed cell.
    */
  private[operators] def residualSubvectors(asn: DataFrame, cent: DataFrame): DataFrame = {
    import VectorIndexStore.{NumSubspaces, SubDim}
    asn.join(broadcast(cent), col("cell") === col("c_label"))
      .select(col("vec_id"),
        zip_with(asDouble(col("embedding")), col("centroid"), (x, y) => x - y).as("r"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(NumSubspaces - 1))).as("ss"), col("r"))
      .select(col("vec_id"), col("ss"),
        slice(col("r"), col("ss") * SubDim + 1, lit(SubDim)).as("vs"))
  }

  /** Squared L2 distance of two equal-length double arrays. */
  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Nearest codeword of every (vec_id, ss, vs) subvector in a
    * (c_label, ss, cw) codebook — smaller distance first, lower c_label
    * on ties: (vec_id, ss, vs, c_label). Both the codebook's Lloyd rounds
    * and the encode assign through it.
    */
  private[operators] def nearestCodewords(sub: DataFrame, codebook: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"), col("ss"))
      .orderBy(col("d2").asc, col("c_label").asc)
    sub.join(broadcast(codebook), Seq("ss"))
      .select(col("vec_id"), col("ss"), col("vs"), col("c_label"),
        dist2(col("vs"), col("cw")).as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("ss"), col("vs"), col("c_label"))
  }

  /** Residual PQ encode of assigned vectors — (vec_id, embedding, cell)
    * rows — against a codebook: (vec_id, codes array<int> ordered by
    * subspace, norm, cell). The exact |v| turns dot-product ADC into
    * approximate cosine at probe time.
    */
  private[operators] def pqEncode(asn: DataFrame, cent: DataFrame,
                                  codebook: DataFrame): DataFrame = {
    val norms = asn.select(col("vec_id"),
      sqrt(aggregate(asDouble(col("embedding")), lit(0.0),
        (acc, x) => acc + x * x)).as("norm"), col("cell"))
    nearestCodewords(residualSubvectors(asn, cent), codebook)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("ss"), col("c_label")))).as("sc"))
      .select(col("vec_id"), transform(col("sc"), x => x.getField("c_label")).as("codes"))
      .join(norms, "vec_id")
  }

  /** BM25-scored (query_id, doc_id, score) frame for the fixed 4-query
    * 10-term workload (Robertson k1=1.2, b=0.75) — s16's scoring stage,
    * shared with s19's fusion. Plan discipline (see s16's comment): the
    * query-term table broadcasts and filters the exploded token stream
    * MAP-SIDE so the only corpus-sized shuffle carries matched tokens;
    * df/avgdl derive from the matched frame and broadcast back; per-term
    * contributions are rounded 6dp then DECIMAL-summed (float Σ is
    * addition-order-dependent and engines group differently).
    */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    val docsDf = Tables.load(s, d, "documents")
    val q = Seq(1 -> "hash", 1 -> "join", 2 -> "window", 2 -> "agg",
      2 -> "stream", 3 -> "vector", 3 -> "scan", 4 -> "slow",
      4 -> "query", 4 -> "filter").toDF("query_id", "word")
    // dl rides the same scan as the explode: no second corpus pass,
    // no doc_id re-join — it's constant per doc so it can key the agg.
    val tf = docsDf
      .select($"doc_id", size(tokens($"text")).cast(LongType).as("dl"),
        explode(tokens($"text")).as("word"))
      .join(broadcast(q), "word")
      .groupBy($"query_id", $"doc_id", $"dl", $"word")
      .agg(count(lit(1)).as("tf"))
    val stats = docsDf
      .select(size(tokens($"text")).cast(LongType).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum($"dl").cast(DoubleType) / count(lit(1))).as("avgdl"))
    val dfreq = tf.select($"word", $"doc_id").distinct()
      .groupBy($"word").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "word")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", roundz(
        log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0)
          * ($"tf" * 2.2)
          / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")), 6))
      .groupBy($"query_id", $"doc_id")
      .agg(sumd($"contrib".cast(DecimalType(12, 6))).as("score"))
  }

  /** DuckDB mirror of [[bm25Scored]]: CTEs `q` … `scored(query_id, doc_id,
    * score)`, to be spliced after WITH.
    */
  private val bm25ScoredSql = """q(query_id, word) AS (VALUES
          (1,'hash'),(1,'join'),(2,'window'),(2,'agg'),(2,'stream'),
          (3,'vector'),(3,'scan'),(4,'slow'),(4,'query'),(4,'filter')),
        toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
                        unnest(string_split(text, ' ')) AS word
                 FROM documents),
        tf AS (SELECT query_id, doc_id, dl, word, COUNT(*) AS tf
               FROM toks JOIN q USING (word)
               GROUP BY query_id, doc_id, dl, word),
        stats AS (SELECT COUNT(*) AS n_docs,
                         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS DOUBLE)
                           / COUNT(*) AS avgdl
                  FROM documents),
        dfreq AS (SELECT word, COUNT(*) AS df
                  FROM (SELECT DISTINCT word, doc_id FROM tf) GROUP BY word),
        scored AS (
          SELECT query_id, doc_id,
                 CAST(SUM(CAST((ROUND(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                     * (tf * 2.2)
                     / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) + 0.0)
                   AS DECIMAL(12,6))) AS DOUBLE) AS score
          FROM tf JOIN dfreq USING (word) CROSS JOIN stats
          GROUP BY query_id, doc_id)"""

  /** DuckDB mirror of [[centroids]] (expects a CTE `e(vec_id, label, v)`). */
  private[operators] val centSql = """
        coords AS (SELECT label AS c_label, p.p AS pos, sum(v[p.p]) / count(*) AS m
                   FROM e, (SELECT unnest(range(1, 65)) AS p) p
                   GROUP BY c_label, pos),
        cent AS (SELECT c_label, list(m ORDER BY pos) AS centroid FROM coords GROUP BY c_label)"""

  /** One unrolled NN-descent round for s18's oracle: CTEs `und_r` /
    * `cand_r` / `sc_r` / `g_r(src, dst, cos, rn)` / `u_r(rate)` refining
    * `prev` (`knn` for round 1, `g_{r-1}` after). The rate CTE mirrors
    * [[nnDescentRounds]]'s changed-edge fraction exactly — integer
    * counts into one double division, no reassociation.
    */
  private def s18RoundSql(r: Int): String = {
    val prev = if (r == 1) "knn" else s"g${r - 1}"
    s"""und$r AS (SELECT src AS a, dst AS b FROM $prev
                UNION SELECT dst, src FROM $prev),
        cand$r AS (SELECT DISTINCT u1.a AS src, u2.b AS dst
                 FROM und$r u1 JOIN und$r u2 ON u1.b = u2.a
                 WHERE u1.a <> u2.b
                 UNION SELECT src, dst FROM $prev),
        sc$r AS (SELECT cand$r.src, cand$r.dst,
                        (ROUND(${cosineSimNormedSql("ex.v", "ey.v", "ex.nv", "ey.nv")}, 4) + 0.0) AS cos
                 FROM cand$r JOIN e ex ON cand$r.src = ex.vec_id
                             JOIN e ey ON cand$r.dst = ey.vec_id),
        g$r AS MATERIALIZED (SELECT src, dst, cos, rn FROM (
                  SELECT src, dst, cos,
                         ROW_NUMBER() OVER (PARTITION BY src
                           ORDER BY cos DESC, dst ASC) AS rn
                  FROM sc$r) WHERE rn <= 2),
        u$r AS (SELECT CAST(COUNT(*) FILTER (WHERE p.src IS NULL) AS DOUBLE)
                         / COUNT(*) AS rate
                FROM g$r LEFT JOIN $prev p
                  ON g$r.src = p.src AND g$r.dst = p.dst)"""
  }

  /** s18's round cap and Dong et al.'s convergence threshold: a round
    * that changes fewer than this fraction of graph edges ends the
    * descent. Mirrored VERBATIM in the unrolled oracle — change both.
    */
  private[graft] val NnDescentMaxRounds = 3
  private[graft] val NnDescentEps = 0.001

  /** The s18 machinery, factored so PropertySpec can pin the per-round
    * monotone-quality law on the same frames the query outputs: returns
    * (seed edge graph (src, dst), per-round scored graphs (src, dst,
    * cos, rn), rounds actually run). Each round localCheckpoints —
    * round r+1's three consumers (undirected set, candidate union,
    * convergence count) would otherwise re-run the whole descent prefix.
    *
    * Seed join shape (s05's r13 spill fix): shuffled-hash band join — no
    * sort ever sees the wide probe rows. Refinement vector fetches are
    * hash joins for the same reason: an SMJ would sort the CANDIDATE-
    * sized stream with a 64-double array attached (2-hop volume is
    * hub-quadratic in the undirected top-2 graph). Measured at sf1: this
    * shape benches 8.7 s / zero spill on the full board
    * (docs/BENCH_SF1.json) vs 5.0 s / 978 MB spill before the round-14
    * seed fix; an explicit-broadcast spelling of the fetches re-spilled
    * ~144 MB intermittently under BenchOne's cold harness, so the
    * exchange-then-hash shape is the one kept.
    *
    * The convergence probe is one changed-edge count per round — a
    * graph-sized (2 rows/src, 2 ids each) left join, never corpus work;
    * its cost is what buys skipping whole refinement rounds at scale.
    */
  private[graft] def nnDescentRounds(s: SparkSession, d: String,
      maxRounds: Int = NnDescentMaxRounds, checkpoint: Boolean = true)
      : (DataFrame, Seq[DataFrame], Int) = {
    def ckpt(df: DataFrame): DataFrame =
      if (checkpoint) df.localCheckpoint() else df
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // ONE vector fetch table for the whole descent (optimization r16):
    // the seed join and every round's two id-equality fetches used to
    // re-scan the embeddings parquet (plus re-derive v/bucket) — 1 + 2·R
    // scans per query. Checkpoint (vec_id, v, bucket) once; every fetch
    // reads the materialized blocks. Corpus-sized but THIN (the vectors
    // ride exactly as before — the fetches always carried them); at
    // 100 TB this is the materialized graph-store table the header
    // describes, so the memo is the production shape, not a bench trick.
    val e = ckpt(emb(s, d).select($"vec_id", asDouble($"embedding").as("v"),
      signBucket($"embedding", 6).as("bucket")))
    // s05's seed graph: 1-bit-probe LSH candidates, per-src top-2
    val probes = e.select($"vec_id".as("src"), $"v".as("xv"),
      explode(array(($"bucket" +:
        (0 until 6).map(b => $"bucket".bitwiseXOR(lit(1 << b)))): _*)).as("probe"))
    val wSeed = Window.partitionBy($"src").orderBy($"cos".desc, $"dst".asc)
    val knn = probes.join(e.select($"vec_id".as("dst"), $"v".as("yv"), $"bucket")
          .hint("shuffle_hash"),
        $"probe" === $"bucket" && $"src" =!= $"dst")
      .select($"src", $"dst", roundz(cosineSim($"xv", $"yv"), 4).as("cos"))
      .withColumn("rn", row_number().over(wSeed))
      .filter($"rn" <= 2)
      .select($"src", $"dst")
      .transform(ckpt)
    val wRef = Window.partitionBy($"src").orderBy($"cos".desc, $"dst".asc)
    var graph = knn
    var perRound = Vector.empty[DataFrame]
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val und = graph.union(graph.select($"dst", $"src")).toDF("a", "b").distinct()
      val hop2 = und.as("g1").join(und.as("g2"), $"g1.b" === $"g2.a")
        .select($"g1.a".as("src"), $"g2.b".as("dst"))
        .filter($"src" =!= $"dst")
      val cand = hop2.union(graph).distinct()
      // the changed-edge probe rides the refine checkpoint (optimization
      // r16): marking "was this edge already in the graph" is a left
      // join against the PREVIOUS round's tiny checkpointed graph, so
      // folding it in here costs one thin column — and the convergence
      // count becomes a plain aggregate over materialized blocks instead
      // of its own join job per round. The rate law is unchanged:
      // changed = top-2 edges absent from the previous graph, total =
      // all top-2 edges (PropertySpec's monotone law and the oracle's
      // unrolled rate CTE both still hold bit-for-bit).
      val scored0 = cand
        .join(e.select($"vec_id".as("src"), $"v".as("xv"))
          .hint("shuffle_hash"), "src")
        .join(e.select($"vec_id".as("dst"), $"v".as("yv"))
          .hint("shuffle_hash"), "dst")
        .select($"src", $"dst", roundz(cosineSim($"xv", $"yv"), 4).as("cos"))
        .withColumn("rn", row_number().over(wRef))
        .filter($"rn" <= 2)
        .join(graph.withColumn("__old", lit(1)), Seq("src", "dst"), "left")
        .transform(ckpt)
      val stats = scored0
        .agg(count(when($"__old".isNull, 1)).as("changed"),
          count(lit(1)).as("total")).head()
      val scored = scored0.drop("__old")
      val next = scored.select($"src", $"dst")
      rounds += 1
      converged =
        stats.getLong(0).toDouble / stats.getLong(1) < NnDescentEps
      graph = next
      perRound = perRound :+ scored
    }
    (knn, perRound, rounds)
  }

  val all: Seq[GQuery] = Seq(

    // ── s01: brute-force cosine top-k for one query vector (vec_id 0): ──
    // exact ANN baseline; broadcast 1-row query, TakeOrdered merge.
    GQuery("s01_cosine_topk",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
        e.filter($"vec_id" =!= 0)
          .join(broadcast(q))
          .select($"vec_id", roundz(cosineSim($"embedding", $"qv"), 4).as("cos"))
          .orderBy($"cos".desc, $"vec_id".asc)
          .limit(10)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        SELECT vec_id, (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) AS cos
        FROM e, q WHERE vec_id <> 0
        ORDER BY cos DESC, vec_id ASC LIMIT 10""")),

    // ── s02: sign-LSH bucketed ANN: 4 axis-aligned hyperplane bits → 16 ──
    // buckets; search only the query's bucket (1/16 of the corpus scanned;
    // same plumbing as seeded random hyperplanes at production bit-widths).
    GQuery("s02_lsh_ann",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d).withColumn("bucket", signBucket($"embedding", 4))
        val q = e.filter($"vec_id" === 0)
          .select($"embedding".as("qv"), $"bucket".as("qbucket"))
        e.join(broadcast(q), $"bucket" === $"qbucket" && $"vec_id" =!= 0)
          .select($"vec_id", $"bucket", roundz(cosineSim($"embedding", $"qv"), 4).as("cos"))
          .orderBy($"cos".desc, $"vec_id".asc)
          .limit(5)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                           + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                           + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                           + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
                   FROM embeddings),
        q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = 0)
        SELECT vec_id, bucket, (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) AS cos
        FROM e, q WHERE bucket = qbucket AND vec_id <> 0
        ORDER BY cos DESC, vec_id ASC LIMIT 5""")),

    // ── s03: k-NN join — small query set (vec_id < 5) broadcast against ──
    // the corpus; per-query top-3 via ranking window on the query key.
    GQuery("s03_knn_join",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = emb(s, d)
        val q = e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding".as("qv"))
        val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id".asc)
        e.join(broadcast(q), $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id", roundz(cosineSim($"embedding", $"qv"), 4).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"query_id", $"rn", $"vec_id", $"cos")
          .orderBy($"query_id", $"rn")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        scored AS (SELECT query_id, vec_id, (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) AS cos,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) DESC, vec_id ASC) AS rn
                   FROM e, q WHERE vec_id <> query_id)
        SELECT query_id, rn, vec_id, cos FROM scored WHERE rn <= 3
        ORDER BY query_id, rn""")),

    // ── s04: IVF-style partitioning: centroids = per-label element-wise ──
    // means (2-stage agg over exploded coords, then re-assembled in pos
    // order), broadcast; every vector assigned to its nearest centroid.
    GQuery("s04_centroid_assign",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        assignCells(e.select($"vec_id", $"label", $"embedding"), "embedding", centroids(e))
          .select($"vec_id", $"label", $"cell".as("assigned_label"), $"cos")
          .orderBy($"vec_id")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        $centSql,
        scored AS (SELECT vec_id, label, c_label,
                          (ROUND(${cosSql("e.v", "cent.centroid")}, 4) + 0.0) AS cos,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY (ROUND(${cosSql("e.v", "cent.centroid")}, 4) + 0.0) DESC, c_label ASC) AS rn
                   FROM e, cent)
        SELECT vec_id, label, c_label AS assigned_label, cos
        FROM scored WHERE rn = 1 ORDER BY vec_id""")),

    // ── s05: k-NN graph — every vector's top-2 neighbors (the input ──
    // structure for graph clustering / connected-component dedup).
    // Candidates come from 6-bit sign-LSH with multi-probe (own bucket +
    // each 1-bit flip = 7 of 64 buckets ≈ 11% of the corpus per vector)
    // instead of all-pairs: the probe side explodes to 7 rows per vector
    // and equality-joins the corpus on bucket — a hash join whose volume
    // is corpus × probes/buckets, never corpus². Probe buckets are
    // pairwise distinct, so no candidate pair is generated twice and no
    // dedup pass is needed. The ranking window is unchanged; Spark's
    // WindowGroupLimit keeps the rn<=2 filter partial (map-side top-2).
    // Recall is pinned by PropertySpec's brute-force probe against the
    // analytic hyperplane-LSH bound (the oracle mirrors the algorithm and
    // cannot see recall loss — SURVEY §6).
    GQuery("s05_knn_graph",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = emb(s, d).select($"vec_id", asDouble($"embedding").as("v"),
          signBucket($"embedding", 6).as("bucket"))
        val probes = e.select($"vec_id".as("src"), $"v".as("xv"),
          explode(array(($"bucket" +:
            (0 until 6).map(b => $"bucket".bitwiseXOR(lit(1 << b)))): _*)).as("probe"))
        val w = Window.partitionBy($"src").orderBy($"cos".desc, $"dst".asc)
        // shuffled-HASH band join (r13 spill fix): SMJ sorted the probe
        // side WITH its 64-double array attached (~1 KB rows × 7|V|) and
        // spilled ~2 GB at sf1; hashing the corpus side per bucket
        // partition sorts nothing, so the wide rows only ever STREAM.
        // Measured sf1 A/B: 78-152 s (SMJ) / 60-115 s (thin ids +
        // vector re-fetch joins — the pairs-sized wide intermediate just
        // moves the cost) / 17-33 s (this shape), all spill-free at 8 g.
        // At 100 TB the build side is each partition's bucket slice —
        // bounded by corpus/P, same envelope every SHJ in the engine
        // assumes — and LSH bits grow with log|V| to cap bucket volume.
        probes.join(e.select($"vec_id".as("dst"), $"v".as("yv"), $"bucket")
              .hint("shuffle_hash"),
            $"probe" === $"bucket" && $"src" =!= $"dst")
          .select($"src", $"dst", roundz(cosineSim($"xv", $"yv"), 4).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 2)
          .select($"src", $"rn", $"dst", $"cos")
          .orderBy($"src", $"rn")
      },
      // norm-factored seed cosine (cosineSimNormedSql): bit-identical,
      // 3× fewer per-pair transforms over the 44M-pair band join at sf1
      Some(s"""
        WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          (${signBucketSql("embedding", 6)}) AS bucket
                   FROM embeddings),
        e AS (SELECT vec_id, v, bucket, ${normSql("v")} AS nv FROM e0),
        probes AS (SELECT vec_id AS src, v AS xv, nv AS nx,
                          unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
                                  xor(bucket, 8), xor(bucket, 16), xor(bucket, 32)]) AS probe
                   FROM e),
        seed_cos AS (SELECT src, e.vec_id AS dst,
                            (ROUND(${cosineSimNormedSql("xv", "e.v", "nx", "e.nv")}, 4) + 0.0) AS cos
                     FROM probes JOIN e ON probes.probe = e.bucket AND probes.src <> e.vec_id),
        scored AS (SELECT src, dst, cos,
                          ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY cos DESC, dst ASC) AS rn
                   FROM seed_cos)
        SELECT src, rn, dst, cos FROM scored WHERE rn <= 2
        ORDER BY src, rn""")),

    // ── s06: IVF probe search — the inverted-file ANN path: corpus ──
    // vectors partition into centroid cells (s04's assignment); a query
    // scores only the nprobe=2 cells whose centroids are nearest, never
    // the full corpus. Centroids and the probe list broadcast (k×d
    // doubles); at scale the assignment is precomputed once and the
    // corpus written partitioned by cell, so a probe search is a
    // partition-pruned scan of nprobe/k of the data.
    GQuery("s06_ivf_ann",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val cent = centroids(e)
        val q = e.filter($"vec_id" === 0).select(asDouble($"embedding").as("qv"))
        // probedCells' ranking for ONE query: a global top-2, no window
        val probes = cent.join(broadcast(q))
          .select($"c_label", cellScore($"centroid", $"qv").as("qcos"))
          .orderBy(byCellScore("qcos"): _*).limit(2)
          .select($"c_label".as("cell"))
        val assign = assignCells(
          e.filter($"vec_id" =!= 0).select($"vec_id", $"embedding"), "embedding", cent)
        assign.join(broadcast(probes), "cell")
          .join(broadcast(q))
          .select($"vec_id", $"cell", roundz(cosineSim($"embedding", $"qv"), 4).as("cos"))
          .orderBy($"cos".desc, $"vec_id".asc)
          .limit(5)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        $centSql,
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        probes AS (SELECT c_label AS cell FROM cent, q
                   ORDER BY (ROUND(${cosSql("cent.centroid", "q.qv")}, 4) + 0.0) DESC, c_label ASC
                   LIMIT 2),
        scored AS (SELECT vec_id, v, c_label,
                          (ROUND(${cosSql("e.v", "cent.centroid")}, 4) + 0.0) AS cos,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY (ROUND(${cosSql("e.v", "cent.centroid")}, 4) + 0.0) DESC, c_label ASC) AS rn
                   FROM e, cent WHERE vec_id <> 0),
        assign AS (SELECT vec_id, v, c_label AS cell FROM scored WHERE rn = 1)
        SELECT a.vec_id, a.cell, (ROUND(${cosSql("a.v", "q.qv")}, 4) + 0.0) AS cos
        FROM assign a JOIN probes USING (cell), q
        ORDER BY cos DESC, vec_id ASC LIMIT 5""")),

    // ── s07: quantized shortlist + exact rerank — the two-stage retrieval ──
    // pattern production ANN serving uses: stage 1 scans a 1-bit sign
    // quantization (60 bits packed in ONE int64 per vector — 8 bytes
    // instead of 256) and ranks by hamming agreement with one xor +
    // popcount per row; stage 2 re-scores only the top-50 shortlist with
    // exact cosine over full-precision vectors. The coarse pass is a
    // TakeOrdered (per-partition top-50, k-row merge — no global sort);
    // the rerank joins the 50-row shortlist back to the corpus by vec_id
    // (broadcast). At 100 TB the quantized signatures are a 32×-smaller
    // sidecar column and the full vectors are touched for 50 rows, not
    // the corpus. Shortlist recall is probed in PropertySpec against
    // exact brute force (the oracle mirrors the algorithm — SURVEY §6).
    GQuery("s07_quantized_rerank",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val sigs = e.select($"vec_id", signBits($"embedding", 60).as("sb"))
        val q = e.filter($"vec_id" === 0)
          .select(signBits($"embedding", 60).as("qb"), $"embedding".as("qv"))
        val shortlist = sigs.join(broadcast(q.select($"qb")))
          .filter($"vec_id" =!= 0)
          .select($"vec_id",
            (lit(60) - bit_count($"sb".bitwiseXOR($"qb"))).cast(LongType).as("agree"))
          .orderBy($"agree".desc, $"vec_id".asc)
          .limit(50)
        shortlist.join(e.select($"vec_id", $"embedding"), "vec_id")
          .join(broadcast(q.select($"qv")))
          .select($"vec_id", $"agree", roundz(cosineSim($"embedding", $"qv"), 4).as("cos"))
          .orderBy($"cos".desc, $"vec_id".asc)
          .limit(5)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sigs AS (SELECT vec_id, ${signBitsSql("v", 60)} AS sb, v FROM e),
        q AS (SELECT sb AS qb, v AS qv FROM sigs WHERE vec_id = 0),
        shortlist AS (SELECT vec_id, CAST(60 - bit_count(xor(sb, qb)) AS BIGINT) AS agree, v
                      FROM sigs, q WHERE vec_id <> 0
                      ORDER BY agree DESC, vec_id ASC LIMIT 50)
        SELECT s.vec_id, s.agree, (ROUND(${cosSql("s.v", "q.qv")}, 4) + 0.0) AS cos
        FROM shortlist s, q
        ORDER BY cos DESC, vec_id ASC LIMIT 5""")),

    // ── s08: IVF k-NN JOIN — the batch-ANN scale path for s03: instead ──
    // of every query scanning the full corpus, corpus vectors are
    // assigned to centroid cells once (s04's shape) and each query
    // explodes to its nprobe=2 nearest cells; candidates come from an
    // EQUALITY join on the cell id. Per-query work drops from |corpus|
    // to nprobe/k of it, and the join co-partitions on cell — at 100 TB
    // the assignment is precomputed and the corpus stored partitioned by
    // cell, so this is a partition-pruned join, never a broadcast of the
    // corpus or an all-pairs cross. Ranking window identical to s03's.
    GQuery("s08_ivf_knn_join",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = emb(s, d)
        val cent = centroids(e)
        val assign = assignCells(
          e.filter($"vec_id" >= 5).select($"vec_id", $"embedding"), "embedding", cent)
        val qprobe = probedCells(e.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"embedding".as("qv")), cent, 2)
        val wRank = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id".asc)
        assign.join(qprobe, "cell")
          .select($"query_id", $"vec_id",
            roundz(cosineSim($"embedding", $"qv"), 4).as("cos"))
          .withColumn("rn", row_number().over(wRank))
          .filter($"rn" <= 3)
          .select($"query_id", $"rn", $"vec_id", $"cos")
          .orderBy($"query_id", $"rn")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        $centSql,
        ascored AS (SELECT vec_id, v, c_label,
                           (ROUND(${cosSql("e.v", "cent.centroid")}, 4) + 0.0) AS cos,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY (ROUND(${cosSql("e.v", "cent.centroid")}, 4) + 0.0) DESC, c_label ASC) AS rn
                    FROM e, cent WHERE vec_id >= 5),
        assign AS (SELECT vec_id, v, c_label AS cell FROM ascored WHERE rn = 1),
        qscored AS (SELECT e.vec_id AS query_id, v AS qv, c_label,
                           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                             ORDER BY (ROUND(${cosSql("e.v", "cent.centroid")}, 4) + 0.0) DESC, c_label ASC) AS rn
                    FROM e, cent WHERE vec_id < 5),
        qprobe AS (SELECT query_id, qv, c_label AS cell FROM qscored WHERE rn <= 2),
        scored AS (SELECT query_id, a.vec_id,
                          (ROUND(${cosSql("a.v", "qprobe.qv")}, 4) + 0.0) AS cos,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY (ROUND(${cosSql("a.v", "qprobe.qv")}, 4) + 0.0) DESC, a.vec_id ASC) AS rn
                   FROM assign a JOIN qprobe USING (cell))
        SELECT query_id, rn, vec_id, cos FROM scored WHERE rn <= 3
        ORDER BY query_id, rn""")),

    // ── s09: cosine range search — every corpus vector within a ──
    // similarity RADIUS of each query (threshold, not top-k): the dedup/
    // recall-set shape top-k can't express (a query may have 0 or 500
    // in-range neighbors). Plan: broadcast the 3-query set, one corpus
    // scan with the codegen'd CosineSim, filter ≥ τ — the filter runs
    // inside the scan's WholeStageCodegen, so output size is the only
    // thing that grows with matches. At 100 TB the same query runs over
    // s02's sign-LSH buckets (probe the query's bucket ± 1-bit flips)
    // to cut the scanned fraction; the exact form here is the recall
    // ground truth for that path.
    GQuery("s09_range_search",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val q = e.filter($"vec_id" < 3)
          .select($"vec_id".as("query_id"), $"embedding".as("qv"))
        e.join(broadcast(q), $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id",
            roundz(cosineSim($"embedding", $"qv"), 4).as("cos"))
          .filter($"cos" >= 0.3)
          .orderBy($"query_id", $"vec_id")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3)
        SELECT query_id, vec_id, (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) AS cos
        FROM e, q WHERE vec_id <> query_id AND (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) >= 0.3
        ORDER BY query_id, vec_id""")),

    // ── s10: k-means refinement — one full Lloyd iteration: assign every ──
    // vector to its nearest centroid (s04), recompute centroids from the
    // assignment, and report per-cell membership flow + centroid drift
    // (cos(old, new)) — the convergence signal an iterative clustering
    // driver loops on. Each iteration is two broadcast joins + two
    // partial-agg'd aggregations; NOTHING is pairwise, and the k×d
    // centroid frame is the only state carried between iterations —
    // at 100 TB the corpus is scanned once per iteration, shuffling only
    // exploded (cell, pos, coord) partial sums.
    GQuery("s10_kmeans_refine",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d).select($"vec_id", $"label", asDouble($"embedding").as("v"))
        val cent0 = centroids(emb(s, d))
        val assigned = assignCells(e.select($"vec_id", $"v"), "v", cent0)
        // n_assigned rides the centroid aggregation (every pos of a cell
        // has the same row count) so the corpus is assigned exactly ONCE —
        // a separate count branch would re-execute the corpus × centroid
        // cross a second time.
        val cent1 = assigned.select($"cell", posexplode($"v"))
          .groupBy($"cell", $"pos")
          .agg((sum($"col") / count(lit(1))).as("m"), count(lit(1)).as("cnt"))
          .groupBy($"cell")
          .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"),
            max($"cnt").as("n_assigned"))
          .select($"cell", transform($"pm", x => x.getField("m")).as("nc"), $"n_assigned")
        val nBefore = e.groupBy($"label".as("cell")).agg(count(lit(1)).as("n_before"))
        cent1.join(cent0, $"cell" === $"c_label")
          .select($"cell", $"n_assigned", roundz(cosineSim($"centroid", $"nc"), 4).as("drift"))
          .join(nBefore, "cell")
          .select($"cell", $"n_before", $"n_assigned", $"drift")
          .orderBy($"cell")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        $centSql,
        scored AS (SELECT vec_id, e.v AS v, c_label,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY (ROUND(${cosSql("e.v", "cent.centroid")}, 4) + 0.0) DESC, c_label ASC) AS rn
                   FROM e, cent),
        assigned AS (SELECT vec_id, v, c_label AS cell FROM scored WHERE rn = 1),
        coords1 AS (SELECT cell, p.p AS pos, sum(v[p.p]) / count(*) AS m,
                           count(*) AS cnt
                    FROM assigned, (SELECT unnest(range(1, 65)) AS p) p
                    GROUP BY cell, pos),
        cent1 AS (SELECT cell, list(m ORDER BY pos) AS nc, max(cnt) AS n_assigned
                  FROM coords1 GROUP BY cell),
        nb AS (SELECT label AS cell, COUNT(*) AS n_before FROM e GROUP BY label)
        SELECT cell, n_before, n_assigned,
               (ROUND(${cosSql("cent.centroid", "cent1.nc")}, 4) + 0.0) AS drift
        FROM cent1 JOIN cent ON cell = c_label
        JOIN nb USING (cell)
        ORDER BY cell""")),

    // ── s11: ANN recall report — per query, recall@3 of the sign-LSH ──
    // path (s02's buckets) against the exact brute-force top-3: the
    // production-facing form of PropertySpec's recall probes (an eval
    // TABLE a retrieval dashboard reads, not just a CI assertion). Both
    // arms share one corpus scan shape: queries broadcast, per-query
    // ranking window, top lists collected per query (sort_array AFTER
    // collect — q36's determinism rule). Lists surface as joined
    // strings, exact on both engines.
    GQuery("s11_recall_report",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = emb(s, d).select($"vec_id", asDouble($"embedding").as("v"),
          signBucket($"embedding", 4).as("bucket"))
        val q = e.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"bucket".as("qb"))
        val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id".asc)
        def topList(joined: DataFrame, out: String): DataFrame = joined
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .groupBy($"query_id")
          .agg(sort_array(collect_list(struct($"rn", $"vec_id"))).as("sx"))
          .select($"query_id",
            transform($"sx", x => x.getField("vec_id")).as(out))
        val exact = topList(
          e.join(broadcast(q.select($"query_id", $"qv")), $"vec_id" =!= $"query_id")
            .select($"query_id", $"vec_id", roundz(cosineSim($"v", $"qv"), 4).as("cos")),
          "ex")
        val ann = topList(
          e.join(broadcast(q), $"bucket" === $"qb" && $"vec_id" =!= $"query_id")
            .select($"query_id", $"vec_id", roundz(cosineSim($"v", $"qv"), 4).as("cos")),
          "an")
        exact.join(ann, Seq("query_id"), "left")
          .withColumn("an", coalesce($"an", array().cast("array<bigint>")))
          .select($"query_id",
            array_join($"ex", ",").as("exact_top"),
            array_join($"an", ",").as("ann_top"),
            roundz(size(array_intersect($"ex", $"an")).cast(DoubleType) / 3.0, 6).as("recall_at_3"))
          .orderBy($"query_id")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                           + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                           + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                           + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM e WHERE vec_id < 5),
        ex_scored AS (SELECT query_id, vec_id,
                             ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) DESC, vec_id ASC) AS rn
                      FROM e, q WHERE vec_id <> query_id),
        ex AS (SELECT query_id, list(vec_id ORDER BY rn) AS ex
               FROM ex_scored WHERE rn <= 3 GROUP BY query_id),
        an_scored AS (SELECT query_id, vec_id,
                             ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) DESC, vec_id ASC) AS rn
                      FROM e JOIN q ON e.bucket = q.qb AND e.vec_id <> q.query_id),
        an AS (SELECT query_id, list(vec_id ORDER BY rn) AS an
               FROM an_scored WHERE rn <= 3 GROUP BY query_id)
        SELECT ex.query_id,
               array_to_string(ex.ex, ',') AS exact_top,
               array_to_string(COALESCE(an.an, []::BIGINT[]), ',') AS ann_top,
               (ROUND(CAST(len(list_intersect(ex.ex, COALESCE(an.an, []::BIGINT[]))) AS DOUBLE) / 3.0, 6) + 0.0) AS recall_at_3
        FROM ex LEFT JOIN an ON ex.query_id = an.query_id
        ORDER BY ex.query_id""")),

    // ── s12: product quantization + asymmetric-distance rerank — the ──
    // memory-side ANN scale path s06/s07 don't cover: 64 dims → 8
    // subspaces × one codeword id each (8 SMALL codes per vector instead
    // of 256 float bytes; at 100 TB the PQ-coded corpus fits in a
    // fraction of the RAM the raw vectors need). Codebook = per-subspace
    // per-label mean subvectors (k×m×8 doubles — always broadcast);
    // encoding is an argmax over 10 codewords per subspace (rounded dot,
    // label-asc ties); ADC scores a query against CODEWORDS only
    // (lookup-table dot products, DECIMAL-exact sum of rounded terms);
    // the top-20 ADC shortlist reranks with exact cosine. The corpus is
    // scanned once for encoding and once (shortlist-only) for rerank —
    // nothing pairwise.
    GQuery("s12_pq_adc_rerank",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = emb(s, d).select($"vec_id", $"label", asDouble($"embedding").as("v"))
        val sub = e.select($"vec_id", $"label",
            explode(sequence(lit(0), lit(7))).as("ss"), $"v")
          .select($"vec_id", $"label", $"ss", slice($"v", $"ss" * 8 + 1, lit(8)).as("vs"))
        val codebook = sub.select($"label".as("c_label"), $"ss", posexplode($"vs"))
          .groupBy($"c_label", $"ss", $"pos")
          .agg((sum($"col") / count(lit(1))).as("m"))
          .groupBy($"c_label", $"ss")
          .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
          .select($"c_label", $"ss", transform($"pm", x => x.getField("m")).as("cw"))
        def dot8(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
        val wEnc = Window.partitionBy($"vec_id", $"ss").orderBy($"dt".desc, $"c_label".asc)
        val enc = sub.join(broadcast(codebook), Seq("ss"))
          .select($"vec_id", $"ss", $"c_label", $"cw",
            roundz(dot8($"vs", $"cw"), 4).as("dt"))
          .withColumn("rn", row_number().over(wEnc)).filter($"rn" === 1)
          .select($"vec_id", $"ss", $"cw")
        val q = sub.filter($"vec_id" === 0).select($"ss", $"vs".as("qs"))
        val adc = enc.join(broadcast(q), Seq("ss"))
          .select($"vec_id",
            roundz(dot8($"qs", $"cw"), 4).cast(DecimalType(14, 4)).as("term"))
          .groupBy($"vec_id").agg(sum($"term").cast(DoubleType).as("adc"))
        val qv = e.filter($"vec_id" === 0).select($"v".as("qv"))
        adc.filter($"vec_id" =!= 0)
          .orderBy($"adc".desc, $"vec_id".asc).limit(20)
          .join(e.select($"vec_id", $"v"), Seq("vec_id"))
          .join(broadcast(qv))
          .select($"vec_id", $"adc", roundz(cosineSim($"v", $"qv"), 4).as("cos"))
          .orderBy($"cos".desc, $"vec_id".asc).limit(5)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sub AS (SELECT vec_id, label, s.s AS ss, v[s.s*8+1 : s.s*8+8] AS vs
                FROM e, (SELECT unnest(range(8)) AS s) s),
        coords AS (SELECT label AS c_label, ss, p.p AS pos, sum(vs[p.p]) / count(*) AS m
                   FROM sub, (SELECT unnest(range(1, 9)) AS p) p
                   GROUP BY c_label, ss, pos),
        code AS (SELECT c_label, ss, list(m ORDER BY pos) AS cw FROM coords GROUP BY c_label, ss),
        enc0 AS (SELECT sub.vec_id, sub.ss, code.c_label, code.cw,
                        ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.ss
                          ORDER BY (ROUND(list_sum(list_transform(range(1, 9), k -> sub.vs[k] * code.cw[k])), 4) + 0.0) DESC,
                                   code.c_label ASC) AS rn
                 FROM sub JOIN code ON sub.ss = code.ss),
        enc AS (SELECT vec_id, ss, cw FROM enc0 WHERE rn = 1),
        q AS (SELECT ss, vs AS qs FROM sub WHERE vec_id = 0),
        adc AS (SELECT enc.vec_id,
                       CAST(SUM(CAST((ROUND(list_sum(list_transform(range(1, 9), k -> q.qs[k] * enc.cw[k])), 4) + 0.0) AS DECIMAL(14,4))) AS DOUBLE) AS adc
                FROM enc JOIN q ON enc.ss = q.ss GROUP BY enc.vec_id),
        short AS (SELECT vec_id, adc FROM adc WHERE vec_id <> 0
                  ORDER BY adc DESC, vec_id ASC LIMIT 20),
        qv AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        SELECT s.vec_id, s.adc, (ROUND(${cosSql("e.v", "qv.qv")}, 4) + 0.0) AS cos
        FROM short s JOIN e ON s.vec_id = e.vec_id, qv
        ORDER BY cos DESC, s.vec_id ASC LIMIT 5""")),

    // ── s13: hard-negative mining — for each anchor, the top-3 most ──
    // similar vectors with a DIFFERENT label: the contrastive-training
    // data every embedding-model pipeline mines (easy negatives are
    // random; hard negatives are the near-misses that carry gradient).
    // s03's broadcast-anchor scan with a label-inequality residual on the
    // join: anchors broadcast, the corpus streams map-side once, per-
    // anchor top-3 via the ranking window keyed by anchor. At full scale
    // the anchor set shards into broadcast-sized batches and the corpus
    // side optionally pre-filters through s02's buckets — same plan per
    // batch, no pairwise stage outside the scored scan.
    GQuery("s13_hard_negatives",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = emb(s, d)
        val anchors = e.filter($"vec_id" < 5)
          .select($"vec_id".as("anchor_id"), $"label".as("a_label"), $"embedding".as("av"))
        val w = Window.partitionBy($"anchor_id").orderBy($"cos".desc, $"vec_id".asc)
        e.join(broadcast(anchors),
            $"vec_id" =!= $"anchor_id" && $"label" =!= $"a_label")
          .select($"anchor_id", $"vec_id", $"label",
            roundz(cosineSim($"embedding", $"av"), 4).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"anchor_id", $"rn", $"vec_id", $"label", $"cos")
          .orderBy($"anchor_id", $"rn")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        a AS (SELECT vec_id AS anchor_id, label AS a_label, v AS av
              FROM e WHERE vec_id < 5),
        scored AS (
          SELECT anchor_id, vec_id, label,
                 (ROUND(${cosSql("e.v", "a.av")}, 4) + 0.0) AS cos,
                 ROW_NUMBER() OVER (PARTITION BY anchor_id
                   ORDER BY (ROUND(${cosSql("e.v", "a.av")}, 4) + 0.0) DESC, vec_id ASC) AS rn
          FROM e, a WHERE vec_id <> anchor_id AND label <> a_label)
        SELECT anchor_id, rn, vec_id, label, cos
        FROM scored WHERE rn <= 3
        ORDER BY anchor_id, rn""")),

    // ── s14: maximum-inner-product top-k via norm augmentation — the ──
    // retrieval scoring most rankers actually use (un-normalized dot;
    // recommendation / reranker weights are NOT unit vectors, so cosine
    // ANN structures mis-rank them). The classic reduction (Bachrach'14):
    // append sqrt(M² − ‖v‖²) to every corpus vector (M = max corpus norm)
    // and 0 to the query — augmented vectors all have norm M, so cosine
    // order over the augmented space IS inner-product order, and every
    // cosine ANN structure (s02/s06) applies unchanged. The query outputs
    // both scores; the ORDER BY dot == ORDER BY aug_cos agreement is what
    // the oracle checks (rank columns would hide a formula drift).
    // Scale: ‖v‖ rides the corpus scan; M is a 1-row broadcast (an
    // all-reduce at 100 TB, computed once per corpus build, not per
    // query); top-k is TakeOrdered — no global sort, no pairwise stage.
    GQuery("s14_mips_topk",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
          .select($"vec_id", asDouble($"embedding").as("v"))
          .withColumn("norm2", dotProduct($"v", $"v"))
        val mmax = e.agg(max(sqrt($"norm2")).as("m"))
        val q = e.filter($"vec_id" === 0)
          .select($"v".as("qraw"), concat($"v", array(lit(0.0))).as("qa"))
        e.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(mmax))
          .withColumn("va",
            concat($"v", array(sqrt(greatest(lit(0.0), $"m" * $"m" - $"norm2")))))
          .crossJoin(broadcast(q))
          .select($"vec_id",
            roundz(dotProduct($"v", $"qraw"), 4).as("dot"),
            roundz(cosineSim($"va", $"qa"), 6).as("aug_cos"))
          .orderBy($"dot".desc, $"vec_id".asc)
          .limit(10)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          ${dotSql("CAST(embedding AS DOUBLE[])", "CAST(embedding AS DOUBLE[])")} AS norm2
                   FROM embeddings),
        mm AS (SELECT MAX(sqrt(norm2)) AS m FROM e),
        qv AS (SELECT list_append(v, 0.0) AS qa, v AS q FROM e WHERE vec_id = 0),
        aug AS (SELECT vec_id, v,
                       list_append(v, sqrt(greatest(0.0, m * m - norm2))) AS va
                FROM e, mm WHERE vec_id <> 0)
        SELECT vec_id,
               (ROUND(${dotSql("aug.v", "qv.q")}, 4) + 0.0) AS dot,
               (ROUND(${dotSql("aug.va", "qv.qa", 65)}
                 / (sqrt(${dotSql("aug.va", "aug.va", 65)})
                    * sqrt(${dotSql("qv.qa", "qv.qa", 65)})), 6) + 0.0) AS aug_cos
        FROM aug, qv
        ORDER BY dot DESC, vec_id ASC LIMIT 10""")),

    // ── s15: dedup-threshold sweep — the calibration curve behind every ──
    // "cosine ≥ θ means duplicate" policy decision: pair count and mean
    // similarity at each candidate threshold, computed over the sign-LSH
    // candidate pairs (d06's bucket-equality shape — NEVER all pairs, so
    // the sweep costs the same as one dedup pass at any corpus size). The
    // grid explodes AFTER the pair join (7 small rows per candidate pair,
    // not 7 re-joins); mean goes through an exact DECIMAL sum of the
    // 4-dp-rounded cosines so both engines divide identical numerators.
    GQuery("s15_threshold_sweep",
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
          .select($"vec_id", asDouble($"embedding").as("v"),
            signBucket($"embedding", 4).as("bucket"))
        val pairs = e.as("x").join(e.as("y"),
            $"x.bucket" === $"y.bucket" && $"x.vec_id" < $"y.vec_id")
          .select(roundz(cosineSim($"x.v", $"y.v"), 4).as("cos"))
        val grid = (30 to 60 by 5).map(_ / 100.0)
        pairs
          .select($"cos", explode(array(grid.map(lit(_)): _*)).as("threshold"))
          .filter($"cos" >= $"threshold")
          .groupBy($"threshold")
          .agg(count(lit(1)).as("n_pairs"),
            sumd($"cos".cast(DecimalType(10, 4))).as("sum_cos"))
          .select($"threshold", $"n_pairs",
            roundz($"sum_cos" / $"n_pairs", 6).as("mean_cos"))
          .orderBy($"threshold")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                           + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                           + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                           + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
                   FROM embeddings),
        p AS (SELECT (ROUND(${cosSql("x.v", "y.v")}, 4) + 0.0) AS cos
              FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
        g AS (SELECT cos, t.threshold
              FROM p, (SELECT unnest(CAST([0.3, 0.35, 0.4, 0.45, 0.5, 0.55, 0.6] AS DOUBLE[])) AS threshold) t
              WHERE cos >= t.threshold)
        SELECT threshold, COUNT(*) AS n_pairs,
               (ROUND(CAST(SUM(CAST(cos AS DECIMAL(10,4))) AS DOUBLE) / COUNT(*), 6) + 0.0) AS mean_cos
        FROM g GROUP BY threshold ORDER BY threshold""")),

    // ── s16: BM25 lexical retrieval — top-5 documents per query for a ──
    // small query workload (the query-based curation / eval-retrieval
    // primitive the embedding family can't express: exact term matching
    // with tf saturation and length normalization, Robertson k1=1.2
    // b=0.75). Plan discipline: the tiny query-term table broadcasts and
    // filters the exploded token stream MAP-SIDE, so the only
    // corpus-sized shuffle carries matched (query, doc, term) tokens —
    // a few per mille of the corpus — not the full token stream; df and
    // the 1-row avgdl/N stats then derive from that matched frame and
    // broadcast back. Per-term contributions are rounded 6dp and summed
    // in exact DECIMAL (a float Σ over terms is addition-order-dependent
    // and engines group differently); the per-query ranking window runs
    // on the matched set only. At 100 TB the shape is unchanged: query
    // sets are always broadcast-sized, and everything downstream of the
    // map-side filter is proportional to hits, not corpus.
    GQuery("s16_bm25_topk",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
        bm25Scored(s, d)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 5)
          .select($"query_id", $"rn", $"doc_id", $"score")
          .orderBy($"query_id", $"rn")
      },
      Some(s"""
        WITH $bm25ScoredSql,
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY score DESC, doc_id ASC) AS rn
          FROM scored)
        SELECT query_id, rn, doc_id, score FROM ranked WHERE rn <= 5
        ORDER BY query_id, rn""")),

    // ── s17: IVF probe sweep — the recall-vs-cost tuning curve for the ──
    // s06/s08 family: for nprobe ∈ {1..4}, mean recall@3 against exact
    // brute force and mean fraction of the corpus scanned, over a 10-query
    // workload (answers "what nprobe do we serve at?" the way e25 answers
    // the watermark-delay question — with a table, not a guess). Shapes
    // are all reused: centroid ranking and the probe grid live on
    // |queries|×k rows, candidates come from the cell EQUALITY join
    // (s08's discipline — never a corpus broadcast or all-pairs), both
    // ranking windows partition per query(,nprobe) over hits. The exact
    // arm IS s11's truth pass; at 100 TB it runs on a sampled workload
    // (queries are always broadcast-sized) while the swept arm's cost per
    // nprobe is nprobe/k of one corpus scan. Aggregation discipline:
    // recall numerators and scanned counts are BIGINT sums (exact), one
    // double division each at the 4-row end; missing (query, nprobe)
    // cells (a probe set whose only member was the query itself)
    // contribute 0 via the 40-row base left join, not by dropping rows.
    GQuery("s17_ivf_probe_sweep",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val eRaw = emb(s, d)
        val cent = centroids(eRaw)
        val e = eRaw.select($"vec_id", asDouble($"embedding").as("v"))
        val q = e.filter($"vec_id" < 10).select($"vec_id".as("query_id"), $"v".as("qv"))
        val n1 = e.agg((count(lit(1)) - 1).cast(DoubleType).as("n_corpus"))
        // per-query cell ranking (|q|×4 rows) and the nprobe grid
        val grid = (1 to 4).map(lit(_))
        val queryCells = probedCells(q, cent, 4)
          .select($"query_id", $"cell", $"cell_rank", explode(array(grid: _*)).as("nprobe"))
          .filter($"cell_rank" <= $"nprobe")
          .select($"query_id", $"nprobe", $"cell")
        // corpus → nearest cell (s06's assignment shape)
        val assign = assignCells(e, "v", cent)
        // candidates per (query, nprobe): cell equality join, self excluded
        val cands = assign.join(broadcast(queryCells), "cell")
          .filter($"vec_id" =!= $"query_id")
          .join(broadcast(q), "query_id")
          .select($"query_id", $"nprobe", $"vec_id",
            roundz(cosineSim($"v", $"qv"), 4).as("cos"))
        val wAnn = Window.partitionBy($"query_id", $"nprobe")
          .orderBy($"cos".desc, $"vec_id".asc)
        val annTop = cands
          .withColumn("rn", row_number().over(wAnn)).filter($"rn" <= 3)
          .groupBy($"query_id", $"nprobe")
          .agg(sort_array(collect_list(struct($"rn", $"vec_id"))).as("sx"))
          .select($"query_id", $"nprobe",
            transform($"sx", x => x.getField("vec_id")).as("an"))
        val scanned = cands.groupBy($"query_id", $"nprobe")
          .agg(count(lit(1)).as("n_scanned"))
        // exact truth per query (s11's arm)
        val wEx = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id".asc)
        val exact = e.join(broadcast(q), $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id", roundz(cosineSim($"v", $"qv"), 4).as("cos"))
          .withColumn("rn", row_number().over(wEx)).filter($"rn" <= 3)
          .groupBy($"query_id")
          .agg(sort_array(collect_list(struct($"rn", $"vec_id"))).as("sx"))
          .select($"query_id", transform($"sx", x => x.getField("vec_id")).as("ex"))
        // 40-row base so empty probe sets count as recall 0, not a dropped row
        val nprobes = s.range(1, 5).select($"id".cast("int").as("nprobe"))
        val base = q.select($"query_id").crossJoin(broadcast(nprobes))
        base
          .join(annTop, Seq("query_id", "nprobe"), "left")
          .join(scanned, Seq("query_id", "nprobe"), "left")
          .join(broadcast(exact), "query_id")
          .select($"nprobe",
            size(array_intersect(coalesce($"an", array().cast("array<bigint>")), $"ex"))
              .cast(LongType).as("hit"),
            coalesce($"n_scanned", lit(0L)).as("n_scanned"))
          .groupBy($"nprobe")
          .agg(count(lit(1)).as("n_queries"),
            sum($"hit").as("hits"), sum($"n_scanned").as("tot_scanned"))
          .crossJoin(broadcast(n1))
          .select($"nprobe", $"n_queries",
            roundz($"hits".cast(DoubleType) / ($"n_queries" * 3.0), 6).as("mean_recall_at_3"),
            roundz($"tot_scanned".cast(DoubleType) / ($"n_queries" * $"n_corpus"), 6)
              .as("mean_scanned_frac"))
          .orderBy($"nprobe")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        $centSql,
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        n1 AS (SELECT CAST(COUNT(*) - 1 AS DOUBLE) AS n_corpus FROM e),
        cellrank AS (
          SELECT query_id, c_label AS cell,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY (ROUND(${cosSql("cent.centroid", "q.qv")}, 4) + 0.0) DESC,
                            c_label ASC) AS crk
          FROM cent, q),
        querycells AS (
          SELECT query_id, g.nprobe, cell
          FROM cellrank, (SELECT unnest([1, 2, 3, 4]) AS nprobe) g
          WHERE crk <= g.nprobe),
        assign_scored AS (
          SELECT vec_id, v, c_label,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY (ROUND(${cosSql("e.v", "cent.centroid")}, 4) + 0.0) DESC,
                            c_label ASC) AS rn
          FROM e, cent),
        assign AS (SELECT vec_id, v, c_label AS cell FROM assign_scored WHERE rn = 1),
        cands AS (
          SELECT qc.query_id, qc.nprobe, a.vec_id,
                 (ROUND(${cosSql("a.v", "q.qv")}, 4) + 0.0) AS cos
          FROM assign a JOIN querycells qc USING (cell)
          JOIN q ON q.query_id = qc.query_id
          WHERE a.vec_id <> qc.query_id),
        ann_scored AS (
          SELECT query_id, nprobe, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id, nprobe
                   ORDER BY cos DESC, vec_id ASC) AS rn
          FROM cands),
        anntop AS (SELECT query_id, nprobe, list(vec_id ORDER BY rn) AS an
                   FROM ann_scored WHERE rn <= 3 GROUP BY query_id, nprobe),
        scanned AS (SELECT query_id, nprobe, COUNT(*) AS n_scanned
                    FROM cands GROUP BY query_id, nprobe),
        ex_scored AS (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) DESC,
                            vec_id ASC) AS rn
          FROM e, q WHERE vec_id <> query_id),
        ex AS (SELECT query_id, list(vec_id ORDER BY rn) AS ex
               FROM ex_scored WHERE rn <= 3 GROUP BY query_id),
        base AS (SELECT query_id, g.nprobe
                 FROM q, (SELECT unnest([1, 2, 3, 4]) AS nprobe) g),
        per AS (
          SELECT b.nprobe,
                 CAST(len(list_intersect(COALESCE(a.an, []::BIGINT[]), ex.ex)) AS BIGINT) AS hit,
                 COALESCE(s.n_scanned, 0) AS n_scanned
          FROM base b
          LEFT JOIN anntop a ON a.query_id = b.query_id AND a.nprobe = b.nprobe
          LEFT JOIN scanned s ON s.query_id = b.query_id AND s.nprobe = b.nprobe
          JOIN ex ON ex.query_id = b.query_id)
        SELECT nprobe, COUNT(*) AS n_queries,
               (ROUND(CAST(SUM(hit) AS DOUBLE) / (COUNT(*) * 3.0), 6) + 0.0) AS mean_recall_at_3,
               (ROUND(CAST(SUM(n_scanned) AS DOUBLE) / (COUNT(*) * n_corpus), 6) + 0.0) AS mean_scanned_frac
        FROM per, n1
        GROUP BY nprobe, n_corpus ORDER BY nprobe""")),

    // ── s18: NN-descent over s05's LSH-seeded k-NN graph, iterated to ──
    // CONVERGENCE (Dong et al., WWW'11): a node's improved neighbors hide
    // among its neighbors' neighbors, so each round's candidates = current
    // edges ∪ 2-hop paths through the UNDIRECTED graph (reverse edges
    // included — "x is my neighbor" is evidence in both directions),
    // rescored exactly, per-src top-2. Rounds repeat until the paper's
    // stop rule fires — the fraction of edges CHANGED by a round drops
    // under ε — or the bounded round cap (both in [[nnDescentRounds]]).
    // Every stage is an equality join on vec ids; candidate count is
    // bounded by (2k)² per node regardless of corpus size and SHRINKS as
    // the graph stabilizes — no pairwise stage, no broadcast of the
    // corpus. At 100 TB the graph table is materialized like the
    // signature store and each descent round is this same bounded
    // self-join. The output carries the data-dependent `rounds` the loop
    // actually ran; the oracle unrolls the cap statically and picks the
    // same round via the same rate rule, so the CONVERGENCE decision is
    // itself oracle-gated. PropertySpec pins the invariant that makes it
    // NN-DESCENT: per-src best cos is monotonically non-decreasing across
    // EVERY round (not just vs the seed).
    GQuery("s18_nn_descent",
      (s, d) => {
        import s.implicits._
        val (_, perRound, rounds) = nnDescentRounds(s, d)
        perRound.last
          .select($"src", $"rn", $"dst", $"cos", lit(rounds).as("rounds"))
          .orderBy($"src", $"rn")
      },
      // Oracle shape note (the sf1 lesson): the scoring CTEs project the
      // 64-double arrays away BEFORE any window — ranking rows that still
      // carry xv/yv made DuckDB materialize ~1 KB/row through the sort
      // (44M seed pairs ≈ 44 GB, >70 GB of temp spill at 20k vectors);
      // with (src, dst, cos) projections the same sweep runs in memory.
      // Values are identical: the rank keys are the same rounded cos.
      // norm-factored pair cosines — s05's discipline, both scoring CTEs.
      // Round-15 lesson, same family: the UNROLLED rounds reference knn
      // and each g_r 3-4 times (und/cand/rate/pick), and DuckDB
      // RE-EVALUATES a multi-referenced CTE unless MATERIALIZED — the
      // 44M-pair seed recomputed per reference turned a <1-min compare
      // into 40+. knn and g_r are AS MATERIALIZED (semantics-neutral;
      // Spark never parses this SQL).
      Some(s"""
        WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          (${signBucketSql("embedding", 6)}) AS bucket
                   FROM embeddings),
        e AS (SELECT vec_id, v, bucket, ${normSql("v")} AS nv FROM e0),
        probes AS (SELECT vec_id AS src, v AS xv, nv AS nx,
                          unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
                                  xor(bucket, 8), xor(bucket, 16), xor(bucket, 32)]) AS probe
                   FROM e),
        seed_cos AS (SELECT src, e.vec_id AS dst,
                            (ROUND(${cosineSimNormedSql("xv", "e.v", "nx", "e.nv")}, 4) + 0.0) AS cos
                     FROM probes JOIN e ON probes.probe = e.bucket
                                       AND probes.src <> e.vec_id),
        seed_scored AS (SELECT src, dst,
                               ROW_NUMBER() OVER (PARTITION BY src
                                 ORDER BY cos DESC, dst ASC) AS rn
                        FROM seed_cos),
        knn AS MATERIALIZED (SELECT src, dst FROM seed_scored WHERE rn <= 2),
        ${(1 to NnDescentMaxRounds).map(s18RoundSql).mkString(",\n        ")},
        pick AS (SELECT CASE ${(1 until NnDescentMaxRounds).map(r =>
          s"WHEN (SELECT rate FROM u$r) < $NnDescentEps THEN $r")
          .mkString(" ")} ELSE $NnDescentMaxRounds END AS k)
        SELECT src, rn, dst, cos, (SELECT k FROM pick) AS rounds
        FROM (${(1 to NnDescentMaxRounds).map(r =>
          s"SELECT src, rn, dst, cos, $r AS kk FROM g$r")
          .mkString("\n              UNION ALL ")})
        WHERE kk = (SELECT k FROM pick)
        ORDER BY src, rn""")),

    // ── s19: hybrid retrieval — reciprocal-rank fusion (RRF, k=60) of ──
    // the BM25 lexical arm (s16's scored frame, shared helper) and an
    // embedding-cosine arm over the SAME item space (doc_id ≡ vec_id,
    // m04's pairing; the per-query vector is the query_id's own
    // embedding — the encoder-stub seam, same as m03: production swaps
    // in a real query encoder, the fusion plan is unchanged). RRF is
    // THE standard way to combine rankers without score calibration:
    // score = Σ 1/(60+rank), missing arm contributes 0. Plan: each arm
    // reduces to a ≤10-row-per-query shortlist BEFORE fusion (ranking
    // windows over hit-sized frames), fusion is a full-outer equality
    // join of two tiny shortlists + one fixed double expression —
    // 1/(60+r) of an INTEGER rank is bit-identical cross-engine, no
    // score normalization anywhere. At 100 TB each arm scales on its
    // own terms (s16's map-side filter; s02/s06-style ANN for the
    // vector arm) and fusion cost stays |queries|×20.
    GQuery("s19_rrf_fusion",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val wLex = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
        val lex = bm25Scored(s, d)
          .withColumn("lex_rank", row_number().over(wLex))
          .filter($"lex_rank" <= 10)
          .select($"query_id", $"doc_id", $"lex_rank")
        val e = emb(s, d)
        val qv = e.filter($"vec_id".between(1, 4))
          .select($"vec_id".as("query_id"), $"embedding".as("qv"))
        val wVec = Window.partitionBy($"query_id").orderBy($"cos".desc, $"doc_id".asc)
        val vec = e.join(broadcast(qv), $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("doc_id"),
            roundz(cosineSim($"embedding", $"qv"), 4).as("cos"))
          .withColumn("vec_rank", row_number().over(wVec))
          .filter($"vec_rank" <= 10)
          .select($"query_id", $"doc_id", $"vec_rank")
        val wFuse = Window.partitionBy($"query_id").orderBy($"rrf_score".desc, $"doc_id".asc)
        lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
          .select($"query_id", $"doc_id", $"lex_rank", $"vec_rank",
            roundz(coalesce(lit(1.0) / (lit(60) + $"lex_rank"), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + $"vec_rank"), lit(0.0)), 6).as("rrf_score"))
          .withColumn("rn", row_number().over(wFuse))
          .filter($"rn" <= 5)
          .select($"query_id", $"rn", $"doc_id", $"lex_rank", $"vec_rank", $"rrf_score")
          .orderBy($"query_id", $"rn")
      },
      Some(s"""
        WITH $bm25ScoredSql,
        lex AS (SELECT query_id, doc_id, lex_rank FROM (
                  SELECT query_id, doc_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY score DESC, doc_id ASC) AS lex_rank
                  FROM scored) WHERE lex_rank <= 10),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id BETWEEN 1 AND 4),
        vec AS (SELECT query_id, doc_id, vec_rank FROM (
                  SELECT query_id, e.vec_id AS doc_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY (ROUND(${cosSql("e.v", "qv.qv")}, 4) + 0.0) DESC,
                                    e.vec_id ASC) AS vec_rank
                  FROM e, qv WHERE e.vec_id <> qv.query_id) WHERE vec_rank <= 10),
        fused AS (SELECT query_id, doc_id, lex_rank, vec_rank,
                         (ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + lex_rank), 0.0) +
                                COALESCE(CAST(1.0 AS DOUBLE) / (60 + vec_rank), 0.0), 6) + 0.0) AS rrf_score
                  FROM lex FULL JOIN vec USING (query_id, doc_id)),
        ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY rrf_score DESC, doc_id ASC) AS rn
                   FROM fused)
        SELECT query_id, rn, doc_id, lex_rank, vec_rank, rrf_score
        FROM ranked WHERE rn <= 5
        ORDER BY query_id, rn""")),

    // ── s20: MMR diversified retrieval — maximal marginal relevance ──
    // (Carbonell & Goldstein, λ=0.7) re-ranks a top-8 cosine shortlist
    // into 3 picks that trade relevance against redundancy: pick 1 =
    // most relevant; each later pick maximizes λ·rel − (1−λ)·max-sim-to-
    // already-picked. The dedup-aware retrieval shape (a near-dup pair
    // in a shortlist wastes a context slot). MMR is inherently
    // sequential, but k is a CONSTANT (3): each round is a window argmax
    // + equality join over the |q|×8 SHORTLIST frame — the corpus is
    // touched exactly once, by the arm that builds the shortlist (s03
    // brute force here; any ANN variant at scale). All similarities
    // rounded 4dp before the fixed λ-expression (rounded 6dp), so every
    // argmax compares identical doubles on both engines.
    GQuery("s20_mmr_diversify",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = emb(s, d).select($"vec_id", asDouble($"embedding").as("v"))
        val q = e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"v".as("qv"))
        val wRel = Window.partitionBy($"query_id").orderBy($"rel".desc, $"vec_id".asc)
        // shortlist: top-8 by relevance, vectors carried for the MMR sims.
        // Each pick is broadcast within its query partition via
        // first_value over the ranking window — no self-join, the whole
        // MMR recursion is one lineage over the |q|×8 frame.
        val shortlist = e.join(broadcast(q), $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id", $"v", roundz(cosineSim($"v", $"qv"), 4).as("rel"))
          .withColumn("rn", row_number().over(wRel))
          .filter($"rn" <= 8)
          .drop("rn")
          .withColumn("p1", first($"vec_id").over(wRel))
          .withColumn("p1v", first($"v").over(wRel))
          .withColumn("rel1", first($"rel").over(wRel))
        val s2 = shortlist.filter($"vec_id" =!= $"p1")
          .withColumn("mmr2", roundz(
            lit(0.7) * $"rel" - lit(0.3) * roundz(cosineSim($"v", $"p1v"), 4), 6))
        val wM2 = Window.partitionBy($"query_id").orderBy($"mmr2".desc, $"vec_id".asc)
        val s2x = s2
          .withColumn("p2", first($"vec_id").over(wM2))
          .withColumn("p2v", first($"v").over(wM2))
          .withColumn("mmr2sc", first($"mmr2").over(wM2))
        val s3 = s2x.filter($"vec_id" =!= $"p2")
          .withColumn("mmr3", roundz(
            lit(0.7) * $"rel" - lit(0.3) *
              greatest(roundz(cosineSim($"v", $"p1v"), 4),
                roundz(cosineSim($"v", $"p2v"), 4)), 6))
        val wM3 = Window.partitionBy($"query_id").orderBy($"mmr3".desc, $"vec_id".asc)
        // one surviving row per query carries all three picks; inline()
        // melts it to (pick, vec_id, mmr_score) — no union, so the
        // shortlist lineage (and its corpus scan) exists exactly once.
        s3.withColumn("rn3", row_number().over(wM3)).filter($"rn3" === 1)
          .select($"query_id", inline(array(
            struct(lit(1).as("pick"), $"p1".as("vec_id"), $"rel1".as("mmr_score")),
            struct(lit(2).as("pick"), $"p2".as("vec_id"), $"mmr2sc".as("mmr_score")),
            struct(lit(3).as("pick"), $"vec_id", $"mmr3".as("mmr_score")))))
          .orderBy($"query_id", $"pick")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        sl AS (SELECT query_id, vec_id, v, rel FROM (
                 SELECT q.query_id, e.vec_id, e.v,
                        (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) AS rel,
                        ROW_NUMBER() OVER (PARTITION BY q.query_id
                          ORDER BY (ROUND(${cosSql("e.v", "q.qv")}, 4) + 0.0) DESC,
                                   e.vec_id ASC) AS rn
                 FROM e, q WHERE e.vec_id <> q.query_id) WHERE rn <= 8),
        p1 AS (SELECT query_id, vec_id AS p1, v AS p1v, rel AS rel1 FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, vec_id ASC) AS rn FROM sl) WHERE rn = 1),
        s2 AS (SELECT sl.query_id, sl.vec_id, sl.v, sl.rel, p1.p1, p1.p1v,
                      (ROUND(0.7 * sl.rel - 0.3 * (ROUND(${cosSql("sl.v", "p1.p1v")}, 4) + 0.0), 6) + 0.0) AS mmr
               FROM sl JOIN p1 USING (query_id) WHERE sl.vec_id <> p1.p1),
        p2 AS (SELECT query_id, vec_id AS p2, v AS p2v, mmr AS mmr2 FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY mmr DESC, vec_id ASC) AS rn FROM s2) WHERE rn = 1),
        s3 AS (SELECT s2.query_id, s2.vec_id,
                      (ROUND(0.7 * s2.rel - 0.3 * GREATEST(
                        (ROUND(${cosSql("s2.v", "s2.p1v")}, 4) + 0.0),
                        (ROUND(${cosSql("s2.v", "p2.p2v")}, 4) + 0.0)), 6) + 0.0) AS mmr
               FROM s2 JOIN p2 USING (query_id) WHERE s2.vec_id <> p2.p2),
        p3 AS (SELECT query_id, vec_id AS p3, mmr AS mmr3 FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY mmr DESC, vec_id ASC) AS rn FROM s3) WHERE rn = 1)
        SELECT query_id, pick, vec_id, mmr_score FROM (
          SELECT query_id, 1 AS pick, p1 AS vec_id, rel1 AS mmr_score FROM p1
          UNION ALL
          SELECT query_id, 2, p2, mmr2 FROM p2
          UNION ALL
          SELECT query_id, 3, p3, mmr3 FROM p3)
        ORDER BY query_id, pick"""))
  )
}
