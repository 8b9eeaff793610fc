package graft.operators

import graft.{GQuery, Tables}
import graft.GQuery._
import graft.functions.TextFunctions._
import graft.sources.{Chain, CorpusLayout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Corpus-pipeline utilities (SURVEY.md §2.I): deterministic dataset
  * splitting and stratified sampling — the bookkeeping every training-data
  * pipeline needs between dedup and tokenization.
  *
  * Scale discipline: both operators are pure single-scan column
  * expressions — no shuffle, no state, no RNG. Membership is decided by
  * the portable md5-derived [[hash64]] of the document id, so the split
  * is (a) reproducible run-to-run and engine-to-engine (the DuckDB
  * oracle computes the identical buckets), (b) stable under corpus
  * growth — adding documents never reassigns existing ones, unlike
  * `sample()`/`randomSplit()` whose draw depends on partition layout.
  * At 100 TB this is a partition-parallel scan that keeps filter
  * pushdown intact; nothing here gets worse with corpus size.
  */
object Pipeline {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "documents")

  /** Write the corpus documents into a query-local dir and hand back a
    * SCHEMA-PINNED re-read (optimization r15): the bare
    * `s.read.parquet(...)` each lifecycle query used to re-read its own
    * staged corpus ran a footer-inference Spark job on every execution —
    * the schema is the frame just written, so pin it and skip the job.
    */
  private def stageDocs(s: SparkSession, d: String, corpus: String): DataFrame = {
    val src = docs(s, d)
    src.write.parquet(s"$corpus/documents.parquet")
    // seed the schema memo: the layout materialize that follows re-reads
    // this very file and now re-plans without an inference job either
    Tables.seedSchema(s"$corpus/documents.parquet", src.schema)
    s.read.schema(src.schema).parquet(s"$corpus/documents.parquet")
  }

  /** Run a lifecycle query's `body` over a PRIVATE sandbox corpus dir
    * (own temp dir, own layout key): the bench session serves the shared
    * corpus through its own layout and signature store, and a lifecycle
    * verb here must not mutate state other queries read. The layout conf
    * is set when the session has none, the merge mode when one is given;
    * afterwards both chains of the sandbox corpus are dropped
    * ([[graft.sources.CorpusLayout.drop]] — registrations and files, also
    * under a pre-set layout conf), the confs restored and the dir deleted.
    */
  private def withLayoutSandbox[T](s: SparkSession, tag: String,
                                   mergeMode: Option[String] = None)
                                  (body: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    val corpus = tmp.toString + "/corpus"
    val prevConf = s.conf.getOption(CorpusLayout.ConfKey)
    if (prevConf.isEmpty)
      s.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    val prevMode = s.conf.getOption(MergeOps.MergeModeKey)
    mergeMode.foreach(s.conf.set(MergeOps.MergeModeKey, _))
    try body(corpus)
    finally {
      CorpusLayout.drop(s, corpus)
      if (mergeMode.isDefined) prevMode match {
        case Some(v) => s.conf.set(MergeOps.MergeModeKey, v)
        case None => s.conf.unset(MergeOps.MergeModeKey)
      }
      if (prevConf.isEmpty) s.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }

  /** DuckDB mirror of hash64(prefix || doc_id) (see TextFunctions.hash64). */
  private def hashSql(prefix: String): String =
    s"CAST('0x' || substr(md5('$prefix' || doc_id), 1, 15) AS BIGINT)"

  val all: Seq[GQuery] = Seq(

    // ── p01: deterministic train/validation/test split — hash-bucket the ──
    // doc id into 100 buckets (80/10/10). The salt ("split:") decorrelates
    // this draw from every other hash use (sampling, minhash), so split
    // membership is independent of, e.g., which LSH bucket a doc lands in.
    GQuery("p01_split_assign",
      (s, d) => {
        import s.implicits._
        docs(s, d)
          .select($"doc_id", $"lang",
            (hash64(concat(lit("split:"), $"doc_id")) % 100).as("bucket"))
          .withColumn("split",
            when($"bucket" < 80, "train")
              .when($"bucket" < 90, "validation")
              .otherwise("test"))
          .orderBy($"doc_id")
      },
      Some(s"""
        SELECT doc_id, lang,
               ${hashSql("split:")} % 100 AS bucket,
               CASE WHEN ${hashSql("split:")} % 100 < 80 THEN 'train'
                    WHEN ${hashSql("split:")} % 100 < 90 THEN 'validation'
                    ELSE 'test' END AS split
        FROM documents ORDER BY doc_id""")),

    // ── p02: stratified downsampling — per-language keep rates (head ──
    // language halved, tail languages kept whole; the standard rebalance
    // before tokenization). keep ⇔ hash64("sample:"||id) mod 10k falls
    // under the stratum's threshold: exact expected rate, zero shuffle,
    // deterministic membership.
    GQuery("p02_stratified_sample",
      (s, d) => {
        import s.implicits._
        docs(s, d)
          .withColumn("threshold", when($"lang" === "en", 5000).otherwise(10000))
          .filter(hash64(concat(lit("sample:"), $"doc_id")) % 10000 < $"threshold")
          .select($"doc_id", $"lang", $"source")
          .orderBy($"doc_id")
      },
      Some(s"""
        SELECT doc_id, lang, source
        FROM documents
        WHERE ${hashSql("sample:")} % 10000 <
              CASE WHEN lang = 'en' THEN 5000 ELSE 10000 END
        ORDER BY doc_id""")),

    // ── p03: source-weighted mixing — replicate each document `repeat` ──
    // times (its epoch count in the training mix), Pile/Dolma-style
    // upsampling of scarce strata. Explode-based replication: a Generate
    // over a scan, no shuffle, output rows = Σ repeat. At 100 TB the
    // repeat factor rides along to the shuffle-free writer; nothing is
    // ever materialized per-epoch on the driver.
    GQuery("p03_source_mix",
      (s, d) => {
        import s.implicits._
        docs(s, d)
          .withColumn("repeat",
            when($"source".isin("src0", "src2", "src4"), 3)
              .when($"lang" =!= "en", 2)
              .otherwise(1))
          .select($"doc_id", $"lang", $"source", $"repeat",
            explode(expr("sequence(1, repeat)")).as("epoch"))
          .orderBy($"doc_id", $"epoch")
      },
      Some("""
        SELECT doc_id, lang, source, repeat, CAST(e.e + 1 AS INT) AS epoch
        FROM (SELECT doc_id, lang, source,
                     CASE WHEN source IN ('src0', 'src2', 'src4') THEN 3
                          WHEN lang <> 'en' THEN 2
                          ELSE 1 END AS repeat
              FROM documents) w,
             (SELECT unnest(range(3)) AS e) e
        WHERE e.e < repeat
        ORDER BY doc_id, epoch""")),

    // ── p04: token-budget packing — concatenate documents in id order ──
    // within each (lang, source) stratum and cut 500-token shards from
    // the running offset (pretraining chunk layout). The cumulative sum
    // is a window PER STRATUM, so strata pack in parallel; a single
    // global ordering here would serialize the corpus through one
    // partition — the per-stratum partitionBy IS the scale design.
    GQuery("p04_token_pack",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"lang", $"source").orderBy($"doc_id")
        docs(s, d)
          .select($"doc_id", $"lang", $"source",
            size(split($"text", " ")).cast("long").as("n_tokens"))
          .withColumn("cum_tokens", sum($"n_tokens").over(w))
          .withColumn("shard", expr("(cum_tokens - n_tokens) div 500"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id, lang, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(SUM(len(string_split(text, ' ')))
                      OVER (PARTITION BY lang, source ORDER BY doc_id) AS BIGINT) AS cum_tokens,
               CAST((SUM(len(string_split(text, ' ')))
                       OVER (PARTITION BY lang, source ORDER BY doc_id)
                     - len(string_split(text, ' '))) // 500 AS BIGINT) AS shard
        FROM documents
        ORDER BY doc_id""")),

    // ── p05: the capstone composition — quality gate → exact-dedup keep ──
    // → split assignment, chained as ONE declarative plan so Catalyst
    // optimizes across stage boundaries (the md5 is computed once, the
    // token-count filter runs before anything shuffles). Dedup keep =
    // min-id per content hash, enforced by an equality join back on
    // (hash, id) — co-partitioned with the aggregate that produced it.
    GQuery("p05_corpus_pipeline",
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
          .select($"doc_id", $"lang",
            size(split($"text", " ")).cast("long").as("n_tokens"),
            md5($"text").as("ch"))
          .filter($"n_tokens" >= 30)
        val keep = base.groupBy($"ch").agg(min($"doc_id").as("doc_id"))
        base.join(keep, Seq("ch", "doc_id"))
          .withColumn("bucket", hash64(concat(lit("split:"), $"doc_id")) % 100)
          .select($"doc_id", $"lang", $"n_tokens",
            when($"bucket" < 80, "train")
              .when($"bucket" < 90, "validation")
              .otherwise("test").as("split"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 md5(text) AS ch
          FROM documents
          WHERE len(string_split(text, ' ')) >= 30),
        keep AS (SELECT ch, MIN(doc_id) AS doc_id FROM base GROUP BY ch)
        SELECT doc_id, lang, n_tokens,
               CASE WHEN ${hashSql("split:")} % 100 < 80 THEN 'train'
                    WHEN ${hashSql("split:")} % 100 < 90 THEN 'validation'
                    ELSE 'test' END AS split
        FROM base JOIN keep USING (ch, doc_id)
        ORDER BY doc_id""")),

    // ── p06: near-dup cluster representative selection — after clustering ──
    // (d08's connected components over minhash pairs), each cluster keeps
    // ONE document: the longest (max n_chars), ties to the min doc_id —
    // the "keep the most complete copy" rule real pipelines use instead
    // of blind min-id. Plan: the component frame (node → cluster label)
    // equality-joins the documents table on doc_id — co-partitioned,
    // never pairwise — then a per-cluster ranking window picks the
    // representative and a sibling aggregate carries cluster size.
    // Cluster count ≪ corpus, so both shuffles are on the small
    // component frame; the corpus itself is touched once, by the join.
    GQuery("p06_cluster_representative",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val comp = Dedup.dupComponents(s, d)
        val j = comp.join(
          docs(s, d).select($"doc_id", $"n_chars"), $"node" === $"doc_id")
        val w = Window.partitionBy($"label").orderBy($"n_chars".desc, $"doc_id".asc)
        val members = j.groupBy($"label")
          .agg(count(lit(1)).as("n_members"), sum($"n_chars").as("total_chars"))
        j.withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"label", $"doc_id".as("rep_id"), $"n_chars".as("rep_chars"))
          .join(members, "label")
          .select($"label".as("component"), $"rep_id", $"rep_chars",
            $"n_members", $"total_chars")
          .orderBy($"component")
      },
      Some(s"""
        WITH RECURSIVE ${Dedup.componentSql},
        j AS (SELECT c.component, d.doc_id, d.n_chars
              FROM comp c JOIN documents d ON c.node = d.doc_id),
        ranked AS (SELECT component, doc_id, n_chars,
                          ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
                   FROM j),
        members AS (SELECT component, COUNT(*) AS n_members,
                           CAST(SUM(n_chars) AS BIGINT) AS total_chars
                    FROM j GROUP BY component)
        SELECT r.component, r.doc_id AS rep_id, r.n_chars AS rep_chars,
               m.n_members, m.total_chars
        FROM ranked r JOIN members m ON r.component = m.component
        WHERE r.rn = 1 ORDER BY r.component""")),

    // ── p07: deterministic training order — the "epoch shuffle" written ──
    // as data layout: every doc gets a shard (hash bucket) and a position
    // within its shard (rank of a second, salted hash). Readers stream
    // shards independently in position order — a reproducible global
    // permutation with NO global sort: the only shuffle is the per-shard
    // ranking window, and shards pack in parallel (p04's principle). The
    // anti-pattern (ORDER BY rand() over the corpus) is a full sort with
    // a nondeterministic draw; this is stable run-to-run, engine-to-
    // engine, and under corpus growth existing (shard, pos) pairs only
    // shift within their own shard. Shard count (8 here, matching the
    // oracle) is the parallelism knob: at cluster scale it is set ≥ the
    // writer parallelism (thousands), keeping every ranking window small.
    GQuery("p07_training_order",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val shardKey = hash64(concat(lit("order:"), $"doc_id"))
        val posKey = hash64(concat(lit("pos:"), $"doc_id"))
        val w = Window.partitionBy($"shard").orderBy($"sort_key".asc, $"doc_id".asc)
        docs(s, d)
          .select($"doc_id", (shardKey % 8).as("shard"), posKey.as("sort_key"))
          .withColumn("pos", row_number().over(w))
          .select($"doc_id", $"shard", $"pos")
          .orderBy($"shard", $"pos")
      },
      Some(s"""
        SELECT doc_id,
               ${hashSql("order:")} % 8 AS shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY ${hashSql("order:")} % 8
                 ORDER BY ${hashSql("pos:")} ASC, doc_id ASC) AS INT) AS pos
        FROM documents
        ORDER BY shard, pos""")),

    // ── p08: the end-to-end corpus build — quality gate → exact-dedup ──
    // keep → benchmark decontamination → split assignment → shard layout,
    // chained as ONE declarative plan (p05's capstone extended with the
    // d10 decontamination stage and p07's shard key). Catalyst optimizes
    // across all five stages: the token-count filter runs before anything
    // shuffles, the md5 and split-hash are computed once, the dedup keep
    // is a co-partitioned equality join-back, the contamination probe
    // broadcasts the eval split's distinct 13-gram hashes, and the
    // contaminated-doc drop is a LEFT ANTI join on doc_id. Nothing in
    // the composition is pairwise; the corpus shuffles only for the
    // dedup aggregate and its join-back.
    GQuery("p08_clean_corpus",
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
          .select($"doc_id", $"lang", $"text",
            size(split($"text", " ")).cast("long").as("n_tokens"),
            md5($"text").as("ch"),
            (hash64(concat(lit("split:"), $"doc_id")) % 100).as("bucket"))
          .filter($"n_tokens" >= 30)
        val keep = base.groupBy($"ch").agg(min($"doc_id").as("doc_id"))
        val ded = base.join(keep, Seq("ch", "doc_id"))
        def grams(df: DataFrame) = df
          .select($"doc_id", explode(array_distinct(shingles(tokens($"text"), 13))).as("g"))
          .select($"doc_id", hash64($"g").as("h"))
        val evalg = grams(base.filter($"bucket" >= 90)).select($"h").distinct()
        val contam = grams(ded.filter($"bucket" < 90))
          .join(broadcast(evalg), "h").select($"doc_id").distinct()
        ded.join(contam, Seq("doc_id"), "left_anti")
          .select($"doc_id", $"lang", $"n_tokens",
            when($"bucket" < 80, "train")
              .when($"bucket" < 90, "validation")
              .otherwise("test").as("split"),
            (hash64(concat(lit("order:"), $"doc_id")) % 8).as("shard"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, lang, text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 md5(text) AS ch,
                 ${hashSql("split:")} % 100 AS bucket
          FROM documents
          WHERE len(string_split(text, ' ')) >= 30),
        keep AS (SELECT ch, MIN(doc_id) AS doc_id FROM base GROUP BY ch),
        ded AS (SELECT base.* FROM base JOIN keep USING (ch, doc_id)),
        grams AS (
          SELECT doc_id, bucket,
                 CAST('0x' || substr(md5(unnest(list_distinct(
                   list_transform(range(1, len(string_split(text, ' ')) - 11),
                     i -> array_to_string(string_split(text, ' ')[i : i + 12], ' '))))), 1, 15) AS BIGINT) AS h
          FROM base),
        evalg AS (SELECT DISTINCT h FROM grams WHERE bucket >= 90),
        contam AS (SELECT DISTINCT g.doc_id
                   FROM grams g JOIN ded USING (doc_id) JOIN evalg USING (h)
                   WHERE g.bucket < 90)
        SELECT doc_id, lang, n_tokens,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'validation'
                    ELSE 'test' END AS split,
               ${hashSql("order:")} % 8 AS shard
        FROM ded
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        ORDER BY doc_id""")),

    // ── p09: dataset card — the per-(lang, source) stratum report every ──
    // released corpus ships: volume (docs, tokens), exact-dup rate,
    // eval-contamination rate (d10's rule), and mean quality (t03's
    // formula). One grouped reduction over per-doc flags: the dup flag
    // joins the content-hash frequency back on ch (co-partitioned with
    // the aggregate that built it), the contamination flag joins the
    // broadcast eval-gram probe, and the quality mean uses the DECIMAL-
    // exact round-then-sum so float order can't wobble the card. Output
    // rows = #strata; every input is touched once.
    GQuery("p09_dataset_card",
      (s, d) => {
        import s.implicits._
        val toks = tokens($"text")
        val nTok = size(toks).cast(DoubleType)
        val quality =
          roundz(least($"n_chars".cast(DoubleType) / 500.0, lit(1.0)) * 0.4 +
            (lit(1.0) - size(filter(toks, t => t.isInCollection(Set("the", "a"))))
              .cast(DoubleType) / nTok) * 0.3 +
            (size(array_distinct(toks)).cast(DoubleType) / nTok) * 0.3, 6)
        val base = docs(s, d)
          .select($"doc_id", $"lang", $"source", $"text",
            size(split($"text", " ")).cast("long").as("n_tokens"),
            md5($"text").as("ch"),
            (hash64(concat(lit("split:"), $"doc_id")) % 100).as("bucket"),
            quality.cast(DecimalType(18, 6)).as("q"))
        val dupn = base.groupBy($"ch").agg(count(lit(1)).as("ch_n"))
        def grams(df: DataFrame) = df
          .select($"doc_id", explode(array_distinct(shingles(tokens($"text"), 13))).as("g"))
          .select($"doc_id", hash64($"g").as("h"))
        val evalg = grams(base.filter($"bucket" >= 90)).select($"h").distinct()
        val contam = grams(base.filter($"bucket" < 90))
          .join(broadcast(evalg), "h").select($"doc_id").distinct()
          .withColumn("is_contam", lit(1L))
        base.join(dupn, "ch")
          .join(contam, Seq("doc_id"), "left")
          .groupBy($"lang", $"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("total_tokens"),
            sum(when($"ch_n" > 1, 1L).otherwise(0L)).as("n_dup_docs"),
            sum(coalesce($"is_contam", lit(0L))).as("n_contaminated"),
            roundz(sum($"q").cast(DoubleType) / count(lit(1)), 6).as("avg_quality"))
          .orderBy($"lang", $"source")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, lang, source, text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 md5(text) AS ch,
                 ${hashSql("split:")} % 100 AS bucket,
                 CAST((ROUND(least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4 +
                   (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE)
                     / len(string_split(text, ' '))) * 0.3 +
                   (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' '))) * 0.3, 6) + 0.0) AS DECIMAL(18,6)) AS q
          FROM documents),
        dupn AS (SELECT ch, COUNT(*) AS ch_n FROM base GROUP BY ch),
        grams AS (
          SELECT doc_id, bucket,
                 CAST('0x' || substr(md5(unnest(list_distinct(
                   list_transform(range(1, len(string_split(text, ' ')) - 11),
                     i -> array_to_string(string_split(text, ' ')[i : i + 12], ' '))))), 1, 15) AS BIGINT) AS h
          FROM base),
        evalg AS (SELECT DISTINCT h FROM grams WHERE bucket >= 90),
        contam AS (SELECT DISTINCT doc_id FROM grams JOIN evalg USING (h) WHERE bucket < 90)
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN dupn.ch_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
               CAST(SUM(CASE WHEN contam.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
               (ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*), 6) + 0.0) AS avg_quality
        FROM base JOIN dupn USING (ch)
             LEFT JOIN contam ON base.doc_id = contam.doc_id
        GROUP BY lang, source
        ORDER BY lang, source""")),

    // ── p10: token-budget-constrained mixture sampling — given a target ──
    // token budget per source, derive each source's keep rate and sample
    // deterministically at exactly that rate (the "fit the mix into N
    // tokens" step between mixing weights and tokenization). The rate is
    // EXACT INTEGER arithmetic end-to-end: rate_ppm = min(1e6,
    // budget·1e6 DIV source_tokens) — a float rate would floor
    // differently across engines at quotient boundaries. Membership is
    // the p02 hash-threshold (stable under growth, no RNG); the tiny
    // per-source rate table broadcasts back onto the scan, so the corpus
    // shuffles only for the per-source totals (map-side partial agg).
    GQuery("p10_budget_mix",
      (s, d) => {
        import s.implicits._
        val budget = 3000L * 1000000L
        val base = docs(s, d)
          .select($"doc_id", $"source",
            size(split($"text", " ")).cast("long").as("n_tokens"))
        val rate = base.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("total_tokens"))
          .withColumn("rate_ppm",
            least(lit(1000000L), expr(s"$budget DIV total_tokens")))
        base.join(broadcast(rate), "source")
          .withColumn("keep",
            hash64(concat(lit("mix:"), $"doc_id")) % 1000000 < $"rate_ppm")
          .groupBy($"source")
          .agg(max($"n_docs").as("n_docs"),
            max($"total_tokens").as("total_tokens"),
            max($"rate_ppm").as("rate_ppm"),
            sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
            sum(when($"keep", $"n_tokens").otherwise(0L)).as("kept_tokens"))
          .orderBy($"source")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
        rate AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 LEAST(1000000, 3000000000 // CAST(SUM(n_tokens) AS BIGINT)) AS rate_ppm
          FROM base GROUP BY source)
        SELECT source, MAX(n_docs) AS n_docs, MAX(total_tokens) AS total_tokens,
               MAX(rate_ppm) AS rate_ppm,
               CAST(SUM(CASE WHEN ${hashSql("mix:")} % 1000000 < rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN ${hashSql("mix:")} % 1000000 < rate_ppm THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
        FROM base JOIN rate USING (source)
        GROUP BY source ORDER BY source""")),

    // ── p11: shard manifest — the writer-side summary every corpus ──
    // release ships per (split, shard): doc count, token volume, and a
    // content checksum readers verify against. The checksum is an
    // order-free exact modular sum of per-doc hashes: Spark sums in
    // DECIMAL(38,0) (500 docs × 2^60 overflows BIGINT silently), DuckDB
    // in HUGEINT, both reduced mod the same prime — bit-identical
    // (t09's pattern). One grouped reduction over p08's layout keys;
    // output rows = splits × shards.
    GQuery("p11_shard_manifest",
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
          .select($"doc_id",
            size(split($"text", " ")).cast("long").as("n_tokens"),
            (hash64(concat(lit("split:"), $"doc_id")) % 100).as("bucket"),
            (hash64(concat(lit("order:"), $"doc_id")) % 8).as("shard"),
            hash64(concat(lit("ck:"), $"doc_id")).cast(DecimalType(38, 0)).as("ck"))
          .withColumn("split",
            when($"bucket" < 80, "train")
              .when($"bucket" < 90, "validation")
              .otherwise("test"))
        base.groupBy($"split", $"shard")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("total_tokens"),
            min($"doc_id").as("first_doc"),
            max($"doc_id").as("last_doc"),
            (sum($"ck") % 1000000007L).cast("long").as("checksum"))
          .orderBy($"split", $"shard")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 ${hashSql("split:")} % 100 AS bucket,
                 ${hashSql("order:")} % 8 AS shard,
                 ${hashSql("ck:")} AS ck
          FROM documents)
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'validation'
                    ELSE 'test' END AS split,
               shard, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
               CAST(SUM(ck) % 1000000007 AS BIGINT) AS checksum
        FROM base GROUP BY split, shard ORDER BY split, shard""")),

    // ── p12: exact-k uniform sample — the "eyeball 100 random docs" / ──
    // eval-subset draw. ORDER BY salted-hash LIMIT k is a deterministic
    // uniform k-sample WITHOUT replacement that plans as
    // TakeOrderedAndProject: per-partition top-k then a k-row merge —
    // no global sort, no RNG, and the draw is independent of partition
    // layout (unlike df.sample/TABLESAMPLE, whose output changes when
    // the file split changes). Re-running on a grown corpus re-draws
    // fairly over the new population, which is what a sample should do.
    GQuery("p12_uniform_sample",
      (s, d) => {
        import s.implicits._
        docs(s, d)
          .select($"doc_id", $"lang", $"source",
            hash64(concat(lit("usamp:"), $"doc_id")).as("h"))
          .orderBy($"h".asc, $"doc_id".asc)
          .limit(100)
      },
      Some(s"""
        SELECT doc_id, lang, source, ${hashSql("usamp:")} AS h
        FROM documents ORDER BY h ASC, doc_id ASC LIMIT 100""")),

    // ── p13: log₂ length histogram — corpus length profiling (the ──
    // power-law sanity check run before choosing sequence lengths).
    // Bucket = floor(log₂ n_chars): log₂ of a positive integer is an
    // IEEE-exact double op on both engines, so the floor cannot
    // straddle; bucket bounds come back from integer arithmetic. One
    // partial-agg'd groupBy on a ~10-value key; shares divide by a
    // window total over the tiny aggregate, never re-scanning the docs.
    GQuery("p13_length_histogram",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        docs(s, d)
          .filter($"n_chars" > 0)
          .select(floor(log(2.0, $"n_chars")).as("bucket"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("lo", expr("CAST(pow(2, bucket) AS BIGINT)"))
          .withColumn("hi", expr("CAST(pow(2, bucket + 1) AS BIGINT) - 1"))
          .withColumn("share",
            roundz($"n_docs".cast(DoubleType) /
              sum($"n_docs").over(Window.partitionBy()), 6))
          .select($"bucket", $"lo", $"hi", $"n_docs", $"share")
          .orderBy($"bucket")
      },
      Some("""
        WITH b AS (SELECT CAST(floor(log2(n_chars)) AS BIGINT) AS bucket
                   FROM documents WHERE n_chars > 0),
        h AS (SELECT bucket, COUNT(*) AS n_docs FROM b GROUP BY bucket)
        SELECT bucket, CAST(2**bucket AS BIGINT) AS lo,
               CAST(2**(bucket+1) AS BIGINT) - 1 AS hi, n_docs,
               (ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6) + 0.0) AS share
        FROM h ORDER BY bucket""")),

    // ── p14: shard-quota apportionment — split a fixed shard budget ──
    // (S = 1000) across (lang, source) strata proportional to token
    // volume by the LARGEST-REMAINDER method: quotas sum to exactly S,
    // every stratum gets ⌊S·tᵢ/T⌋ plus one of the L leftover shards by
    // remainder rank. ALL-INTEGER arithmetic (DIV/MOD on BIGINT — a
    // float quota would round differently at engine boundaries) with a
    // total (remainder DESC, lang, source) tie-break. The strata frame
    // is tiny (≤ langs×sources): the windows run on the aggregate, the
    // corpus is touched once for the token totals.
    GQuery("p14_shard_quota",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val S = 1000L
        val strata = docs(s, d)
          .select($"lang", $"source", size(split($"text", " ")).cast("long").as("n"))
          .groupBy($"lang", $"source")
          .agg(sum($"n").as("tokens"))
        val wAll = Window.partitionBy()
        val wRank = Window.partitionBy().orderBy($"rem".desc, $"lang".asc, $"source".asc)
        strata
          .withColumn("total", sum($"tokens").over(wAll))
          .withColumn("base", expr(s"($S * tokens) DIV total"))
          .withColumn("rem", expr(s"($S * tokens) % total"))
          .withColumn("leftover", lit(S) - sum($"base").over(wAll))
          .withColumn("rk", row_number().over(wRank))
          .select($"lang", $"source", $"tokens",
            ($"base" + when($"rk" <= $"leftover", 1L).otherwise(0L)).as("shards"))
          .orderBy($"lang", $"source")
      },
      Some("""
        WITH strata AS (
          SELECT lang, source,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
          FROM documents GROUP BY lang, source),
        q AS (
          SELECT lang, source, tokens,
                 SUM(tokens) OVER () AS total,
                 (1000 * tokens) // SUM(tokens) OVER () AS base,
                 (1000 * tokens) % (SUM(tokens) OVER ()) AS rem
          FROM strata),
        r AS (
          SELECT lang, source, tokens, base, rem,
                 1000 - SUM(base) OVER () AS leftover,
                 ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC, source ASC) AS rk
          FROM q)
        SELECT lang, source, tokens,
               CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS shards
        FROM r ORDER BY lang, source""")),

    // ── p15: cleanroom sample — p12's deterministic draw restricted to ──
    // docs that are NOT redundant near-dup copies (an eval set with two
    // copies of one document double-counts that document's score). A doc
    // survives iff it is a singleton or its cluster's keeper (d08's
    // min-id label); the drop is a LEFT ANTI equality join on doc_id
    // against the (tiny) non-keeper side of the component frame — the
    // corpus never joins pairwise, and the draw stays a TakeOrdered.
    GQuery("p15_cleanroom_sample",
      (s, d) => {
        import s.implicits._
        val dupes = Dedup.dupComponents(s, d)
          .filter($"node" =!= $"label").select($"node".as("doc_id"))
        docs(s, d).join(dupes, Seq("doc_id"), "left_anti")
          .select($"doc_id", $"lang", $"source",
            hash64(concat(lit("cls:"), $"doc_id")).as("h"))
          .orderBy($"h".asc, $"doc_id".asc)
          .limit(50)
      },
      Some(s"""
        WITH RECURSIVE ${Dedup.componentSql},
        dup AS (SELECT node AS doc_id FROM comp WHERE node <> component)
        SELECT doc_id, lang, source, ${hashSql("cls:")} AS h
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        ORDER BY h ASC, doc_id ASC LIMIT 50""")),

    // ── p16: split-leakage audit — near-dup pairs that CROSS the ──
    // train/validation/test boundary: a test doc whose near-copy sits in
    // train inflates eval scores exactly like d10's verbatim
    // contamination, but survives gram-level decontamination. The
    // LSH-bounded pair frame (d02) joins the pure-scan split assignment
    // (p01) twice by doc-id equality; output is the |splits|² leakage
    // matrix plus the offending pair count — at 100 TB the pair frame
    // is the small side, the corpus is never re-scanned beyond p01's
    // hash projection.
    GQuery("p16_split_leakage",
      (s, d) => {
        import s.implicits._
        val split = docs(s, d).select($"doc_id",
          when(hash64(concat(lit("split:"), $"doc_id")) % 100 < 80, "train")
            .when(hash64(concat(lit("split:"), $"doc_id")) % 100 < 90, "validation")
            .otherwise("test").as("split"))
        Dedup.minhashPairs(s, d)
          .join(split.select($"doc_id".as("i"), $"split".as("split_i")), "i")
          .join(split.select($"doc_id".as("j"), $"split".as("split_j")), "j")
          .select(least($"split_i", $"split_j").as("split_a"),
            greatest($"split_i", $"split_j").as("split_b"))
          .groupBy($"split_a", $"split_b")
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("leaks", $"split_a" =!= $"split_b")
          .orderBy($"split_a", $"split_b")
      },
      Some(s"""
        WITH ${Dedup.pairSql},
        split AS (
          SELECT doc_id,
                 CASE WHEN ${hashSql("split:")} % 100 < 80 THEN 'train'
                      WHEN ${hashSql("split:")} % 100 < 90 THEN 'validation'
                      ELSE 'test' END AS split
          FROM documents),
        m AS (SELECT LEAST(si.split, sj.split) AS split_a,
                     GREATEST(si.split, sj.split) AS split_b
              FROM p JOIN split si ON p.i = si.doc_id
                     JOIN split sj ON p.j = sj.doc_id)
        SELECT split_a, split_b, COUNT(*) AS n_pairs,
               split_a <> split_b AS leaks
        FROM m GROUP BY split_a, split_b ORDER BY split_a, split_b""")),

    // ── p17: corpus release diff — added / removed / changed / unchanged ──
    // docs between two corpus versions (r10's registry diff at corpus
    // scale): the Delta-style audit a release pipeline prints before
    // publishing v2. Version 2 is derived deterministically here (every
    // 50th doc dropped, every 7th re-crawled with a changed header);
    // comparison is FULL OUTER on doc_id with both sides hashed to their
    // 128-bit content key FIRST — the join carries (id, hash), never
    // text, and co-partitions on the id both releases share. Output is
    // the 4-row status rollup with volume deltas.
    GQuery("p17_corpus_diff",
      (s, d) => {
        import s.implicits._
        val v1 = docs(s, d).select($"doc_id", md5($"text").as("h1"),
          $"n_chars".cast("long").as("b1"))
        val v2 = docs(s, d).filter($"doc_id" % 50 =!= 0)
          .select($"doc_id",
            md5(when($"doc_id" % 7 === 0, concat(lit("recrawl-v2 "), $"text"))
              .otherwise($"text")).as("h2"),
            when($"doc_id" % 7 === 0, $"n_chars" + 11).otherwise($"n_chars")
              .cast("long").as("b2"))
          // synthetic "added" ids live on the NEGATIVE axis — a fixed
          // positive offset (the old +1e6) collides with genuine doc_ids
          // once the corpus exceeds the offset, silently reclassifying
          // added rows as changed/unchanged on BOTH engines.
          .unionAll(docs(s, d).filter($"doc_id" % 97 === 0)
            .select((-($"doc_id" + 1L)).cast("long").as("doc_id"),
              md5(concat(lit("new-crawl "), $"text")).as("h2"),
              ($"n_chars" + 10).cast("long").as("b2")))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .withColumn("status",
            when($"h1".isNull, "added")
              .when($"h2".isNull, "removed")
              .when($"h1" =!= $"h2", "changed")
              .otherwise("unchanged"))
          .groupBy($"status")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce($"b2", lit(0L)) - coalesce($"b1", lit(0L))).as("byte_delta"))
          .orderBy($"status")
      },
      Some("""
        WITH v1 AS (SELECT doc_id, md5(text) AS h1, CAST(n_chars AS BIGINT) AS b1
                    FROM documents),
        v2 AS (SELECT doc_id,
                      md5(CASE WHEN doc_id % 7 = 0 THEN 'recrawl-v2 ' || text ELSE text END) AS h2,
                      CAST(CASE WHEN doc_id % 7 = 0 THEN n_chars + 11 ELSE n_chars END AS BIGINT) AS b2
               FROM documents WHERE doc_id % 50 <> 0
               UNION ALL
               SELECT -(doc_id + 1), md5('new-crawl ' || text),
                      CAST(n_chars + 10 AS BIGINT)
               FROM documents WHERE doc_id % 97 = 0),
        j AS (
          SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
                      WHEN v2.doc_id IS NULL THEN 'removed'
                      WHEN h1 <> h2 THEN 'changed'
                      ELSE 'unchanged' END AS status,
                 COALESCE(b2, 0) - COALESCE(b1, 0) AS delta
          FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        SELECT status, COUNT(*) AS n_docs,
               CAST(SUM(delta) AS BIGINT) AS byte_delta
        FROM j GROUP BY status ORDER BY status""")),

    // ── p18: curriculum ordering — stage docs easy→hard for staged ──
    // pretraining: quality (t03/p09's formula) cut at FIXED thresholds
    // into stages, then p07's salted-hash order WITHIN (stage, shard).
    // Deliberately not ntile: a global quantile window funnels the corpus
    // through one partition, and quantile stage boundaries shift as the
    // corpus grows — absolute cuts keep a doc's stage stable under
    // ingest (the p01 growth-stability law) and keep every ranking
    // window (stage × shard) small. Threshold compares on the ROUNDED
    // score, so the cut is bit-identical cross-engine.
    GQuery("p18_curriculum_order",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val toks = tokens($"text")
        val nTok = size(toks).cast(DoubleType)
        val quality =
          roundz(least($"n_chars".cast(DoubleType) / 500.0, lit(1.0)) * 0.4 +
            (lit(1.0) - size(filter(toks, t => t.isInCollection(Set("the", "a"))))
              .cast(DoubleType) / nTok) * 0.3 +
            (size(array_distinct(toks)).cast(DoubleType) / nTok) * 0.3, 6)
        val w = Window.partitionBy($"stage", $"shard")
          .orderBy($"sort_key".asc, $"doc_id".asc)
        docs(s, d)
          .select($"doc_id", quality.as("q"),
            (hash64(concat(lit("order:"), $"doc_id")) % 8).as("shard"),
            hash64(concat(lit("pos:"), $"doc_id")).as("sort_key"))
          .withColumn("stage",
            when($"q" < 0.6, 0).when($"q" < 0.7, 1).when($"q" < 0.8, 2).otherwise(3))
          .withColumn("pos", row_number().over(w))
          .select($"doc_id", $"stage", $"shard", $"pos")
          .orderBy($"stage", $"shard", $"pos")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id,
                 (ROUND(least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4 +
                   (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE)
                     / len(string_split(text, ' '))) * 0.3 +
                   (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' '))) * 0.3, 6) + 0.0) AS q,
                 ${hashSql("order:")} % 8 AS shard,
                 ${hashSql("pos:")} AS sort_key
          FROM documents),
        staged AS (
          SELECT doc_id, shard, sort_key,
                 CASE WHEN q < 0.6 THEN 0 WHEN q < 0.7 THEN 1
                      WHEN q < 0.8 THEN 2 ELSE 3 END AS stage
          FROM base)
        SELECT doc_id, stage, shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY stage, shard
                 ORDER BY sort_key ASC, doc_id ASC) AS INT) AS pos
        FROM staged ORDER BY stage, shard, pos""")),

    // ── p19: context-window chunked packing — p04 packs WHOLE documents; ──
    // real pretraining packing first splits every document (+2 BOS/EOS
    // overhead tokens) into ≤64-token chunks, then cuts 2048-token
    // shards from the per-stratum running total. The chunk explode is a
    // Generate bounded by ceil(tokens/64) (capped at 4000 chunks ≈ 256k
    // tokens on BOTH sides, m02's discipline); packing stays the
    // per-stratum window — strata pack in parallel, no global order.
    GQuery("p19_chunked_pack",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val base = docs(s, d).select($"doc_id", $"lang",
          (size(split($"text", " ")) + 2).cast("long").as("nt"))
        val chunks = base
          .select($"doc_id", $"lang", $"nt",
            posexplode(expr("sequence(0L, least((nt - 1) DIV 64, 3999L))")))
          .select($"doc_id", $"lang", $"pos".cast("int").as("chunk_idx"),
            least(lit(64L), $"nt" - $"pos" * 64L).as("chunk_tokens"))
        val w = Window.partitionBy($"lang").orderBy($"doc_id".asc, $"chunk_idx".asc)
        chunks.withColumn("cum", sum($"chunk_tokens").over(w))
          .select($"doc_id", $"lang", $"chunk_idx", $"chunk_tokens",
            expr("(cum - chunk_tokens) DIV 2048").as("shard"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang,
                 CAST(len(string_split(text, ' ')) + 2 AS BIGINT) AS nt
          FROM documents),
        chunks AS (
          SELECT doc_id, lang, CAST(k.k AS INT) AS chunk_idx,
                 CAST(LEAST(64, nt - k.k * 64) AS BIGINT) AS chunk_tokens
          FROM base, (SELECT unnest(range(0, 4000)) AS k) k
          WHERE k.k <= LEAST((nt - 1) // 64, 3999)),
        packed AS (
          SELECT doc_id, lang, chunk_idx, chunk_tokens,
                 SUM(chunk_tokens) OVER (PARTITION BY lang
                   ORDER BY doc_id, chunk_idx) AS cum
          FROM chunks)
        SELECT doc_id, lang, chunk_idx, chunk_tokens,
               CAST((cum - chunk_tokens) // 2048 AS BIGINT) AS shard
        FROM packed ORDER BY doc_id, chunk_idx""")),

    // ── p20: quality-weighted importance sampling — keep each document ──
    // with probability equal to its quality score (DCLM-style soft
    // filtering: a hard cutoff throws away every mid-quality doc; the
    // weighted draw keeps them in proportion). keep ⇔ salted hash mod 1e6
    // falls under floor(q·1e6): deterministic (no RNG), stable under
    // corpus growth (p02's law — a doc's draw never changes), exact
    // expected rate, zero shuffle. The q·1e6 floor runs on the ROUNDED
    // score, so both engines compute identical thresholds bit-for-bit.
    GQuery("p20_importance_sample",
      (s, d) => {
        import s.implicits._
        val toks = tokens($"text")
        val nTok = size(toks).cast(DoubleType)
        val quality =
          roundz(least($"n_chars".cast(DoubleType) / 500.0, lit(1.0)) * 0.4 +
            (lit(1.0) - size(filter(toks, t => t.isInCollection(Set("the", "a"))))
              .cast(DoubleType) / nTok) * 0.3 +
            (size(array_distinct(toks)).cast(DoubleType) / nTok) * 0.3, 6)
        docs(s, d)
          .select($"doc_id", $"lang", quality.as("q"),
            (hash64(concat(lit("imp:"), $"doc_id")) % 1000000L).as("draw"))
          .filter($"draw" < floor($"q" * 1000000.0).cast("long"))
          .select($"doc_id", $"lang", $"q")
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, lang,
                 (ROUND(least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4 +
                   (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE)
                     / len(string_split(text, ' '))) * 0.3 +
                   (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' '))) * 0.3, 6) + 0.0) AS q,
                 ${hashSql("imp:")} % 1000000 AS draw
          FROM documents)
        SELECT doc_id, lang, q
        FROM base
        WHERE draw < CAST(FLOOR(q * 1000000.0) AS BIGINT)
        ORDER BY doc_id""")),

    // ── p21: epoch allocation under a token budget — the data- ──
    // constrained-scaling planner (Muennighoff'23): each source has a
    // target mixture weight and a finite token supply; repeating a source
    // beyond ~4 epochs stops paying, so desired = weight × budget is
    // capped at 4 × supply and the stranded budget is re-spread over the
    // uncapped sources in ONE waterfall round (pro-rata by weight,
    // re-capped — documented as one round, not a fixpoint: in practice
    // mixes converge in 1–2 rounds and a deterministic plan beats an
    // iterative one). Everything after the per-source token rollup is
    // window math over |sources| rows (20 here, hundreds in production)
    // — a driver-sized frame; the corpus is touched exactly once.
    // Weights derive from the source index (w ∝ idx+1) so both engines
    // compute them identically; integer micro-token units keep every
    // allocation exact (no float redistribution drift).
    GQuery("p21_epoch_plan",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val R = 4L          // max useful epochs per source
        val strata = docs(s, d)
          .select($"source", size(split($"text", " ")).cast("long").as("n"))
          .groupBy($"source")
          .agg(sum($"n").as("tokens"))
          .withColumn("w_raw", expr("CAST(substring(source, 4) AS BIGINT) + 1"))
        val wAll = Window.partitionBy()
        strata
          .withColumn("budget", sum($"tokens").over(wAll) * 3L)
          .withColumn("w_sum", sum($"w_raw").over(wAll))
          .withColumn("desired", expr(s"(budget * w_raw) DIV w_sum"))
          .withColumn("cap", $"tokens" * R)
          .withColumn("alloc0", least($"desired", $"cap"))
          .withColumn("stranded", sum($"desired" - $"alloc0").over(wAll))
          .withColumn("w_open",
            sum(when($"alloc0" < $"cap", $"w_raw").otherwise(lit(0L))).over(wAll))
          .withColumn("alloc",
            when($"alloc0" < $"cap",
              least($"cap", $"alloc0" + expr("(stranded * w_raw) DIV w_open")))
              .otherwise($"alloc0"))
          .withColumn("epochs_milli", expr(s"(alloc * 1000) DIV tokens"))
          .select($"source", $"tokens", $"w_raw", $"desired", $"alloc", $"epochs_milli")
          .orderBy($"source")
      },
      Some("""
        WITH strata AS (
          SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
                 CAST(substring(source, 4) AS BIGINT) + 1 AS w_raw
          FROM documents GROUP BY source),
        tot AS (
          SELECT *, SUM(tokens) OVER () * 3 AS budget, SUM(w_raw) OVER () AS w_sum
          FROM strata),
        first_pass AS (
          SELECT *, (budget * w_raw) // w_sum AS desired, tokens * 4 AS cap,
                 LEAST((budget * w_raw) // w_sum, tokens * 4) AS alloc0
          FROM tot),
        spread AS (
          SELECT *, SUM(desired - alloc0) OVER () AS stranded,
                 SUM(CASE WHEN alloc0 < cap THEN w_raw ELSE 0 END) OVER () AS w_open
          FROM first_pass)
        SELECT source, CAST(tokens AS BIGINT) AS tokens, w_raw,
               CAST(desired AS BIGINT) AS desired,
               CAST(CASE WHEN alloc0 < cap
                    THEN LEAST(cap, alloc0 + (stranded * w_raw) // w_open)
                    ELSE alloc0 END AS BIGINT) AS alloc,
               CAST((CASE WHEN alloc0 < cap
                    THEN LEAST(cap, alloc0 + (stranded * w_raw) // w_open)
                    ELSE alloc0 END * 1000) // tokens AS BIGINT) AS epochs_milli
        FROM spread ORDER BY source""")),

    // ── p22: packing-efficiency audit — how much of p04's shard capacity ──
    // the corpus actually fills, per (lang, source) stratum. p04 cuts
    // 500-token shards from the running per-stratum offset, so a stratum
    // with T total tokens occupies ceil(T/500) shards and pads the last
    // one with 500·ceil(T/500) − T wasted slots; the fill_rate column is
    // the number packing changes (sequence-length choice, stratum merge)
    // get judged by. Pure integer arithmetic off ONE partial-agg'd
    // groupBy — the audit never materializes the packed layout itself.
    GQuery("p22_pack_efficiency",
      (s, d) => {
        import s.implicits._
        docs(s, d)
          .select($"lang", $"source",
            size(split($"text", " ")).cast("long").as("n_tokens"))
          .groupBy($"lang", $"source")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("total_tokens"))
          .withColumn("n_shards", expr("(total_tokens + 499) div 500"))
          .select($"lang", $"source", $"n_docs", $"total_tokens", $"n_shards",
            ($"n_shards" * 500 - $"total_tokens").as("waste_tokens"),
            roundz($"total_tokens".cast(DoubleType) / ($"n_shards" * 500), 6).as("fill_rate"))
          .orderBy($"lang", $"source")
      },
      Some("""
        WITH t AS (SELECT lang, source, COUNT(*) AS n_docs,
                          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
                   FROM documents GROUP BY lang, source),
        s AS (SELECT lang, source, n_docs, total_tokens,
                     CAST((total_tokens + 499) // 500 AS BIGINT) AS n_shards
              FROM t)
        SELECT lang, source, n_docs, total_tokens, n_shards,
               CAST(n_shards * 500 - total_tokens AS BIGINT) AS waste_tokens,
               (ROUND(CAST(total_tokens AS DOUBLE) / (n_shards * 500), 6) + 0.0) AS fill_rate
        FROM s ORDER BY lang, source""")),

    // ── p23: temperature-scaled source mixing — sampling shares ∝ ──
    // mass^(1/T) with T=2 (multilingual-LM rebalancing: big sources
    // damped toward the mean, scarce sources boosted; T=1 is
    // proportional, T→∞ uniform). All corpus-sized work is ONE two-phase
    // groupBy; everything after runs on the |sources|-row frame. Float
    // discipline: each sqrt is rounded then fixed as DECIMAL(18,6) so
    // the normalizing sum is EXACT (a raw double Σ over sources would be
    // addition-order-dependent across engines); shares divide the exact
    // numerators once.
    GQuery("p23_temperature_mix",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val wAll = Window.partitionBy()
        docs(s, d)
          .select($"source", size(split($"text", " ")).cast("long").as("n"))
          .groupBy($"source").agg(sum($"n").as("raw_tokens"))
          .withColumn("w",
            roundz(sqrt($"raw_tokens".cast(DoubleType)), 6).cast(DecimalType(18, 6)))
          .withColumn("total_tokens", sum($"raw_tokens").over(wAll))
          .withColumn("total_w", sum($"w").over(wAll))
          .select($"source", $"raw_tokens",
            roundz($"raw_tokens".cast(DoubleType) / $"total_tokens", 6).as("raw_share"),
            roundz($"w".cast(DoubleType) / $"total_w".cast(DoubleType), 6).as("temp_share"))
          .withColumn("upsample", roundz($"temp_share" / $"raw_share", 6))
          .orderBy($"source")
      },
      Some("""
        WITH src AS (
          SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS raw_tokens
          FROM documents GROUP BY source),
        w AS (SELECT source, raw_tokens,
                     CAST((ROUND(sqrt(CAST(raw_tokens AS DOUBLE)), 6) + 0.0) AS DECIMAL(18,6)) AS w
              FROM src),
        t AS (SELECT source, raw_tokens, w,
                     CAST(SUM(raw_tokens) OVER () AS BIGINT) AS total_tokens,
                     SUM(w) OVER () AS total_w
              FROM w),
        f AS (SELECT source, raw_tokens,
                     (ROUND(CAST(raw_tokens AS DOUBLE) / total_tokens, 6) + 0.0) AS raw_share,
                     (ROUND(CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE), 6) + 0.0) AS temp_share
              FROM t)
        SELECT source, raw_tokens, raw_share, temp_share,
               (ROUND(temp_share / raw_share, 6) + 0.0) AS upsample
        FROM f ORDER BY source""")),

    // ── p24: cross-split leakage audit — p01's hash split crossed with ──
    // d10's 13-gram probe: how many validation/test documents share any
    // 13-gram with the TRAIN split (the eval-integrity number a
    // pipeline owner signs off on before publishing a benchmark score;
    // p01 guarantees id-disjointness, this measures CONTENT
    // disjointness). Plan: grams collapse to 64-bit hashes in-scan
    // (text never re-shuffles), the train side reduces to a DISTINCT
    // hash set, and each held-out doc's grams semi-join it on the
    // uniform hash key — at 100 TB that's a hash-partitioned equality
    // join where the probe side is the small 20% split, and the train
    // gram set never materializes per-doc state. Output is the 2-row
    // per-split report: integer counts plus one rounded division.
    GQuery("p24_split_leakage",
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
          .select($"doc_id", $"text",
            (hash64(concat(lit("split:"), $"doc_id")) % 100).as("bucket"))
          .withColumn("split",
            when($"bucket" < 80, "train")
              .when($"bucket" < 90, "validation")
              .otherwise("test"))
        def grams(df: DataFrame) = df
          .select($"doc_id", $"split",
            explode(array_distinct(shingles(tokens($"text"), 13))).as("g"))
          .select($"doc_id", $"split", hash64($"g").as("h"))
        val traing = grams(base.filter($"split" === "train")).select($"h").distinct()
        val heldg = grams(base.filter($"split" =!= "train"))
        val leaked = heldg.join(traing, Seq("h"), "left_semi")
          .select($"doc_id", $"split").distinct()
          .groupBy($"split").agg(count(lit(1)).as("n_leaked"))
        base.filter($"split" =!= "train")
          .groupBy($"split").agg(count(lit(1)).as("n_docs"))
          .join(leaked, Seq("split"), "left")
          .select($"split", $"n_docs",
            coalesce($"n_leaked", lit(0L)).as("n_leaked"),
            roundz(coalesce($"n_leaked", lit(0L)).cast(DoubleType) / $"n_docs", 6)
              .as("leak_frac"))
          .orderBy($"split")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, text,
                 CASE WHEN CAST('0x' || substr(md5('split:' || doc_id), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
                      WHEN CAST('0x' || substr(md5('split:' || doc_id), 1, 15) AS BIGINT) % 100 < 90 THEN 'validation'
                      ELSE 'test' END AS split
          FROM documents),
        ts AS (SELECT doc_id, split, string_split(text, ' ') AS ts FROM base),
        grams AS (
          SELECT doc_id, split,
                 CAST('0x' || substr(md5(unnest(list_distinct(
                   list_transform(range(1, len(ts) - 11),
                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
                          ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] || ' ' ||
                          ts[i+8] || ' ' || ts[i+9] || ' ' || ts[i+10] || ' ' || ts[i+11] || ' ' ||
                          ts[i+12])))), 1, 15) AS BIGINT) AS h
          FROM ts),
        traing AS (SELECT DISTINCT h FROM grams WHERE split = 'train'),
        leaked AS (SELECT split, COUNT(*) AS n_leaked FROM (
                     SELECT DISTINCT g.doc_id, g.split
                     FROM grams g SEMI JOIN traing t ON g.h = t.h
                     WHERE g.split <> 'train') GROUP BY split),
        per AS (SELECT split, COUNT(*) AS n_docs FROM base
                WHERE split <> 'train' GROUP BY split)
        SELECT per.split, per.n_docs,
               CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked,
               (ROUND(CAST(COALESCE(l.n_leaked, 0) AS DOUBLE) / per.n_docs, 6) + 0.0) AS leak_frac
        FROM per LEFT JOIN leaked l ON per.split = l.split
        ORDER BY per.split""")),

    // ── p25: dedup-aware epoch budget — the number a pipeline owner ──
    // actually trains on: d17's per-source EFFECTIVE token mass (copies
    // discounted to weight 1/n) re-mixed through p23's sqrt-temperature,
    // then allocated against a fixed 100k-token epoch budget, with the
    // implied epochs-over-source (>1 ⇒ that source repeats within one
    // epoch). Composes the two upstream disciplines unchanged: the
    // dedup discount stays exact integer micro-tokens, each sqrt weight
    // is rounded then FIXED as DECIMAL so the normalizing sum is exact,
    // and every output rate is one rounded double expression. The only
    // corpus-sized work is d17's hash groupBy; everything after lives
    // on |sources| rows.
    GQuery("p25_dedup_budget",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val wAll = Window.partitionBy()
        val base = docs(s, d).select($"doc_id", $"source", $"text")
        val clones = base.filter($"doc_id" % 13 === 0)
        val corpus = base
          .unionAll(clones.select((-$"doc_id" * 2 - 1).as("doc_id"), $"source", $"text"))
          .unionAll(clones.select((-$"doc_id" * 2 - 2).as("doc_id"), $"source", $"text"))
          .select($"source",
            size(split($"text", " ")).cast("long").as("n_tokens"),
            md5($"text").as("h"))
        val eff = corpus
          .join(corpus.groupBy($"h").agg(count(lit(1)).as("n_copies")), "h")
          .groupBy($"source")
          .agg(sum(expr("(n_tokens * 1000000) DIV n_copies")).as("eff_utokens"))
        eff
          .withColumn("w",
            roundz(sqrt($"eff_utokens".cast(DoubleType) / 1000000.0), 6)
              .cast(DecimalType(18, 6)))
          .withColumn("total_w", sum($"w").over(wAll))
          .select($"source",
            expr("eff_utokens DIV 1000000").as("effective_tokens"),
            roundz($"w".cast(DoubleType) / $"total_w".cast(DoubleType), 6).as("temp_share"))
          .withColumn("alloc_tokens", roundz($"temp_share" * 100000, 4))
          .withColumn("epochs_over_source",
            roundz($"alloc_tokens" / $"effective_tokens".cast(DoubleType), 6))
          .orderBy($"source")
      },
      Some("""
        WITH clones AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 13 = 0),
        corpus AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL SELECT -doc_id * 2 - 1, source, text FROM clones
          UNION ALL SELECT -doc_id * 2 - 2, source, text FROM clones),
        hashed AS (
          SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 md5(text) AS h
          FROM corpus),
        eff AS (
          SELECT source,
                 CAST(SUM((n_tokens * 1000000) // c.n_copies) AS BIGINT) AS eff_utokens
          FROM hashed JOIN (SELECT h, COUNT(*) AS n_copies FROM hashed GROUP BY h) c
          USING (h)
          GROUP BY source),
        w AS (SELECT source, eff_utokens,
                     CAST((ROUND(sqrt(CAST(eff_utokens AS DOUBLE) / 1000000.0), 6) + 0.0)
                       AS DECIMAL(18,6)) AS w
              FROM eff),
        t AS (SELECT source, eff_utokens, w, SUM(w) OVER () AS total_w FROM w),
        f AS (SELECT source,
                     CAST(eff_utokens // 1000000 AS BIGINT) AS effective_tokens,
                     (ROUND(CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE), 6) + 0.0) AS temp_share
              FROM t),
        a AS (SELECT *, (ROUND(temp_share * 100000, 4) + 0.0) AS alloc_tokens FROM f)
        SELECT source, effective_tokens, temp_share, alloc_tokens,
               (ROUND(alloc_tokens / CAST(effective_tokens AS DOUBLE), 6) + 0.0) AS epochs_over_source
        FROM a ORDER BY source""")),

    // ── p26: CDC MERGE apply — the verb that closes the incremental ──
    // lifecycle: p17 diffs two releases, [[MergeOps.changeset]] renders
    // that row-level diff APPLICABLE (upserts + tombstones), and
    // [[MergeOps.applyChanges]] merges it into the old corpus
    // (matched→update, not-matched→insert, matched+tombstone→delete).
    // The Spark side deliberately takes the LONG way — derive v2, diff it
    // back against v1, apply the changeset to v1 — while the oracle
    // computes v2 DIRECTLY, so the cross-engine check is the operator's
    // defining law: apply(v1, changeset(v1, v2)) ≡ v2, row for row.
    // Scenario constants are p17's (every 50th dropped, every 7th
    // re-crawled, every 97th added on the negative axis). At 100 TB the
    // corpus is touched once by the diff's (id, hash) scan and once by
    // the apply's anti-join — text never rides a diff join, and over the
    // bucketed CorpusLayout the apply ships zero Exchange on the corpus
    // side (MergeSpec pins the plan; applyToLayout writes the result
    // back bucket-aligned as a new generation).
    GQuery("p26_merge_apply",
      (s, d) => {
        import s.implicits._
        val v1 = docs(s, d)
          .select($"doc_id", $"text", $"n_chars".cast("long").as("n_bytes"))
        val v2 = docs(s, d).filter($"doc_id" % 50 =!= 0)
          .select($"doc_id",
            when($"doc_id" % 7 === 0, concat(lit("recrawl-v2 "), $"text"))
              .otherwise($"text").as("text"),
            when($"doc_id" % 7 === 0, $"n_chars" + 11).otherwise($"n_chars")
              .cast("long").as("n_bytes"))
          .unionAll(docs(s, d).filter($"doc_id" % 97 === 0)
            .select((-($"doc_id" + 1L)).cast("long").as("doc_id"),
              concat(lit("new-crawl "), $"text").as("text"),
              ($"n_chars" + 10).cast("long").as("n_bytes")))
        MergeOps.applyChanges(v1, MergeOps.changeset(v1, v2))
          .select($"doc_id", md5($"text").as("h"), $"n_bytes")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               md5(CASE WHEN doc_id % 7 = 0 THEN 'recrawl-v2 ' || text ELSE text END) AS h,
               CAST(CASE WHEN doc_id % 7 = 0 THEN n_chars + 11 ELSE n_chars END AS BIGINT) AS n_bytes
        FROM documents WHERE doc_id % 50 <> 0
        UNION ALL
        SELECT -(doc_id + 1), md5('new-crawl ' || text), CAST(n_chars + 10 AS BIGINT)
        FROM documents WHERE doc_id % 97 = 0
        ORDER BY doc_id"""))
    ,

    // ── p27: manifest-pruned selective scan — the FILE-SKIPPING read ──
    // path end-to-end: z-order the corpus (files become axis-aligned
    // boxes in (n_chars, doc_id) space), stat it ([[graft.sources
    // .StatsManifest]], one column-pruned pass), then answer a selective
    // conjunction by reading ONLY the files whose min/max intervals can
    // match — at 10⁶ files a planning query against the tiny manifest
    // replaces 10⁶ footer reads and task launches. The string conjunct
    // (source IN …) deliberately does NOT correlate with the z-layout:
    // it prunes nothing and is satisfied by the residual filter, pinning
    // that pruning + re-filter compose exactly. The oracle is the plain
    // filter — value-identical rows prove skipping never changes the
    // answer (the soundness law StatsManifestSpec stresses file-by-file).
    // Like d25, the build cost is INSIDE the query by design: the gate
    // times the lifecycle (layout write + stat pass + pruned read), not
    // just the happy read.
    GQuery("p27_pruned_scan",
      (s, d) => {
        import s.implicits._
        import graft.sources.{StatsManifest, ZOrderLayout}
        val tmp = java.nio.file.Files.createTempDirectory("graft_p27")
        val lay = tmp.toString + "/zdocs"
        ZOrderLayout.write(
          docs(s, d).select($"doc_id", $"lang", $"source", $"n_chars"),
          Seq("n_chars", "doc_id"), lay)
        StatsManifest.build(s, lay, Seq("doc_id", "n_chars", "source"))
        val res = StatsManifest.scan(s, lay, Seq(
            StatsManifest.BetweenStat("n_chars", 100, 160),
            StatsManifest.InStat("source", Seq("src3", "src7"))))
          .select($"doc_id", $"lang", $"source", $"n_chars")
          .orderBy($"doc_id")
          // materialize (lineage cut from the temp layout) so the
          // temp files can be deleted before the frame is consumed
          .localCheckpoint()
        graft.FsUtil.deleteRecursively(tmp)
        res
      },
      Some("""
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE n_chars BETWEEN 100 AND 160 AND source IN ('src3', 'src7')
        ORDER BY doc_id""")),

    // ── p28: partial-column MERGE (UPDATE SET) through the durable ──
    // layout path — the sparse-changeset capstone. The changeset carries
    // ONLY (doc_id, lang, n_chars, tombstone): updates SET lang='xx' and
    // n_chars=NULL (presence means SET — the explicit-NULL overwrite a
    // coalesce-based expansion would silently lose), absent columns
    // (text, source) keep the matched row's value and read NULL for
    // inserted keys; tombstones delete by key alone. It flows through
    // [[MergeOps.applyToLayout]](partial=true) — expandPartial's one
    // changeset-key semi-join, the copy-on-write bucket rewrite, a real
    // served generation read back — while the DuckDB oracle composes the
    // same edit directly (UPDATE..SET as CASE + DELETE as WHERE + INSERT
    // as UNION ALL), so the cross-engine law is apply(v1, sparse) ≡ v2
    // value-for-value, including the NULL-vs-carry distinction. Runs in
    // a PRIVATE sandbox corpus (own dir, own layout key): the bench
    // session serves the shared corpus through its own layout and
    // signature store, and a MERGE here must not mutate state other
    // queries read — a store keyed on the sandbox corpus doesn't exist,
    // so the auto index applies are no-ops by contract. Like p27/d25,
    // the lifecycle cost (corpus copy + layout build + apply) is inside
    // the query by design.
    GQuery("p28_partial_update",
      (s, d) => {
        import s.implicits._
        withLayoutSandbox(s, "p28") { corpus =>
          val staged = stageDocs(s, d, corpus)
          CorpusLayout.materialize(s, corpus, tables = Seq("documents"))
          val base = staged
          val updates = base
            .filter($"doc_id" % 11 === 0 && $"doc_id" % 13 =!= 0)
            .select($"doc_id", lit("xx").as("lang"),
              lit(null).cast("long").as("n_chars"),
              lit(false).as(MergeOps.TombstoneCol))
          val deletes = base.filter($"doc_id" % 13 === 0)
            .select($"doc_id", lit(null).cast("string").as("lang"),
              lit(null).cast("long").as("n_chars"),
              lit(true).as(MergeOps.TombstoneCol))
          val inserts = base.filter($"doc_id" % 101 === 0)
            .select((-($"doc_id" + 1L)).as("doc_id"), lit("new").as("lang"),
              lit(7L).as("n_chars"), lit(false).as(MergeOps.TombstoneCol))
          MergeOps.applyToLayout(s, corpus,
            updates.unionByName(deletes).unionByName(inserts), partial = true)
          Chain.flat(corpus).served(s).get
            .select($"doc_id", md5($"text").as("h"), $"lang", $"source",
              $"n_chars")
            .orderBy($"doc_id")
            // materialize (lineage cut from the sandbox) so its files
            // can be deleted before the frame is consumed
            .localCheckpoint()
        }
      },
      Some("""
        SELECT doc_id, md5(text) AS h,
               CASE WHEN doc_id % 11 = 0 THEN 'xx' ELSE lang END AS lang,
               source,
               CASE WHEN doc_id % 11 = 0 THEN NULL ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 13 <> 0
        UNION ALL
        SELECT -(doc_id + 1), NULL, 'new', NULL, 7
        FROM documents WHERE doc_id % 101 = 0
        ORDER BY doc_id"""))
    ,

    // ── p29: SQL MERGE INTO over the served layout — the SQL surface ──
    // of the same durable CDC verb p26/p28 drive through the Scala API.
    // Spark's stock parser yields MergeIntoTable and rejects v1 tables;
    // [[graft.plans.MergeIntoLayoutRule]] (injectResolutionRule, the
    // AsOfHintRule recipe at the command tier) claims the plan when the
    // target is a graft_cl_ layout table and lowers WHEN MATCHED
    // DELETE/UPDATE SET + WHEN NOT MATCHED INSERT onto
    // [[MergeOps.applyToLayout]]'s copy-on-write generation apply. The
    // statement exercises the full clause algebra: a conditioned DELETE
    // ordered before an UPDATE (SQL first-clause-wins), an UPDATE value
    // referencing BOTH sides (t.n_chars + s.bump), and an INSERT with
    // literals. DuckDB 1.0 has no MERGE, so the oracle composes the
    // identical edit as CASE/WHERE/UNION ALL (p28's recipe) — the
    // cross-engine law is sql-merge(v1, src) ≡ composed-v2, value for
    // value, through a REAL served-generation read-back. Same private
    // sandbox + in-query lifecycle-cost design as p28.
    GQuery("p29_sql_merge",
      (s, d) => {
        import s.implicits._
        withLayoutSandbox(s, "p29") { corpus =>
          val staged = stageDocs(s, d, corpus)
          try {
            CorpusLayout.materialize(s, corpus, tables = Seq("documents"))
            val t = CorpusLayout.tableName("documents", corpus)
            val base = staged
            base.filter($"doc_id" % 7 === 0 && $"doc_id" % 13 =!= 0)
              .select($"doc_id", lit("zz").as("new_lang"), lit(2L).as("bump"),
                lit(null).cast("string").as("new_text"), lit(false).as("is_del"))
              .unionByName(base.filter($"doc_id" % 13 === 0)
                .select($"doc_id", lit(null).cast("string").as("new_lang"),
                  lit(0L).as("bump"), lit(null).cast("string").as("new_text"),
                  lit(true).as("is_del")))
              .unionByName(base.filter($"doc_id" % 101 === 0)
                .select((-($"doc_id" + 1L)).as("doc_id"),
                  lit("new").as("new_lang"), lit(0L).as("bump"),
                  concat(lit("ins "), $"text").as("new_text"),
                  lit(false).as("is_del")))
              .createOrReplaceTempView("p29_changes")
            s.sql(
              s"""MERGE INTO $t t USING p29_changes s ON t.doc_id = s.doc_id
                 |WHEN MATCHED AND s.is_del THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET lang = s.new_lang,
                 |  n_chars = t.n_chars + s.bump
                 |WHEN NOT MATCHED THEN
                 |  INSERT (doc_id, text, lang, source, n_chars)
                 |  VALUES (s.doc_id, s.new_text, s.new_lang, 'sqlmerge', 5)
                 |""".stripMargin)
            Chain.flat(corpus).served(s).get
              .select($"doc_id", md5($"text").as("h"), $"lang", $"source",
                $"n_chars".cast("long").as("n_chars"))
              .orderBy($"doc_id")
              // materialize (lineage cut from the sandbox) so its files
              // can be deleted before the frame is consumed
              .localCheckpoint()
          } finally s.catalog.dropTempView("p29_changes")
        }
      },
      Some("""
        SELECT doc_id, md5(text) AS h,
               CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END AS lang,
               source,
               CAST(CASE WHEN doc_id % 7 = 0 THEN n_chars + 2 ELSE n_chars END AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 13 <> 0
        UNION ALL
        SELECT -(doc_id + 1), md5('ins ' || text), 'new', 'sqlmerge', 5
        FROM documents WHERE doc_id % 101 = 0
        ORDER BY doc_id"""))
    ,

    // ── p30: merge-on-read MERGE — p28's sparse-changeset flow with ──
    // the apply strategy flipped to deletion vectors
    // ([[MergeOps.MergeModeKey]] = mor): the generation hard-links
    // EVERY base file (zero data bytes written — the write-
    // amplification floor drops from bucketBytes to delta bytes) and
    // carries the batch as a `_dv/` sidecar the served read composes
    // (base ⊖ tombstones ∪ deltas — tombstone side is delta-sized, so
    // the anti-join broadcasts and the corpus never shuffles). The
    // oracle is the same composed edit as p28's recipe, so the cross-
    // engine law proves the MOR READ path end-to-end: expandPartial's
    // explicit-NULL-SET vs absent-carry distinction must survive the
    // sidecar fold and the composed read, value for value. MergeSpec
    // additionally pins CoW↔MOR parity, the hard-link/zero-bytes
    // property, and that compaction folds the sidecar away.
    GQuery("p30_mor_update",
      (s, d) => {
        import s.implicits._
        withLayoutSandbox(s, "p30", mergeMode = Some("mor")) { corpus =>
          val staged = stageDocs(s, d, corpus)
          CorpusLayout.materialize(s, corpus, tables = Seq("documents"))
          val base = staged
          val updates = base
            .filter($"doc_id" % 9 === 0 && $"doc_id" % 13 =!= 0)
            .select($"doc_id", lit("mm").as("lang"),
              lit(null).cast("long").as("n_chars"),
              lit(false).as(MergeOps.TombstoneCol))
          val deletes = base.filter($"doc_id" % 13 === 0)
            .select($"doc_id", lit(null).cast("string").as("lang"),
              lit(null).cast("long").as("n_chars"),
              lit(true).as(MergeOps.TombstoneCol))
          val inserts = base.filter($"doc_id" % 103 === 0)
            .select((-($"doc_id" + 1L)).as("doc_id"), lit("mor").as("lang"),
              lit(9L).as("n_chars"), lit(false).as(MergeOps.TombstoneCol))
          MergeOps.applyToLayout(s, corpus,
            updates.unionByName(deletes).unionByName(inserts), partial = true)
          Chain.flat(corpus).served(s).get
            .select($"doc_id", md5($"text").as("h"), $"lang", $"source",
              $"n_chars")
            .orderBy($"doc_id")
            // materialize (lineage cut from the sandbox) so its files
            // can be deleted before the frame is consumed
            .localCheckpoint()
        }
      },
      Some("""
        SELECT doc_id, md5(text) AS h,
               CASE WHEN doc_id % 9 = 0 THEN 'mm' ELSE lang END AS lang,
               source,
               CAST(CASE WHEN doc_id % 9 = 0 THEN NULL ELSE n_chars END AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 13 <> 0
        UNION ALL
        SELECT -(doc_id + 1), NULL, 'mor', NULL, 9
        FROM documents WHERE doc_id % 103 = 0
        ORDER BY doc_id"""))
    ,

    // ── p31: SQL time travel — `VERSION AS OF n` over the served ──
    // layout, the SQL spelling of [[MergeOps.readGeneration]]. Spark's
    // parser yields RelationTimeTravel and rejects v1 tables;
    // [[graft.plans.TimeTravelLayoutRule]] claims it for layout tables
    // and resolves to the generation's COMPOSED frame (dv sidecar +
    // column mapping + manifest-pruned scan). One statement reads BOTH
    // retained generations — the pre-apply corpus (v0) and the merged
    // result (v1) — so the oracle pins that time travel serves each
    // generation's exact contents, not the live table twice. Same
    // sandbox + lifecycle-in-query design as p28/p29/p30.
    GQuery("p31_sql_time_travel",
      (s, d) => {
        import s.implicits._
        withLayoutSandbox(s, "p31") { corpus =>
          val staged = stageDocs(s, d, corpus)
          CorpusLayout.materialize(s, corpus, tables = Seq("documents"))
          val t = CorpusLayout.tableName("documents", corpus)
          val base = staged
          val changes = base
            .filter($"doc_id" % 6 === 0 && $"doc_id" % 17 =!= 0)
            .select($"doc_id", concat(lit("tt "), $"text").as("text"),
              $"lang", $"source", $"n_chars")
            .withColumn(MergeOps.TombstoneCol, lit(false))
            .unionByName(base.filter($"doc_id" % 17 === 0)
              .select($"doc_id", lit(null).cast("string").as("text"),
                lit(null).cast("string").as("lang"),
                lit(null).cast("string").as("source"),
                lit(null).cast("long").as("n_chars"))
              .withColumn(MergeOps.TombstoneCol, lit(true)))
          MergeOps.applyToLayout(s, corpus, changes)
          s.sql(
            s"""SELECT doc_id, md5(text) AS h, 'v0' AS gen
               |FROM $t VERSION AS OF 0
               |UNION ALL
               |SELECT doc_id, md5(text) AS h, 'v1' AS gen
               |FROM $t VERSION AS OF 1
               |ORDER BY gen, doc_id
               |""".stripMargin)
            // materialize (lineage cut from the sandbox) so its files
            // can be deleted before the frame is consumed
            .localCheckpoint()
        }
      },
      Some("""
        SELECT doc_id, md5(text) AS h, 'v0' AS gen FROM documents
        UNION ALL
        SELECT doc_id,
               md5(CASE WHEN doc_id % 6 = 0 THEN 'tt ' || text ELSE text END) AS h,
               'v1' AS gen
        FROM documents WHERE doc_id % 17 <> 0
        ORDER BY gen, doc_id"""))
    ,

    // ── p32: SQL UPDATE over the served layout — the row-level verb ──
    // Spark's v1 path rejects at planning; [[graft.plans.DmlLayoutRule]]
    // claims the resolved UpdateTable and lowers it onto
    // [[MergeOps.applyToLayout]] as a PARTIAL changeset (key + assigned
    // columns only — the wide text column never rides; expandPartial
    // carries it from the matched row). RHS evaluate against the OLD
    // row (SQL's rule: the n_chars assignment reads the pre-update
    // value), and the WHERE filter plans over the manifest-pruned
    // served read. The oracle composes the identical edit as CASE.
    // Same private-sandbox lifecycle-in-query design as p28–p31.
    GQuery("p32_sql_update",
      (s, d) => {
        import s.implicits._
        withLayoutSandbox(s, "p32") { corpus =>
          docs(s, d).write.parquet(s"$corpus/documents.parquet")
          CorpusLayout.materialize(s, corpus, tables = Seq("documents"))
          val t = CorpusLayout.tableName("documents", corpus)
          s.sql(s"UPDATE $t SET lang = 'up', n_chars = n_chars + 2 " +
            "WHERE doc_id % 8 = 0")
          Chain.flat(corpus).served(s).get
            .select($"doc_id", md5($"text").as("h"), $"lang", $"source",
              $"n_chars".cast("long").as("n_chars"))
            .orderBy($"doc_id")
            .localCheckpoint() // lineage cut so the sandbox can delete
        }
      },
      Some("""
        SELECT doc_id, md5(text) AS h,
               CASE WHEN doc_id % 8 = 0 THEN 'up' ELSE lang END AS lang,
               source,
               CAST(CASE WHEN doc_id % 8 = 0 THEN n_chars + 2 ELSE n_chars END AS BIGINT) AS n_chars
        FROM documents
        ORDER BY doc_id"""))
    ,

    // ── p33: SQL DELETE + INSERT INTO over the served layout — the ──
    // other two row-level verbs through the same lowering: DELETE
    // tombstones carry the key ALONE (no payload rides the changeset);
    // INSERT INTO is full-row with unlisted columns NULL and rejects
    // existing keys loudly (upsert is spelled MERGE — without the
    // lowering, Spark's stock v1 INSERT would append RAW parquet into
    // the served generation dir, invisible to manifest and chain).
    // Two statements, one generation each, one composed oracle.
    GQuery("p33_sql_delete_insert",
      (s, d) => {
        import s.implicits._
        withLayoutSandbox(s, "p33") { corpus =>
          docs(s, d).write.parquet(s"$corpus/documents.parquet")
          CorpusLayout.materialize(s, corpus, tables = Seq("documents"))
          val t = CorpusLayout.tableName("documents", corpus)
          s.sql(s"DELETE FROM $t WHERE doc_id % 11 = 0")
          s.sql(s"INSERT INTO $t (doc_id, text, lang) " +
            s"SELECT -(doc_id + 1), 'ins ' || text, 'new' " +
            s"FROM parquet.`$corpus/documents.parquet` WHERE doc_id % 107 = 0")
          Chain.flat(corpus).served(s).get
            .select($"doc_id", md5($"text").as("h"), $"lang", $"source",
              $"n_chars".cast("long").as("n_chars"))
            .orderBy($"doc_id")
            .localCheckpoint() // lineage cut so the sandbox can delete
        }
      },
      Some("""
        SELECT doc_id, md5(text) AS h, lang, source,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 11 <> 0
        UNION ALL
        SELECT -(doc_id + 1), md5('ins ' || text), 'new', NULL, NULL
        FROM documents WHERE doc_id % 107 = 0
        ORDER BY doc_id"""))
    ,

    // ── p34: SQL INSERT OVERWRITE — full replacement through the ──
    // chain: the query's rows land as upserts plus ONE keys-only
    // anti-join emitting tombstones for every key the query no longer
    // carries, so the served table becomes exactly the query result
    // while v0 stays readable (VERSION AS OF 0 — the read-back unions
    // both, pinning that OVERWRITE is a generation, not an erase).
    GQuery("p34_sql_overwrite",
      (s, d) => {
        import s.implicits._
        withLayoutSandbox(s, "p34") { corpus =>
          docs(s, d).write.parquet(s"$corpus/documents.parquet")
          CorpusLayout.materialize(s, corpus, tables = Seq("documents"))
          val t = CorpusLayout.tableName("documents", corpus)
          s.sql(s"INSERT OVERWRITE $t " +
            s"SELECT doc_id, text, 'ow' AS lang, source, n_chars " +
            s"FROM parquet.`$corpus/documents.parquet` WHERE doc_id % 3 = 0")
          s.sql(
            s"""SELECT doc_id, md5(text) AS h, lang, 'v1' AS gen FROM $t
               |UNION ALL
               |SELECT doc_id, md5(text) AS h, lang, 'v0' AS gen
               |FROM $t VERSION AS OF 0
               |ORDER BY gen, doc_id
               |""".stripMargin)
            .localCheckpoint() // lineage cut so the sandbox can delete
        }
      },
      Some("""
        SELECT doc_id, md5(text) AS h, 'ow' AS lang, 'v1' AS gen
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, md5(text) AS h, lang, 'v0' AS gen FROM documents
        ORDER BY gen, doc_id"""))
    ,

    // ── p35: SQL schema evolution — ALTER TABLE RENAME / DROP / ADD ──
    // COLUMN ([[graft.plans.AlterLayoutRule]], hint-batch: Spark's
    // ResolveSessionCatalog rejects v1 ALTER … COLUMN inside the
    // Resolution batch, before injected resolution rules run) lowered
    // onto the metadata-only mapping swings and the zero-row
    // schema-anchor ADD — every existing byte hard-links. The follow-up
    // UPDATE speaks the NEW names (language, note): the composed
    // serving substitution resolves DML against the LOGICAL schema, so
    // a renamed column cannot silently no-op (the round-13 review
    // hole). The oracle composes rename+drop+add+update in one SELECT.
    GQuery("p35_sql_evolution",
      (s, d) => {
        import s.implicits._
        withLayoutSandbox(s, "p35") { corpus =>
          docs(s, d).write.parquet(s"$corpus/documents.parquet")
          CorpusLayout.materialize(s, corpus, tables = Seq("documents"))
          val t = CorpusLayout.tableName("documents", corpus)
          s.sql(s"ALTER TABLE $t RENAME COLUMN lang TO language")
          s.sql(s"ALTER TABLE $t DROP COLUMN source")
          s.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")
          s.sql(s"UPDATE $t SET note = 'n1', language = 'ev' " +
            "WHERE doc_id % 9 = 0")
          Chain.flat(corpus).served(s).get
            .select($"doc_id", md5($"text").as("h"), $"language",
              $"n_chars".cast("long").as("n_chars"), $"note")
            .orderBy($"doc_id")
            .localCheckpoint() // lineage cut so the sandbox can delete
        }
      },
      Some("""
        SELECT doc_id, md5(text) AS h,
               CASE WHEN doc_id % 9 = 0 THEN 'ev' ELSE lang END AS language,
               CAST(n_chars AS BIGINT) AS n_chars,
               CASE WHEN doc_id % 9 = 0 THEN 'n1' END AS note
        FROM documents
        ORDER BY doc_id"""))
    ,

    // ── p36: TIMESTAMP AS OF — Delta-style timestamp time travel over ──
    // the generation ledger ([[graft.plans.TimeTravelLayoutRule]] +
    // the `_COMMIT_TS` marker every epoch bump stamps once). Resolution
    // law: the newest retained generation committed at-or-before the
    // asked moment — probed at FOUR moments against the same two
    // generations p31 pins by number: commit(v0) exactly (boundary →
    // v0), strictly between the commits (→ still v0), commit(v1)
    // exactly (→ v1), an hour after the tip (→ the tip serves).
    // Before-first rejection is SqlDmlSpec's pin. The ledger reads are
    // driver-side marker lookups — one tiny file per retained
    // generation, never a data scan; the timestamp probes then plan as
    // ordinary generation reads (manifest-pruned, same as p31). Same
    // private-sandbox lifecycle-in-query design as p28–p35.
    GQuery("p36_timestamp_travel",
      (s, d) => {
        import s.implicits._
        withLayoutSandbox(s, "p36") { corpus =>
          val staged = stageDocs(s, d, corpus)
          CorpusLayout.materialize(s, corpus, tables = Seq("documents"))
          val t = CorpusLayout.tableName("documents", corpus)
          val base = staged
          val changes = base
            .filter($"doc_id" % 6 === 0 && $"doc_id" % 17 =!= 0)
            .select($"doc_id", concat(lit("tt "), $"text").as("text"),
              $"lang", $"source", $"n_chars")
            .withColumn(MergeOps.TombstoneCol, lit(false))
            .unionByName(base.filter($"doc_id" % 17 === 0)
              .select($"doc_id", lit(null).cast("string").as("text"),
                lit(null).cast("string").as("lang"),
                lit(null).cast("string").as("source"),
                lit(null).cast("long").as("n_chars"))
              .withColumn(MergeOps.TombstoneCol, lit(true)))
          MergeOps.applyToLayout(s, corpus, changes)
          val ts = s.sql(s"DESCRIBE HISTORY $t").collect()
            .map(r => r.getInt(0) ->
              r.getAs[java.sql.Timestamp]("committed_at").getTime).toMap
          // materialize and the apply are seconds of real writes apart;
          // equal-or-adjacent millis would make "between" ill-defined —
          // fail loudly rather than hash-match by luck
          require(ts(1) > ts(0) + 1,
            s"commit times not separable: $ts")
          def fmt(ms: Long) = java.time.Instant.ofEpochMilli(ms)
            .atZone(java.time.ZoneId.of("UTC")).toLocalDateTime
            .toString.replace('T', ' ')
          val arms = Seq(
            "at_v0" -> ts(0), "between" -> (ts(0) + ts(1)) / 2,
            "at_v1" -> ts(1), "after_tip" -> (ts(1) + 3600L * 1000))
          arms.map { case (armName, ms) =>
            s.sql(s"SELECT doc_id, md5(text) AS h, '$armName' AS arm " +
              s"FROM $t TIMESTAMP AS OF '${fmt(ms)}'")
          }.reduce(_.unionByName(_))
            .orderBy($"arm", $"doc_id")
            // materialize (lineage cut from the sandbox) so its files
            // can be deleted before the frame is consumed
            .localCheckpoint()
        }
      },
      Some("""
        WITH v0 AS (SELECT doc_id, md5(text) AS h FROM documents),
        v1 AS (SELECT doc_id,
                      md5(CASE WHEN doc_id % 6 = 0 THEN 'tt ' || text
                               ELSE text END) AS h
               FROM documents WHERE doc_id % 17 <> 0)
        SELECT doc_id, h, 'at_v0' AS arm FROM v0
        UNION ALL SELECT doc_id, h, 'between' FROM v0
        UNION ALL SELECT doc_id, h, 'at_v1' FROM v1
        UNION ALL SELECT doc_id, h, 'after_tip' FROM v1
        ORDER BY arm, doc_id"""))
    ,

    // ── p37: partition∘bucket layout — the lakehouse layout lever the ──
    // flat CorpusLayout leaves to the StatsManifest: real 100 TB feeds
    // are partitioned FIRST (ingest date / source stratum), bucketed
    // second, so a stratum-filtered read prunes whole directories
    // before any file listing and the key join still ships
    // zero-Exchange off the bucket spec (both pinned on executed plans
    // in PartitionedLayoutSpec). The lifecycle-in-query arc: materialize
    // partitioned by `source`, apply ONE changeset that exercises all
    // three CoW shapes — in-place update, CROSS-PARTITION key move (the
    // re-dated-document case: both homes rewrite, nothing else), and
    // tombstones — then read back a partition-pruned aggregate. The
    // write bill is the touched (partition, bucket) PAIRS; untouched
    // files hard-link forward (inode-pinned in the spec). Same
    // private-sandbox design as p28–p36.
    GQuery("p37_partitioned_layout",
      (s, d) => {
        import s.implicits._
        import graft.sources.PartitionedLayout
        withLayoutSandbox(s, "p37") { corpus =>
          val staged = stageDocs(s, d, corpus)
          MergeOps.materialize(s, Chain(corpus, "documents", Some("source")),
            buckets = 16)
          val t = PartitionedLayout.tableName("documents", corpus)
          val base = staged
          val changes = base
            .filter(($"doc_id" % 6 === 0 || $"doc_id" % 23 === 0) &&
              $"doc_id" % 17 =!= 0)
            .select($"doc_id", $"text",
              when($"doc_id" % 6 === 0, "pl").otherwise($"lang").as("lang"),
              when($"doc_id" % 23 === 0, "src0").otherwise($"source")
                .as("source"),
              $"n_chars")
            .withColumn(MergeOps.TombstoneCol, lit(false))
            .unionByName(base.filter($"doc_id" % 17 === 0)
              .select($"doc_id", lit(null).cast("string").as("text"),
                lit(null).cast("string").as("lang"),
                lit(null).cast("string").as("source"),
                lit(null).cast("long").as("n_chars"))
              .withColumn(MergeOps.TombstoneCol, lit(true)))
          MergeOps.applyToLayout(s, Chain.partitioned(s, corpus), changes)
          // partition-pruned read: the IN list reaches the scan as
          // partitionFilters — directories outside it are never listed
          s.table(t)
            .filter($"source".isin("src0", "src1"))
            .groupBy($"source", $"lang")
            .agg(count(lit(1)).as("n_docs"),
              sum($"n_chars".cast("long")).as("chars"))
            .orderBy($"source", $"lang")
            // materialize (lineage cut from the sandbox) so its files
            // can be deleted before the frame is consumed
            .localCheckpoint()
        }
      },
      Some("""
        WITH v1 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 6 = 0 THEN 'pl' ELSE lang END AS lang,
                 CASE WHEN doc_id % 23 = 0 THEN 'src0' ELSE source END AS source,
                 n_chars
          FROM documents WHERE doc_id % 17 <> 0)
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM v1 WHERE source IN ('src0', 'src1')
        GROUP BY source, lang
        ORDER BY source, lang""")),

    // ── p38: partition∘bucket MERGE-ON-READ — the 100 TB operating ──
    // point p37 scoped out: a date-partitioned corpus taking delta-sized
    // trickles can't pay even the touched-PAIR CoW bill per apply, so
    // `spark.graft.merge.mode=mor` hard-links every base file forward
    // (zero base bytes) and folds each wave into per-partition `_dv`
    // sidecars under the touched partitions only. The changeset is
    // PARTITION-CONFINED by design — two source strata plus the move
    // target — because that is the trickle shape MOR exists for (the
    // per-partition fold is priced per TOUCHED partition; a corpus-wide
    // changeset is a CoW/OPTIMIZE job, not a MOR trickle). Two waves
    // exercise the cumulative sidecar algebra (wave 2 re-updates a
    // subset of wave 1's keys through the fold) plus the cross-partition
    // move and tombstones; the read-back goes through the bare CATALOG
    // name — ComposedServingRule's partitioned arm composes
    // base⊖tombs∪deltas with the partition filter still pruning base
    // directories AND constant-folding untouched partitions' delta arms
    // (PartitionedLayoutSpec pins all three on one executed plan).
    GQuery("p38_partitioned_mor",
      (s, d) => {
        import s.implicits._
        import graft.sources.PartitionedLayout
        withLayoutSandbox(s, "p38", mergeMode = Some("mor")) { corpus =>
          val staged = stageDocs(s, d, corpus)
          MergeOps.materialize(s, Chain(corpus, "documents", Some("source")),
            buckets = 16)
          val t = PartitionedLayout.tableName("documents", corpus)
          val base = staged
          val stratum = $"source".isin("src1", "src2")
          def wave(langExpr: org.apache.spark.sql.Column,
                   pick: org.apache.spark.sql.Column) = base
            .filter(pick && stratum && $"doc_id" % 17 =!= 0)
            .select($"doc_id", $"text", langExpr.as("lang"),
              when($"doc_id" % 23 === 0, "src0").otherwise($"source")
                .as("source"),
              $"n_chars")
            .withColumn(MergeOps.TombstoneCol, lit(false))
          // wave 1: updates + cross-partition moves + tombstones (in src1)
          MergeOps.applyToLayout(s, Chain.partitioned(s, corpus),
            wave(when($"doc_id" % 6 === 0, "m1").otherwise($"lang"),
                $"doc_id" % 6 === 0 || $"doc_id" % 23 === 0)
              .unionByName(base
                .filter($"doc_id" % 17 === 0 && $"source" === "src1")
                .select($"doc_id", lit(null).cast("string").as("text"),
                  lit(null).cast("string").as("lang"),
                  lit(null).cast("string").as("source"),
                  lit(null).cast("long").as("n_chars"))
                .withColumn(MergeOps.TombstoneCol, lit(true))))
          // wave 2: cumulative fold — re-update a subset of wave 1's keys
          MergeOps.applyToLayout(s, Chain.partitioned(s, corpus),
            wave(lit("m2"), $"doc_id" % 12 === 0))
          s.table(t)
            .filter($"source".isin("src0", "src1"))
            .groupBy($"source", $"lang")
            .agg(count(lit(1)).as("n_docs"),
              sum($"n_chars".cast("long")).as("chars"))
            .orderBy($"source", $"lang")
            .localCheckpoint()
        }
      },
      Some("""
        WITH v AS (
          SELECT doc_id,
                 CASE WHEN source IN ('src1', 'src2') AND doc_id % 17 <> 0
                           AND doc_id % 12 = 0 THEN 'm2'
                      WHEN source IN ('src1', 'src2') AND doc_id % 17 <> 0
                           AND doc_id % 6 = 0 THEN 'm1'
                      ELSE lang END AS lang,
                 CASE WHEN source IN ('src1', 'src2') AND doc_id % 17 <> 0
                           AND doc_id % 23 = 0 THEN 'src0'
                      ELSE source END AS source,
                 n_chars
          FROM documents
          WHERE NOT (doc_id % 17 = 0 AND source = 'src1'))
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM v WHERE source IN ('src0', 'src1')
        GROUP BY source, lang
        ORDER BY source, lang""")),

    // ── p39: a table BORN in SQL — CREATE TABLE … IN CORPUS … AS ──
    // (GraftSqlParser) closes the last Scala-only lifecycle verb: this
    // query's entire arc is SQL statements — CTAS birth (key-validated
    // at the gate, bucketed layout materialized and registered), SQL
    // MERGE INTO the returned handle, then VERSION AS OF time travel
    // reading both the birth generation and the merged tip. No Scala
    // layout call anywhere; a SQL-first user can now run the whole
    // lifecycle. SqlDmlSpec pins the loud rejections (unknown table,
    // duplicate/NULL keys at birth, re-birth over an existing corpus
    // file).
    GQuery("p39_sql_create_table",
      (s, d) => {
        import s.implicits._
        withLayoutSandbox(s, "p39") { corpus =>
          val t = s.sql(
            s"""CREATE TABLE documents IN CORPUS '$corpus' INTO 16 BUCKETS
               |AS SELECT doc_id, text, lang, source,
               |          CAST(n_chars AS BIGINT) AS n_chars
               |FROM parquet.`$d/documents.parquet`
               |""".stripMargin).head().getString(0)
          s.sql(
            s"""MERGE INTO $t t USING (
               |  SELECT doc_id, 'ct' AS new_lang
               |  FROM parquet.`$d/documents.parquet` WHERE doc_id % 6 = 0
               |) s ON t.doc_id = s.doc_id
               |WHEN MATCHED THEN UPDATE SET lang = s.new_lang
               |""".stripMargin)
          s.sql(
            s"""SELECT 'v0' AS snap, lang, COUNT(*) AS n
               |FROM $t VERSION AS OF 0 GROUP BY lang
               |UNION ALL
               |SELECT 'v1' AS snap, lang, COUNT(*) AS n
               |FROM $t GROUP BY lang
               |ORDER BY snap, lang
               |""".stripMargin)
            .localCheckpoint()
        }
      },
      Some("""
        SELECT 'v0' AS snap, lang, COUNT(*) AS n FROM documents GROUP BY lang
        UNION ALL
        SELECT 'v1' AS snap,
               CASE WHEN doc_id % 6 = 0 THEN 'ct' ELSE lang END AS lang,
               COUNT(*) AS n
        FROM documents GROUP BY 1, 2
        ORDER BY snap, lang""")),

    // ── p40: the partitioned lifecycle as SQL ALONE — birth to audit ──
    // p37/p38 drove the partition∘bucket layout from Scala; this query
    // is the SQL-first user's arc over the SAME machinery: CTAS birth
    // (PARTITIONED BY builds the partitioned chain), UPDATE
    // with WHERE (partial changeset — unassigned columns, the partition
    // column included, fill from the served frame), UPDATE SET <pcol>
    // (cross-partition moves billed at exactly their two homes —
    // PartitionedLayoutSpec pins the inode bill), DELETE, MERGE INTO,
    // then a final read pairing the tip against VERSION AS OF 0 (the
    // birth generation re-read through per-partition literal arms, so a
    // partition filter would constant-fold dead arms away). Every verb
    // advances the one generation chain under the single-writer lease;
    // no Scala layout call anywhere.
    GQuery("p40_partitioned_sql_dml",
      (s, d) => {
        withLayoutSandbox(s, "p40") { corpus =>
          val t = s.sql(
            s"""CREATE TABLE documents IN CORPUS '$corpus' INTO 16 BUCKETS
               |PARTITIONED BY source
               |AS SELECT doc_id, text, lang, source,
               |          CAST(n_chars AS BIGINT) AS n_chars
               |FROM parquet.`$d/documents.parquet`
               |""".stripMargin).head().getString(0)
          s.sql(s"UPDATE $t SET lang = 'u7' WHERE doc_id % 7 = 0")
          s.sql(s"UPDATE $t SET source = 'src0' WHERE doc_id % 23 = 0")
          s.sql(s"DELETE FROM $t WHERE doc_id % 17 = 0")
          s.sql(
            s"""MERGE INTO $t t USING (
               |  SELECT doc_id, 'mg' AS v
               |  FROM parquet.`$d/documents.parquet` WHERE doc_id % 11 = 0
               |) s ON t.doc_id = s.doc_id
               |WHEN MATCHED THEN UPDATE SET lang = s.v
               |""".stripMargin)
          s.sql(
            s"""SELECT 'v0' AS snap, source, lang, COUNT(*) AS n,
               |       CAST(SUM(n_chars) AS BIGINT) AS chars
               |FROM $t VERSION AS OF 0 GROUP BY source, lang
               |UNION ALL
               |SELECT 'tip' AS snap, source, lang, COUNT(*) AS n,
               |       CAST(SUM(n_chars) AS BIGINT) AS chars
               |FROM $t GROUP BY source, lang
               |ORDER BY snap, source, lang
               |""".stripMargin)
            .localCheckpoint()
        }
      },
      Some("""
        WITH tip AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0 THEN 'mg'
                      WHEN doc_id % 7 = 0 THEN 'u7'
                      ELSE lang END AS lang,
                 CASE WHEN doc_id % 23 = 0 THEN 'src0' ELSE source END AS source,
                 n_chars
          FROM documents
          WHERE doc_id % 17 <> 0)
        SELECT 'v0' AS snap, source, lang, COUNT(*) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY source, lang
        UNION ALL
        SELECT 'tip' AS snap, source, lang, COUNT(*) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM tip GROUP BY source, lang
        ORDER BY snap, source, lang"""))
  )
}
