package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crossover benchmark for the at-scale claims (SCALING.md): each pair
  * runs the engine's scale-designed form against the conventional form
  * ON THE SAME DATA at a given SF, so the claims argued in operator
  * comments ("the sketch wins once the scan is agg-bound", "OPH trades
  * aggregate machinery for per-shingle hash work", "bucketing deletes
  * the as-of Exchange") become measured curves instead of assertions.
  *
  * Pairs (scale form vs conventional form):
  *   corpus_quantile   q51 histogram rank-narrowing  vs single-group percentile_disc
  *   grouped_quantile  q53 grouped rank-narrowing    vs q44 percentile_disc per group
  *   sketch_quantile   q54 MP-sketch-then-refine     vs q44 percentile_disc per group
  *   signature_build   d24 OPH signatures            vs d02 16-permutation signatures
  *   heavy_hitters     t29 Misra–Gries then recount  vs t06 exact full word count
  *   asof_join         AsOfJoinExec on bucketed events vs the same join on raw parquet
  *   ann_probe         probeBatchADC (8-byte codes)  vs probeBatch (raw vectors)
  *   merge_apply       bucket-scoped CoW MERGE apply vs full-corpus rewrite
  *
  * Protocol: per arm, one warm execution then min of 2 timed runs
  * (collect() for coordinator-sized results, toRdd.count() for frames),
  * cache cleared between arms. One JSON line per invocation, appended to
  * SCALING_RAW.jsonl — SCALING.md is written from those lines.
  *
  * Usage: runMain graft.ScalingBench <sfDir> <label> [sectionPrefix]
  * (sectionPrefix scopes the run to matching arms — one section can be
  * re-measured at a new SF without paying for the whole suite).
  */
object ScalingBench {

  private def timeMin(warmRuns: Int = 1, timed: Int = 2)(body: => Unit): Double = {
    (1 to warmRuns).foreach(_ => body)
    (1 to timed).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, label) = (args(0), args(1))
    // optional 3rd arg: section-name prefix — run only matching sections
    // (e.g. "merge_apply" re-measures one section at a new SF without
    // paying for the whole suite). The emitted JSON line carries only the
    // arms that ran; SCALING.md merges lines by label.
    val only = args.drop(2).headOption
    def enabled(section: String): Boolean = only.forall(section.startsWith)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    var results = Vector.empty[(String, Double)]
    def arm(name: String)(body: => Unit): Unit = {
      if (!enabled(name)) return
      val sec = timeMin()(body)
      results :+= (name -> sec)
      System.err.println(f"[scaling] $label $name: $sec%.3f s")
      spark.catalog.clearCache()
      graft.operators.Dedup.releaseSignatures()
      graft.operators.Relational.releaseCaches()
    }
    // frame arms also record SHUFFLE BYTES — wall seconds on local[32]
    // hide exactly the dimension some of these designs buy (shuffle is a
    // memcpy here, the network bill on a cluster); the bytes are the
    // plan property the at-scale claim rests on
    def armDf(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      if (!enabled(name)) return
      arm(name)(mk.queryExecution.toRdd.count())
      val qe = mk.queryExecution
      qe.toRdd.count()
      results :+= (s"$name/shuffle_mb" ->
        math.round(Bench.shuffleBytes(qe.executedPlan) / 1e4) / 100.0)
      spark.catalog.clearCache()
      graft.operators.Dedup.releaseSignatures()
      graft.operators.Relational.releaseCaches()
    }

    // ── corpus-wide exact quantiles: 4 histogram scans, zero corpus
    // shuffle, only an n/B² slice ever sorts — vs percentile_disc with
    // ONE group, whose single aggregate buffer holds every corpus value
    val li = Tables.load(spark, sfDir, "lineitem")
    if (enabled("corpus_quantile")) {
    arm("corpus_quantile/rank_narrowing") {
      graft.operators.Relational.exactQuantiles(
        li.select($"l_extendedprice".as("v")),
        Seq("0.25", "0.50", "0.75", "0.95")).collect()
    }
    arm("corpus_quantile/sort_agg") {
      li.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)"),
        expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY l_extendedprice)"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice)"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice)")
      ).collect()
    }
    }

    // ── grouped exact quantiles (q53/q54 vs q44's buffering aggregate)
    val ord = Tables.load(spark, sfDir, "orders")
    if (enabled("grouped_quantile") || enabled("sketch_quantile")) {
    arm("grouped_quantile/rank_narrowing") {
      graft.operators.Relational.exactQuantilesBy(
        ord.select($"o_orderstatus", $"o_totalprice".as("v")),
        Seq("o_orderstatus"), Seq("0.50", "0.95")).collect()
    }
    arm("grouped_quantile/sort_agg") {
      ord.groupBy($"o_orderstatus")
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)"))
        .collect()
    }
    arm("sketch_quantile/mp_sketch") {
      SparkEntry.queries("q54_sketch_quantile")(spark, sfDir)
        .queryExecution.toRdd.count()
    }
    }

    // ── signature build: one md5 per shingle either way; perm16 folds 16
    // permutation mixes into 16 aggregation buffers per doc, OPH routes
    // each shingle to ONE bin buffer (conditional mins) and densifies
    // with a coalesce chain. Written to parquet like the SignatureStore
    // does — the production sink.
    val docs = Tables.load(spark, sfDir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft_scaling").toString
    if (enabled("signature_build")) {
    arm("signature_build/oph") {
      graft.operators.Dedup.ophSignatureFrame(docs)
        .write.mode("overwrite").parquet(s"$tmp/sig_oph")
    }
    arm("signature_build/perm16") {
      graft.operators.Dedup.signatureFrame(docs)
        .write.mode("overwrite").parquet(s"$tmp/sig_perm16")
    }
    }

    // ── vocabulary heavy hitters: MG sketch (≤128 counters/task shuffle)
    // then exact recount of candidates, vs the full per-word count
    armDf("heavy_hitters/mg_sketch") {
      SparkEntry.queries("t29_heavy_hitters")(spark, sfDir)
    }
    armDf("heavy_hitters/exact_count") {
      SparkEntry.queries("t06_word_topk")(spark, sfDir)
    }

    // ── as-of join: the raw path pays Exchange+Sort per side; the
    // bucketed layout (events bucketed+sorted on user_id — one bucketed
    // write per corpus refresh, timed as asof_layout_build) deletes the
    // Exchange from every subsequent as-of job.
    val events = Tables.load(spark, sfDir, "events")
    def asofOver(ev: DataFrame): DataFrame = {
      val errors = ev.filter($"event_type" === "error")
        .select($"user_id", $"event_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("pts"), $"value".as("p_value"))
      graft.plans.AsOf.join(errors, purchases, "user_id", "ts", "pts")
    }
    var asofBucketedEx: Option[Boolean] = None
    var asofRawEx: Option[Boolean] = None
    if (enabled("asof_join")) {
    armDf("asof_join/raw") { asofOver(events) }
    val evT = s"graft_scaling_events_${label.replaceAll("[^A-Za-z0-9_]", "_")}"
    spark.sql(s"DROP TABLE IF EXISTS $evT")
    val layoutT0 = System.nanoTime()
    org.apache.spark.sql.GraftPlanBridge.writeBucketed(events, s"$tmp/events_bucketed",
      Nil, org.apache.spark.sql.catalyst.catalog.BucketSpec(cpus.toInt, Seq("user_id"),
        Seq("user_id", "ts")), Map.empty)
    spark.sql(s"CREATE TABLE $evT (${events.schema.toDDL}) USING PARQUET " +
      s"CLUSTERED BY (user_id) SORTED BY (user_id, ts) INTO ${cpus.toInt} BUCKETS " +
      s"LOCATION '$tmp/events_bucketed'")
    val layoutSec = (System.nanoTime() - layoutT0) / 1e9
    results :+= ("asof_join/layout_build" -> layoutSec)
    armDf("asof_join/bucketed") { asofOver(spark.table(evT)) }
    asofBucketedEx = Some(asofOver(spark.table(evT))
      .queryExecution.executedPlan.toString.contains("Exchange"))
    asofRawEx = Some(asofOver(events)
      .queryExecution.executedPlan.toString.contains("Exchange"))
    spark.sql(s"DROP TABLE IF EXISTS $evT")
    }

    // ── skew-auto-routed as-of (round 9, AsOf.joinAuto): 50% of both
    // sides remapped onto ONE hot user. The plain merge puts that key's
    // whole history in one task (the exec's documented pin tradeoff);
    // joinAuto probes the key distribution and re-plans through the
    // time-sliced composition. Uniform arm measures the probe's overhead
    // on the path where routing stays plain (the common case's tax).
    if (enabled("skew_asof")) {
    val skewEv = events.withColumn("user_id",
      when($"user_id" % 2 === 0, lit(42L)).otherwise($"user_id"))
    def skewAsof(ev: DataFrame, auto: Boolean): DataFrame = {
      val errors = ev.filter($"event_type" === "error")
        .select($"user_id", $"event_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("pts"), $"value".as("p_value"))
      if (auto) graft.plans.AsOf.joinAuto(errors, purchases, "user_id", "ts", "pts")
      else graft.plans.AsOf.join(errors, purchases, "user_id", "ts", "pts")
        .toDF((errors.columns ++ purchases.columns.map("r_" + _)).toIndexedSeq: _*)
    }
    armDf("skew_asof/plain") { skewAsof(skewEv, auto = false) }
    armDf("skew_asof/auto") { skewAsof(skewEv, auto = true) }
    arm("skew_asof/auto_uniform") {
      skewAsof(events, auto = true).queryExecution.toRdd.count()
    }
    // the dimension the re-route buys: the hot key's output partition
    // spread (1 = all of it in one task)
    results :+= ("skew_asof/plain_hot_partitions" ->
      skewAsof(skewEv, auto = false).withColumn("p", spark_partition_id())
        .filter($"user_id" === 42L).select($"p").distinct().count().toDouble)
    results :+= ("skew_asof/auto_hot_partitions" ->
      skewAsof(skewEv, auto = true).withColumn("p", spark_partition_id())
        .filter($"user_id" === 42L).select($"p").distinct().count().toDouble)
    }

    // ── ANN probe: ADC scans 8-byte codes per candidate and reranks a
    // shortlist of raw vectors, vs the raw path scanning full vectors in
    // every probed cell. Index build timed separately (per-refresh cost).
    if (enabled("ann_probe")) {
    val idxBase = java.nio.file.Files.createTempDirectory("graft_scaling_vidx").toString
    spark.conf.set(graft.operators.VectorIndexStore.ConfKey, idxBase)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.orderBy($"vec_id").limit(32)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    queries.cache().count()
    val idxT0 = System.nanoTime()
    graft.operators.VectorIndexStore.materialize(spark, sfDir)
    graft.operators.VectorIndexStore.materializePQ(spark, sfDir)
    results :+= ("ann_probe/index_build" -> (System.nanoTime() - idxT0) / 1e9)
    arm("ann_probe/raw_vectors") {
      graft.operators.VectorIndexStore.probeBatch(spark, sfDir, queries).collect()
    }
    arm("ann_probe/adc_codes") {
      graft.operators.VectorIndexStore.probeBatchADC(spark, sfDir, queries).collect()
    }
    // the IO dimension ADC buys: bytes of the code facet vs the raw
    // assignment facet a probe would otherwise scan per cell
    def dirMb(name: String): Double = {
      val base = java.nio.file.Paths.get(
        graft.operators.VectorIndexStore.servedDir(spark, sfDir).get, name)
      if (!java.nio.file.Files.isDirectory(base)) 0.0
      else {
        val sum = java.nio.file.Files.walk(base)
        try math.round(sum.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum() / 1e4) / 100.0
        finally sum.close()
      }
    }
    results :+= ("ann_probe/raw_facet_mb" -> dirMb("assignments"))
    results :+= ("ann_probe/code_facet_mb" -> dirMb("pq_codes"))
    spark.conf.unset(graft.operators.VectorIndexStore.ConfKey)
    }

        // rewritten vs linked byte split of the LAST CoW generation vs its
    // parent — ONE definition so merge_apply and merge_sized report the
    // same measurement (dot-prefixed sidecars excluded, like every other
    // data-file listing in the codebase)
    def cowSplitMb(sfd: String): (Double, Double) = {
      val gens = graft.operators.MergeOps.generations(spark, graft.sources.Chain.flat(sfd))
      val last = gens.last._2
      val prev = gens(gens.size - 2)._2
      val kids = java.nio.file.Files.list(java.nio.file.Paths.get(last))
      val (linked, rewritten) = try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala
          .filter { p => val n = p.getFileName.toString
            !n.startsWith("_") && !n.startsWith(".") }
          .partition { p =>
            val old = java.nio.file.Paths.get(prev, p.getFileName.toString)
            java.nio.file.Files.exists(old) && java.nio.file.Files.isSameFile(old, p)
          } match { case (a, b) => (a.toVector, b.toVector) }
      } finally kids.close()
      def mb(ps: Vector[java.nio.file.Path]) =
        math.round(ps.map(java.nio.file.Files.size(_)).sum / 1e4) / 100.0
      (mb(linked), mb(rewritten))
    }

    if (enabled("merge_apply")) {
    // ── CDC MERGE apply: bucket-scoped copy-on-write vs full rewrite
    // (round 10). Touched buckets = distinct pmod(hash(key), B) over the
    // changeset, so the win is regime-dependent: a TRICKLE feed (k keys
    // ≲ B buckets) rewrites ~(1-e^(-k/B)) of the corpus and links the
    // rest; a BROAD feed (k ≫ B) touches every bucket and the apply
    // degrades gracefully to the full rewrite. B is fixed at 32 here;
    // at production scale B tracks the corpus (one-task-sized buckets),
    // which holds the trickle regime open for day-sized feeds. The
    // rewritten-vs-linked MB split is the scale dimension: on a real
    // store the write bill IS the difference.
    val layoutBase = java.nio.file.Files.createTempDirectory("graft_scaling_cl").toString
    spark.conf.set(graft.sources.CorpusLayout.ConfKey, layoutBase)
    val clT0 = System.nanoTime()
    graft.sources.CorpusLayout.materialize(spark, sfDir)
    results :+= ("merge_apply/layout_build" -> (System.nanoTime() - clT0) / 1e9)
    def mkChanges(src: DataFrame): DataFrame = {
      val up = src.withColumn("tombstone", $"doc_id" % 5 === 0)
        .select($"doc_id", concat(lit("recrawl "), $"text").as("text"),
          $"lang", $"source", ($"n_chars" + 8L).as("n_chars"), $"tombstone")
      val ins = up.limit(2).select((-$"doc_id" - 1000000L).as("doc_id"),
        $"text", $"lang", $"source", $"n_chars", lit(false).as("tombstone"))
      up.unionByName(ins)
    }
    val trickle = mkChanges(docs.orderBy($"doc_id").limit(8)).cache()
    val kTrickle = trickle.count()
    val bTrickle = graft.operators.MergeOps.touchedBuckets(
      trickle, "doc_id", graft.sources.CorpusLayout.DefaultBuckets).size
    arm("merge_apply/cow_trickle") {
      graft.operators.MergeOps.applyToLayout(spark, sfDir, trickle)
    }
    // rewritten vs linked split of the LAST CoW generation vs its parent
    locally {
      val (linkedMb, rewrittenMb) = cowSplitMb(sfDir)
      results :+= ("merge_apply/trickle_keys" -> kTrickle.toDouble)
      results :+= ("merge_apply/trickle_buckets_touched" -> bTrickle.toDouble)
      results :+= ("merge_apply/cow_linked_mb" -> linkedMb)
      results :+= ("merge_apply/cow_rewritten_mb" -> rewrittenMb)
    }
    arm("merge_apply/full_trickle") {
      graft.operators.MergeOps.applyToLayout(spark, sfDir, trickle, cow = false)
    }
    trickle.unpersist()
    // broad feed: ~0.4% of docs, keys ≫ B — every bucket touched, CoW
    // falls back to the full path; measures the fallback's parity
    val broad = mkChanges(docs.filter($"doc_id" % 256 === 0)).cache()
    broad.count()
    arm("merge_apply/cow_broad") {
      graft.operators.MergeOps.applyToLayout(spark, sfDir, broad)
    }
    broad.unpersist()
    graft.sources.CorpusLayout.drop(spark, sfDir)
    spark.conf.unset(graft.sources.CorpusLayout.ConfKey)
    }

    if (enabled("part_apply")) {
    // ── partition∘bucket CoW (round 14): the same one-stratum trickle
    // applied to the PARTITIONED layout (touched (partition, bucket)
    // pairs rewrite) vs the FLAT layout (touched buckets rewrite —
    // each one spanning every stratum). The rewritten-MB ratio is the
    // claim: a changeset confined to one partition of P should bill
    // ~1/P of the flat layout's bucket bytes, because the pair's file
    // holds only that stratum's slice of the bucket.
    import graft.sources.{CorpusLayout, PartitionedLayout}
    val plBase = java.nio.file.Files.createTempDirectory("graft_scaling_pl").toString
    spark.conf.set(CorpusLayout.ConfKey, plBase)
    val plT0 = System.nanoTime()
    graft.operators.MergeOps.materialize(spark,
      graft.sources.Chain(sfDir, "documents", Some("source")), buckets = 32)
    results :+= ("part_apply/layout_build" -> (System.nanoTime() - plT0) / 1e9)
    // trickle confined to ONE stratum: 8 updates + 2 tombstones in src3
    def oneStratum(src: DataFrame): DataFrame = {
      val rows = src.filter($"source" === "src3").orderBy($"doc_id").limit(10)
      rows.withColumn("tombstone", $"doc_id" % 5 === 0)
        .select($"doc_id", concat(lit("recrawl "), $"text").as("text"),
          $"lang", $"source", ($"n_chars" + 8L).as("n_chars"), $"tombstone")
    }
    val plTrickle = oneStratum(docs).cache()
    plTrickle.count()
    arm("part_apply/pair_cow") {
      graft.operators.MergeOps.applyToLayout(spark,
        graft.sources.Chain.partitioned(spark, sfDir), plTrickle)
    }
    // rewritten vs linked split across the partition subdirs (relative
    // path + inode compare — the partitioned spelling of cowSplitMb)
    locally {
      val gens = graft.operators.MergeOps.generations(spark,
        graft.sources.Chain.partitioned(spark, sfDir))
      val (last, prev) = (gens.last._2, gens(gens.size - 2)._2)
      def files(g: String): Map[String, java.nio.file.Path] = {
        val base = java.nio.file.Paths.get(g)
        val walk = java.nio.file.Files.walk(base)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(p => java.nio.file.Files.isRegularFile(p) &&
              p.getFileName.toString.endsWith(".parquet"))
            .map(p => base.relativize(p).toString -> p).toMap
        } finally walk.close()
      }
      val (prevF, lastF) = (files(prev), files(last))
      val (linked, rewritten) = lastF.partition { case (rel, p) =>
        prevF.get(rel).exists(o => java.nio.file.Files.isSameFile(o, p)) }
      def mb(m: Map[String, java.nio.file.Path]) =
        math.round(m.values.map(java.nio.file.Files.size(_)).sum / 1e4) / 100.0
      results :+= ("part_apply/pair_linked_mb" -> mb(linked))
      results :+= ("part_apply/pair_rewritten_mb" -> mb(rewritten))
      results :+= ("part_apply/pair_rewritten_files" -> rewritten.size.toDouble)
    }
    PartitionedLayout.drop(spark, sfDir, "documents")
    // the SAME stratum trickle on the flat layout at the same B
    CorpusLayout.materialize(spark, sfDir)
    arm("part_apply/flat_cow") {
      graft.operators.MergeOps.applyToLayout(spark, sfDir, plTrickle)
    }
    locally {
      val (_, rewrittenMb) = cowSplitMb(sfDir)
      results :+= ("part_apply/flat_rewritten_mb" -> rewrittenMb)
    }
    plTrickle.unpersist()
    CorpusLayout.drop(spark, sfDir)
    spark.conf.unset(CorpusLayout.ConfKey)
    graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(plBase))
    }

    if (enabled("part_mor")) {
    // ── partition∘bucket MERGE-ON-READ (round 15): §15's one-stratum
    // trickle under mode=mor. Claims: (1) base bytes written are ZERO —
    // every base file hard-links forward, so the write bill drops from
    // touched-PAIR bytes to sidecar (changeset) bytes, independent of
    // bucket or partition size; (2) the compose tax on a pruned read is
    // bounded (anti-join of a changeset-sized broadcast + one delta
    // arm), and OPTIMIZE folds it back to the clean read.
    import graft.sources.{CorpusLayout, PartitionedLayout}
    import graft.operators.MergeOps
    val pmBase = java.nio.file.Files.createTempDirectory("graft_scaling_pm").toString
    spark.conf.set(CorpusLayout.ConfKey, pmBase)
    MergeOps.materialize(spark,
      graft.sources.Chain(sfDir, "documents", Some("source")), buckets = 32)
    val pmT = PartitionedLayout.tableName("documents", sfDir)
    val pmTrickle = docs.filter($"source" === "src3")
      .orderBy($"doc_id").limit(10)
      .withColumn("tombstone", $"doc_id" % 5 === 0)
      .select($"doc_id", concat(lit("recrawl "), $"text").as("text"),
        $"lang", $"source", ($"n_chars" + 8L).as("n_chars"), $"tombstone")
      .cache()
    pmTrickle.count()
    spark.conf.set(MergeOps.MergeModeKey, "mor")
    arm("part_mor/mor_apply") {
      graft.operators.MergeOps.applyToLayout(spark,
        graft.sources.Chain.partitioned(spark, sfDir), pmTrickle)
    }
    spark.conf.unset(MergeOps.MergeModeKey)
    locally {
      val gens = MergeOps.generations(spark,
        graft.sources.Chain.partitioned(spark, sfDir))
      val (last, prev) = (gens.last._2, gens(gens.size - 2)._2)
      def files(g: String): Map[String, java.nio.file.Path] = {
        val base = java.nio.file.Paths.get(g)
        val walk = java.nio.file.Files.walk(base)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(q => java.nio.file.Files.isRegularFile(q) &&
              q.getFileName.toString.endsWith(".parquet"))
            .map(q => base.relativize(q).toString -> q).toMap
        } finally walk.close()
      }
      val (prevF, lastF) = (files(prev), files(last))
      val (side, baseF) = lastF.partition(_._1.contains("_dv/"))
      val rewrittenBase = baseF.filterNot { case (rel, q) =>
        prevF.get(rel).exists(o => java.nio.file.Files.isSameFile(o, q)) }
      def mb(m: Map[String, java.nio.file.Path]) =
        math.round(m.values.map(java.nio.file.Files.size(_)).sum / 1e4) / 100.0
      results :+= ("part_mor/base_rewritten_mb" -> mb(rewrittenBase))
      // sidecars are changeset-scale — KB, not MB, is the honest unit
      results :+= ("part_mor/sidecar_kb" ->
        math.round(side.values.map(java.nio.file.Files.size(_)).sum / 102.4) / 10.0)
      results :+= ("part_mor/sidecar_files" -> side.size.toDouble)
    }
    // compose tax on the pruned aggregate, then OPTIMIZE folds it away
    def pmRead(): Unit = {
      spark.table(pmT).filter($"source" === "src3")
        .agg(count(lit(1)), sum($"n_chars")).collect()
      ()
    }
    arm("part_mor/composed_pruned_read")(pmRead())
    MergeOps.compact(spark, graft.sources.Chain.partitioned(spark, sfDir))
    arm("part_mor/folded_pruned_read")(pmRead())
    pmTrickle.unpersist()
    PartitionedLayout.drop(spark, sfDir, "documents")
    spark.conf.unset(CorpusLayout.ConfKey)
    graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(pmBase))
    }

    if (enabled("nn_descent")) {
    // ── s18 convergence (round 15): rounds-to-fixpoint and the recall
    // lift the descent buys over the LSH seed, against a sampled
    // brute-force truth (256 srcs × corpus — the sampled workload is
    // how recall is audited at any scale; the full pairwise truth is
    // the thing ANN exists to avoid).
    import graft.functions.VectorFunctions.{asDouble, cosineSim}
    import org.apache.spark.sql.expressions.Window
    val (seedG, perRound, rounds) = graft.operators.Similarity
      .nnDescentRounds(spark, sfDir)
    results :+= ("nn_descent/rounds" -> rounds.toDouble)
    val e = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
    val qs = e.orderBy($"vec_id").limit(256)
      .select($"vec_id".as("src"), $"v".as("qv"))
    val w = Window.partitionBy($"src").orderBy($"cos".desc, $"dst".asc)
    val truth = e.join(broadcast(qs), $"vec_id" =!= $"src")
      .select($"src", $"vec_id".as("dst"),
        graft.GQuery.roundz(cosineSim($"v", $"qv"), 4).as("cos"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"rn" <= 2).select($"src", $"dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val srcs = truth.map(_._1)
    def recall(g: org.apache.spark.sql.DataFrame): Double = {
      val got = g.select($"src", $"dst").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => srcs.contains(p._1)).toSet
      math.round(truth.count(got.contains).toDouble / truth.size * 10000) / 10000.0
    }
    results :+= ("nn_descent/recall_seed" -> recall(seedG))
    results :+= ("nn_descent/recall_final" -> recall(perRound.last))
    }

    if (enabled("merge_sized")) {
    // ── CDC MERGE apply under the SIZING POLICY (round 12): §8's honest
    // limit closed and re-measured. With TargetBucketBytesKey set, B
    // tracks the corpus (ceil(bytes/target), power-of-two), so the same
    // trickle feed touches ~k/B of the corpus instead of 1−e^(−k/32) —
    // rewritten MB becomes bucket-granular (~k × target) instead of 28%
    // of everything. Second claim: under geometric corpus growth the 4×
    // hysteresis pays the full rewrite O(log corpus) times EVER —
    // observed here as the rebucket count over a doubling sequence.
    import graft.operators.MergeOps
    import graft.sources.CorpusLayout
    val szBase = java.nio.file.Files.createTempDirectory("graft_scaling_sz").toString
    spark.conf.set(CorpusLayout.ConfKey, szBase)
    graft.sources.CorpusLayout.materialize(spark, sfDir) // B = 32, §8's arm
    spark.conf.set(MergeOps.TargetBucketBytesKey, "64k")
    // the one-time fold to the sized count (0 when 32 is already in band)
    val rbT0 = System.nanoTime()
    val moved = MergeOps.maybeRebucket(spark, sfDir)
    results :+= ("merge_sized/rebucket_s" ->
      (if (moved.isDefined) (System.nanoTime() - rbT0) / 1e9 else 0.0))
    val bSized = graft.sources.Chain.flat(sfDir).layout(spark)._2
    results :+= ("merge_sized/buckets" -> bSized.toDouble)
    val szTrickle = docs.orderBy($"doc_id").limit(8)
      .select($"doc_id", concat(lit("recrawl "), $"text").as("text"),
        $"lang", $"source", ($"n_chars" + 8L).as("n_chars"))
      .withColumn("tombstone", $"doc_id" % 5 === 0).cache()
    szTrickle.count()
    arm("merge_sized/cow_trickle") {
      MergeOps.applyToLayout(spark, sfDir, szTrickle)
    }
    locally { // rewritten/linked byte split of the last sized apply
      val (linkedMb, rewrittenMb) = cowSplitMb(sfDir)
      results :+= ("merge_sized/cow_linked_mb" -> linkedMb)
      results :+= ("merge_sized/cow_rewritten_mb" -> rewrittenMb)
    }
    szTrickle.unpersist()
    // doubling sequence: each wave re-inserts the whole corpus under
    // fresh keys (injective |id|-shift), so bytes double per wave; the
    // policy folds in rebuckets on its own inside applyToLayout. Claim:
    // B moves ≈ doublings/2 (4× hysteresis), never once per apply.
    val waves = 3
    var rebuckets = 0
    var lastB = bSized
    (1 to waves).foreach { w =>
      val served = graft.sources.Chain.flat(sfDir).served(spark).get
      val m = served.agg(max(abs($"doc_id"))).as[Long].head()
      val ins = served.select((-(abs($"doc_id") + m + 1L)).as("doc_id"),
        $"text", $"lang", $"source", $"n_chars")
        .withColumn("tombstone", lit(false))
      MergeOps.applyToLayout(spark, sfDir, ins)
      val b = graft.sources.Chain.flat(sfDir).layout(spark)._2
      if (b != lastB) { rebuckets += 1; lastB = b }
      System.err.println(s"[scaling] $label merge_sized wave $w: B=$b")
    }
    results :+= ("merge_sized/doublings" -> waves.toDouble)
    results :+= ("merge_sized/rebuckets" -> rebuckets.toDouble)
    results :+= ("merge_sized/final_buckets" -> lastB.toDouble)
    graft.sources.CorpusLayout.drop(spark, sfDir)
    spark.conf.unset(MergeOps.TargetBucketBytesKey)
    spark.conf.unset(graft.sources.CorpusLayout.ConfKey)
    }

    if (enabled("merge_mor")) {
    // ── merge-on-read deletion vectors (round 13): the same 8-key
    // trickle as merge_apply, applied as a `_dv` sidecar over hard-
    // linked base files. Claims measured: (1) the write bill drops to
    // ~delta bytes — rewritten_mb ≈ 0 (every base file is a link) and
    // dv_mb is changeset-sized, vs cow_rewritten_mb's bucketBytes floor
    // in §8's table; (2) the read pays a bounded compose tax (broadcast
    // anti-join + union) until (3) a fold clears the sidecar and the
    // read returns to the pure bucketed plan.
    import graft.operators.MergeOps
    import graft.sources.CorpusLayout
    val morBase = java.nio.file.Files.createTempDirectory("graft_scaling_mor").toString
    spark.conf.set(CorpusLayout.ConfKey, morBase)
    graft.sources.CorpusLayout.materialize(spark, sfDir)
    val morTrickle = docs.orderBy($"doc_id").limit(8)
      .select($"doc_id", concat(lit("recrawl "), $"text").as("text"),
        $"lang", $"source", ($"n_chars" + 8L).as("n_chars"))
      .withColumn("tombstone", $"doc_id" % 5 === 0).cache()
    morTrickle.count()
    def morRead(): Unit = {
      val served = graft.sources.Chain.flat(sfDir).served(spark).get
      served.agg(sum(length($"text"))).head()
    }
    arm("merge_mor/cow_read") { morRead() } // pre-apply baseline (pure plan)
    arm("merge_mor/mor_trickle") {
      MergeOps.applyToLayout(spark, sfDir, morTrickle, mode = "mor")
    }
    morTrickle.unpersist()
    locally {
      val (linkedMb, rewrittenMb) = cowSplitMb(sfDir)
      val g1 = MergeOps.generations(spark, graft.sources.Chain.flat(sfDir)).last._2
      val dvMb = {
        val walk = java.nio.file.Files.walk(
          java.nio.file.Paths.get(g1, "_dv"))
        // 5 dp: an 8-key sidecar is a few KB — 2 dp MB would read as 0
        try math.round(walk.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum() / 10.0) / 100000.0
        finally walk.close()
      }
      results :+= ("merge_mor/linked_mb" -> linkedMb)
      results :+= ("merge_mor/rewritten_mb" -> rewrittenMb)
      results :+= ("merge_mor/dv_mb" -> dvMb)
    }
    arm("merge_mor/composed_read") { morRead() } // the sidecar tax
    arm("merge_mor/fold") {
      MergeOps.compact(spark, graft.sources.Chain.flat(sfDir))
    }
    arm("merge_mor/folded_read") { morRead() } // back to the pure plan
    graft.sources.CorpusLayout.drop(spark, sfDir)
    spark.conf.unset(graft.sources.CorpusLayout.ConfKey)
    }

    if (enabled("change_feed")) {
    // ── change data feed (round 13, second half): the same 8-key
    // trickle applied with spark.graft.merge.changeFeed on. Claims
    // measured: (1) the sidecar is changeset-sized (cdf_mb, KB not MB);
    // (2) the apply pays only the slice write + one keys-only semi-join
    // (feed_trickle vs merge_apply/cow_trickle at the same SF); (3)
    // reading WHAT CHANGED from the feed is delta IO, while deriving
    // the same slice with generationDiff re-reads and hashes BOTH
    // corpus generations — the gap grows with corpus size while the
    // feed read stays flat.
    import graft.operators.MergeOps
    import graft.sources.CorpusLayout
    val cfBase = java.nio.file.Files.createTempDirectory("graft_scaling_cf").toString
    spark.conf.set(CorpusLayout.ConfKey, cfBase)
    graft.sources.CorpusLayout.materialize(spark, sfDir)
    spark.conf.set(MergeOps.ChangeFeedKey, "true")
    val cfTrickle = docs.orderBy($"doc_id").limit(8)
      .select($"doc_id", concat(lit("recrawl "), $"text").as("text"),
        $"lang", $"source", ($"n_chars" + 8L).as("n_chars"))
      .withColumn("tombstone", $"doc_id" % 5 === 0).cache()
    cfTrickle.count()
    arm("change_feed/feed_trickle") {
      MergeOps.applyToLayout(spark, sfDir, cfTrickle)
    }
    cfTrickle.unpersist()
    locally {
      val top = MergeOps.generations(spark, graft.sources.Chain.flat(sfDir)).last._2
      val cdfMb = {
        val walk = java.nio.file.Files.walk(
          java.nio.file.Paths.get(top, "_cdf"))
        try math.round(walk.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum() / 10.0) / 100000.0
        finally walk.close()
      }
      results :+= ("change_feed/cdf_mb" -> cdfMb)
    }
    def topGen(): Int = MergeOps.generations(spark, graft.sources.Chain.flat(sfDir)).last._1
    arm("change_feed/feed_read") {
      MergeOps.changeFeed(spark, graft.sources.Chain.flat(sfDir),
        topGen() - 1, topGen())
        .agg(count(lit(1))).head()
    }
    arm("change_feed/diff_derive") {
      MergeOps.generationDiff(spark, sfDir, "documents", topGen() - 1, topGen())
        .agg(count(lit(1))).head()
    }
    spark.conf.unset(MergeOps.ChangeFeedKey)
    graft.sources.CorpusLayout.drop(spark, sfDir)
    spark.conf.unset(graft.sources.CorpusLayout.ConfKey)
    }

    if (enabled("recluster")) {
    // ── clustering maintenance under CoW (round 13): a z-clustered
    // layout (in-bucket z-sort + file split) prunes selective filters
    // WITHIN buckets; every CoW apply rewrites touched buckets, and
    // without reclusterTouched each rewritten bucket folds back into
    // one wide key-sorted file — pruning quality decays apply over
    // apply. Both arms run the SAME 10-wave trickle; `maintained`
    // keeps the spec (applies re-sort + re-split), `unmaintained`
    // strips the marker after the build (the no-maintenance
    // counterfactual). kept_frac = files read / files present for one
    // selective n_chars band, measured off the executed scan.
    import graft.operators.MergeOps
    import graft.sources.{CorpusLayout, StatsManifest}
    def reclusterArm(maintained: Boolean): (Double, Double) = {
      val rcBase = java.nio.file.Files.createTempDirectory("graft_scaling_rc").toString
      spark.conf.set(CorpusLayout.ConfKey, rcBase)
      try {
        val nDocs = docs.count()
        CorpusLayout.materialize(spark, sfDir, tables = Seq("documents"),
          clusterBy = Seq("n_chars", "doc_id"),
          clusterRowsPerFile = math.max(16L, nDocs / 32 / 6))
        val gen0 = CorpusLayout.servedGeneration(spark, sfDir, "documents").get
        StatsManifest.build(spark, gen0, Seq("doc_id", "n_chars"))
        if (!maintained) java.nio.file.Files.delete(
          java.nio.file.Paths.get(gen0, "_CLUSTER"))
        // AQE-safe scan walk (query stages are leaves to children())
        def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
          val here = p match {
            case sc: org.apache.spark.sql.execution.FileSourceScanExec => Seq(sc)
            case _ => Nil
          }
          val kids = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
            case other => other.children
          }
          here ++ kids.flatMap(scansOf)
        }
        def keptFrac(): Double = {
          val loc = CorpusLayout.servedGeneration(spark, sfDir, "documents").get
          val q = graft.sources.Chain.flat(sfDir).served(spark).get
            .filter($"n_chars".between(100, 130)).select($"doc_id", $"n_chars")
          q.collect()
          val nf = scansOf(q.queryExecution.executedPlan)
            .map(_.metrics("numFiles").value).sum
          nf.toDouble / StatsManifest.listDataFiles(loc).size
        }
        val before = keptFrac()
        (0 until 10).foreach { w =>
          val ch = docs.filter($"doc_id" % 37 === w)
            .select($"doc_id", concat(lit(s"rc$w "), $"text").as("text"),
              $"lang", $"source", ($"n_chars" + 1L).cast("long").as("n_chars"))
            .withColumn("tombstone", lit(false))
          MergeOps.applyToLayout(spark, sfDir, ch)
        }
        (before, keptFrac())
      } finally {
        CorpusLayout.drop(spark, sfDir)
        spark.conf.unset(CorpusLayout.ConfKey)
      }
    }
    locally {
      val (b0, a0) = reclusterArm(maintained = true)
      results :+= ("recluster/kept_frac_built" -> math.round(b0 * 1000) / 1000.0)
      results :+= ("recluster/kept_frac_maintained" -> math.round(a0 * 1000) / 1000.0)
      val (_, a1) = reclusterArm(maintained = false)
      results :+= ("recluster/kept_frac_unmaintained" -> math.round(a1 * 1000) / 1000.0)
    }
    }

    if (enabled("vector_apply")) {
    // ── vector-index CDC apply: cell-scoped CoW applyChangeset vs the
    // full rebuild the store would otherwise need after corpus changes.
    // Trickle feed (4 changed vectors): touched cells rewrite + PQ
    // re-encode, untouched cells hard-link — vs materialize()+PQ paying
    // the whole corpus again.
    val vBase = java.nio.file.Files.createTempDirectory("graft_scaling_vapply").toString
    spark.conf.set(graft.operators.VectorIndexStore.ConfKey, vBase)
    val vEmb = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val vT0 = System.nanoTime()
    graft.operators.VectorIndexStore.materialize(spark, sfDir)
    graft.operators.VectorIndexStore.materializePQ(spark, sfDir)
    results :+= ("vector_apply/full_build" -> (System.nanoTime() - vT0) / 1e9)
    val picked = vEmb.orderBy($"vec_id").limit(3).collect()
    val vChanges = Seq(
      (picked(0).getLong(0), picked(1).getSeq[Float](1), false),
      (-200L, picked(0).getSeq[Float](1), false),
      (-201L, picked(2).getSeq[Float](1), false),
      (picked(2).getLong(0), Seq.empty[Float], true))
      .toDF("vec_id", "embedding", "tombstone").cache()
    vChanges.count()
    arm("vector_apply/cow_apply") {
      graft.operators.VectorIndexStore.applyChangeset(spark, sfDir, vChanges)
    }
    arm("vector_apply/rebuild") {
      // materialize() carries the PQ facet into the new generation when
      // the served one has it — one call IS the full rebuild here
      graft.operators.VectorIndexStore.materialize(spark, sfDir)
    }
    vChanges.unpersist()
    graft.operators.VectorIndexStore.drop(spark, sfDir)
    spark.conf.unset(graft.operators.VectorIndexStore.ConfKey)
    }

    // ── file skipping: manifest-pruned scan vs full scan over the same
    // z-ordered corpus copy. Wall seconds are the local[32] proxy; the
    // at-scale claim is FILES KEPT / TOTAL (every skipped file is a
    // footer read + task launch the cluster never schedules), recorded
    // as pseudo-arms so SCALING.md can quote the ratio per decade.
    // File COUNT scales with the corpus (rows-per-file held ~constant,
    // production's fixed-file-size reality) — the dimension that makes
    // planning-time skipping matter is the 10⁶-file listing, not bytes.
    if (enabled("stats_prune")) {
    val spBase = java.nio.file.Files.createTempDirectory("graft_scaling_stats").toString
    val spLay = s"$spBase/zdocs"
    import graft.sources.{StatsManifest, ZOrderLayout}
    val spDocs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"source", $"n_chars")
    val spFiles = math.max(16, (spDocs.count() / 78).toInt)
    ZOrderLayout.write(spDocs, Seq("n_chars", "doc_id"), spLay,
      bits = 8, numFiles = spFiles)
    arm("stats_prune/manifest_build") {
      StatsManifest.build(spark, spLay, Seq("doc_id", "n_chars", "source"))
    }
    val spPreds = Seq(StatsManifest.BetweenStat("n_chars", 100, 160),
      StatsManifest.InStat("source", Seq("src3", "src7")))
    val (spKept, spTotal) = StatsManifest.prunedFiles(spark, spLay,
      StatsManifest.manifestDirFor(spLay), spPreds)
    System.err.println(s"[scaling] $label stats_prune/files: ${spKept.size}/$spTotal kept")
    results :+= ("stats_prune/files_kept" -> spKept.size.toDouble)
    results :+= ("stats_prune/files_total" -> spTotal.toDouble)
    armDf("stats_prune/full_scan") {
      spark.read.parquet(spLay).filter($"n_chars".between(100, 160) &&
        $"source".isin("src3", "src7"))
    }
    armDf("stats_prune/pruned_scan") {
      StatsManifest.scan(spark, spLay, spPreds)
    }
    }

    val nLine = Seq("lineitem", "documents", "events", "embeddings", "orders")
      .map(t => "\"" + t + "\":" + Tables.load(spark, sfDir, t).count())
      .mkString("{", ",", "}")
    def fmt(v: Double) = "%.3f".format(v)
    val json = s"""{"label":"$label","sf_dir":"$sfDir","rows":$nLine,"arms":${
      results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    },"asof_bucketed_has_exchange":${asofBucketedEx.map(_.toString).getOrElse("null")},"asof_raw_has_exchange":${asofRawEx.map(_.toString).getOrElse("null")},"cpus":$cpus}"""
    println(json)
    val p = java.nio.file.Paths.get("SCALING_RAW.jsonl")
    java.nio.file.Files.writeString(p, json + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
