package graft

import graft.operators.{Dedup, MergeOps, SignatureStore, VectorIndexStore}
import graft.sources.{Chain, CorpusLayout}
import graft.streaming.StreamingMerge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-10 capstone: the incremental-corpus lifecycle proven
  * END-TO-END through the queries users actually run. A corpus evolves
  * through streaming CDC waves (ledgered applies) with every
  * table-format store maintained by the same verbs — bucketed layout
  * generations, signature facet, exact component repair — and the law
  * under test is cross-path: engine queries over the EVOLVED corpus
  * served by its MAINTAINED stores must equal the same queries computed
  * INLINE over a fresh corpus holding the merged contents. No store may
  * leak the corpus's history into a query answer.
  *
  * Then retention runs (vacuum + generation prunes) and the same
  * queries still serve — reclaiming history must never touch the served
  * surface.
  *
  * (The vector index is exercised behaviorally in VectorIndexStoreSpec
  * rather than cross-path here: its apply deliberately FREEZES
  * centroids — an index edit, not a retrain — so an inline rebuild over
  * the merged corpus is a different, retrained index by design.)
  */
class LifecycleSpec extends AnyFunSuite with SparkTestBase {

  private val consumers =
    Seq("d02_minhash_lsh", "d08_dup_components", "p16_split_leakage",
      "p06_cluster_representative")

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(col)
    df.select(cols.toIndexedSeq: _*).orderBy(cols.toIndexedSeq: _*)
      .collect().map(_.toString).toSeq
  }

  test("CDC waves + maintained stores ≡ inline queries on the merged corpus; retention keeps serving") {
    import spark.implicits._
    for (k <- Seq(CorpusLayout.ConfKey, SignatureStore.ConfKey))
      assert(spark.conf.getOption(k).isEmpty,
        s"test precondition: session must start without $k")
    val c1 = java.nio.file.Files.createTempDirectory("graft_lc_corpus").toString
    val c2 = java.nio.file.Files.createTempDirectory("graft_lc_ref").toString
    val stores = java.nio.file.Files.createTempDirectory("graft_lc_stores").toString
    for (t <- Seq("documents", "embeddings"))
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$c1/$t.parquet")
    spark.conf.set(CorpusLayout.ConfKey, s"$stores/layout")
    spark.conf.set(SignatureStore.ConfKey, s"$stores/sig")
    // the inline reference computes d02's 16-permutation pipeline, so the
    // store must build THAT family for cross-path equality (the OPH
    // default is a different estimator by design — store-read ≡ inline
    // holds bit-for-bit within a family, SignatureStoreSpec's pin)
    spark.conf.set(SignatureStore.FamilyKey, "perm16")
    try {
      CorpusLayout.materialize(spark, c1)
      SignatureStore.materialize(spark, c1)
      Dedup.releaseSignatures()

      // two ledgered CDC waves: re-crawls, deletions, insertions — the
      // nightly-feed shape StreamingMerge folds in per micro-batch
      def docs() = Chain.flat(c1).served(spark).get
      def wave(i: Int): DataFrame = {
        val d = docs()
        val up = d.filter($"doc_id" % 7 === i && $"doc_id" % 31 =!= i)
          .select($"doc_id", concat(lit(s"recrawl$i "), $"text").as("text"),
            $"lang", $"source", ($"n_chars" + i + 9L).as("n_chars"))
          .withColumn("tombstone", lit(false))
        val del = d.filter($"doc_id" % 31 === i)
          .select($"doc_id", lit(null).cast("string").as("text"), $"lang",
            $"source", $"n_chars")
          .withColumn("tombstone", lit(true))
        val ins = d.filter($"doc_id" % 97 === i)
          .select((-$"doc_id" - 1000L * (i + 1)).as("doc_id"),
            concat(lit(s"fresh$i "), $"text").as("text"), $"lang", $"source",
            ($"n_chars" + 6L).as("n_chars"))
          .withColumn("tombstone", lit(false))
        up.unionByName(del).unionByName(ins)
      }
      val w0 = wave(0).cache(); w0.count()
      assert(StreamingMerge.applyBatch(w0, 0L, c1))
      val w1 = wave(1).cache(); w1.count()
      assert(StreamingMerge.applyBatch(w1, 1L, c1))
      // the ledger short-circuits a replayed wave without a generation
      assert(!StreamingMerge.applyBatch(w1, 1L, c1))
      Dedup.releaseSignatures()

      // the reference corpus: merged contents as plain parquet, no
      // stores, no layout — every query computes inline from scratch
      docs().write.mode("overwrite").parquet(s"$c2/documents.parquet")
      spark.read.parquet(s"$c1/embeddings.parquet")
        .write.mode("overwrite").parquet(s"$c2/embeddings.parquet")

      def run(dir: String): Map[String, Seq[String]] = consumers.map { n =>
        Dedup.releaseSignatures()
        n -> canon(SparkEntry.queries(n)(spark, dir))
      }.toMap
      val evolved = run(c1) // layout + maintained sig/comp stores serve
      val inline = run(c2)  // fresh corpus, pure inline pipeline
      for (n <- consumers)
        assert(evolved(n) == inline(n),
          s"$n: evolved corpus through maintained stores diverged from inline on the merged contents")

      // retention: reclaim history, the served surface must not notice
      MergeOps.vacuum(spark, Chain.flat(c1), keepLast = 1)
      SignatureStore.pruneOldGenerations(spark, c1)
      Dedup.releaseSignatures()
      for (n <- Seq("d02_minhash_lsh", "d08_dup_components"))
        assert(canon(SparkEntry.queries(n)(spark, c1)) == inline(n),
          s"$n: serving broke after vacuum/prune")
    } finally {
      SignatureStore.drop(spark, c1)
      CorpusLayout.drop(spark, c1)
      spark.conf.unset(CorpusLayout.ConfKey)
      spark.conf.unset(SignatureStore.ConfKey)
      spark.conf.unset(SignatureStore.FamilyKey)
      Dedup.releaseSignatures()
    }
  }

  test("decontaminate the SERVED corpus: eval-gram matches tombstone out in one CoW apply") {
    import spark.implicits._
    import graft.functions.TextFunctions.{hash64, shingles, tokens}
    import java.nio.file.{Files, Paths}
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = Files.createTempDirectory("graft_lc_decon").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    def bucketed(df: DataFrame): DataFrame =
      df.withColumn("bucket", hash64(concat(lit("split:"), $"doc_id")) % 100)
    // d10's contamination probe over an arbitrary frame: train docs
    // sharing any 13-gram with the held-out split
    def contaminated(cur: DataFrame): Seq[Long] = {
      def grams(df: DataFrame) = df
        .select($"doc_id", explode(array_distinct(shingles(tokens($"text"), 13))).as("g"))
        .select($"doc_id", hash64($"g").as("h"))
      val b = bucketed(cur)
      val evalH = grams(b.filter($"bucket" >= 98)).select($"h").distinct()
      grams(b.filter($"bucket" < 98))
        .join(evalH, Seq("h"), "left_semi")
        .select($"doc_id").distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
    }
    try {
      CorpusLayout.materialize(spark, sf)
      def served(): DataFrame = Chain.flat(sf).served(spark).get
      // plant contamination: an eval doc's text recrawled into two train
      // docs (the leak a benchmark score dies from)
      val evalRow = bucketed(served())
        .filter($"bucket" >= 98 && size(tokens($"text")) >= 20)
        .orderBy($"doc_id").select($"text").head()
      val evalText = evalRow.getString(0)
      val targets = bucketed(served()).filter($"bucket" < 98)
        .orderBy($"doc_id").select($"doc_id").limit(2)
        .collect().map(_.getLong(0)).toSeq
      val plant = targets.map(id => (id, evalText, "en", "web", evalText.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .withColumn("tombstone", lit(false))
      MergeOps.applyToLayout(spark, sf, plant)
      val before = served().count()
      val dirty = contaminated(served())
      assert(targets.forall(dirty.contains),
        s"planted leaks $targets not detected (found $dirty)")
      // one CoW apply surgically removes every contaminated train doc
      val (curLoc, _) = Chain.flat(sf).layout(spark)
      val payload = Seq("text", "lang", "source", "n_chars")
      val tombs = served().filter($"doc_id".isin(dirty: _*))
        .select($"doc_id" +: payload.map(c =>
          lit(null).cast(served().schema(c).dataType).as(c)): _*)
        .withColumn("tombstone", lit(true))
      val vpath = MergeOps.applyToLayout(spark, sf, tombs)
      // CoW held: at least one bucket file rode forward as a hard link
      val linked = graft.sources.StatsManifest.listDataFiles(vpath).filter(f =>
        Files.exists(Paths.get(curLoc, f)) &&
          Files.isSameFile(Paths.get(curLoc, f), Paths.get(vpath, f)))
      assert(linked.nonEmpty, "decontamination apply rewrote every bucket")
      // the served corpus is clean: the dirty docs are gone, nothing else
      // moved, and the probe that found them now finds nothing
      assert(served().filter($"doc_id".isin(dirty: _*)).count() == 0)
      assert(served().count() == before - dirty.size)
      assert(contaminated(served()).isEmpty,
        "contamination survived the tombstone apply")
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }
}
