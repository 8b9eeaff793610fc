package graft

import graft.operators.{Dedup, MergeOps, SignatureStore}
import graft.sources.{Chain, CorpusLayout}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed corpus layout must be a pure read swap: identical rows
  * through Tables.load, identical operator results, and the promised
  * zero-Exchange id-keyed joins once both sides are bucketed.
  */
class CorpusLayoutSpec extends AnyFunSuite with SparkTestBase {

  test("layout read equals raw parquet; consumers are unchanged; joins co-locate") {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    // raw-path results before any table exists
    val rawDocs = Tables.load(spark, sf, "documents")
      .orderBy($"doc_id").collect().map(_.toString).toSeq
    val rawD01 = SparkEntry.queries("d01_exact_dedup")(spark, sf)
      .collect().map(_.toString).toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_layout").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      val tables = CorpusLayout.materialize(spark, sf)
      assert(tables.forall(spark.catalog.tableExists))
      // Tables.load now serves the bucketed tables — same rows, bit for bit
      val viaLayout = Tables.load(spark, sf, "documents")
        .orderBy($"doc_id").collect().map(_.toString).toSeq
      assert(viaLayout == rawDocs, "bucketed layout changed document rows")
      // an operator over the layout renders identical results
      val d01 = SparkEntry.queries("d01_exact_dedup")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(d01 == rawD01, "d01 diverged when reading the bucketed layout")
      // documents ⋈ embeddings on the id key: both bucketed the same way,
      // so the merge join plans with ZERO Exchange
      val docT = CorpusLayout.tableName("documents", sf)
      val embT = CorpusLayout.tableName("embeddings", sf)
      val j = spark.table(docT).hint("merge")
        .join(spark.table(embT), col("doc_id") === col("vec_id"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"corpus-layout join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"), "expected a sort-merge join over buckets")
      assert(j.count() > 0)
      // the full co-location story: corpus ⋈ signature store, both
      // bucketed on doc_id — the join every dedup consumer runs at scale
      spark.conf.set(SignatureStore.ConfKey, base)
      SignatureStore.materialize(spark, sf)
      val j2 = spark.table(docT).hint("merge")
        .join(SignatureStore.signaturesIfPresent(spark, sf).get, Seq("doc_id"))
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(!plan2.contains("Exchange"), s"corpus ⋈ signatures still shuffles:\n$plan2")
      assert(j2.count() > 0)
    } finally {
      SignatureStore.drop(spark, sf)
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(SignatureStore.ConfKey)
      spark.conf.unset(CorpusLayout.ConfKey)
      Dedup.releaseSignatures()
    }
  }

  test("manifest-served relation is cached per (session, generation); invalidated by the next apply") {
    // The hottest read path: a manifested layout routes every
    // Tables.load through ManifestFileIndex.bucketedTable, whose
    // construction pays an InMemoryFileIndex listing and whose first
    // scan pays the stats collect. Pin that repeated reads of an
    // unchanged generation return the SAME cached frame (one listing +
    // one stats job per generation, not per query), and that an apply —
    // which moves the served generation — invalidates it.
    import org.apache.spark.sql.functions.{concat, lit}
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_layout_c").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val docT = CorpusLayout.tableName("documents", sf)
      val gen0 = Chain.flat(sf).layout(spark)._1
      graft.sources.StatsManifest.build(spark, gen0, Seq("doc_id", "n_chars"))
      val a = Chain.flat(sf).served(spark).get
      val b = Chain.flat(sf).served(spark).get
      assert(a eq b,
        "manifest-served relation rebuilt on a repeated read of the same generation")
      // an apply swings the generation: the cached frame must not be
      // served stale — the next read builds (and re-caches) the new one
      val up = a.filter($"doc_id" === 17L)
        .select($"doc_id", concat(lit("c "), $"text").as("text"), $"lang",
          $"source", ($"n_chars" + 1L).as("n_chars"))
        .withColumn("tombstone", lit(false))
      graft.operators.MergeOps.applyToLayout(spark, sf, up)
      val c = Chain.flat(sf).served(spark).get
      assert(!(a eq c), "post-apply read served the previous generation's cached frame")
      assert(c.filter($"text".startsWith("c ")).count() == 1L,
        "post-apply read does not see the applied edit")
      val d = Chain.flat(sf).served(spark).get
      assert(c eq d, "new generation's relation not re-cached")
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("materialize without the conf fails; drop removes tables and files") {
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty)
    intercept[IllegalStateException](CorpusLayout.materialize(spark, sf))
    val base = java.nio.file.Files.createTempDirectory("graft_layout_d").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      assert(Chain.flat(sf).served(spark).isDefined)
      // the partitioned chain of the same corpus goes with the drop too
      val plt = MergeOps.materialize(spark, Chain(sf, "documents", Some("source")))
      assert(spark.catalog.tableExists(plt))
      CorpusLayout.drop(spark, sf)
      assert(Chain.flat(sf).served(spark).isEmpty,
        "drop left a readable layout behind")
      assert(!spark.catalog.tableExists(plt),
        "drop left the partitioned registration behind")
      assert(FsUtil.list(java.nio.file.Paths.get(base)).isEmpty,
        "drop left layout files behind")
    } finally {
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }
}
