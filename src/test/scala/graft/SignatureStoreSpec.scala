package graft

import graft.operators.{Dedup, SignatureStore}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The materialized signature/component store must be a pure plan swap
  * WITHIN a signature family: identical results (bit-level, via Row
  * rendering — signed zero and all) for every consumer, with the
  * consumer's plan actually scanning the store parquet instead of
  * recomputing the minhash pipeline. The perm16 family pins against the
  * inline pipeline (bit parity with the DuckDB-oracled d02); the default
  * OPH family pins against d24's inline OPH pipeline plus a recall law
  * vs driver-side TRUE Jaccard on a planted corpus.
  */
class SignatureStoreSpec extends AnyFunSuite with SparkTestBase {

  // one consumer per store facet: d02 (signatures, pair join), d08
  // (components), p16 (signatures via minhashPairs), p06 (components +
  // representative selection)
  private val consumers = Seq(
    "d02_minhash_lsh", "d08_dup_components", "p16_split_leakage",
    "p06_cluster_representative")

  private def runAll(): Map[String, Seq[String]] = consumers.map { n =>
    Dedup.releaseSignatures()
    n -> SparkEntry.queries(n)(spark, sf).collect().map(_.toString).toSeq
  }.toMap

  test("store-read equals inline bit-for-bit and swaps the scan into the plan") {
    assert(spark.conf.getOption(SignatureStore.ConfKey).isEmpty,
      "test precondition: session must start without a store conf")
    val inline = runAll()
    val base = java.nio.file.Files.createTempDirectory("graft_sigstore").toString
    spark.conf.set(SignatureStore.ConfKey, base)
    // this test pins BIT parity with the inline (16-perm, DuckDB-oracled)
    // pipeline, so the store must build that family, not the OPH default
    spark.conf.set(SignatureStore.FamilyKey, "perm16")
    try {
      val dir = SignatureStore.materialize(spark, sf)
      val key = dir.substring(dir.lastIndexOf('/') + 1)
      val viaStore = runAll()
      consumers.foreach { n =>
        assert(viaStore(n) == inline(n), s"$n: store-read diverged from inline")
      }
      // the plan consumes the store: its corpus-keyed path appears among
      // the scan relations (LogicalRelation text elides paths, so inspect
      // the file indices directly)
      def relPaths(rel: Any): Seq[String] = rel match {
        case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          f.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            relPaths(l.relation)
          // Dedup caches the signature frame, so the store scan hides
          // inside the InMemoryRelation's cached physical plan
          case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            m.cachedPlan.collect {
              case f: org.apache.spark.sql.execution.FileSourceScanExec =>
                f.relation.location.rootPaths.map(_.toString)
            }.flatten
        }.flatten
      Dedup.releaseSignatures()
      val d02Paths = scanPaths(SparkEntry.queries("d02_minhash_lsh")(spark, sf))
      assert(d02Paths.exists(_.contains(key)),
        s"d02 plan does not scan the materialized store: $d02Paths")
      // components facet: d08 reads the converged labels as a parquet scan
      Dedup.releaseSignatures()
      val d08Paths = scanPaths(SparkEntry.queries("d08_dup_components")(spark, sf))
      assert(d08Paths.exists(p => p.contains(key) && p.contains("components")),
        s"d08 plan does not scan the materialized component store: $d08Paths")
    } finally {
      spark.conf.unset(SignatureStore.ConfKey)
      spark.conf.unset(SignatureStore.FamilyKey)
      Dedup.releaseSignatures()
    }
  }

  test("table-format store: results equal inline, store-side joins shuffle-free") {
    assert(spark.conf.getOption(SignatureStore.ConfKey).isEmpty,
      "test precondition: session must start without a store conf")
    val inline = runAll()
    val base = java.nio.file.Files.createTempDirectory("graft_sigstore_t").toString
    spark.conf.set(SignatureStore.ConfKey, base)
    spark.conf.set(SignatureStore.FamilyKey, "perm16")
    try {
      val dir = SignatureStore.materialize(spark, sf)
      // one version behind the pointer holds both bucketed facets
      assert(graft.sources.VersionedStore.current(dir).contains(1) &&
        Seq("signatures", "components").forall(f =>
          java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "v1", f))))
      // one file per bucket: the facet writes keep the bucketed layout's
      // file arithmetic (a bucket's rows never split across tasks)
      for (f <- Seq("signatures", "components")) {
        val names = FsUtil.list(java.nio.file.Paths.get(dir, "v1", f))
          .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        val ids = names.flatMap(graft.operators.MergeOps.bucketIdOf)
        assert(names.nonEmpty && ids.size == names.size && ids.distinct.size == ids.size,
          s"$f: not one file per bucket: $names")
      }
      // pure plan swap: every consumer reads the bucketed facets yet
      // renders the identical rows, signed zeros and all
      val viaTable = runAll()
      consumers.foreach { n =>
        assert(viaTable(n) == inline(n), s"$n: table-store read diverged from inline")
      }
      // the bucketing payoff: signatures ⋈ components on the doc id —
      // both tables bucketed+sorted the same way — plans with ZERO
      // Exchange. The merge hint keeps AQE from broadcasting the (tiny at
      // test SF) component side, which would skip bucketing entirely; at
      // corpus scale both sides are large and sort-merge is the real plan.
      val joined = SignatureStore.signaturesIfPresent(spark, sf).get.hint("merge")
        .join(SignatureStore.componentsIfPresent(spark, sf).get, col("doc_id") === col("node"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"store-side join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"), "expected a sort-merge join over buckets")
      assert(joined.count() > 0, "store join produced no rows")
    } finally {
      SignatureStore.drop(spark, sf)
      spark.conf.unset(SignatureStore.ConfKey)
      spark.conf.unset(SignatureStore.FamilyKey)
      Dedup.releaseSignatures()
    }
  }

  test("append-table: batch append equals a full rebuild, bit for bit") {
    import spark.implicits._
    assert(spark.conf.getOption(SignatureStore.ConfKey).isEmpty)
    val base = java.nio.file.Files.createTempDirectory("graft_sigstore_a").toString
    spark.conf.set(SignatureStore.ConfKey, base)
    spark.conf.set(SignatureStore.FamilyKey, "perm16")
    try {
      val docs = Tables.load(spark, sf, "documents")
      def stored() = SignatureStore.signaturesIfPresent(spark, sf).get
      // day 0: the even half bootstraps the store; day 1: the odd half
      // lands as a nightly batch
      SignatureStore.append(spark, sf, docs.filter($"doc_id" % 2 === 0))
      SignatureStore.append(spark, sf, docs.filter($"doc_id" % 2 === 1))
      val viaStore = stored().orderBy($"doc_id")
        .collect().map(_.toString).toSeq
      val full = Dedup.signatureFrame(docs).orderBy($"doc_id")
        .collect().map(_.toString).toSeq
      assert(viaStore == full, "appended store diverged from a full rebuild")
      // appended files keep the bucket layout: a doc_id-keyed aggregate
      // over the table plans without a shuffle exchange
      val agg = stored().groupBy($"doc_id").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"append broke the bucket layout — doc_id aggregate shuffles:\n$plan")
      // the bootstrap family is persisted with the store: a later session
      // whose FamilyKey differs must NOT silently mix estimators in the
      // same table — the append fails loudly instead
      assert(SignatureStore.storedFamily(
        SignatureStore.storeDir(spark, sf).get).contains("perm16"))
      spark.conf.set(SignatureStore.FamilyKey, "oph")
      val ex = intercept[IllegalStateException](
        SignatureStore.append(spark, sf, docs.filter($"doc_id" % 2 === 1)))
      assert(ex.getMessage.contains("perm16") && ex.getMessage.contains("oph"))
      // and the matching family still appends fine
      spark.conf.set(SignatureStore.FamilyKey, "perm16")
    } finally {
      SignatureStore.drop(spark, sf)
      spark.conf.unset(SignatureStore.ConfKey)
      spark.conf.unset(SignatureStore.FamilyKey)
      Dedup.releaseSignatures()
    }
  }

  test("materialize without the conf fails loudly; drop removes the store") {
    assert(spark.conf.getOption(SignatureStore.ConfKey).isEmpty)
    intercept[IllegalStateException](SignatureStore.materialize(spark, sf))
    val base = java.nio.file.Files.createTempDirectory("graft_sigstore_d").toString
    spark.conf.set(SignatureStore.ConfKey, base)
    try {
      val dir = SignatureStore.materialize(spark, sf)
      assert(SignatureStore.signaturesIfPresent(spark, sf).isDefined)
      SignatureStore.drop(spark, sf)
      assert(SignatureStore.signaturesIfPresent(spark, sf).isEmpty,
        "drop left a readable store behind")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    } finally {
      spark.conf.unset(SignatureStore.ConfKey)
      Dedup.releaseSignatures()
    }
  }
  /** The OPH default: the store built with no family conf carries d24's
    * estimator under d02's schema, so the store-backed d02 IS d24 — and
    * the estimator itself is probed against driver-side TRUE 3-shingle
    * Jaccard on a planted corpus (the DuckDB oracle mirrors the
    * algorithm, so only a brute-force probe can see recall collapse).
    */
  test("OPH default store: d02-via-store == d24 inline; recall law vs true jaccard") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    assert(SignatureStore.family(spark) == "oph",
      "OPH must be the default store family")
    // planted corpus: two exact-dup pairs, one high-jaccard pair
    // (17 shared of 19 distinct 3-shingles, j~0.895), one disjoint doc
    val texts = Seq(
      1L -> (1 to 20).map(i => s"w$i").mkString(" "),
      2L -> (1 to 20).map(i => s"w$i").mkString(" "),
      3L -> ((1 to 19).map(i => s"w$i") :+ "zz").mkString(" "),
      4L -> (1 to 10).map(i => s"a$i").mkString(" "),
      5L -> (1 to 10).map(i => s"a$i").mkString(" "),
      6L -> (1 to 12).map(i => s"q$i").mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore_oph").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          texts.map { case (id, t) => Row(id, t, "en", "s0", t.length.toLong) }, 2),
        schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // driver-side TRUE jaccard over 3-shingle sets — the brute-force truth
    def shingleSet(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = texts.toMap.view.mapValues(shingleSet).toMap
    def trueJ(i: Long, j: Long): Double = {
      val (a, b) = (sets(i), sets(j))
      a.intersect(b).size.toDouble / a.union(b).size
    }
    // inline d24 = the OPH estimator with no store in the loop
    val inlineOph = SparkEntry.queries("d24_oph_minhash")(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val base = java.nio.file.Files.createTempDirectory("graft_sigstore_o2").toString
    spark.conf.set(SignatureStore.ConfKey, base)
    try {
      SignatureStore.materialize(spark, dir)
      Dedup.releaseSignatures()
      // schema compatibility: the store frame looks exactly like the
      // 16-perm frame to every consumer
      val stored = SignatureStore.signaturesIfPresent(spark, dir).get
      assert(stored.columns.toSeq == Dedup.signatureFrame(
        Tables.load(spark, dir, "documents")).columns.toSeq,
        "OPH store schema diverged from the consumer contract")
      // pure plan swap within the family: d02 reading the OPH store
      // reports exactly the pairs d24 computes inline
      val viaStore = SparkEntry.queries("d02_minhash_lsh")(spark, dir)
        .select($"i", $"j", $"est_jaccard")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(viaStore == inlineOph,
        s"d02-via-OPH-store != d24 inline:\n store=$viaStore\n d24=$inlineOph")
      // recall law vs brute force: exact dups at est 1.0, the j~0.895
      // plant surfaces, nothing disjoint pairs, estimates calibrated
      assert(viaStore.get((1L, 2L)).contains(1.0), s"exact dup (1,2): $viaStore")
      assert(viaStore.get((4L, 5L)).contains(1.0), s"exact dup (4,5): $viaStore")
      assert(viaStore.contains((1L, 3L)) && viaStore.contains((2L, 3L)),
        s"high-jaccard plant (j=${trueJ(1L, 3L)}) missed: $viaStore")
      viaStore.foreach { case ((i, j), est) =>
        val tj = trueJ(i, j)
        assert(tj > 0.0, s"disjoint docs ($i,$j) paired at est=$est")
        assert(math.abs(est - tj) <= 0.4,
          f"estimate drifted: ($i,$j) est=$est%.3f true=$tj%.3f")
      }
    } finally {
      SignatureStore.drop(spark, dir)
      spark.conf.unset(SignatureStore.ConfKey)
      Dedup.releaseSignatures()
    }
  }

  test("signature facet follows a corpus MERGE: store-after-apply equals rebuild-from-scratch") {
    storeAfterApplyEqualsRebuild()
  }

  private def storeAfterApplyEqualsRebuild(): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    import graft.operators.MergeOps
    import graft.sources.{Chain, CorpusLayout}
    assert(spark.conf.getOption(SignatureStore.ConfKey).isEmpty &&
      spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without store/layout confs")
    val sigBase = java.nio.file.Files.createTempDirectory("graft_sigmerge").toString
    val layoutBase = java.nio.file.Files.createTempDirectory("graft_sigmerge_cl").toString
    spark.conf.set(SignatureStore.ConfKey, sigBase)
    spark.conf.set(CorpusLayout.ConfKey, layoutBase)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.map(col)
      df.select(cols.toIndexedSeq: _*).orderBy(cols.toIndexedSeq: _*)
        .collect().map(_.toString).toSeq
    }
    try {
      CorpusLayout.materialize(spark, sf)
      SignatureStore.materialize(spark, sf)
      val docs = Chain.flat(sf).served(spark).get
      // one changeset exercising every signature transition: re-crawled
      // text (new shingles), a doc emptied to zero shingles (its sig row
      // must VANISH, as a rebuild would have none), deletes, inserts
      val up = docs.filter($"doc_id" % 13 === 1 && $"doc_id" % 41 =!= 0 &&
          $"doc_id" =!= 7L)
        .select($"doc_id", concat(lit("merged-anew "), $"text").as("text"),
          $"lang", $"source", $"n_chars")
        .withColumn("tombstone", lit(false))
      val emptied = docs.filter($"doc_id" === 7L)
        .select($"doc_id", lit("").as("text"), $"lang", $"source",
          lit(0L).as("n_chars"))
        .withColumn("tombstone", lit(false))
      val dels = docs.filter($"doc_id" % 41 === 0)
        .select($"doc_id", lit(null).cast("string").as("text"), $"lang",
          $"source", $"n_chars")
        .withColumn("tombstone", lit(true))
      val ins = Seq((-5L, "fresh inserted document text about graft engines",
          "en", "crawl", 48L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .withColumn("tombstone", lit(false))
      val changes = up.unionByName(emptied).unionByName(dels).unionByName(ins)
        .cache()
      assert(changes.count() > 3)
      // the corpus apply carries the signature facet with it
      MergeOps.applyToLayout(spark, sf, changes)
      val served = Chain.flat(sf).served(spark).get
      val rebuild = Dedup.ophSignatureFrame(served.select($"doc_id", $"text"))
      val got = SignatureStore.signaturesIfPresent(spark, sf).get
      assert(canon(got) == canon(rebuild),
        "signature store after MERGE diverged from a rebuild over the merged corpus")
      assert(got.filter($"doc_id" === 7L).count() == 0,
        "zero-shingle doc kept its stale signature row")
      assert(got.filter($"doc_id" === -5L).count() == 1,
        "inserted doc missing from the signature facet")
      // versioned commit: the parent version's files survive for
      // in-flight readers, and the pointer serves the apply's version
      val dir = SignatureStore.storeDir(spark, sf).get
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "v1", "signatures")) &&
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "v2", "signatures")) &&
        graft.sources.VersionedStore.current(dir).contains(2),
        "signature apply did not version beside its parent")
      // family guard: a session flipped to another estimator cannot mix rows
      spark.conf.set(SignatureStore.FamilyKey, "perm16")
      intercept[IllegalStateException](
        SignatureStore.applyChangeset(spark, sf, changes))
      changes.unpersist()
    } finally {
      spark.conf.unset(SignatureStore.FamilyKey)
      SignatureStore.drop(spark, sf)
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(SignatureStore.ConfKey)
      spark.conf.unset(CorpusLayout.ConfKey)
      Dedup.releaseSignatures()
    }
  }

  test("the store survives catalog loss: served and maintained with no catalog entry") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    import graft.operators.MergeOps
    import graft.sources.{Chain, CorpusLayout}
    assert(spark.conf.getOption(SignatureStore.ConfKey).isEmpty &&
      spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without store/layout confs")
    val sigBase = java.nio.file.Files.createTempDirectory("graft_siglost").toString
    val layoutBase = java.nio.file.Files.createTempDirectory("graft_siglost_cl").toString
    spark.conf.set(SignatureStore.ConfKey, sigBase)
    spark.conf.set(CorpusLayout.ConfKey, layoutBase)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.map(col)
      df.select(cols.toIndexedSeq: _*).orderBy(cols.toIndexedSeq: _*)
        .collect().map(_.toString).toSeq
    }
    // the state a fresh JVM's in-memory catalog is in: no store entry
    def dropStoreEntries(): Unit =
      spark.catalog.listTables().collect().map(_.name)
        .filter(n => n.startsWith("graft_sig_") || n.startsWith("graft_comp_"))
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    def served() = Chain.flat(sf).served(spark).get
    def wave(i: Int): org.apache.spark.sql.DataFrame = {
      val d = served()
      d.filter($"doc_id" % 11 === i)
        .select($"doc_id", concat(lit(s"recrawl$i "), $"text").as("text"),
          $"lang", $"source", $"n_chars")
        .withColumn("tombstone", lit(false))
        .unionByName(d.filter($"doc_id" % 37 === i + 1 && $"doc_id" % 11 =!= i)
          .select($"doc_id", lit(null).cast("string").as("text"), $"lang",
            $"source", $"n_chars")
          .withColumn("tombstone", lit(true)))
    }
    def storeMatchesRebuild(what: String): Unit = {
      Dedup.releaseSignatures()
      val got = SignatureStore.signaturesIfPresent(spark, sf)
      assert(got.isDefined, s"$what: no store served")
      assert(canon(got.get) ==
        canon(Dedup.ophSignatureFrame(served().select($"doc_id", $"text"))),
        s"$what: signature store diverged from a rebuild over the served corpus")
    }
    try {
      CorpusLayout.materialize(spark, sf)
      SignatureStore.materialize(spark, sf)
      val w0 = wave(0).cache(); assert(w0.count() > 0)
      MergeOps.applyToLayout(spark, sf, w0)
      dropStoreEntries()
      storeMatchesRebuild("after the first apply and catalog loss")
      // the next corpus apply still maintains the store
      val w1 = wave(1).cache(); assert(w1.count() > 0)
      MergeOps.applyToLayout(spark, sf, w1)
      dropStoreEntries()
      storeMatchesRebuild("after an apply with no catalog entry")
      assert(SignatureStore.componentsIfPresent(spark, sf).isDefined,
        "component facet lost with the catalog")
      w0.unpersist(); w1.unpersist()
    } finally {
      SignatureStore.drop(spark, sf)
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(SignatureStore.ConfKey)
      spark.conf.unset(CorpusLayout.ConfKey)
      Dedup.releaseSignatures()
    }
  }

  test("component facet repairs exactly under a changeset: dissolution, rewire, merge == rebuild") {
    componentRepairEqualsRebuild()
  }

  private def componentRepairEqualsRebuild(): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import graft.operators.MergeOps
    assert(spark.conf.getOption(SignatureStore.ConfKey).isEmpty)
    val base = java.nio.file.Files.createTempDirectory("graft_comprep").toString
    spark.conf.set(SignatureStore.ConfKey, base)
    // planted corpus with deterministic dup structure (exact dups are
    // LSH-certain): {10,11} a pair, 12/13 singletons, {14,15} a pair
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = "one two three four five six seven eight nine ten eleven twelve"
    val t3 = "red orange yellow green blue indigo violet crimson amber teal navy plum"
    val t4 = "north south east west up down left right forward backward inward outward"
    def corpusOf(rows: Seq[(Long, String)], dir: String): String = {
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("plant"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val v1rows = Seq(10L -> t1, 11L -> t1, 12L -> t2, 13L -> t3, 14L -> t4, 15L -> t4)
    val c1 = corpusOf(v1rows, java.nio.file.Files.createTempDirectory("graft_comprep_c1").toString)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      SignatureStore.materialize(spark, c1)
      def comps() = SignatureStore.componentsIfPresent(spark, c1).get
      assert(canon(comps()) == Set(10L -> 10L, 11L -> 10L, 14L -> 14L, 15L -> 14L),
        "planted corpus did not produce the expected components")
      // the changeset: delete 11 (its pair DISSOLVES — 10 must drop out
      // too, the deterministic form of edge removal the old contract
      // could not repair), rewrite 12 to 13's text (a NEW pair appears),
      // insert -1 with t4 (merges into {14,15} and takes over the min
      // label). The universal law — repaired == rebuilt-from-scratch —
      // subsumes the probabilistic bridge-split case too.
      val changes = Seq(
        (11L, null.asInstanceOf[String], true),
        (12L, t3, false),
        (-1L, t4, false))
        .toDF("doc_id", "text", "tombstone")
        .withColumn("lang", lit("en")).withColumn("source", lit("plant"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      assert(SignatureStore.applyChangeset(spark, c1, changes))
      val repaired = canon(comps())
      assert(repaired == Set(12L -> 12L, 13L -> 12L, 14L -> -1L, 15L -> -1L, -1L -> -1L),
        s"repair produced $repaired")
      // the law: a store built from scratch over the merged corpus agrees
      val merged = Seq(10L -> t1, 12L -> t3, 13L -> t3, 14L -> t4, 15L -> t4, -1L -> t4)
      val c2 = corpusOf(merged, java.nio.file.Files.createTempDirectory("graft_comprep_c2").toString)
      SignatureStore.materialize(spark, c2)
      assert(repaired == canon(SignatureStore.componentsIfPresent(spark, c2).get),
        "repaired components diverge from a full rebuild over the merged corpus")
      // versioned: the parent comp facet survives for in-flight readers
      val dir = SignatureStore.storeDir(spark, c1).get
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "v1", "components")) &&
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "v2", "components")))
      // an idempotent replay makes v1 and v2 prunable; prune keeps the
      // served v3 readable (linked bytes survive — the MergeOps.vacuum
      // argument)
      assert(SignatureStore.applyChangeset(spark, c1, changes))
      assert(canon(comps()) == repaired, "replayed apply diverged")
      val pruned = SignatureStore.pruneOldGenerations(spark, c1)
      assert(pruned.map(p => java.nio.file.Paths.get(p).getFileName.toString).toSet ==
        Set("v1", "v2"), s"pruned $pruned")
      assert(canon(comps()) == repaired,
        "served facet unreadable after prune")
      SignatureStore.drop(spark, c2)
    } finally {
      SignatureStore.drop(spark, c1)
      spark.conf.unset(SignatureStore.ConfKey)
      graft.operators.Dedup.releaseSignatures()
    }
  }

  test("store ≡ rebuild and component repair ≡ rebuild on the distributed contraction") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(threshold, "-1")
    try {
      storeAfterApplyEqualsRebuild()
      componentRepairEqualsRebuild()
    } finally spark.conf.unset(threshold)
  }

  test("a store build runs few jobs, all under the caller's job description") {
    assert(spark.conf.getOption(SignatureStore.ConfKey).isEmpty)
    val base = java.nio.file.Files.createTempDirectory("graft_sigjobs").toString
    spark.conf.set(SignatureStore.ConfKey, base)
    val desc = "graft sigstore build"
    try {
      val seen = SparkProbe.during(spark, "documents") {
        spark.sparkContext.setJobDescription(desc)
        try SignatureStore.materialize(spark, sf)
        finally spark.sparkContext.setJobDescription(null)
      }
      assert(seen.jobDescriptions.nonEmpty && seen.jobDescriptions.size <= 14,
        s"the build ran ${seen.jobDescriptions.size} jobs")
      assert(seen.jobDescriptions.forall(_ == desc),
        s"jobs without the caller's description: ${seen.jobDescriptions.filter(_ != desc)}")
      assert(SignatureStore.componentsIfPresent(spark, sf).exists(_.count() > 0))
    } finally {
      SignatureStore.drop(spark, sf)
      spark.conf.unset(SignatureStore.ConfKey)
      Dedup.releaseSignatures()
    }
  }

  test("a build whose component branch throws leaves the served version and no staged one") {
    assert(spark.conf.getOption(SignatureStore.ConfKey).isEmpty)
    val base = java.nio.file.Files.createTempDirectory("graft_sigthrow").toString
    spark.conf.set(SignatureStore.ConfKey, base)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq
    try {
      val dir = SignatureStore.materialize(spark, sf)
      val sigBefore = canon(SignatureStore.signaturesIfPresent(spark, sf).get)
      val compBefore = canon(SignatureStore.componentsIfPresent(spark, sf).get)
      val pointer = java.nio.file.Paths.get(dir, "CURRENT")
      val pointerBefore = java.nio.file.Files.readAllBytes(pointer).toSeq
      val e = intercept[IllegalStateException](
        SignatureStore.materializeWith(spark, sf)(_ => throw new IllegalStateException("planted")))
      assert(e.getMessage == "planted")
      assert(java.nio.file.Files.readAllBytes(pointer).toSeq == pointerBefore,
        "a failed build moved CURRENT")
      val versions = FsUtil.list(java.nio.file.Paths.get(dir))
        .map(_.getFileName.toString).filter(_.startsWith("v"))
      assert(versions == Seq("v1"), s"a failed build left a staged version: $versions")
      Dedup.releaseSignatures()
      assert(canon(SignatureStore.signaturesIfPresent(spark, sf).get) == sigBefore &&
        canon(SignatureStore.componentsIfPresent(spark, sf).get) == compBefore,
        "the served version changed under a failed build")
    } finally {
      SignatureStore.drop(spark, sf)
      spark.conf.unset(SignatureStore.ConfKey)
      Dedup.releaseSignatures()
    }
  }
}
