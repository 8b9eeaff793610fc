package graft

import graft.operators.MergeOps
import graft.sources.{Chain, CorpusLayout, PartitionedLayout}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The partition∘bucket layout ([[graft.sources.PartitionedLayout]]):
  * a partition column composed with key bucketing so that (1) a
  * partition-filtered query prunes whole directories BEFORE file
  * listing, (2) the key join still plans zero-Exchange off the bucket
  * spec — both pinned on executed plans of ONE table — and (3) a CoW
  * apply's write bill is the touched (partition, bucket) PAIRS:
  * untouched files hard-link forward inode-identically, a
  * cross-partition key move rewrites exactly its two homes.
  */
class PartitionedLayoutSpec extends AnyFunSuite with SparkTestBase {

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val here = p match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case _ => Nil
    }
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(scans)
  }

  /** (relative path → inode key) of every data file under a generation's
    * partition dirs.
    */
  private def inodes(gen: String): Map[String, AnyRef] = {
    val base = java.nio.file.Paths.get(gen)
    val walk = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.getAttribute(p, "unix:fileKey"))
        .toMap
    } finally walk.close()
  }

  private def withSandbox(body: (String, String, DataFrame) => Unit): Unit = {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory("graft_plt")
    val corpus = tmp.toString + "/corpus"
    val base = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    base.write.parquet(s"$corpus/documents.parquet")
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    try {
      MergeOps.materialize(spark, Chain(corpus, "documents", Some("source")),
        buckets = 8)
      body(corpus, PartitionedLayout.tableName("documents", corpus),
        base.localCheckpoint())
    } finally {
      PartitionedLayout.drop(spark, corpus, "documents")
      spark.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }

  test("ONE plan pair: partition filter prunes directories, key join ships zero Exchange") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val sources = base.select($"source").distinct()
        .collect().map(_.getString(0)).sorted
      assert(sources.length >= 2, "need >= 2 partitions for a prune pin")
      val one = sources.head

      // partition prune: the scan's numFiles must be the one
      // partition's files, not the table's
      val served = spark.table(t)
      val total = inodes(MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2).size
      val q1 = served.filter($"source" === one)
      // collect() so THIS Dataset's executedPlan carries the metrics
      // (count() plans a separate aggregate execution)
      assert(q1.collect().length == base.filter($"source" === one).count())
      val sc1 = scans(q1.queryExecution.executedPlan)
      assert(sc1.nonEmpty, "no file scan in the pruned read")
      val nf = sc1.map(_.metrics("numFiles").value).sum
      assert(nf > 0 && nf < total,
        s"partition filter did not prune directories: $nf of $total files")
      assert(sc1.exists(_.partitionFilters.nonEmpty),
        "no partitionFilters on the scan — the prune would be row-level")

      // zero-Exchange bucket join on the SAME table (self-join by key:
      // the degenerate spelling of any corpus⋈changeset probe)
      val a = spark.table(t).select($"doc_id", $"n_chars")
      val b = spark.table(t).select($"doc_id", $"lang")
      val j = a.hint("merge").join(b, "doc_id")
      assert(j.collect().length == base.count(), "self-join lost rows")
      val planStr = j.queryExecution.executedPlan.toString
      assert(!planStr.contains("Exchange"),
        s"bucketed key join shuffled:\n$planStr")
    }
  }

  test("CoW apply bill = touched (partition, bucket) pairs; values and moves exact") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val srcs = base.select($"source").distinct()
        .collect().map(_.getString(0)).sorted
      val (sA, sB) = (srcs(0), srcs(1))
      // one updated key in sA, one key MOVED sA→sB, one delete in sA —
      // every other (partition, bucket) pair must ride forward untouched
      val keys = base.filter($"source" === sA)
        .orderBy($"doc_id").limit(3).collect().map(_.getLong(0))
      val Seq(kUpd, kMove, kDel) = keys.toSeq
      val gen0 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      val before = inodes(gen0)

      val changes = base.filter($"doc_id".isin(kUpd, kMove))
        .select($"doc_id", $"text",
          when($"doc_id" === kUpd, "upd").otherwise($"lang").as("lang"),
          when($"doc_id" === kMove, sB).otherwise($"source").as("source"),
          $"n_chars")
        .withColumn(MergeOps.TombstoneCol, lit(false))
        .unionByName(base.filter($"doc_id" === kDel)
          .select($"doc_id", lit(null).cast("string").as("text"),
            lit(null).cast("string").as("lang"),
            lit(null).cast("string").as("source"),
            lit(null).cast("long").as("n_chars"))
          .withColumn(MergeOps.TombstoneCol, lit(true)))
      val vpath = PartitionedLayout.applyToLayout(spark, corpus, changes)
      val after = inodes(vpath)

      // value law: served ≡ the composed expectation, move included
      val expect = base.filter($"doc_id" =!= kDel)
        .select($"doc_id", $"text",
          when($"doc_id" === kUpd, "upd").otherwise($"lang").as("lang"),
          when($"doc_id" === kMove, sB).otherwise($"source").as("source"),
          $"n_chars")
      val served = spark.table(t)
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      assert(rows(served) == rows(expect),
        "partitioned apply diverged from the composed expectation")
      assert(spark.table(t).filter($"doc_id" === kMove)
        .select($"source").head().getString(0) == sB,
        "moved key must serve from its NEW partition")

      // bill law: the touched pairs are (sA, b(kUpd)) ∪ (sA, b(kMove))
      // ∪ (sA, b(kDel)) ∪ (sB, b(kMove)) — at most 4 rewritten files;
      // every other file is the SAME inode as generation 0
      def bucketOf(k: Long) = {
        val b = spark.range(1).select(
          pmod(hash(lit(k)), lit(8)).cast("int")).head().getInt(0)
        b
      }
      val touched = Set((sA, bucketOf(kUpd)), (sA, bucketOf(kMove)),
        (sA, bucketOf(kDel)), (sB, bucketOf(kMove)))
      val rewritten = after.filterNot { case (rel, ino) =>
        before.get(rel).contains(ino) }
      assert(rewritten.size <= touched.size,
        s"apply rewrote ${rewritten.size} files for ${touched.size} " +
          s"touched pairs: ${rewritten.keys.mkString(", ")}")
      val linked = after.count { case (rel, ino) =>
        before.get(rel).contains(ino) }
      assert(linked == after.size - rewritten.size && linked > 0,
        "untouched files must hard-link forward inode-identically")
      // every rewritten file sits in a touched pair's directory+bucket
      rewritten.keys.foreach { rel =>
        val p = rel.split("/")(0).split("=", 2)(1)
        val b = MergeOps.bucketIdOf(rel.split("/").last).get
        assert(touched.contains((p, b)),
          s"file outside the touched pairs rewrote: $rel")
      }
    }
  }

  test("one corpus read per apply: UPDATE carries its old homes, the direct apply looks them up once, no listing job") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val cols = spark.table(t).columns.toSeq
      val sA = base.select(min($"source")).head().getString(0)
      val gen0 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      // every partition but sA: far more than 32 touched (value, bucket)
      // units, and sA's files left to link forward
      val units = Chain.partitioned(spark, corpus).dataDirs(gen0)
        .filter(_._1 != sA).map(_._2.toFile.listFiles().count(_.getName.endsWith(".parquet"))).sum
      assert(units > 32, s"scenario broken: only $units touched units")
      val upd = SparkProbe.during(spark, t) {
        spark.sql(s"UPDATE $t SET lang = 'wide', n_chars = n_chars + 1 WHERE source <> '$sA'")
      }
      assert(!upd.jobDescriptions.exists(_.startsWith("Listing leaf files")),
        s"UPDATE re-listed its touched files in a Spark job: ${upd.jobDescriptions}")
      assert(upd.tableScans == 1, s"UPDATE scanned the corpus ${upd.tableScans} times")
      val want = base.select(cols.map(c =>
        if (c == "lang") when($"source" =!= sA, "wide").otherwise($"lang").as(c)
        else if (c == "n_chars") when($"source" =!= sA, $"n_chars" + 1).otherwise($"n_chars").as(c)
        else col(c)): _*)
      assert(rows(spark.table(t)) == rows(want), "UPDATE values diverged")

      // a direct apply has no WHERE scan to carry old homes from: its one
      // old-home lookup is the only corpus read — the diagnostics collect,
      // the unit discovery and the write never re-run it
      val Seq(kUpd, kMove, kDel) = base.orderBy($"doc_id").limit(3)
        .collect().map(_.getLong(0)).toSeq
      val maxId = base.agg(max($"doc_id")).head().getLong(0)
      val changes = Seq(
        (kUpd, "u", "x", sA, 1L, false), (kMove, "m", "y", "moved", 2L, false),
        (kDel, null, null, null, 0L, true), (maxId + 1, "n", "z", sA, 3L, false))
        .toDF("doc_id", "text", "lang", "source", "n_chars", MergeOps.TombstoneCol)
      val app = SparkProbe.during(spark, t) {
        PartitionedLayout.applyToLayout(spark, corpus, changes)
      }
      assert(app.tableScans == 1, s"direct apply scanned the corpus ${app.tableScans} times")
      assert(!app.jobDescriptions.exists(_.startsWith("Listing leaf files")),
        s"direct apply ran a listing job: ${app.jobDescriptions}")
      val got = spark.table(t).filter($"doc_id".isin(kUpd, kMove, kDel, maxId + 1))
        .select($"doc_id", $"text", $"source").orderBy($"doc_id").collect()
        .map(_.toString).toSeq
      assert(got == Seq(s"[$kUpd,u,$sA]", s"[$kMove,m,moved]", s"[${maxId + 1},n,$sA]"),
        s"direct apply values diverged: $got")
    }
  }

  test("guards: duplicate keys, NULL/unsafe partition values, absent-key tombstone no-op") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      def full(ids: DataFrame) = ids.join(base, "doc_id")
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .withColumn(MergeOps.TombstoneCol, lit(false))
      // duplicate key
      val dup = full(spark.range(1, 2).toDF("doc_id"))
      intercept[IllegalArgumentException](PartitionedLayout.applyToLayout(
        spark, corpus, dup.unionByName(dup)))
      // upsert with a NULL partition value has no home directory
      val nullp = full(spark.range(1, 2).toDF("doc_id"))
        .withColumn("source", lit(null).cast("string"))
      intercept[IllegalArgumentException](
        PartitionedLayout.applyToLayout(spark, corpus, nullp))
      // unsafe (escaped-in-path) partition value refuses
      val unsafe = full(spark.range(1, 2).toDF("doc_id"))
        .withColumn("source", lit("a b/c"))
      intercept[IllegalArgumentException](
        PartitionedLayout.applyToLayout(spark, corpus, unsafe))
      // each refusal class samples its own offenders: many orphans
      // (partial upserts of absent keys with no partition value) must
      // not crowd the duplicate key out of the message
      val maxId = base.agg(max($"doc_id")).head().getLong(0)
      val k = base.orderBy($"doc_id").limit(1).head().getLong(0)
      val mixed = intercept[IllegalArgumentException] {
        MergeOps.applyToLayoutFrom(spark, Chain.partitioned(spark, corpus),
            partial = true) { _ =>
          spark.range(maxId + 1, maxId + 201).select($"id".as("doc_id"),
              lit("zz").as("lang"))
            .unionByName(Seq((k, "d1"), (k, "d2")).toDF("doc_id", "lang"))
            .withColumn(MergeOps.TombstoneCol, lit(false))
        }
      }
      assert(mixed.getMessage.contains("one-row-per"),
        s"duplicate key hidden behind the orphan sample: ${mixed.getMessage}")
      // tombstones for absent keys: a complete no-op generation — the
      // chain advances, contents identical, everything hard-linked
      val gens0 = MergeOps.generations(spark, Chain.partitioned(spark, corpus))
      val ghost = spark.range(900000, 900002).toDF("doc_id")
        .select($"doc_id", lit(null).cast("string").as("text"),
          lit(null).cast("string").as("lang"),
          lit(null).cast("string").as("source"),
          lit(null).cast("long").as("n_chars"))
        .withColumn(MergeOps.TombstoneCol, lit(true))
      val before = inodes(gens0.last._2)
      val vpath = PartitionedLayout.applyToLayout(spark, corpus, ghost)
      assert(MergeOps.generations(spark, Chain.partitioned(spark, corpus))
        .size == gens0.size + 1, "no-op apply must still advance the chain")
      val after = inodes(vpath)
      assert(after == before.map { case (k, v) => k -> v },
        "no-op generation must hard-link every file")
      assert(rows(spark.table(t)
          .select($"doc_id", $"text", $"lang", $"source", $"n_chars")) ==
        rows(base.select($"doc_id", $"text", $"lang", $"source", $"n_chars")),
        "no-op apply changed served contents")
    }
  }

  test("merge-on-read composes: zero base bytes, per-partition sidecars, pruned+folded read, CoW folds the tip") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val srcs = base.select($"source").distinct()
        .collect().map(_.getString(0)).sorted
      val (sA, sB) = (srcs(0), srcs(1))
      val keys = base.filter($"source" === sA)
        .orderBy($"doc_id").limit(3).collect().map(_.getLong(0))
      val Seq(kUpd, kMove, kDel) = keys.toSeq
      val gen0 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      val before = inodes(gen0)
      spark.conf.set(MergeOps.MergeModeKey, "mor")
      try {
        val changes = base.filter($"doc_id".isin(kUpd, kMove))
          .select($"doc_id", $"text",
            when($"doc_id" === kUpd, "mor").otherwise($"lang").as("lang"),
            when($"doc_id" === kMove, sB).otherwise($"source").as("source"),
            $"n_chars")
          .withColumn(MergeOps.TombstoneCol, lit(false))
          .unionByName(base.filter($"doc_id" === kDel)
            .select($"doc_id", lit(null).cast("string").as("text"),
              lit(null).cast("string").as("lang"),
              lit(null).cast("string").as("source"),
              lit(null).cast("long").as("n_chars"))
            .withColumn(MergeOps.TombstoneCol, lit(true)))
        val vpath = PartitionedLayout.applyToLayout(spark, corpus, changes)

        // write bill: ZERO base bytes — every base file is the SAME
        // inode; new files live only under touched partitions' _dv dirs
        val after = inodes(vpath)
        val (sidecar, baseFiles) = after.partition(_._1.contains("_dv/"))
        assert(baseFiles.forall { case (rel, ino) =>
          before.get(rel).contains(ino) },
          "MOR apply rewrote a base file")
        assert(baseFiles.keySet == before.keySet,
          "MOR apply must carry every base file forward")
        val sidecarParts = sidecar.keys.map(_.split("/")(0).split("=", 2)(1)).toSet
        assert(sidecarParts == Set(sA, sB),
          s"sidecars outside the touched partitions: $sidecarParts")

        // value law through the composed read AND the bare SQL name
        val expect = base.filter($"doc_id" =!= kDel)
          .select($"doc_id", $"text",
            when($"doc_id" === kUpd, "mor").otherwise($"lang").as("lang"),
            when($"doc_id" === kMove, sB).otherwise($"source").as("source"),
            $"n_chars")
        val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
        val composed = Chain.partitioned(spark, corpus).served(spark)
          .get.select(cols.map(col): _*)
        assert(rows(composed) == rows(expect.select(cols.map(col): _*)),
          "composed MOR read diverged from the composed expectation")
        assert(rows(spark.table(t).select(cols.map(col): _*)) ==
          rows(expect.select(cols.map(col): _*)),
          "bare catalog name served the raw base over a MOR tip")
        assert(composed.filter($"doc_id" === kMove)
          .select($"source").head().getString(0) == sB,
          "moved key must serve from its NEW partition under MOR")

        // ONE executed plan: partition prune on the base scan + the
        // sidecar fold (anti-join) + delta-arm pruning, together
        val q = spark.table(t).filter($"source" === sB).select(cols.map(col): _*)
        val got = q.collect().length
        assert(got == expect.filter($"source" === sB).count())
        val sc = scans(q.queryExecution.executedPlan)
        val baseScan = sc.filter(_.partitionFilters.nonEmpty)
        assert(baseScan.nonEmpty, "no partition-pruned base scan in the composed read")
        val totalBase = before.size
        assert(baseScan.map(_.metrics("numFiles").value).sum < totalBase,
          "partition filter did not prune the composed base scan")
        assert(q.queryExecution.executedPlan.toString.contains("LeftAnti"),
          "no tombstone fold in the composed plan")
        val deltaScans = sc.filter(_.relation.location.rootPaths
          .exists(_.toString.contains("_dv/deltas")))
        assert(deltaScans.nonEmpty &&
          deltaScans.forall(_.relation.location.rootPaths
            .forall(_.toString.contains(s"source=$sB"))),
          "untouched partitions' delta arms must constant-fold away " +
            s"under the partition filter: ${deltaScans.flatMap(
              _.relation.location.rootPaths)}")

        // second MOR apply on sA only: sB's sidecar hard-links forward
        val upd2 = base.filter($"doc_id" === kUpd)
          .select($"doc_id", $"text", lit("mor2").as("lang"), $"source",
            $"n_chars")
          .withColumn(MergeOps.TombstoneCol, lit(false))
        val v2 = PartitionedLayout.applyToLayout(spark, corpus, upd2)
        val after2 = inodes(v2)
        val sbDv = after.filter(_._1.startsWith(s"source=$sB/"))
          .filter(_._1.contains("_dv/"))
        assert(sbDv.forall { case (rel, ino) =>
          after2.get(rel).contains(ino) },
          "untouched partition's sidecar must hard-link forward")
        assert(spark.table(t).filter($"doc_id" === kUpd)
          .select($"lang").head().getString(0) == "mor2",
          "second MOR apply did not fold cumulatively")

        // CoW over the MOR tip folds the sidecars away, values intact
        spark.conf.set(MergeOps.MergeModeKey, "cow")
        val upd3 = base.filter($"doc_id" === kUpd)
          .select($"doc_id", $"text", lit("cowfold").as("lang"), $"source",
            $"n_chars")
          .withColumn(MergeOps.TombstoneCol, lit(false))
        val v3 = PartitionedLayout.applyToLayout(spark, corpus, upd3)
        assert(Chain.partitioned(spark, corpus).dvDirs(v3).isEmpty,
          "CoW over a MOR tip must fold the sidecars away")
        val expect3 = expect.select(cols.map(col): _*)
          .withColumn("lang", when($"doc_id" === kUpd, "cowfold")
            .otherwise($"lang"))
        assert(rows(spark.table(t).select(cols.map(col): _*)) ==
          rows(expect3.select(cols.map(col): _*)),
          "CoW fold over the MOR tip diverged")
      } finally spark.conf.unset(MergeOps.MergeModeKey)
    }
  }

  test("key-type guard: coercible keys re-hash to the TRUE pair homes; lossy keys refuse") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val r = base.orderBy($"doc_id").limit(1).head()
      val (k, src0) = (r.getLong(0), r.getString(3))
      // INT changeset key against the LONG corpus: murmur3 hashes the
      // two widths differently, so an unguarded bucketOf would place the
      // touched pair in the WRONG bucket — the fix casts first, so the
      // bill is exactly the key's one true (partition, bucket) pair
      val gen0 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      val before = inodes(gen0)
      val changes = base.filter($"doc_id" === k)
        .select($"doc_id".cast("int").as("doc_id"), $"text",
          lit("kt").as("lang"), $"source", $"n_chars")
        .withColumn(MergeOps.TombstoneCol, lit(false))
      val vpath = PartitionedLayout.applyToLayout(spark, corpus, changes)
      val trueBucket = spark.range(1)
        .select(pmod(hash(lit(k)), lit(8)).cast("int")).head().getInt(0)
      val rewritten = inodes(vpath).filterNot { case (rel, ino) =>
        before.get(rel).contains(ino) }
      rewritten.keys.foreach { rel =>
        val p = rel.split("/")(0).split("=", 2)(1)
        val b = MergeOps.bucketIdOf(rel.split("/").last).get
        assert((p, b) == ((src0, trueBucket)),
          s"INT-keyed changeset rewrote a pair outside the key's true home: $rel")
      }
      assert(spark.table(t).filter($"doc_id" === k)
        .head().getString(2) == "kt", "coerced-key upsert did not land")
      // a non-round-tripping key (fractional double) must refuse loudly
      val lossy = base.filter($"doc_id" === k)
        .select(($"doc_id" + 0.5).as("doc_id"), $"text", $"lang",
          $"source", $"n_chars")
        .withColumn(MergeOps.TombstoneCol, lit(false))
      val e = intercept[IllegalArgumentException](
        PartitionedLayout.applyToLayout(spark, corpus, lossy))
      assert(e.getMessage.contains("round-trip"), e.getMessage)
    }
  }

  test("re-materialize starts a NEW chain: stale generations cannot shadow the rebuild") {
    import spark.implicits._
    withSandbox { (corpus, _, base) =>
      val k = base.orderBy($"doc_id").limit(1).head().getLong(0)
      def upd(lang: String) = base.filter($"doc_id" === k)
        .select($"doc_id", $"text", lit(lang).as("lang"), $"source", $"n_chars")
        .withColumn(MergeOps.TombstoneCol, lit(false))
      // both chain kinds take the same rebuild: the sandbox's partitioned
      // chain, then a flat chain over the same corpus
      MergeOps.materialize(spark, Chain.flat(corpus), buckets = 8)
      try for (chain <- Seq(Chain.partitioned(spark, corpus), Chain.flat(corpus))) {
        val t = chain.catalogName
        MergeOps.applyToLayout(spark, chain, upd("old"))
        assert(MergeOps.generations(spark, chain).map(_._1) == Seq(0, 1))
        // rebuild: the previous chain's _v1 must NOT survive to out-number
        // generation 0 — before the fix the next apply's resync "repaired"
        // the serving table back onto the STALE _v1, discarding the rebuild
        MergeOps.materialize(spark, chain, buckets = 8)
        assert(MergeOps.generations(spark, chain).map(_._1) == Seq(0),
          s"$t: stale generations survived re-materialize")
        assert(spark.table(t).filter($"doc_id" === k).head().getString(2) !=
          "old", s"$t: re-materialize still serves the previous chain's data")
        val v = MergeOps.applyToLayout(spark, chain, upd("new"))
        assert(v.contains("documents_v1"), s"$t: apply went to $v")
        assert(spark.table(t).filter($"doc_id" === k).head().getString(2) ==
          "new", s"$t: apply after re-materialize lost the update")
        assert(spark.table(t).count() == base.count(),
          s"$t: apply after re-materialize served a stale row set")
      } finally CorpusLayout.drop(spark, corpus)
    }
  }

  test("maintenance verbs: VACUUM reclaims, OPTIMIZE folds the MOR tip, CHECK TABLE audits — over partition dirs") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val k = base.orderBy($"doc_id").limit(1).head().getLong(0)
      def upd(lang: String) = base.filter($"doc_id" === k)
        .select($"doc_id", $"text", lit(lang).as("lang"), $"source", $"n_chars")
        .withColumn(MergeOps.TombstoneCol, lit(false))
      // build a chain: one CoW apply, two MOR applies
      PartitionedLayout.applyToLayout(spark, corpus, upd("c1"))
      spark.conf.set(MergeOps.MergeModeKey, "mor")
      try {
        PartitionedLayout.applyToLayout(spark, corpus, upd("m1"))
        PartitionedLayout.applyToLayout(spark, corpus, upd("m2"))
      } finally spark.conf.unset(MergeOps.MergeModeKey)
      assert(MergeOps.generations(spark, Chain.partitioned(spark, corpus))
        .map(_._1) == Seq(0, 1, 2, 3))

      // CHECK TABLE (SQL spelling) on the MOR tip: all rows ok,
      // including the per-partition dv audit
      val audit = spark.sql(s"CHECK TABLE $t").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(audit.keySet.contains("dv_sidecar") &&
        audit.values.forall(_ == "ok"),
        s"healthy MOR tip audits dirty: ${audit.mkString(", ")}")

      // DESCRIBE HISTORY speaks the partitioned chain: the two MOR
      // generations carry the dv flag, the tip is served
      val hist = spark.sql(s"DESCRIBE HISTORY $t").collect()
      assert(hist.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3) &&
        hist.count(_.getBoolean(7)) == 2 &&
        hist.filter(_.getBoolean(5)).map(_.getInt(0)).toSeq == Seq(3),
        s"history rows: ${hist.mkString("; ")}")

      // OPTIMIZE folds the sidecars into one clean generation
      val folded = spark.sql(s"OPTIMIZE $t").head().getString(0)
      assert(folded.contains("documents_v4"), s"OPTIMIZE went to $folded")
      assert(Chain.partitioned(spark, corpus).dvDirs(folded).isEmpty,
        "OPTIMIZE must fold the MOR sidecars away")
      assert(spark.table(t).filter($"doc_id" === k)
        .select($"lang").head().getString(0) == "m2",
        "OPTIMIZE lost the folded edits")

      // VACUUM RETAIN 2: generations 0..2 reclaim, 3..4 stay
      val deleted = spark.sql(s"VACUUM $t RETAIN 2 GENERATIONS")
        .collect().map(_.getString(0)).toSeq
      assert(deleted.size == 3 &&
        MergeOps.generations(spark, Chain.partitioned(spark, corpus))
          .map(_._1) == Seq(3, 4),
        s"vacuum deleted $deleted")
      assert(spark.table(t).filter($"doc_id" === k)
        .select($"lang").head().getString(0) == "m2",
        "vacuum touched the served generation")

      // a planted misplaced row is caught by name (audit honesty)
      val gen = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      val anyPart = new java.io.File(gen).listFiles()
        .filter(f => f.isDirectory && f.getName.contains("=")).head
      val victim = anyPart.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val wrongBucket = f"part_99999_${(MergeOps.bucketIdOf(victim.getName).get + 1) % 8}%05d.parquet"
      java.nio.file.Files.copy(victim.toPath,
        victim.toPath.resolveSibling(wrongBucket))
      try {
        val audit2 = spark.sql(s"CHECK TABLE $t").collect()
          .map(r => (r.getString(0), r.getString(1))).toMap
        assert(audit2("bucket_placement") == "FAIL" ||
          audit2("key_uniqueness") == "FAIL",
          s"planted misplaced file not caught: ${audit2.mkString(", ")}")
      } finally java.nio.file.Files.delete(
        victim.toPath.resolveSibling(wrongBucket))
    }
  }

  test("SQL DML verbs drive the partitioned chain: UPDATE/DELETE/INSERT/MERGE + time travel") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val srcs = base.select($"source").distinct()
        .collect().map(_.getString(0)).sorted
      val (sA, sB) = (srcs(0), srcs(1))
      val cols = spark.table(t).columns.toSeq // pcol last (catalog order)

      // UPDATE with WHERE: partial changeset (no pcol assignment — rows
      // stay home)
      spark.sql(s"UPDATE $t SET lang = 'up' WHERE doc_id % 7 = 0")
      val gen1 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      assert(gen1.contains("documents_v1"), s"UPDATE did not advance: $gen1")
      assert(rows(spark.table(t)) == rows(base.withColumn("lang",
          when($"doc_id" % 7 === 0, "up").otherwise($"lang"))
        .select(cols.map(col): _*)),
        "UPDATE values diverged")

      // UPDATE SET <pcol>: a cross-partition move — the row re-homes,
      // and the write bill is exactly its two (partition, bucket)
      // homes (fresh inodes ≤ 2, everything else hard-links forward)
      val mover = base.filter($"source" === sA)
        .orderBy($"doc_id").limit(1).head().getLong(0)
      val before = inodes(gen1)
      spark.sql(s"UPDATE $t SET source = '$sB' WHERE doc_id = $mover")
      val after = inodes(MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2)
      val fresh = after.filterNot { case (rel, ino) =>
        before.get(rel).contains(ino) }
      assert(fresh.nonEmpty && fresh.size <= 2,
        s"cross-partition move must rewrite exactly its two homes, " +
          s"rewrote ${fresh.keys.mkString(", ")}")
      val moved = spark.table(t).filter($"doc_id" === mover)
        .select($"source").head().getString(0)
      assert(moved == sB, s"cross-partition UPDATE left the row in $moved")

      // DELETE
      spark.sql(s"DELETE FROM $t WHERE doc_id % 13 = 0")
      assert(spark.table(t).filter($"doc_id" % 13 === 0).count() == 0,
        "DELETE left rows")

      // INSERT INTO with a static PARTITION pin; duplicate key refuses
      val maxId = base.agg(max($"doc_id")).head().getLong(0)
      spark.sql(
        s"""INSERT INTO $t PARTITION (source = '$sA')
           |(doc_id, text, lang, n_chars)
           |VALUES (${maxId + 1}, 'new doc', 'xx', CAST(7 AS BIGINT))
           |""".stripMargin)
      val ins = spark.table(t).filter($"doc_id" === maxId + 1)
      assert(ins.count() == 1 &&
        ins.select($"source").head().getString(0) == sA,
        "PARTITION-pinned INSERT missed its home")
      val dup = intercept[Exception] {
        spark.sql(s"INSERT INTO $t PARTITION (source = '$sA') " +
          s"(doc_id, text, lang, n_chars) VALUES (${maxId + 1}, 'x', 'y', 1)")
      }
      assert(dup.getMessage.contains("already present"),
        s"duplicate INSERT must refuse loudly, got: ${dup.getMessage}")
      // PARTITION naming a non-partition column refuses
      val wrongCol = intercept[Exception] {
        spark.sql(s"INSERT INTO $t PARTITION (lang = 'xx') " +
          s"(doc_id, text, source, n_chars) VALUES (${maxId + 2}, 'x', '$sA', 1)")
      }
      assert(wrongCol.getMessage.contains("partitions by"),
        s"wrong PARTITION column must refuse, got: ${wrongCol.getMessage}")

      // INSERT OVERWRITE PARTITION: replaces THAT partition only
      val keepB = spark.table(t).filter($"source" === sB).count()
      spark.sql(
        s"""INSERT OVERWRITE $t PARTITION (source = '$sA')
           |(doc_id, text, lang, n_chars)
           |SELECT doc_id, text, 'ow' AS lang, n_chars
           |FROM $t WHERE source = '$sA' AND doc_id % 2 = 0
           |""".stripMargin)
      val pA = spark.table(t).filter($"source" === sA)
      assert(pA.filter($"lang" =!= "ow").count() == 0 &&
        pA.filter($"doc_id" % 2 =!= 0).count() == 0,
        "partition OVERWRITE did not replace the pinned partition")
      assert(spark.table(t).filter($"source" === sB).count() == keepB,
        "partition OVERWRITE leaked into other partitions")

      // MERGE INTO: update + insert through one statement
      val eB = spark.table(t).filter($"source" === sB && $"doc_id" <= maxId)
        .agg(max($"doc_id")).head().getLong(0)
      spark.sql(
        s"""MERGE INTO $t tgt USING (
           |  SELECT $eB AS id, 'mg' AS v, '$sB' AS home
           |  UNION ALL SELECT ${maxId + 5}, 'mg', '$sB'
           |) s ON tgt.doc_id = s.id
           |WHEN MATCHED THEN UPDATE SET lang = s.v
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, source)
           |  VALUES (s.id, s.v, s.home)
           |""".stripMargin)
      val merged = spark.table(t)
        .filter($"doc_id".isin(eB, maxId + 5))
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id").collect().map(_.toString).toSeq
      assert(merged == Seq(s"[$eB,mg,$sB]", s"[${maxId + 5},mg,$sB]"),
        s"MERGE INTO result diverged: $merged")

      // time travel: VERSION AS OF 0 is the birth frame; a tag name
      // fails loudly (partitioned chains retain no tags); TIMESTAMP
      // before the first commit fails with the range
      assert(rows(spark.sql(s"SELECT * FROM $t VERSION AS OF 0")) ==
        rows(base.select(cols.map(col): _*)),
        "VERSION AS OF 0 diverged from the birth frame")
      val noTag = intercept[Exception] {
        spark.sql(s"SELECT * FROM $t VERSION AS OF 'release'").collect()
      }
      assert(noTag.getMessage.contains("neither an integer"),
        s"tag VERSION must fail loudly, got: ${noTag.getMessage}")
      val tooEarly = intercept[Exception] {
        spark.sql(
          s"SELECT * FROM $t TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
      }
      assert(tooEarly.getMessage.contains("before the first retained"),
        s"pre-history TIMESTAMP must fail loudly, got: ${tooEarly.getMessage}")
    }
  }

  test("SQL DML over a MOR tip: sidecars fold in every read, time travel included") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val cols = spark.table(t).columns.toSeq
      spark.conf.set(MergeOps.MergeModeKey, "mor")
      try {
        // UPDATE under MOR: zero base bytes (every base file links
        // forward), the edit lives in per-partition sidecars
        val before = inodes(MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2)
        spark.sql(s"UPDATE $t SET lang = 'mu' WHERE doc_id % 5 = 0")
        val gen1 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
        val after = inodes(gen1).filterNot(_._1.contains("_dv"))
        assert(after.forall { case (rel, ino) => before.get(rel).contains(ino) },
          "MOR UPDATE rewrote base files — every base byte must hard-link")
        assert(Chain.partitioned(spark, corpus).dvDirs(gen1).nonEmpty,
          "MOR UPDATE wrote no sidecar")
        val want = base.withColumn("lang",
            when($"doc_id" % 5 === 0, "mu").otherwise($"lang"))
          .select(cols.map(col): _*)
        assert(rows(spark.table(t)) == rows(want),
          "MOR UPDATE read-back diverged")
        // DELETE stacks on the same sidecars
        spark.sql(s"DELETE FROM $t WHERE doc_id % 11 = 0")
        assert(spark.table(t).filter($"doc_id" % 11 === 0).count() == 0,
          "MOR DELETE left rows")
        // VERSION AS OF composes each generation's OWN sidecars
        assert(rows(spark.sql(s"SELECT * FROM $t VERSION AS OF 1")) ==
          rows(want), "VERSION AS OF 1 must fold generation 1's sidecar")
        assert(rows(spark.sql(s"SELECT * FROM $t VERSION AS OF 0")) ==
          rows(base.select(cols.map(col): _*)),
          "VERSION AS OF 0 must read the clean birth frame")
      } finally spark.conf.unset(MergeOps.MergeModeKey)
    }
  }

  test("partial apply refuses an upsert for an absent key with no partition value") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val maxId = base.agg(max($"doc_id")).head().getLong(0)
      val err = intercept[IllegalArgumentException] {
        MergeOps.applyToLayoutFrom(spark, Chain.partitioned(spark, corpus),
            partial = true) { _ =>
          Seq((maxId + 1, "zz")).toDF("doc_id", "lang")
            .withColumn(MergeOps.TombstoneCol, lit(false))
        }
      }
      assert(err.getMessage.contains("no home directory") ||
        err.getMessage.contains("must state its partition"),
        s"orphan partial upsert must refuse loudly, got: ${err.getMessage}")
    }
  }

  test("column mapping composes over partition dirs: metadata-only swings, applies cross the boundary, rewrites rebase") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val cols = spark.table(t).columns.toSeq

      // RENAME is metadata-only: every data byte hard-links forward
      val gen0 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      val before = inodes(gen0)
      spark.sql(s"ALTER TABLE $t RENAME COLUMN lang TO language")
      val gen1 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      assert(gen1 != gen0, "RENAME must advance the chain")
      val after = inodes(gen1)
      assert(after == before.map { case (rel, ino) => rel -> ino },
        "RENAME rewrote data files — the swing must be metadata-only")
      // the served view speaks the LOGICAL name; values are untouched
      assert(spark.table(t).columns.contains("language") &&
        !spark.table(t).columns.contains("lang"),
        "serving read did not project the rename")
      assert(rows(spark.table(t).select($"doc_id", $"language")) ==
        rows(base.select($"doc_id", $"lang".as("language"))),
        "rename changed values")

      // an UPDATE speaks the logical name; the touched files keep the
      // PHYSICAL one (the mapping carries across the CoW apply)
      val k = base.orderBy($"doc_id").limit(1).head().getLong(0)
      spark.sql(s"UPDATE $t SET language = 're' WHERE doc_id = $k")
      assert(spark.table(t).filter($"doc_id" === k)
        .select($"language").head().getString(0) == "re",
        "logical-named UPDATE lost its edit")
      val gen2 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      val rewritten = inodes(gen2).keys.filterNot(inodes(gen1).contains)
      assert(rewritten.nonEmpty, "the UPDATE rewrote nothing")
      val rawCols = spark.read.parquet(rewritten.map(r => s"$gen2/$r").toSeq: _*)
        .columns.toSet
      assert(rawCols.contains("lang") && !rawCols.contains("language"),
        s"rewritten pair files must keep PHYSICAL names, got $rawCols")

      // DROP is metadata-only too; the slot vanishes logically
      spark.sql(s"ALTER TABLE $t DROP COLUMN n_chars")
      assert(!spark.table(t).columns.contains("n_chars"),
        "serving read still shows the dropped column")

      // key / partition column cannot move
      val keyErr = intercept[Exception] {
        spark.sql(s"ALTER TABLE $t RENAME COLUMN doc_id TO id") }
      assert(keyErr.getMessage.contains("layout key"),
        s"key rename must refuse, got: ${keyErr.getMessage}")
      val pcolErr = intercept[Exception] {
        spark.sql(s"ALTER TABLE $t DROP COLUMN source") }
      assert(pcolErr.getMessage.contains("names the"),
        s"pcol drop must refuse, got: ${pcolErr.getMessage}")

      // time travel reads each generation through its OWN mapping:
      // the birth generation still speaks the old names
      val v0 = spark.sql(s"SELECT * FROM $t VERSION AS OF 0")
      assert(v0.columns.contains("lang") && v0.columns.contains("n_chars"),
        "VERSION AS OF 0 must show the pre-evolution schema")

      // MOR apply across the mapping boundary: sidecar in physical
      // space, composed read logical
      spark.conf.set(MergeOps.MergeModeKey, "mor")
      try spark.sql(s"UPDATE $t SET language = 'mm' WHERE doc_id = $k")
      finally spark.conf.unset(MergeOps.MergeModeKey)
      assert(spark.table(t).filter($"doc_id" === k)
        .select($"language").head().getString(0) == "mm",
        "MOR UPDATE across the mapping boundary lost its edit")

      // OPTIMIZE (full fold) REBASES: logical names become the physical
      // truth, the marker clears, the dropped slot is gone for real
      spark.sql(s"OPTIMIZE $t")
      val genR = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      assert(graft.sources.CorpusLayout.readMapping(genR).isEmpty,
        "rebase must clear the mapping marker")
      val rebasedCols = spark.read.parquet(genR).columns.toSet
      assert(rebasedCols.contains("language") &&
        !rebasedCols.contains("lang") && !rebasedCols.contains("n_chars"),
        s"rebase must write logical names as physical truth, got $rebasedCols")
      assert(spark.table(t).filter($"doc_id" === k)
        .select($"language").head().getString(0) == "mm",
        "rebase lost the MOR edit")
    }
  }

  test("z-clustering composes: tight per-file boxes within pairs, maintained under DML, rebased by OPTIMIZE") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      // per-file [min, max] of n_chars across a generation's data files
      def ranges(gen: String): Seq[(Long, Long)] =
        spark.read.parquet(gen)
          .select($"n_chars", input_file_name().as("__f"))
          .groupBy($"__f").agg(min($"n_chars").as("lo"), max($"n_chars").as("hi"))
          .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
      def intersectFrac(rs: Seq[(Long, Long)], lo: Long, hi: Long): Double =
        rs.count { case (l, h) => h >= lo && l <= hi }.toDouble / rs.size
      val (bLo, bHi) = {
        val q = base.stat.approxQuantile("n_chars", Array(0.4, 0.5), 0.01)
        (q(0).toLong, q(1).toLong)
      }
      val gen0 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      val f0 = intersectFrac(ranges(gen0), bLo, bHi)
      // snapshot BEFORE the re-materialize — it rebuilds generation 0
      // at the same path
      val files0 = inodes(gen0).size

      // re-materialize CLUSTERED: each (partition, bucket) pair's rows
      // sort by the z-value and split at the row bound
      MergeOps.materialize(spark, Chain(corpus, "documents", Some("source")),
        buckets = 8,
        clusterBy = Seq("n_chars"), clusterRowsPerFile = 2)
      val gen0c = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      assert(graft.sources.CorpusLayout.readClusterSpec(gen0c).nonEmpty,
        "clustered materialize wrote no _CLUSTER marker")
      val rs = ranges(gen0c)
      assert(rs.size > files0,
        s"row bound did not split pair files: ${rs.size} vs $files0")
      val f1 = intersectFrac(rs, bLo, bHi)
      assert(f1 < f0,
        s"clustering did not tighten per-file boxes: $f1 vs unclustered $f0")
      // `_zv` is physical-only: hidden from the served view
      assert(!spark.table(t).columns.contains("_zv"),
        "the z helper column leaked into the logical view")
      assert(rows(spark.table(t)) ==
        rows(base.select(spark.table(t).columns.map(col): _*)),
        "clustered build changed values")

      // SQL DML over the clustered chain: the rewritten pair RECOMPUTES
      // _zv (marker + mapping carry), values stay exact
      val k = base.orderBy($"doc_id").limit(1).head().getLong(0)
      spark.sql(s"UPDATE $t SET lang = 'zc' WHERE doc_id = $k")
      val gen1 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      assert(graft.sources.CorpusLayout.readClusterSpec(gen1).nonEmpty,
        "CoW apply dropped the _CLUSTER marker")
      assert(spark.table(t).filter($"doc_id" === k)
        .select($"lang").head().getString(0) == "zc",
        "UPDATE over the clustered chain lost its edit")
      assert(!spark.table(t).columns.contains("_zv"),
        "_zv leaked after the apply")

      // MOR carries the marker with the linked files
      spark.conf.set(MergeOps.MergeModeKey, "mor")
      try spark.sql(s"UPDATE $t SET lang = 'zm' WHERE doc_id = $k")
      finally spark.conf.unset(MergeOps.MergeModeKey)
      val gen2 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      assert(graft.sources.CorpusLayout.readClusterSpec(gen2).nonEmpty,
        "MOR apply dropped the _CLUSTER marker")

      // OPTIMIZE rebases: sidecars fold, spec survives, boxes re-tighten
      spark.sql(s"OPTIMIZE $t")
      val genR = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      assert(graft.sources.CorpusLayout.readClusterSpec(genR).nonEmpty,
        "rebase lost the cluster spec")
      assert(Chain.partitioned(spark, corpus).dvDirs(genR).isEmpty,
        "rebase left MOR sidecars")
      val fR = intersectFrac(ranges(genR), bLo, bHi)
      assert(fR < f0, s"rebase lost clustering quality: $fR vs $f0")
      assert(spark.table(t).filter($"doc_id" === k)
        .select($"lang").head().getString(0) == "zm",
        "rebase lost the MOR edit")

      // the spec must not name the partition column
      val err = intercept[IllegalArgumentException] {
        MergeOps.materialize(spark, Chain(corpus, "documents", Some("source")),
          buckets = 8, clusterBy = Seq("source"))
      }
      assert(err.getMessage.contains("constant within"),
        s"pcol cluster spec must refuse, got: ${err.getMessage}")
    }
  }

  test("tags pin partitioned generations: CREATE TAG, VERSION AS OF 'name', vacuum respects the pin") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val cols = spark.table(t).columns.toSeq
      spark.sql(s"UPDATE $t SET lang = 't1' WHERE doc_id % 3 = 0") // v1
      spark.sql(s"UPDATE $t SET lang = 't2' WHERE doc_id % 4 = 0") // v2
      spark.sql(s"UPDATE $t SET lang = 't3' WHERE doc_id % 5 = 0") // v3

      val tagged = spark.sql(s"ALTER TABLE $t CREATE TAG birth AS OF VERSION 0")
        .head().getString(0)
      assert(tagged.endsWith("/documents"), s"tagged the wrong path: $tagged")
      assert(spark.sql(s"SHOW TAGS $t").collect().map(r =>
          (r.getString(0), r.getInt(1))).toSeq == Seq(("birth", 0)),
        "SHOW TAGS diverged")
      // the tag namespace is the partitioned chain's own: the FLAT
      // chain of the same corpus has no such tag
      assert(MergeOps.tags(spark, Chain.flat(corpus)).isEmpty,
        "partitioned tag leaked into the flat namespace")

      // VERSION AS OF 'birth' reads the tagged generation
      assert(rows(spark.sql(s"SELECT * FROM $t VERSION AS OF 'birth'")) ==
        rows(base.select(cols.map(col): _*)),
        "tag time travel diverged from the birth frame")

      // duplicate tag refuses loudly
      val dup = intercept[Exception] {
        spark.sql(s"ALTER TABLE $t CREATE TAG birth") }
      assert(dup.getMessage.contains("already exists"),
        s"duplicate tag must refuse, got: ${dup.getMessage}")

      // vacuum keeps the pinned generation 0 but reclaims v1
      val deleted = spark.sql(s"VACUUM $t RETAIN 2 GENERATIONS")
        .collect().map(_.getString(0)).toSeq
      assert(deleted.size == 1 && deleted.head.contains("documents_v1"),
        s"vacuum must reclaim only v1 (v0 pinned, v2+v3 retained): $deleted")
      assert(MergeOps.generations(spark, Chain.partitioned(spark, corpus))
        .map(_._1) == Seq(0, 2, 3), "wrong retained set")
      // DESCRIBE HISTORY marks the pin
      val hist = spark.sql(s"DESCRIBE HISTORY $t").collect()
        .map(r => r.getInt(0) -> r.getBoolean(6)).toMap
      assert(hist(0) && !hist(2), s"pinned flags wrong: $hist")

      // dropping the tag releases the pin: the next vacuum reclaims v0
      assert(spark.sql(s"ALTER TABLE $t DROP TAG birth").head().getBoolean(0))
      val deleted2 = spark.sql(s"VACUUM $t RETAIN 2 GENERATIONS")
        .collect().map(_.getString(0)).toSeq
      assert(deleted2.size == 1 && deleted2.head.endsWith("/documents"),
        s"post-drop vacuum must reclaim the unpinned v0: $deleted2")
    }
  }

  test("change data feed rides the partitioned chain: per-apply slices, empty metadata swings, loud gaps") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val maxId = base.agg(max($"doc_id")).head().getLong(0)
      spark.conf.set(MergeOps.ChangeFeedKey, "true")
      try {
        spark.sql(s"UPDATE $t SET lang = 'cf' WHERE doc_id % 9 = 0")    // v1
        spark.sql(s"DELETE FROM $t WHERE doc_id % 10 = 0")              // v2
        spark.sql(s"INSERT INTO $t (doc_id, text, lang, n_chars, source) " +
          s"VALUES (${maxId + 1}, 'cdoc', 'xx', 3, 'feedpart')")        // v3
        spark.sql(s"ALTER TABLE $t RENAME COLUMN text TO body")         // v4

        val feed = spark.sql(s"SELECT * FROM graft_changes('$t', 0)")
        val byGenType = feed.groupBy(col(MergeOps.CommitGenCol),
            col(MergeOps.ChangeTypeCol)).count()
          .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
          .toMap
        val n9 = base.filter($"doc_id" % 9 === 0).count()
        val n10 = base.filter($"doc_id" % 10 === 0).count()
        assert(byGenType == Map(
          (1, "update_postimage") -> n9,
          (2, "delete") -> n10,
          (3, "insert") -> 1L),
          s"feed shape diverged: $byGenType (metadata swing v4 must " +
            "contribute nothing)")
        // the inserted row rides with its partition value in the slice
        assert(feed.filter(col(MergeOps.ChangeTypeCol) === "insert")
          .select($"source").head().getString(0) == "feedpart",
          "insert slice lost the partition column")

        // a row-changing apply with the feed OFF gaps the chain loudly
        spark.conf.unset(MergeOps.ChangeFeedKey)
        spark.sql(s"UPDATE $t SET lang = 'off' WHERE doc_id = ${maxId + 1}")
        val gap = intercept[IllegalStateException] {
          MergeOps.changeFeed(spark, Chain.partitioned(spark, corpus), 0).count()
        }
        assert(gap.getMessage.contains("no change-feed sidecar"),
          s"gapped feed must fail loudly, got: ${gap.getMessage}")
        // a range that stops before the gap still serves
        assert(MergeOps.changeFeed(spark, Chain.partitioned(spark, corpus),
          0, 4).count() == n9 + n10 + 1)
      } finally spark.conf.unset(MergeOps.ChangeFeedKey)
    }
  }

  test("ADD COLUMNS over partition dirs: anchor-only bytes, NULL-filled rows, survives repair") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val gen0 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      val before = inodes(gen0)
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (score DOUBLE)")
      val gen1 = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      val after = inodes(gen1)
      // every pre-existing byte hard-links; the ONLY new file is the
      // zero-row schema anchor
      val fresh = after.filterNot { case (rel, ino) =>
        before.get(rel).contains(ino) }
      assert(fresh.size == 1,
        s"ADD must write exactly the anchor, wrote ${fresh.keys.mkString(", ")}")
      assert(spark.table(t).columns.contains("score"),
        "the added column is not served")
      assert(spark.table(t).filter($"score".isNotNull).count() == 0,
        "untouched rows must read the added column as NULL")
      assert(spark.table(t).count() == base.count(), "the anchor added rows")

      // DML can assign the new column
      val k = base.orderBy($"doc_id").limit(1).head().getLong(0)
      spark.sql(s"UPDATE $t SET score = 1.5 WHERE doc_id = $k")
      assert(spark.table(t).filter($"doc_id" === k)
        .select($"score").head().getDouble(0) == 1.5,
        "UPDATE on the added column lost its value")

      // the evolution survives a catalog drop + fresh-session repair
      // (mergeSchema finds the anchor's footer)
      PartitionedLayout.drop(spark, corpus, "documents")
      Chain.partitioned(spark, corpus).repair(spark)
      assert(spark.table(t).columns.contains("score"),
        "repairServing lost the evolved schema")
      assert(spark.table(t).filter($"doc_id" === k)
        .select($"score").head().getDouble(0) == 1.5,
        "repair lost the assigned value")

      // pre-evolution generations keep their shape
      assert(!spark.sql(s"SELECT * FROM $t VERSION AS OF 0")
        .columns.contains("score"),
        "VERSION AS OF 0 must show the pre-ADD schema")

      // a dropped physical slot must not be shadowed
      spark.sql(s"ALTER TABLE $t DROP COLUMN lang")
      val shadow = intercept[Exception] {
        spark.sql(s"ALTER TABLE $t ADD COLUMNS (lang STRING)") }
      assert(shadow.getMessage.contains("already exists"),
        s"shadowing a dropped slot must refuse, got: ${shadow.getMessage}")
    }
  }

  test("fresh-session repair: the catalog re-attaches the newest generation from disk") {
    import spark.implicits._
    withSandbox { (corpus, t, base) =>
      val k = base.orderBy($"doc_id").limit(1).head().getLong(0)
      val changes = base.filter($"doc_id" === k)
        .select($"doc_id", $"text", lit("rp").as("lang"), $"source", $"n_chars")
        .withColumn(MergeOps.TombstoneCol, lit(false))
      PartitionedLayout.applyToLayout(spark, corpus, changes)
      val want = rows(spark.table(t))
      // simulate the fresh JVM: registration gone, files stay
      PartitionedLayout.drop(spark, corpus, "documents")
      assert(!spark.catalog.tableExists(t))
      val attached = Chain.partitioned(spark, corpus).repair(spark)
      assert(attached.exists(_.contains("documents_v1")),
        s"repair must attach the newest generation, got $attached")
      assert(rows(spark.table(t)) == want,
        "repaired serving diverged from the pre-drop one")
      // the state a kill before the pointer leaves, seen by a fresh JVM:
      // no registration, the pointer still naming the parent. The
      // served-frame read re-attaches, and the pointer moves forward.
      PartitionedLayout.drop(spark, corpus, "documents")
      val gens = MergeOps.generations(spark, Chain.partitioned(spark, corpus))
      CorpusLayout.bumpEpoch(spark, corpus, "documents_partitioned", gens.head._2)
      assert(Chain.partitioned(spark, corpus).served(spark).isDefined,
        "the served read must re-attach a missing registration")
      val servedGens = spark.sql(s"DESCRIBE HISTORY $t").collect()
        .filter(_.getBoolean(5)).map(_.getString(1)).toSeq
      assert(servedGens.size == 1 && servedGens.head.endsWith("documents_v1"),
        s"re-attach must move the epoch to the attached generation: $servedGens")
      assert(rows(spark.table(t)) == want,
        "re-attached serving diverged from the pre-drop one")
    }
  }

  test("CHECK TABLE audits the partitioned column mapping: an unknown physical column FAILs") {
    withSandbox { (corpus, t, _) =>
      def audit(): Map[String, String] = spark.sql(s"CHECK TABLE $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val healthy = audit()
      assert(healthy.get("column_mapping").contains("ok") &&
        healthy.get("partition_dirs").contains("ok"),
        s"healthy partitioned tip: $healthy")
      // plant a mapping entry naming a physical column the tip lacks
      val tip = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tip, CorpusLayout.MappingMarker),
        "ghost\tspecter".getBytes("UTF-8"))
      val planted = audit()
      assert(planted.get("column_mapping").contains("FAIL"),
        s"unknown physical column in _MAPPING not caught: $planted")
    }
  }

  test("DESCRIBE HISTORY files/bytes count base data files only: _cdf and _dv stay out") {
    withSandbox { (corpus, t, _) =>
      spark.conf.set(MergeOps.ChangeFeedKey, "true")
      spark.conf.set(MergeOps.MergeModeKey, "mor")
      try spark.sql(s"UPDATE $t SET lang = 'h' WHERE doc_id % 7 = 0")
      finally {
        spark.conf.unset(MergeOps.ChangeFeedKey)
        spark.conf.unset(MergeOps.MergeModeKey)
      }
      val tip = MergeOps.generations(spark, Chain.partitioned(spark, corpus)).last._2
      def parquet(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).getOrElse(Array.empty).toSeq
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      val parts = new java.io.File(tip).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("source="))
      val base = parts.toSeq.flatMap(parquet)
      // the test is only meaningful with both sidecars on disk
      assert(parquet(new java.io.File(tip, MergeOps.CdfDir)).nonEmpty,
        "no _cdf slice written")
      assert(parts.exists(p => parquet(new java.io.File(p, "_dv/deltas")).nonEmpty),
        "no _dv sidecar written")
      val row = spark.sql(s"DESCRIBE HISTORY $t").collect()
        .find(_.getBoolean(5)).get
      assert(row.getString(1) == tip, s"served row is not the tip: $row")
      assert(row.getInt(3) == base.size && row.getLong(4) == base.map(_.length).sum,
        s"history counted ${row.getInt(3)} files / ${row.getLong(4)} bytes, " +
          s"base data is ${base.size} files / ${base.map(_.length).sum} bytes")
    }
  }
}
