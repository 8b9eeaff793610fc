package graft

import graft.operators.MergeOps
import graft.sources.{Chain, CorpusLayout}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MergeOps: the CDC MERGE apply verb. Pins (1) the defining law
  * apply(v1, changeset(v1, v2)) ≡ v2 row-for-row on the real corpus,
  * (2) MERGE-clause micro-semantics incl. unmatched-tombstone no-op and
  * replay idempotency, (3) changeset minimality, (4) the zero-Exchange
  * apply over the bucketed CorpusLayout and the versioned applyToLayout
  * generation flip.
  */
class MergeSpec extends AnyFunSuite with SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

  test("apply(v1, changeset(v1, v2)) reproduces v2 row-for-row") {
    import spark.implicits._
    val v1 = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"n_chars".cast("long").as("n_bytes"))
    // p26's release-2 scenario: drops, re-crawls, and negative-axis adds
    val v2 = Tables.load(spark, sf, "documents").filter($"doc_id" % 50 =!= 0)
      .select($"doc_id",
        when($"doc_id" % 7 === 0, concat(lit("recrawl-v2 "), $"text"))
          .otherwise($"text").as("text"),
        when($"doc_id" % 7 === 0, $"n_chars" + 11).otherwise($"n_chars")
          .cast("long").as("n_bytes"))
      .unionAll(Tables.load(spark, sf, "documents").filter($"doc_id" % 97 === 0)
        .select((-($"doc_id" + 1L)).cast("long").as("doc_id"),
          concat(lit("new-crawl "), $"text").as("text"),
          ($"n_chars" + 10).cast("long").as("n_bytes")))
    val cs = MergeOps.changeset(v1, v2)
    assert(rows(MergeOps.applyChanges(v1, cs)) == rows(v2),
      "merge apply did not reproduce release 2")
    // minimality: one row per changed/added/removed key, unchanged absent
    val v1n = v1.count(); val v2n = v2.count()
    val removed = v1.join(v2, Seq("doc_id"), "left_anti").count()
    val added = v2.join(v1, Seq("doc_id"), "left_anti").count()
    val changed = v1.join(v2.withColumnRenamed("text", "t2"), Seq("doc_id"))
      .filter($"text" =!= $"t2").count()
    assert(cs.count() == removed + added + changed,
      s"changeset not minimal: ${cs.count()} rows vs $removed+$added+$changed")
    assert(removed > 0 && added > 0 && changed > 0,
      s"scenario degenerate at this SF ($v1n/$v2n docs) — thresholds unexercised")
  }

  test("MERGE clause semantics: update, insert, delete, no-op tombstone, replay") {
    import spark.implicits._
    val target = Seq((1L, "one", 3L), (2L, "two", 3L), (3L, "three", 5L))
      .toDF("doc_id", "text", "n_bytes")
    val changes = Seq(
      (2L, Some("TWO"), Some(30L), false),  // matched upsert → update
      (4L, Some("four"), Some(4L), false),  // unmatched upsert → insert
      (3L, None: Option[String], None: Option[Long], true), // matched tombstone → delete
      (9L, None: Option[String], None: Option[Long], true)) // unmatched tombstone → no-op
      .toDF("doc_id", "text", "n_bytes", "tombstone")
    val once = MergeOps.applyChanges(target, changes)
    assert(rows(once) == rows(Seq((1L, "one", 3L), (2L, "TWO", 30L),
      (4L, "four", 4L)).toDF("doc_id", "text", "n_bytes")))
    // replayable: applying the same changeset to the result is a fixpoint
    assert(rows(MergeOps.applyChanges(once, changes)) == rows(once),
      "changeset replay was not idempotent")
    // contract violations fail loudly, not silently
    intercept[IllegalArgumentException](
      MergeOps.applyChanges(target, changes.drop("tombstone")))
    intercept[IllegalArgumentException](
      MergeOps.applyChanges(target, changes.drop("n_bytes")))
  }

  test("bucketed layout apply: corpus side ships zero Exchange; applyToLayout versions") {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_merge").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val target = Chain.flat(sf).served(spark).get
      val changes = Tables.load(spark, sf, "documents").filter($"doc_id" % 5 === 0)
        .select($"doc_id", concat(lit("v2 "), $"text").as("text"), $"lang",
          $"source", ($"n_chars" + 3L).as("n_chars"))
        .withColumn("tombstone", $"doc_id" % 10 === 0)
      // day-sized changeset: broadcast anti-join — the corpus never
      // shuffles and nothing else does either
      val applied = MergeOps.applyChanges(target, changes)
      val planB = applied.queryExecution.executedPlan.toString
      assert(!planB.contains("Exchange hashpartitioning"),
        s"broadcast apply still shuffles:\n$planB")
      // forced sort-merge, changeset derived FROM the bucketed table:
      // both sides co-locate — zero Exchange in the whole apply
      val smj = MergeOps.applyChanges(target.hint("merge"), changes)
      val planS = smj.queryExecution.executedPlan.toString
      assert(planS.contains("SortMergeJoin"), s"merge hint ignored:\n$planS")
      assert(!planS.contains("Exchange hashpartitioning"),
        s"bucket-aligned apply still shuffles:\n$planS")
      // forced sort-merge with an UNBUCKETED changeset (raw parquet — a
      // CDC feed from outside the layout): only the changeset side
      // repartitions; the bucketed corpus side still ships zero Exchange
      val rawChanges = spark.read.parquet(s"$sf/documents.parquet")
        .filter($"doc_id" % 5 === 0)
        .select($"doc_id", concat(lit("v2 "), $"text").as("text"), $"lang",
          $"source", ($"n_chars" + 3L).as("n_chars"))
        .withColumn("tombstone", $"doc_id" % 10 === 0)
      val smjRaw = MergeOps.applyChanges(target.hint("merge"), rawChanges)
      val planR = smjRaw.queryExecution.executedPlan.toString
      assert(planR.contains("SortMergeJoin"), s"merge hint ignored:\n$planR")
      val shuffles = planR.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(shuffles == 1,
        s"expected exactly the changeset-side Exchange, saw $shuffles:\n$planR")
      // the versioned layout apply: new generation dir, catalog swung,
      // contents ≡ the in-memory apply, bucketing preserved
      val expected = rows(applied.select($"doc_id", $"text", $"n_chars"))
      val vpath = MergeOps.applyToLayout(spark, sf, changes)
      assert(vpath.contains("documents_v1"), s"unexpected generation path $vpath")
      val served = Chain.flat(sf).served(spark).get
      assert(rows(served.select($"doc_id", $"text", $"n_chars")) == expected,
        "served generation diverged from the in-memory apply")
      // post-apply id-keyed joins keep the zero-Exchange property
      val embT = CorpusLayout.tableName("embeddings", sf)
      val j = served.hint("merge")
        .join(spark.table(embT), col("doc_id") === col("vec_id"))
      val planJ = j.queryExecution.executedPlan.toString
      assert(!planJ.contains("Exchange"),
        s"post-apply corpus join shuffles again:\n$planJ")
      assert(j.count() > 0)
      // a second apply lands v2 — generations are append-only
      val vpath2 = MergeOps.applyToLayout(spark, sf, changes)
      assert(vpath2.contains("documents_v2"), s"unexpected generation path $vpath2")
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(vpath)),
        "previous generation files deleted under in-flight readers")
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("copy-on-write apply rewrites only touched buckets; vacuum reclaims drained generations") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = Files.createTempDirectory("graft_cow").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    def listData(dir: String): Set[String] = {
      val kids = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala.map(_.getFileName.toString)
          .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
      } finally kids.close()
    }
    try {
      CorpusLayout.materialize(spark, sf)
      val target = Chain.flat(sf).served(spark).get
      val payload = Seq("text", "lang", "source", "n_chars")
      // a genuinely day-sized changeset: one recrawl, one delete, one new
      // doc — touches a handful of the 32 buckets
      val up = target.filter($"doc_id" === 17L)
        .select($"doc_id", concat(lit("cow "), $"text").as("text"), $"lang",
          $"source", ($"n_chars" + 4L).as("n_chars"))
        .withColumn("tombstone", lit(false))
      val del = target.filter($"doc_id" === 40L)
        .select($"doc_id" +: payload.map(c =>
          lit(null).cast(target.schema(c).dataType).as(c)): _*)
        .withColumn("tombstone", lit(true))
      val ins = Seq((-7919L, "brand new", "en", "crawl", 9L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .withColumn("tombstone", lit(false))
      val changes = up.unionByName(del).unionByName(ins).cache()
      val touched = MergeOps.touchedBuckets(changes, "doc_id",
        CorpusLayout.DefaultBuckets)
      assert(touched.size <= 3 && touched.nonEmpty,
        s"scenario broken: expected <=3 touched buckets, got $touched")
      val (gen0, _) = Chain.flat(sf).layout(spark)
      val oldFiles = listData(gen0)
      val oldUntouched = oldFiles.filter(f =>
        MergeOps.bucketIdOf(f).exists(b => !touched.contains(b)))
      assert(oldUntouched.nonEmpty, "scenario broken: every bucket touched")
      val expected = rows(MergeOps.applyChanges(target, changes))
      val vpath = MergeOps.applyToLayout(spark, sf, changes)
      val newFiles = listData(vpath)
      // untouched bucket files are the SAME inodes, linked not copied
      for (f <- oldUntouched) {
        assert(newFiles.contains(f), s"untouched file $f missing from $vpath")
        assert(Files.isSameFile(Paths.get(gen0, f), Paths.get(vpath, f)),
          s"untouched file $f was rewritten, not linked")
      }
      // every genuinely new file serves a touched bucket
      val rewritten = newFiles -- oldUntouched
      assert(rewritten.nonEmpty, "no touched-bucket file written")
      for (f <- rewritten)
        assert(MergeOps.bucketIdOf(f).exists(touched.contains),
          s"new file $f is outside the touched buckets $touched")
      // the served generation is the full MERGE result…
      val served = Chain.flat(sf).served(spark).get
      assert(rows(served) == expected,
        "copy-on-write apply diverged from the full MERGE")
      // …and still a first-class bucketed table: co-located join, no Exchange
      val embT = CorpusLayout.tableName("embeddings", sf)
      val j = served.hint("merge")
        .join(spark.table(embT), col("doc_id") === col("vec_id"))
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "post-CoW corpus join shuffles again")
      // second wave → v2; vacuum(keepLast=1) reclaims gen0 + v1 while the
      // hard-linked bytes survive under v2
      val changes2 = target.filter($"doc_id" === 123L)
        .select($"doc_id", concat(lit("cow2 "), $"text").as("text"), $"lang",
          $"source", ($"n_chars" + 1L).as("n_chars"))
        .withColumn("tombstone", lit(false))
      val expected2 = rows(MergeOps.applyChanges(
        Chain.flat(sf).served(spark).get, changes2))
      val vpath2 = MergeOps.applyToLayout(spark, sf, changes2)
      assert(MergeOps.generations(spark, Chain.flat(sf)).map(_._1) == Seq(0, 1, 2))
      intercept[IllegalArgumentException](
        MergeOps.vacuum(spark, Chain.flat(sf), keepLast = 0))
      val reclaimed = MergeOps.vacuum(spark, Chain.flat(sf), keepLast = 1)
      assert(reclaimed.map(p => Paths.get(p).getFileName.toString).sorted ==
        Seq("documents", "documents_v1"), s"vacuum deleted $reclaimed")
      assert(MergeOps.generations(spark, Chain.flat(sf)) == Seq(2 -> vpath2))
      spark.catalog.refreshTable(CorpusLayout.tableName("documents", sf))
      val afterVacuum = Chain.flat(sf).served(spark).get
      assert(rows(afterVacuum) == expected2,
        "served generation unreadable after vacuum — linked bytes lost")
      changes.unpersist()
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("generation time-travel diff replays; rebucket moves B and applies keep working") {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_genlife").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val target = Chain.flat(sf).served(spark).get
      val changes = target.filter($"doc_id" % 17 === 0)
        .select($"doc_id", concat(lit("tt "), $"text").as("text"), $"lang",
          $"source", ($"n_chars" + 2L).as("n_chars"))
        .withColumn("tombstone", $"doc_id" % 34 === 0).cache()
      changes.count()
      MergeOps.applyToLayout(spark, sf, changes)
      // the time-travel law: diff(0→1) applied to gen 0 IS gen 1
      val g0 = MergeOps.readGeneration(spark, Chain.flat(sf), 0)
      val g1 = MergeOps.readGeneration(spark, Chain.flat(sf), 1)
      val diff = MergeOps.generationDiff(spark, sf, "documents", 0, 1)
      assert(rows(MergeOps.applyChanges(g0, diff)) == rows(g1),
        "generationDiff replay did not reproduce the target generation")
      assert(diff.count() > 0 && diff.count() < g0.count(),
        "diff degenerate: expected a minimal non-empty changeset")
      intercept[IllegalArgumentException](
        MergeOps.readGeneration(spark, Chain.flat(sf), 99))
      // rebucket to 64: contents identical, catalog carries the new B
      val before = rows(g1)
      MergeOps.rebucket(spark, sf, "documents", 64)
      val t = CorpusLayout.tableName("documents", sf)
      assert(Chain.flat(sf).layout(spark)._2 == 64, "Num Buckets not moved")
      assert(rows(Chain.flat(sf).served(spark).get) == before,
        "rebucket changed corpus contents")
      // a CoW apply AFTER the rebucket adopts B=64 from the catalog
      val changes2 = target.filter($"doc_id" === 51L)
        .select($"doc_id", lit("rebucketed-upsert").as("text"), $"lang",
          $"source", $"n_chars")
        .withColumn("tombstone", lit(false)).cache()
      changes2.count()
      val expected = rows(MergeOps.applyChanges(
        Chain.flat(sf).served(spark).get, changes2))
      val vpath = MergeOps.applyToLayout(spark, sf, changes2)
      assert(rows(Chain.flat(sf).served(spark).get) == expected,
        "post-rebucket apply diverged")
      // and it is still copy-on-write under the new B: the 1-key feed
      // linked most of the 64 buckets' files forward
      val kids = java.nio.file.Files.list(java.nio.file.Paths.get(vpath))
      val names = try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala.map(_.getFileName.toString)
          .filter(n => !n.startsWith("_") && !n.startsWith(".")).toVector
      } finally kids.close()
      val bucketIds = names.flatMap(MergeOps.bucketIdOf)
      assert(bucketIds.nonEmpty && bucketIds.forall(_ < 64))
      val touched = MergeOps.touchedBuckets(changes2, "doc_id", 64)
      val prev = MergeOps.generations(spark, Chain.flat(sf))
        .takeRight(2).head._2
      val linked = names.count { n =>
        val old = java.nio.file.Paths.get(prev, n)
        java.nio.file.Files.exists(old) &&
          java.nio.file.Files.isSameFile(old, java.nio.file.Paths.get(vpath, n))
      }
      assert(linked > 0 && names.size - linked <= touched.size,
        s"post-rebucket apply not CoW: ${names.size} files, $linked linked, " +
          s"${touched.size} touched buckets")
      changes.unpersist(); changes2.unpersist()
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("snapshots pin cross-table generation pairs; vacuum respects the pins") {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_snap").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val gen0Rows = rows(Chain.flat(sf).served(spark).get)
      val (k1, pinned1) = MergeOps.snapshot(spark, sf)
      assert(pinned1.keySet == Set("documents", "embeddings"),
        s"snapshot should pin every layout table, got ${pinned1.keySet}")
      def wave(i: Int) = Chain.flat(sf).served(spark).get
        .filter($"doc_id" % 23 === i)
        .select($"doc_id", concat(lit(s"s$i "), $"text").as("text"), $"lang",
          $"source", $"n_chars")
        .withColumn("tombstone", lit(false))
      MergeOps.applyToLayout(spark, sf, wave(0)) // v1
      MergeOps.applyToLayout(spark, sf, wave(1)) // v2
      val (k2, _) = MergeOps.snapshot(spark, sf)
      assert(k1 == 1 && k2 == 2 && MergeOps.snapshots(spark, sf) == Seq(1, 2))
      // keepLast=1 would reclaim gen0+v1, but snapshot 1 pins gen0
      val reclaimed = MergeOps.vacuum(spark, Chain.flat(sf), keepLast = 1)
      assert(reclaimed.map(p => java.nio.file.Paths.get(p).getFileName.toString)
        == Seq("documents_v1"), s"vacuum ignored the snapshot pin: $reclaimed")
      // the pinned pair is still exactly the corpus the run saw
      val snap1 = MergeOps.readSnapshot(spark, sf, k1)
      assert(rows(snap1("documents")) == gen0Rows,
        "pinned generation diverged from its snapshot-time contents")
      assert(snap1("embeddings").count() > 0)
      // unpin → the generation becomes vacuum-eligible
      MergeOps.dropSnapshot(spark, sf, k1)
      val reclaimed2 = MergeOps.vacuum(spark, Chain.flat(sf), keepLast = 1)
      assert(reclaimed2.map(p => java.nio.file.Paths.get(p).getFileName.toString)
        == Seq("documents"), s"post-drop vacuum missed the unpinned gen: $reclaimed2")
      intercept[IllegalArgumentException](MergeOps.readSnapshot(spark, sf, k1))
      // the served snapshot is untouched throughout
      assert(rows(MergeOps.readSnapshot(spark, sf, k2)("documents")) ==
        rows(Chain.flat(sf).served(spark).get))
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("serving survives catalog loss: ifPresent re-attaches the newest complete generation") {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_repair").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val changes = Tables.load(spark, sf, "documents")
        .filter($"doc_id" % 11 === 0)
        .select($"doc_id", concat(lit("r "), $"text").as("text"), $"lang",
          $"source", $"n_chars")
        .withColumn("tombstone", lit(false))
      MergeOps.applyToLayout(spark, sf, changes)
      val t = CorpusLayout.tableName("documents", sf)
      val before = rows(spark.table(t))
      // the session catalog is in-memory: a driver restart loses every
      // registration while the generations stay on disk — simulate it
      spark.sql(s"DROP TABLE $t")
      assert(!spark.catalog.tableExists(t))
      val served = Chain.flat(sf).served(spark)
      assert(served.isDefined, "ifPresent did not repair the lost registration")
      assert(rows(served.get) == before,
        "re-attached serving diverges from the pre-loss generation")
      val (loc, b) = Chain.flat(sf).layout(spark)
      assert(loc.endsWith("documents_v1") && b == CorpusLayout.DefaultBuckets,
        s"repair attached ($loc, $b) instead of the newest generation")
      // still a first-class bucketed table after repair: co-located join
      val j = served.get.hint("merge")
        .join(spark.table(CorpusLayout.tableName("embeddings", sf)),
          col("doc_id") === col("vec_id"))
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "repaired table lost its bucketed co-location")
      assert(j.count() > 0)
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("applyToLayout refuses duplicate and NULL changeset keys before anything lands") {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_mdup").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val t = CorpusLayout.tableName("documents", sf)
      val (gen0, _) = Chain.flat(sf).layout(spark)
      def change(id: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
        Seq(("x", "en", "web", 1L))
          .toDF("text", "lang", "source", "n_chars")
          .withColumn("doc_id", id.cast("long"))
          .withColumn("tombstone", lit(false))
      // duplicate key: SQL MERGE's multiple-match error, surfaced eagerly
      val dup = change(lit(17L)).unionByName(change(lit(17L)))
      val e1 = intercept[IllegalArgumentException](
        MergeOps.applyToLayout(spark, sf, dup))
      assert(e1.getMessage.contains("doc_id"), e1.getMessage)
      // NULL key: never equi-joins, would insert an orphan row
      val e2 = intercept[IllegalArgumentException](
        MergeOps.applyToLayout(spark, sf, change(lit(null))))
      assert(e2.getMessage.contains("doc_id"), e2.getMessage)
      // refused BEFORE writing: still serving generation 0, no _v1 dir
      val (loc, _) = Chain.flat(sf).layout(spark)
      assert(loc == gen0, s"refused apply still swung serving to $loc")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(gen0 + "_v1")),
        "refused apply left a staged generation behind")
      // and a clean changeset still applies after the refusals
      MergeOps.applyToLayout(spark, sf, change(lit(17L)))
      assert(Tables.load(spark, sf, "documents")
        .filter(col("doc_id") === 17L && col("text") === "x").count() == 1L)
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("schema evolution: ADD COLUMN rides the apply — linked files unrewritten, NULL-filled at read") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = Files.createTempDirectory("graft_mevolve").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    def norm(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(df.columns.sorted.map(col): _*)
    try {
      CorpusLayout.materialize(spark, sf)
      val t = CorpusLayout.tableName("documents", sf)
      val (gen0, _) = Chain.flat(sf).layout(spark)
      val target = Chain.flat(sf).served(spark).get
      val nDocs = target.count()
      // the feed starts scoring documents: same payload plus a NEW column
      val up = target.filter($"doc_id" === 17L)
        .withColumn("quality", lit(0.9)).withColumn("tombstone", lit(false))
      val ins = Seq((-11L, "scored new doc", "en", "web", 14L, 0.5))
        .toDF("doc_id", "text", "lang", "source", "n_chars", "quality")
        .withColumn("tombstone", lit(false))
      val changes = up.unionByName(ins).cache()
      // refused unless evolution is asked for — a typo'd column must not
      // silently fork the schema
      val e = intercept[IllegalArgumentException](
        MergeOps.applyToLayout(spark, sf, changes))
      assert(e.getMessage.contains("quality"), e.getMessage)
      val vpath = MergeOps.applyToLayout(spark, sf, changes, evolveSchema = true)
      // untouched bucket files are the SAME inodes — ADD COLUMN rewrote
      // only the touched buckets, not the corpus
      val linked = graft.sources.StatsManifest.listDataFiles(vpath).filter(f =>
        Files.exists(Paths.get(gen0, f)) &&
          Files.isSameFile(Paths.get(gen0, f), Paths.get(vpath, f)))
      assert(linked.nonEmpty, "evolving apply rewrote every bucket")
      // the served table carries the evolved schema: touched rows have
      // values, every untouched row reads NULL out of the linked files
      val served = Tables.load(spark, sf, "documents")
      assert(served.columns.contains("quality"))
      assert(served.filter($"doc_id" === 17L).select("quality")
        .head().getDouble(0) == 0.9)
      assert(served.filter($"doc_id" === -11L).select("quality")
        .head().getDouble(0) == 0.5)
      assert(served.filter($"quality".isNull).count() == nDocs - 1,
        "untouched rows did not read NULL for the added column")
      // time-travel diff across the boundary: exactly the two real
      // changes — the all-NULL added column is not "every row changed"
      val diff = MergeOps.generationDiff(spark, sf, "documents", 0, 1)
      assert(diff.count() == 2, s"evolution polluted the diff: ${diff.count()} rows")
      // and the replay law holds across the evolution boundary
      val g0 = MergeOps.readGeneration(spark, Chain.flat(sf), 0)
      val g1 = MergeOps.readGeneration(spark, Chain.flat(sf), 1)
      assert(rows(norm(MergeOps.applyChanges(g0, diff, evolveSchema = true)))
        == rows(norm(g1)), "apply(g0, diff(g0,g1)) != g1 across ADD COLUMN")
      // catalog loss + repair must re-attach the EVOLVED shape, not a
      // pre-evolution footer's
      spark.sql(s"DROP TABLE $t")
      val reattached = Chain.flat(sf).served(spark).get
      assert(reattached.columns.contains("quality"),
        "repairServing re-attached the pre-evolution schema")
      assert(reattached.filter($"doc_id" === 17L).select("quality")
        .head().getDouble(0) == 0.9)
      changes.unpersist()
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("partial changesets: UPDATE SET semantics — present columns set (even to NULL), absent columns carry") {
    import spark.implicits._
    val target = Seq((1L, "one", 10L), (2L, "two", 20L), (3L, "three", 30L))
      .toDF("doc_id", "text", "n_bytes")
    // sparse feed: knows only n_bytes (and for key 2, an explicit NULL)
    val sparse = Seq(
      (1L, Some(100L), false), // matched: n_bytes SET, text carried
      (2L, None: Option[Long], false), // matched: n_bytes SET to NULL (presence = SET)
      (4L, Some(4L), false),   // insert: absent text reads NULL
      (3L, None: Option[Long], true))  // tombstone: key alone suffices
      .toDF("doc_id", "n_bytes", "tombstone")
    val got = MergeOps.applyChanges(target, sparse, partial = true)
    val expected = Seq((1L, Some("one"), Some(100L)),
      (2L, Some("two"), None: Option[Long]),
      (4L, None: Option[String], Some(4L)))
      .toDF("doc_id", "text", "n_bytes")
    assert(rows(got) == rows(expected), "partial apply diverged")
    // a sparse changeset WITHOUT partial=true still fails loudly — the
    // full-row contract keeps misspelled columns from silently reading
    // as "carry the old value"
    intercept[IllegalArgumentException](MergeOps.applyChanges(target, sparse))
    // the p26 law re-proven through a sparse changeset: a full changeset
    // whose only real edits touch one column, sparsified to that column,
    // applies to the same corpus state
    val v1 = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"n_chars".cast("long").as("n_bytes"))
    val v2 = v1.filter($"doc_id" % 50 =!= 0)
      .select($"doc_id", $"text",
        when($"doc_id" % 7 === 0, $"n_bytes" + 11).otherwise($"n_bytes")
          .as("n_bytes"))
    val full = MergeOps.changeset(v1, v2)
    val sparse2 = full.select($"doc_id", $"n_bytes", $"tombstone")
    assert(rows(MergeOps.applyChanges(v1, sparse2, partial = true)) == rows(v2),
      "apply(v1, sparsify(changeset(v1, v2))) != v2")
    // scale shape: with a broadcast-sized sparse feed the corpus side
    // never shuffles — the expansion's semi-join and the apply's
    // anti-join both broadcast the changeset (sparse2 above embeds the
    // changeset DERIVATION's own diff-join exchanges, so the plan pin
    // uses a literal feed, the shape a CDC source actually delivers)
    val feed = Seq((1L, Some(5L), false), (2L, None: Option[Long], true))
      .toDF("doc_id", "n_bytes", "tombstone")
    val plan = MergeOps.applyChanges(v1, feed, partial = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"partial apply shuffles the corpus:\n$plan")
  }

  test("applyToLayout casts a width-mismatched changeset key before bucket math") {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_merge_kt").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      // IntegerType doc_id against the LongType corpus: murmur3 hashes
      // differ by width, so an uncast key would classify the real home
      // buckets "untouched" and hard-link them forward — duplicate
      // upserted keys and undeleted tombstones
      val ids = Tables.load(spark, sf, "documents")
        .orderBy($"doc_id").limit(6).select($"doc_id").as[Long].collect()
      val (up, del) = (ids.take(3), ids.drop(3))
      val changes = Tables.load(spark, sf, "documents")
        .filter($"doc_id".isin(ids: _*))
        .select($"doc_id".cast("int").as("doc_id"),
          concat(lit("cast-v2 "), $"text").as("text"), $"lang", $"source",
          $"n_chars")
        .withColumn("tombstone", $"doc_id".isin(del.map(_.toInt): _*))
      assert(changes.schema("doc_id").dataType ==
        org.apache.spark.sql.types.IntegerType)
      MergeOps.applyToLayout(spark, sf, changes)
      val served = Chain.flat(sf).served(spark).get
      val upserted = served.filter($"doc_id".isin(up: _*))
        .groupBy($"doc_id").count().collect()
      assert(upserted.length == 3 && upserted.forall(_.getLong(1) == 1L),
        s"upserted keys duplicated or lost: ${upserted.mkString(",")}")
      assert(served.filter($"doc_id".isin(up: _*) &&
        !$"text".startsWith("cast-v2 ")).isEmpty,
        "stale rows for upserted keys survive in the new generation")
      assert(served.filter($"doc_id".isin(del: _*)).isEmpty,
        "tombstoned keys survive in the new generation")
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("bucket sizing policy: drifted B rebuckets before the apply, then applies stay CoW at the sized count") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    // the pure sizing function: power-of-two ceil with a floor of 1
    assert(MergeOps.sizedBucketCount(0L, 1024L) == 1)
    assert(MergeOps.sizedBucketCount(1024L, 1024L) == 1)
    assert(MergeOps.sizedBucketCount(1025L, 1024L) == 2)
    assert(MergeOps.sizedBucketCount(100L << 20, 1L << 20) == 128)
    assert(MergeOps.parseBytes("64m") == (64L << 20))
    assert(MergeOps.parseBytes("2k") == 2048L)
    assert(MergeOps.parseBytes("1.5g") == (3L << 29))
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_merge_bs").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val t = CorpusLayout.tableName("documents", sf)
      val loc0 = CorpusLayout.servedGeneration(spark, sf, "documents").get
      val bytes = MergeOps.dataBytes(loc0)
      // aim the policy at ~200 buckets: bytes/bucket at the served 32 is
      // then ~6.25× the target — the ≥4× fat-bucket gate fires and the
      // next apply folds in a rebucket to the pow2-sized 256. After the
      // rewrite, even with tiny-file format overhead inflating total
      // bytes 2–3×, bytes/bucket sits well inside the 4× band — the
      // second apply must NOT re-fire (the thrash the raw-byte gate
      // exists to prevent).
      spark.conf.set(MergeOps.TargetBucketBytesKey, (bytes / 200).max(1L).toString)
      def mkChanges(n: Int, tag: String) = {
        val ids = Tables.load(spark, sf, "documents")
          .orderBy($"doc_id").limit(n).select($"doc_id").as[Long].collect()
        Tables.load(spark, sf, "documents").filter($"doc_id".isin(ids: _*))
          .select($"doc_id", concat(lit(s"$tag "), $"text").as("text"),
            $"lang", $"source", $"n_chars")
          .withColumn("tombstone", lit(false))
      }
      MergeOps.applyToLayout(spark, sf, mkChanges(5, "sized-a"))
      val (_, b1) = Chain.flat(sf).layout(spark)
      assert(b1 == 256, s"apply did not adopt the sized bucket count: $b1")
      // within the 4× band now: the NEXT apply must NOT rebucket again,
      // must stay copy-on-write at the sized B, and its rewritten set
      // must be changeset-sized (≤ k files), not corpus-sized
      val gensBefore = MergeOps.generations(spark, Chain.flat(sf)).size
      MergeOps.applyToLayout(spark, sf, mkChanges(5, "sized-b"))
      val gens = MergeOps.generations(spark, Chain.flat(sf))
      assert(gens.size == gensBefore + 1,
        s"in-band apply burned ${gens.size - gensBefore} generations (rebucket thrash)")
      val (last, prev) = (gens.last._2, gens(gens.size - 2)._2)
      val kids = Files.list(Paths.get(last))
      val rewritten = try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala
          .filter(p => { val n = p.getFileName.toString
            !n.startsWith("_") && !n.startsWith(".") }) // data files, not markers/.crc
          .count { p =>
            val old = Paths.get(prev, p.getFileName.toString)
            !(Files.exists(old) && Files.isSameFile(old, p))
          }
      } finally kids.close()
      assert(rewritten <= 5,
        s"apply at sized B rewrote $rewritten files for a 5-key feed")
      val served = Chain.flat(sf).served(spark).get
      assert(served.filter($"text".startsWith("sized-b ")).count() == 5)
    } finally {
      spark.conf.unset(MergeOps.TargetBucketBytesKey)
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("compactGenerations folds a trickle chain: ≤B fresh files, identical rows, vacuum reclaims, zero Exchange") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_merge_cp").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    // capture the compaction write's executed plan to prove the rewrite
    // ships no Exchange (the forced bucketed scan is what guarantees it)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    try {
      CorpusLayout.materialize(spark, sf)
      // a trickle chain the StreamingMerge way: 20 one-key batches
      val ids = Tables.load(spark, sf, "documents")
        .orderBy($"doc_id").limit(20).select($"doc_id").as[Long].collect()
      def oneKey(i: Int) = Tables.load(spark, sf, "documents")
        .filter($"doc_id" === ids(i))
        .select($"doc_id", concat(lit(s"trickle$i "), $"text").as("text"),
          $"lang", $"source", $"n_chars")
        .withColumn("tombstone", lit(false))
      (0 until 19).foreach { i =>
        assert(graft.streaming.StreamingMerge.applyBatch(oneKey(i), i.toLong, sf),
          s"batch $i did not apply")
      }
      assert(MergeOps.generations(spark, Chain.flat(sf)).size == 20,
        "trickle chain did not accrete one generation per batch")
      // the 20th batch rides the maintenance knob: apply, then compact +
      // vacuum fold the whole drained chain down to ONE generation
      spark.listenerManager.register(listener)
      assert(graft.streaming.StreamingMerge.applyBatch(
        oneKey(19), 19L, sf, compactEvery = 20, keepLast = 1))
      val gens = MergeOps.generations(spark, Chain.flat(sf))
      assert(gens.size == 1,
        s"vacuum after compact left ${gens.size} generations: ${gens.map(_._1)}")
      val servedLoc = gens.last._2
      val files = {
        val kids = Files.list(Paths.get(servedLoc))
        try {
          import scala.jdk.CollectionConverters._
          kids.iterator().asScala.map(_.getFileName.toString)
            .filter(n => !n.startsWith("_") && !n.startsWith(".")).toVector
        } finally kids.close()
      }
      assert(files.size <= CorpusLayout.DefaultBuckets,
        s"compacted generation holds ${files.size} files > B")
      // exactly one file per bucket suffix — the bucketed-scan write
      // shape, not a per-task fan-out
      val byBucket = files.groupBy(MergeOps.bucketIdOf)
      assert(byBucket.forall(_._2.size == 1),
        s"bucket with multiple files after compact: $byBucket")
      // the compaction write: the ONE write in the captured window that
      // carries no Exchange — the batch-20 apply's staging write has its
      // deliberate touched-rows repartition, the compact rewrite must
      // not (forced bucketed scan ⇒ partition i ≡ bucket i ⇒ bucketBy
      // writes straight through). Delivery is async: wait bounded.
      val deadline = System.nanoTime() + 10000000000L
      def writeQes = {
        import scala.jdk.CollectionConverters._
        plans.iterator().asScala
          .map(_.executedPlan.toString)
          .filter(p => p.contains("WriteFiles") &&
            p.contains(servedLoc.substring(servedLoc.lastIndexOf('/') + 1)))
          .toVector
      }
      while (writeQes.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      spark.listenerManager.unregister(listener)
      assert(writeQes.nonEmpty, "listener saw no compaction write")
      writeQes.foreach { p =>
        assert(!p.contains("Exchange"), s"compaction rewrite shuffles:\n$p")
      }
      // rows identical to what the chain served: every trickle edit live
      val served = Chain.flat(sf).served(spark).get
      assert(served.filter($"text".rlike("^trickle\\d+ ")).count() == 20,
        "compacted corpus lost trickle edits")
      assert(served.count() ==
        Tables.load(spark, sf, "documents").count())
    } finally {
      try spark.listenerManager.unregister(listener)
      catch { case _: Throwable => () }
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("maxGenerations policy: chain under the bound is untouched; past it, the fold's vacuum spares pins") {
    // The generation-count trigger (MergeOps.maybeCompact, the
    // recommended cadence knob) composed with a snapshot pin: a training
    // run pins mid-trickle, the in-stream fold fires when the chain
    // crosses the bound, and the keepLast=1 vacuum after the fold must
    // keep BOTH the compacted generation and the pinned one — a pin is a
    // contract across maintenance verbs, not just across plain vacuums.
    import spark.implicits._
    import java.nio.file.Paths
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_merge_mg").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val ids = Tables.load(spark, sf, "documents")
        .orderBy($"doc_id").limit(6).select($"doc_id").as[Long].collect()
      def oneKey(i: Int) = Tables.load(spark, sf, "documents")
        .filter($"doc_id" === ids(i))
        .select($"doc_id", concat(lit(s"trickle$i "), $"text").as("text"),
          $"lang", $"source", $"n_chars")
        .withColumn("tombstone", lit(false))
      // 3 batches under the bound: the policy must NOT fire
      // (gen0 + 3 = 4 reclaimable ≤ 5)
      (0 until 3).foreach { i =>
        assert(graft.streaming.StreamingMerge.applyBatch(oneKey(i), i.toLong,
          sf, maxGenerations = 5, keepLast = 1), s"batch $i did not apply")
      }
      assert(MergeOps.generations(spark, Chain.flat(sf)).size == 4,
        "policy fired under the bound")
      // pin the mid-trickle corpus the way a training run would
      val pinRows = rows(Chain.flat(sf).served(spark).get
        .select($"doc_id", $"text"))
      val (k, pins) = MergeOps.snapshot(spark, sf)
      val pinnedName = Paths.get(pins("documents")).getFileName.toString
      // 3 more: the 6th apply pushes the RECLAIMABLE chain (the pinned
      // generation does not count — vacuum can never fold it away, so
      // counting it would re-fire the trigger forever) to 6 > 5 →
      // fold + vacuum
      (3 until 6).foreach { i =>
        assert(graft.streaming.StreamingMerge.applyBatch(oneKey(i), i.toLong,
          sf, maxGenerations = 5, keepLast = 1), s"batch $i did not apply")
      }
      val gens = MergeOps.generations(spark, Chain.flat(sf))
        .map(p => Paths.get(p._2).getFileName.toString)
      assert(gens.size == 2,
        s"expected exactly (pinned, compacted) after the fold, got $gens")
      assert(gens.contains(pinnedName),
        s"the fold's vacuum reclaimed pinned $pinnedName: $gens")
      // the pinned snapshot still reads its exact mid-trickle contents
      assert(rows(MergeOps.readSnapshot(spark, sf, k)("documents")
          .select($"doc_id", $"text")) == pinRows,
        "pinned generation diverged across the compaction fold")
      // and the served corpus carries every trickle edit
      val served = Chain.flat(sf).served(spark).get
      assert(served.filter($"text".rlike("^trickle\\d+ ")).count() == 6,
        "compacted corpus lost trickle edits")
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("merge-on-read deletion vectors: parity with CoW, zero base bytes written, folds clear the sidecar") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory("graft_mor")
    val (corpusA, corpusB) = (tmp.toString + "/cow", tmp.toString + "/mor")
    val base = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    base.write.parquet(s"$corpusA/documents.parquet")
    base.write.parquet(s"$corpusB/documents.parquet")
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    def ups(m: Int, guard: Int, tag: String): DataFrame =
      base.filter($"doc_id" % m === 0 && $"doc_id" % guard =!= 0)
        .select($"doc_id", concat(lit(s"$tag "), $"text").as("text"),
          $"lang", $"source", $"n_chars")
        .withColumn(MergeOps.TombstoneCol, lit(false))
    def dels(m: Int): DataFrame = base.filter($"doc_id" % m === 0)
      .select($"doc_id", lit(null).cast("string").as("text"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("source"),
        lit(null).cast("long").as("n_chars"))
      .withColumn(MergeOps.TombstoneCol, lit(true))
    val changes1 = ups(7, 13, "w1").unionByName(dels(13))
      .unionByName(base.filter($"doc_id" % 101 === 0)
        .select((-($"doc_id" + 1L)).as("doc_id"),
          concat(lit("ins "), $"text").as("text"), $"lang", $"source",
          $"n_chars").withColumn(MergeOps.TombstoneCol, lit(false)))
    val changes2 = ups(5, 17, "w2").unionByName(dels(17))
    val changes3 = ups(3, 1000000007, "w3") // guard never fires: pure upsert wave
    def served(c: String): org.apache.spark.sql.DataFrame =
      Chain.flat(c).served(spark).get
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    def dataFiles(dir: String): Seq[String] = {
      val kids = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala.map(_.getFileName.toString)
          .filter(n => !n.startsWith("_") && !n.startsWith(".")).toVector.sorted
      } finally kids.close()
    }
    def ino(p: String): Any = java.nio.file.Files.getAttribute(
      java.nio.file.Paths.get(p), "unix:ino")
    try {
      Seq(corpusA, corpusB).foreach(c =>
        CorpusLayout.materialize(spark, c, tables = Seq("documents")))
      MergeOps.applyToLayout(spark, corpusA, changes1)
      MergeOps.applyToLayout(spark, corpusB, changes1, mode = "mor")
      // parity law: the composed MOR read equals the CoW rewrite
      assert(rows(served(corpusB)) == rows(served(corpusA)),
        "MOR read diverges from CoW after the first apply")
      // write amplification: EVERY base file of the MOR generation is a
      // hard link of its parent (same inode — zero data bytes written);
      // the sidecar is changeset-sized
      val gensB = MergeOps.generations(spark, Chain.flat(corpusB))
      val (g0, g1) = (gensB(0)._2, gensB(1)._2)
      assert(graft.sources.CorpusLayout.hasDv(g1), "MOR apply wrote no sidecar")
      assert(dataFiles(g1) == dataFiles(g0),
        "MOR generation's base file set drifted from its parent")
      dataFiles(g1).foreach(f => assert(ino(s"$g1/$f") == ino(s"$g0/$f"),
        s"base file $f was rewritten, not linked"))
      val dvBytes = {
        val dv = java.nio.file.Paths.get(g1, "_dv")
        val all = java.nio.file.Files.walk(dv)
        try {
          import scala.jdk.CollectionConverters._
          all.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size(_)).sum
        } finally all.close()
      }
      assert(dvBytes < MergeOps.dataBytes(g0) / 2,
        s"sidecar is not delta-sized: $dvBytes vs base ${MergeOps.dataBytes(g0)}")
      // chained MOR applies fold the sidecar (cumulative, no chain walk)
      MergeOps.applyToLayout(spark, corpusA, changes2)
      MergeOps.applyToLayout(spark, corpusB, changes2, mode = "mor")
      assert(rows(served(corpusB)) == rows(served(corpusA)),
        "MOR read diverges from CoW after a chained apply")
      // a plain SQL SELECT of the catalog NAME composes too
      // (ComposedServingRule): the raw base would resurrect deletes
      assert(rows(spark.sql("SELECT doc_id, text, lang, source, n_chars " +
        s"FROM ${CorpusLayout.tableName("documents", corpusB)}")) ==
        rows(served(corpusA)),
        "plain SQL SELECT served the raw MOR base files")
      // time travel composes per generation: v1-as-served matches CoW's v1
      assert(rows(MergeOps.readGeneration(spark, Chain.flat(corpusB), 1)
          .select($"doc_id", $"text", $"lang", $"source", $"n_chars")) ==
        rows(MergeOps.readGeneration(spark, Chain.flat(corpusA), 1)
          .select($"doc_id", $"text", $"lang", $"source", $"n_chars")),
        "MOR time-travel read diverges")
      // compaction folds: fresh bucketed generation, sidecar gone, rows intact
      val folded = MergeOps.compact(spark, Chain.flat(corpusB))
      assert(!graft.sources.CorpusLayout.hasDv(folded), "fold kept a sidecar")
      assert(rows(served(corpusB)) == rows(served(corpusA)),
        "fold changed the corpus")
      // a CoW apply over a MOR tip folds too (the touched-bucket fast
      // path must not serve stale base files)
      MergeOps.applyToLayout(spark, corpusB, changes3, mode = "mor")
      MergeOps.applyToLayout(spark, corpusB, ups(11, 1000000007, "w4"))
      MergeOps.applyToLayout(spark, corpusA, changes3)
      MergeOps.applyToLayout(spark, corpusA, ups(11, 1000000007, "w4"))
      val tipB = MergeOps.generations(spark, Chain.flat(corpusB)).last._2
      assert(!graft.sources.CorpusLayout.hasDv(tipB),
        "CoW apply over a MOR tip did not fold the sidecar")
      assert(rows(served(corpusB)) == rows(served(corpusA)),
        "mixed-mode chain diverged from the pure-CoW chain")
    } finally {
      Seq(corpusA, corpusB).foreach(CorpusLayout.drop(spark, _))
      spark.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }

  test("round-13 capstone: cluster spec × SQL MERGE × rename-of-a-spec-column × MOR × rebase × time travel compose on one chain") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory("graft_capstone")
    val corpus = tmp.toString + "/corpus"
    val base = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    base.write.parquet(s"$corpus/documents.parquet")
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    def served(): DataFrame = Chain.flat(corpus).served(spark).get
    def genDir(g: Int): String = MergeOps.generations(spark, Chain.flat(corpus))
      .collectFirst { case (`g`, p) => p }.get
    def dataFiles(dir: String): Seq[String] = {
      val kids = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala.map(_.getFileName.toString)
          .filter(n => !n.startsWith("_") && !n.startsWith(".")).toVector.sorted
      } finally kids.close()
    }
    try {
      // z-clustered build on (n_chars, doc_id): every later write must
      // keep the in-bucket split alive — including after n_chars is
      // RENAMED (the spec rebases through the mapping at full rewrites)
      CorpusLayout.materialize(spark, corpus, buckets = 8,
        tables = Seq("documents"),
        clusterBy = Seq("n_chars", "doc_id"), clusterRowsPerFile = 16)
      val t = CorpusLayout.tableName("documents", corpus)
      assert(dataFiles(genDir(0)).size > 8, "clustered build did not split buckets")
      // v1: SQL MERGE over the clustered layout (CoW touched path must
      // recompute _zv and carry _CLUSTER + the _zv mapping entry)
      base.filter($"doc_id" % 7 === 0 && $"doc_id" % 19 =!= 0)
        .select($"doc_id", concat(lit("c1 "), $"text").as("new_text"),
          lit(false).as("is_del"))
        .unionByName(base.filter($"doc_id" % 19 === 0)
          .select($"doc_id", lit(null).cast("string").as("new_text"),
            lit(true).as("is_del")))
        .createOrReplaceTempView("capstone_src")
      spark.sql(
        s"""MERGE INTO $t t USING capstone_src s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.is_del THEN DELETE
           |WHEN MATCHED THEN UPDATE SET text = s.new_text
           |""".stripMargin)
      var expected = base.filter($"doc_id" % 19 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 7 === 0, concat(lit("c1 "), $"text"))
            .otherwise($"text").as("text"),
          $"lang", $"source", $"n_chars")
      assert(rows(served()) == rows(expected), "v1 SQL MERGE diverged")
      assert(dataFiles(genDir(1)).size > 8,
        "SQL MERGE folded the z-split away (reclusterTouched lost)")
      // v2: rename a SPEC column — metadata only
      MergeOps.renameColumn(spark, Chain.flat(corpus), "n_chars", "len")
      expected = expected.withColumnRenamed("n_chars", "len")
      assert(rows(served()) == rows(expected), "v2 rename diverged")
      // v3: MOR apply speaking the NEW logical name
      val ch3 = base.filter($"doc_id" % 5 === 0 && $"doc_id" % 19 =!= 0)
        .select($"doc_id", concat(lit("c3 "), $"text").as("text"),
          $"lang", $"source", ($"n_chars" + 100L).as("len"))
        .withColumn(MergeOps.TombstoneCol, lit(false))
      MergeOps.applyToLayout(spark, corpus, ch3, mode = "mor")
      expected = MergeOps.applyChanges(expected, ch3)
      assert(rows(served()) == rows(expected), "v3 MOR over renamed layout diverged")
      assert(graft.sources.CorpusLayout.hasDv(genDir(3)), "v3 lost its sidecar")
      // plain SQL SELECT * composes sidecar + mapping: logical column
      // set (renamed, no _zv, no physical name) and composed rows
      val sqlServed = spark.sql(s"SELECT * FROM $t")
      assert(sqlServed.columns.toSeq ==
        Seq("doc_id", "text", "lang", "source", "len"),
        s"SQL SELECT leaked physical names: ${sqlServed.columns.mkString(",")}")
      assert(rows(sqlServed) == rows(expected),
        "SQL SELECT served the raw base under MOR+mapping")
      // v4: a CoW apply over the MOR tip → full rewrite → REBASE:
      // sidecar folds, mapping folds (len becomes physical), and the
      // cluster spec's renamed column rebases with it
      val ch4 = base.filter($"doc_id" % 11 === 0 && $"doc_id" % 19 =!= 0)
        .select($"doc_id", concat(lit("c4 "), $"text").as("text"),
          $"lang", $"source", $"n_chars".as("len"))
        .withColumn(MergeOps.TombstoneCol, lit(false))
      MergeOps.applyToLayout(spark, corpus, ch4)
      expected = MergeOps.applyChanges(expected, ch4)
      assert(rows(served()) == rows(expected), "v4 fold-apply diverged")
      val g4 = genDir(4)
      assert(!graft.sources.CorpusLayout.hasDv(g4), "v4 kept the sidecar")
      val phys = spark.read.parquet(g4)
      assert(phys.columns.contains("len") && !phys.columns.contains("n_chars"),
        s"rebase wrote wrong physical names: ${phys.columns.mkString(",")}")
      assert(phys.columns.contains("_zv"), "rebase dropped the z column")
      val spec4 = graft.sources.CorpusLayout.readClusterSpec(g4)
      assert(spec4.exists(_.cols == Seq("len", "doc_id")),
        s"cluster spec did not rebase the renamed column: ${spec4.map(_.cols)}")
      assert(dataFiles(g4).size > 8, "rebase lost the z-split")
      // v5: a plain CoW touched apply under the REBASED spec (recompute
      // now reads the new physical name)
      val ch5 = base.filter($"doc_id" % 23 === 0 && $"doc_id" % 19 =!= 0)
        .select($"doc_id", concat(lit("c5 "), $"text").as("text"),
          $"lang", $"source", $"n_chars".as("len"))
        .withColumn(MergeOps.TombstoneCol, lit(false))
      MergeOps.applyToLayout(spark, corpus, ch5)
      expected = MergeOps.applyChanges(expected, ch5)
      assert(rows(served()) == rows(expected), "v5 post-rebase apply diverged")
      // time travel reads every generation's own composed view
      assert(rows(spark.sql(s"SELECT doc_id, text, lang, source, n_chars " +
        s"FROM $t VERSION AS OF 0")) ==
        rows(base), "VERSION AS OF 0 diverged from the build")
      assert(rows(spark.sql(s"SELECT doc_id, text, lang, source, len " +
        s"FROM $t VERSION AS OF 3")) ==
        rows(MergeOps.applyChanges(
          base.filter($"doc_id" % 19 =!= 0)
            .select($"doc_id",
              when($"doc_id" % 7 === 0, concat(lit("c1 "), $"text"))
                .otherwise($"text").as("text"),
              $"lang", $"source", $"n_chars".as("len")), ch3)),
        "VERSION AS OF 3 diverged from the MOR generation's view")
      // maintenance end state: fold + vacuum leave one clean generation
      MergeOps.compact(spark, Chain.flat(corpus))
      MergeOps.vacuum(spark, Chain.flat(corpus), keepLast = 1)
      assert(MergeOps.generations(spark, Chain.flat(corpus)).size == 1,
        "vacuum left a chain")
      assert(rows(served()) == rows(expected), "fold+vacuum changed the corpus")
    } finally {
      spark.catalog.dropTempView("capstone_src")
      CorpusLayout.drop(spark, corpus)
      spark.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }

  test("DROP/RENAME column mapping: metadata-only swings, applies and MOR cross the boundary, diff sees a rename as unchanged, rewrites rebase") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory("graft_colmap")
    val corpus = tmp.toString + "/corpus"
    val base = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    base.write.parquet(s"$corpus/documents.parquet")
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    def served(): DataFrame = Chain.flat(corpus).served(spark).get
    def genDir(g: Int): String =
      MergeOps.generations(spark, Chain.flat(corpus))
        .collectFirst { case (`g`, p) => p }.get
    def ino(p: String): Any = java.nio.file.Files.getAttribute(
      java.nio.file.Paths.get(p), "unix:ino")
    def dataFiles(dir: String): Seq[String] = {
      val kids = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala.map(_.getFileName.toString)
          .filter(n => !n.startsWith("_") && !n.startsWith(".")).toVector.sorted
      } finally kids.close()
    }
    try {
      CorpusLayout.materialize(spark, corpus, tables = Seq("documents"))
      // v1: RENAME lang → language. Metadata only: every data file of
      // the new generation is the parent's inode; only _MAPPING differs.
      MergeOps.renameColumn(spark, Chain.flat(corpus), "lang", "language")
      var expected = base.withColumnRenamed("lang", "language")
      assert(served().columns.toSeq ==
        Seq("doc_id", "text", "language", "source", "n_chars"),
        s"rename not visible: ${served().columns.mkString(",")}")
      assert(rows(served()) == rows(expected), "rename changed values")
      dataFiles(genDir(1)).foreach(f => assert(
        ino(s"${genDir(1)}/$f") == ino(s"${genDir(0)}/$f"),
        s"rename rewrote $f"))
      // diff across the rename boundary: NOT every-row-changed — empty
      assert(MergeOps.generationDiff(spark, corpus, "documents", 0, 1)
        .isEmpty, "rename diffed as data change")
      // v2: a CoW apply speaking the LOGICAL name crosses the boundary
      val ch2 = base.filter($"doc_id" % 7 === 0)
        .select($"doc_id", concat(lit("r2 "), $"text").as("text"),
          lit("xx").as("language"), $"source", $"n_chars")
        .withColumn(MergeOps.TombstoneCol, lit(false))
      MergeOps.applyToLayout(spark, corpus, ch2)
      expected = MergeOps.applyChanges(expected, ch2)
      assert(rows(served()) == rows(expected), "post-rename apply diverged")
      // replay across the boundary: v0 (old names) + diff(0,2) in the
      // newer logical space reproduces v2
      val diff02 = MergeOps.generationDiff(spark, corpus, "documents", 0, 2)
      val replayed = MergeOps.applyChanges(
        MergeOps.readGeneration(spark, Chain.flat(corpus), 0)
          .withColumnRenamed("lang", "language"), diff02)
      assert(rows(replayed.select(expected.columns.map(col): _*)) ==
        rows(expected), "replay across the rename boundary diverged")
      // v3: a MOR apply carries the mapping and speaks logical names too
      val ch3 = base.filter($"doc_id" % 5 === 0)
        .select($"doc_id", concat(lit("r3 "), $"text").as("text"),
          lit("yy").as("language"), $"source", $"n_chars")
        .withColumn(MergeOps.TombstoneCol, lit(false))
      MergeOps.applyToLayout(spark, corpus, ch3, mode = "mor")
      expected = MergeOps.applyChanges(expected, ch3)
      assert(rows(served()) == rows(expected), "post-rename MOR apply diverged")
      assert(graft.sources.CorpusLayout.hasDv(genDir(3)), "MOR gen lost its sidecar")
      // v4: DROP source — metadata only, column hidden, values intact
      MergeOps.dropColumn(spark, Chain.flat(corpus), "source")
      expected = expected.drop("source")
      assert(!served().columns.contains("source"), "drop did not hide the column")
      assert(rows(served()) == rows(expected), "drop changed surviving values")
      assert(MergeOps.generationDiff(spark, corpus, "documents", 3, 4)
        .isEmpty, "drop diffed as data change")
      // time travel still shows each generation's OWN view
      assert(MergeOps.readGeneration(spark, Chain.flat(corpus), 0)
        .columns.contains("lang"), "gen-0 time travel lost its old name")
      // a full rewrite REBASES: logical names become physical, no marker
      val folded = MergeOps.compact(spark, Chain.flat(corpus))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(folded, "_MAPPING")), "fold kept the mapping")
      assert(!graft.sources.CorpusLayout.hasDv(folded), "fold kept the sidecar")
      val physical = spark.read.parquet(folded)
      assert(physical.columns.contains("language") &&
        !physical.columns.contains("source") &&
        !physical.columns.contains("lang"),
        s"rebase wrote wrong physical names: ${physical.columns.mkString(",")}")
      assert(rows(served()) == rows(expected), "rebase changed the corpus")
      // rename round-trip restores the original name
      MergeOps.renameColumn(spark, Chain.flat(corpus), "language", "lang")
      expected = expected.withColumnRenamed("language", "lang")
      assert(rows(served()) == rows(expected), "round-trip rename diverged")
      // malformed evolution fails loudly
      intercept[IllegalArgumentException](
        MergeOps.renameColumn(spark, Chain.flat(corpus), "doc_id", "id"))
      intercept[IllegalArgumentException](
        MergeOps.dropColumn(spark, Chain.flat(corpus), "doc_id"))
      intercept[IllegalArgumentException](
        MergeOps.renameColumn(spark, Chain.flat(corpus), "text", "lang"))
      intercept[IllegalArgumentException](
        MergeOps.dropColumn(spark, Chain.flat(corpus), "nope"))
    } finally {
      CorpusLayout.drop(spark, corpus)
      spark.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }

  test("SQL MERGE INTO the served layout: clause order, old-value refs, by-source delete; malformed fails loudly") {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sqlmerge")
    val corpus = tmp.toString + "/corpus"
    val base = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    base.write.parquet(s"$corpus/documents.parquet")
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    try {
      CorpusLayout.materialize(spark, corpus, tables = Seq("documents"))
      val t = CorpusLayout.tableName("documents", corpus)
      // source: updates (7s not 13s), deletes (13s), inserts (negatives)
      base.filter($"doc_id" % 7 === 0 && $"doc_id" % 13 =!= 0)
        .select($"doc_id", lit("zz").as("new_lang"), lit(2L).as("bump"),
          lit(null).cast("string").as("new_text"), lit(false).as("is_del"))
        .unionByName(base.filter($"doc_id" % 13 === 0)
          .select($"doc_id", lit(null).cast("string").as("new_lang"),
            lit(0L).as("bump"), lit(null).cast("string").as("new_text"),
            lit(true).as("is_del")))
        .unionByName(base.filter($"doc_id" % 101 === 0)
          .select((-($"doc_id" + 1L)).as("doc_id"), lit("new").as("new_lang"),
            lit(0L).as("bump"), concat(lit("ins "), $"text").as("new_text"),
            lit(false).as("is_del")))
        .createOrReplaceTempView("sqlmerge_src")
      spark.sql(
        s"""MERGE INTO $t t USING sqlmerge_src s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.is_del THEN DELETE
           |WHEN MATCHED THEN UPDATE SET lang = s.new_lang,
           |  n_chars = t.n_chars + s.bump
           |WHEN NOT MATCHED THEN INSERT (doc_id, text, lang, source, n_chars)
           |  VALUES (s.doc_id, s.new_text, s.new_lang, 'sqlmerge', 5)
           |""".stripMargin)
      val expected = base.filter($"doc_id" % 13 =!= 0)
        .select($"doc_id", $"text",
          when($"doc_id" % 7 === 0, "zz").otherwise($"lang").as("lang"),
          $"source",
          when($"doc_id" % 7 === 0, $"n_chars" + 2).otherwise($"n_chars")
            .cast("long").as("n_chars"))
        .unionByName(base.filter($"doc_id" % 101 === 0)
          .select((-($"doc_id" + 1L)).as("doc_id"),
            concat(lit("ins "), $"text").as("text"), lit("new").as("lang"),
            lit("sqlmerge").as("source"), lit(5L).as("n_chars")))
      val served = Chain.flat(corpus).served(spark).get
        .select("doc_id", "text", "lang", "source", "n_chars")
      assert(rows(served) == rows(expected),
        "SQL MERGE result diverges from the composed edit")
      // generation chain advanced through the same durable path
      assert(MergeOps.generations(spark, Chain.flat(corpus)).size == 2,
        "SQL MERGE did not append a generation")

      // WHEN NOT MATCHED BY SOURCE DELETE: retain only the fed keys ∩ a
      // target-side condition — everything else tombstones
      spark.sql(s"SELECT doc_id FROM parquet.`$corpus/documents.parquet` " +
        "WHERE doc_id % 2 = 0").createOrReplaceTempView("sqlmerge_keep")
      spark.sql(
        s"""MERGE INTO $t t USING sqlmerge_keep s ON t.doc_id = s.doc_id
           |WHEN NOT MATCHED BY SOURCE AND t.doc_id > 0 THEN DELETE
           |""".stripMargin)
      val after = Chain.flat(corpus).served(spark).get
      assert(after.filter($"doc_id" > 0 && $"doc_id" % 2 =!= 0).count() == 0,
        "by-source delete left unmatched positive keys")
      assert(after.filter($"doc_id" < 0).count() ==
        expected.filter($"doc_id" < 0).count(),
        "by-source delete touched rows its condition excludes")

      // matched clause conditions may reference the TARGET side —
      // including the key (regression: the joined frame must carry
      // __old_<key>, not just __k)
      val afterNow = Chain.flat(corpus).served(spark).get
      val wantTk = afterNow.filter($"doc_id" > 0 && $"doc_id" % 100 === 0 &&
        $"n_chars" > 0).count()
      assert(wantTk > 0, "degenerate target-side-condition scenario")
      spark.sql(
        s"""MERGE INTO $t t USING sqlmerge_keep s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND t.doc_id % 100 = 0 AND t.n_chars > 0
           |THEN UPDATE SET lang = 'tk'
           |""".stripMargin)
      assert(Chain.flat(corpus).served(spark).get
        .filter($"lang" === "tk").count() == wantTk,
        "target-side clause condition mis-evaluated")

      // SQL time travel over the same chain: VERSION AS OF n serves
      // generation n's exact contents (the rule resolves to
      // readGeneration's composed frame); malformed spellings reject
      assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 0")
        .head().getLong(0) == base.count(),
        "VERSION AS OF 0 diverged from the pre-merge corpus")
      assert(spark.sql(
          s"SELECT doc_id FROM $t VERSION AS OF 1 WHERE doc_id < 0").count()
        == expected.filter($"doc_id" < 0).count(),
        "VERSION AS OF 1 lost the merge's inserts")
      intercept[Exception](spark.sql(
        s"SELECT * FROM $t TIMESTAMP AS OF '2026-01-01'").collect())
      intercept[Exception](spark.sql(
        s"SELECT * FROM $t VERSION AS OF 99").collect())

      // malformed shapes reject loudly (the rule's whole point: silently
      // keeping Spark's unsupported error or dropping a clause would be
      // a data-corruption path)
      def bad(sql: String): Unit = {
        val e = intercept[Exception](spark.sql(sql))
        assert(e.getMessage != null, s"no message for: $sql")
      }
      bad(s"MERGE INTO $t t USING sqlmerge_keep s ON t.doc_id < s.doc_id " +
        "WHEN MATCHED THEN DELETE")
      bad(s"MERGE INTO $t t USING sqlmerge_keep s ON t.n_chars = s.doc_id " +
        "WHEN MATCHED THEN DELETE")
      bad(s"MERGE INTO $t t USING sqlmerge_keep s ON t.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET doc_id = s.doc_id + 1")
      bad(s"MERGE INTO $t t USING sqlmerge_keep s ON t.doc_id = s.doc_id " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET lang = 'x'")
      // non-layout v1 targets keep Spark's stock rejection
      base.limit(5).write.mode("overwrite")
        .option("path", tmp.toString + "/plain")
        .saveAsTable("sqlmerge_plain")
      bad("MERGE INTO sqlmerge_plain t USING sqlmerge_keep s ON " +
        "t.doc_id = s.doc_id WHEN MATCHED THEN DELETE")
    } finally {
      spark.catalog.dropTempView("sqlmerge_src")
      spark.catalog.dropTempView("sqlmerge_keep")
      spark.sql("DROP TABLE IF EXISTS sqlmerge_plain")
      CorpusLayout.drop(spark, corpus)
      spark.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }
}
