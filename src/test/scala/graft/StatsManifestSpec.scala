package graft

import graft.operators.MergeOps
import graft.sources.{Chain, CorpusLayout, ManifestFileIndex, StatsManifest, ZOrderLayout}
import graft.sources.StatsManifest._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** StatsManifest laws. The one that matters is SOUNDNESS — pruning may
  * only ever skip files that provably hold no matching row — stressed
  * here through every bound the manifest can emit: exact long bounds,
  * widened double bounds, truncated string minima, capped (NULL)
  * string maxima, all-NULL columns, empty prunes, and files/columns the
  * manifest has never seen. Plus the maintenance law: a copy-on-write
  * MERGE apply carries hard-linked files' stats rows VERBATIM and
  * re-stats only what it wrote.
  */
class StatsManifestSpec extends AnyFunSuite with SparkTestBase {

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

  /** FileSourceScanExec nodes, descending through AQE stages (the
    * VectorIndexStoreSpec walker — query stages are leaves to children()).
    */
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

  private def rmAll(p: java.nio.file.Path): Unit =
    graft.FsUtil.deleteRecursively(p)

  test("z-ordered corpus: box query skips files, pruned scan ≡ full filter, empty prune is empty") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_smspec")
    try {
      val lay = tmp.toString + "/z"
      val dd = Tables.load(spark, sf, "documents")
        .select($"doc_id", $"lang", $"source", $"n_chars")
      ZOrderLayout.write(dd, Seq("n_chars", "doc_id"), lay)
      StatsManifest.build(spark, lay, Seq("doc_id", "n_chars", "source"))

      val preds = Seq(BetweenStat("n_chars", 100, 160),
        InStat("source", Seq("src3", "src7")))
      val (keep, total) = prunedFiles(spark, lay, manifestDirFor(lay), preds)
      assert(total > 1, s"scenario broken: z-write produced $total file(s)")
      assert(keep.nonEmpty && keep.size < total,
        s"no file-level pruning: kept ${keep.size} of $total")

      val got = StatsManifest.scan(spark, lay, preds)
        .select($"doc_id", $"lang", $"source", $"n_chars")
      val want = dd.filter($"n_chars".between(100, 160) &&
        $"source".isin("src3", "src7"))
      assert(rows(got) == rows(want), "pruned scan diverged from full filter")
      assert(got.count() > 0, "scenario degenerate: predicate matched nothing")

      // a predicate outside the global range keeps zero files and yields
      // an empty frame with the data schema intact
      val none = Seq(BetweenStat("n_chars", -100, -50))
      val (keep0, _) = prunedFiles(spark, lay, manifestDirFor(lay), none)
      assert(keep0.isEmpty, s"below-range predicate kept $keep0")
      val empty = StatsManifest.scan(spark, lay, none)
      assert(empty.count() == 0)
      assert(empty.columns.toSeq == Seq("doc_id", "lang", "source", "n_chars", "_zv"))

      // boundary values stay in: Eq on the global min must keep its file
      val mnChars = dd.agg(min($"n_chars")).head().getLong(0)
      val eqMin = Seq(EqStat("n_chars", mnChars))
      assert(rows(StatsManifest.scan(spark, lay, eqMin).select(dd.columns.map(col): _*))
        == rows(dd.filter($"n_chars" === mnChars)), "global-min row lost to pruning")
    } finally rmAll(tmp)
  }

  test("null discipline: all-NULL files drop for comparisons, survive IS NULL — and never vice versa") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_smnull")
    try {
      val dir = tmp.toString + "/t"
      // file set A: v all NULL; file set B: v populated — written in two
      // batches so the null rows have files of their own
      Seq.tabulate(10)(i => (i.toLong, None: Option[Long]))
        .toDF("id", "v").coalesce(1).write.parquet(dir)
      Seq.tabulate(10)(i => (100L + i, Some(i.toLong)))
        .toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
      StatsManifest.build(spark, dir, Seq("id", "v"))
      val m = spark.read.parquet(FsUtil.parquetParts(java.nio.file.Paths.get(manifestDirFor(dir))): _*)
      val allNullFiles = m.filter($"col" === "v" && $"min_long".isNull &&
        $"rows" > 0).select("file").collect().map(_.getString(0)).toSet
      assert(allNullFiles.nonEmpty, "scenario broken: no all-NULL file")

      val (keepCmp, total) = prunedFiles(spark, dir, manifestDirFor(dir),
        Seq(GeStat("v", 0L)))
      assert(allNullFiles.forall(f => !keepCmp.contains(f)),
        "comparison kept an all-NULL file")
      assert(keepCmp.nonEmpty && keepCmp.size < total)

      val (keepNull, _) = prunedFiles(spark, dir, manifestDirFor(dir),
        Seq(IsNullStat("v")))
      assert(allNullFiles.forall(keepNull.contains),
        "IS NULL dropped an all-NULL file")
      assert(keepNull.size < total, "IS NULL kept null-free files")

      val full = spark.read.parquet(dir)
      assert(rows(StatsManifest.scan(spark, dir, Seq(GeStat("v", 0L))))
        == rows(full.filter($"v" >= 0L)))
      assert(rows(StatsManifest.scan(spark, dir, Seq(IsNullStat("v"))))
        == rows(full.filter($"v".isNull)))
    } finally rmAll(tmp)
  }

  test("string bounds: capped maxima never unsound-drop, truncated minima still prune") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_smstr")
    try {
      val dir = tmp.toString + "/t"
      val long = "z" * 100 // over StringBoundLen: max bound becomes unknown
      Seq.tabulate(5)(i => (i.toLong, long + i))
        .toDF("id", "s").coalesce(1).write.parquet(dir)
      Seq.tabulate(5)(i => (10L + i, s"aa$i"))
        .toDF("id", "s").coalesce(1).write.mode("append").parquet(dir)
      StatsManifest.build(spark, dir, Seq("s"))
      val full = spark.read.parquet(dir)

      // upper bound unknown on the long-string file: a >= probe beyond
      // the truncation point must KEEP it (rows live there), and parity
      // must hold — the unsoundness this test exists to catch
      val hi = Seq(GeStat("s", long + "3"))
      val (keepHi, total) = prunedFiles(spark, dir, manifestDirFor(dir), hi)
      assert(total == 2)
      assert(keepHi.size == 1, s"expected only the long-string file kept, got $keepHi")
      assert(rows(StatsManifest.scan(spark, dir, hi))
        == rows(full.filter($"s" >= long + "3")))
      assert(full.filter($"s" >= long + "3").count() > 0)

      // truncated MIN is still a sound lower bound: everything in the
      // long-string file is above "b", so <= "b" prunes it
      val lo = Seq(LeStat("s", "b"))
      val (keepLo, _) = prunedFiles(spark, dir, manifestDirFor(dir), lo)
      assert(keepLo.size == 1, s"prefix minimum failed to prune: $keepLo")
      assert(rows(StatsManifest.scan(spark, dir, lo))
        == rows(full.filter($"s" <= "b")))
    } finally rmAll(tmp)
  }

  test("degradation: missing manifest or unstatted column keeps every file, scan stays exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_smdeg")
    try {
      val dir = tmp.toString + "/t"
      Tables.load(spark, sf, "documents")
        .select($"doc_id", $"source", $"n_chars")
        .repartition(4).write.parquet(dir)
      val full = spark.read.parquet(dir)

      // no manifest at all
      val p = Seq(BetweenStat("n_chars", 100, 160))
      val (keepNone, totalNone) = prunedFiles(spark, dir, manifestDirFor(dir), p)
      assert(keepNone.size == totalNone)
      assert(rows(StatsManifest.scan(spark, dir, p))
        == rows(full.filter($"n_chars".between(100, 160))))

      // manifest exists but the predicate column was never statted
      StatsManifest.build(spark, dir, Seq("n_chars"))
      val q = Seq(EqStat("source", "src3"))
      val (keepCol, totalCol) = prunedFiles(spark, dir, manifestDirFor(dir), q)
      assert(keepCol.size == totalCol, "unstatted column caused pruning")
      assert(rows(StatsManifest.scan(spark, dir, q))
        == rows(full.filter($"source" === "src3")))

      // lane confusion must never prune: a STRING probe against a
      // long-statted column (and vice versa) evaluates the exact filter
      // under Spark's coercion, so the manifest must keep every file
      StatsManifest.build(spark, dir, Seq("n_chars", "source"))
      val strProbe = Seq(EqStat("n_chars", "120"))
      val (keepStr, totStr) = prunedFiles(spark, dir, manifestDirFor(dir), strProbe)
      assert(keepStr.size == totStr, "string probe pruned a long-statted column")
      assert(rows(StatsManifest.scan(spark, dir, strProbe))
        == rows(full.filter($"n_chars" === "120")))
      // ...and a NUMERIC probe against a string-statted column of
      // numeric-looking values (Spark casts the column and matches,
      // lexicographic string bounds would prune wrongly: "5" > "40")
      val ndir = tmp.toString + "/numstr"
      Seq("5", "40", "300").toDF("s").coalesce(1).write.parquet(ndir)
      StatsManifest.build(spark, ndir, Seq("s"))
      val nfull = spark.read.parquet(ndir)
      val numProbe = Seq(GeStat("s", 40))
      val (keepNum, totNum) = prunedFiles(spark, ndir, manifestDirFor(ndir), numProbe)
      assert(keepNum.size == totNum, "numeric probe pruned a string-statted column")
      assert(rows(StatsManifest.scan(spark, ndir, numProbe))
        == rows(nfull.filter($"s" >= 40)))
      assert(nfull.filter($"s" >= 40).count() == 2L)
      // mixed-type IN: conservative, exact
      val mixed = Seq(InStat("n_chars", Seq(120, "130")))
      val (keepMix, totMix) = prunedFiles(spark, dir, manifestDirFor(dir), mixed)
      assert(keepMix.size == totMix, "mixed-type IN pruned")
      assert(rows(StatsManifest.scan(spark, dir, mixed))
        == rows(full.filter($"n_chars".isInCollection(Seq(120, "130")))))
    } finally rmAll(tmp)
  }

  test("planner-integrated index: Spark's own pushed filters skip files; hard ones degrade; unknown files survive") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_smidx")
    try {
      val lay = tmp.toString + "/z"
      val dd = Tables.load(spark, sf, "documents")
        .select($"doc_id", $"lang", $"source", $"n_chars")
      ZOrderLayout.write(dd, Seq("n_chars", "doc_id"), lay)
      StatsManifest.build(spark, lay, Seq("doc_id", "n_chars", "source"))
      val total = StatsManifest.listDataFiles(lay).size
      val full = spark.read.parquet(lay)

      // an ordinary user filter — no explicit predicate API — prunes at
      // the FileIndex: the executed scan reads strictly fewer files
      val t = ManifestFileIndex.table(spark, lay)
      val flt = $"n_chars".between(100, 160) && $"source".isin("src3", "src7")
      val q = t.filter(flt).select($"doc_id", $"lang", $"source", $"n_chars")
      val got = q.orderBy($"doc_id").collect().map(_.toString).toSeq
      assert(got == full.filter(flt).select($"doc_id", $"lang", $"source", $"n_chars")
        .orderBy($"doc_id").collect().map(_.toString).toSeq,
        "planner-pruned read diverged from the plain filter")
      assert(got.nonEmpty, "scenario degenerate")
      q.collect()
      val nf = scans(q.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      assert(nf > 0 && nf < total, s"no planner-level skipping: $nf of $total files")
      // agreement with the relational evaluation path: the planner path
      // (which additionally sees Spark's inferred IsNotNulls) may prune
      // MORE files, never fewer matches — parity above is the law, this
      // pins the two evaluators against drift
      val (kept, _) = prunedFiles(spark, lay, manifestDirFor(lay), Seq(
        BetweenStat("n_chars", 100, 160), InStat("source", Seq("src3", "src7"))))
      assert(nf <= kept.size,
        s"planner path kept $nf files, relational path ${kept.size} — drift")

      // an untranslatable predicate prunes nothing and stays exact
      val hard = t.filter($"n_chars" % 7 === 0)
      assert(hard.collect().length == full.filter($"n_chars" % 7 === 0).count())
      val nfHard = scans(hard.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      assert(nfHard == total, s"arithmetic predicate pruned files: $nfHard/$total")

      // files the manifest never saw are never pruned: append one, re-open
      dd.filter($"doc_id" < 3).coalesce(1)
        .write.mode("append").parquet(lay)
      val t2 = ManifestFileIndex.table(spark, lay)
      assert(t2.filter($"doc_id" < 3).count()
        == spark.read.parquet(lay).filter($"doc_id" < 3).count(),
        "post-manifest file was pruned blind")

      // a manifest REBUILT between frame construction and the first scan
      // is read fresh — no stale file listing, answers stay exact
      val t3 = ManifestFileIndex.table(spark, lay)
      StatsManifest.build(spark, lay, Seq("n_chars"))
      assert(t3.filter($"n_chars".between(100, 160)).count()
        == spark.read.parquet(lay).filter($"n_chars".between(100, 160)).count(),
        "rebuilt-manifest window broke the deferred load")
    } finally rmAll(tmp)
  }

  test("CoW apply carries hard-linked stats rows verbatim and re-stats only written files") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = Files.createTempDirectory("graft_smcow").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val t = CorpusLayout.tableName("documents", sf)
      val (gen0, _) = Chain.flat(sf).layout(spark)
      val cols = Seq("doc_id", "n_chars", "source")
      StatsManifest.build(spark, gen0, cols)
      val prev = spark.read.parquet(FsUtil.parquetParts(java.nio.file.Paths.get(manifestDirFor(gen0))): _*).collect()
        .map(_.toString).toSet

      val target = Chain.flat(sf).served(spark).get
      val payload = Seq("text", "lang", "source", "n_chars")
      val up = target.filter($"doc_id" === 17L)
        .select($"doc_id", concat(lit("cow "), $"text").as("text"), $"lang",
          $"source", ($"n_chars" + 4L).as("n_chars"))
        .withColumn("tombstone", lit(false))
      val del = target.filter($"doc_id" === 40L)
        .select($"doc_id" +: payload.map(c =>
          lit(null).cast(target.schema(c).dataType).as(c)): _*)
        .withColumn("tombstone", lit(true))
      val changes = up.unionByName(del).cache()
      val expected = rows(MergeOps.applyChanges(target, changes)
        .filter($"n_chars".between(100, 160))
        .select($"doc_id", $"source", $"n_chars"))

      val vpath = MergeOps.applyToLayout(spark, sf, changes)
      assert(Files.exists(Paths.get(manifestDirFor(vpath), "_SUCCESS")),
        "apply did not carry the manifest to the new generation")
      val next = spark.read.parquet(FsUtil.parquetParts(java.nio.file.Paths.get(manifestDirFor(vpath))): _*)

      // linked files: stats rows identical to the previous generation's
      val linked = StatsManifest.listDataFiles(vpath).filter(f =>
        Files.exists(Paths.get(gen0, f)) &&
          Files.isSameFile(Paths.get(gen0, f), Paths.get(vpath, f))).toSet
      val written = StatsManifest.listDataFiles(vpath).toSet -- linked
      assert(linked.nonEmpty && written.nonEmpty, "CoW scenario degenerate")
      val carriedRows = next.filter($"file".isin(linked.toSeq: _*))
        .collect().map(_.toString).toSet
      assert(carriedRows.subsetOf(prev),
        "carried stats rows differ from the previous generation's")
      assert(carriedRows.size == linked.size * cols.size,
        "carried stats incomplete")
      // written files have fresh rows for every statted column
      val freshFiles = next.filter(!$"file".isin(linked.toSeq: _*))
        .select("file").distinct().collect().map(_.getString(0)).toSet
      assert(freshFiles == written,
        s"re-statted files $freshFiles != written files $written")

      // and the pruned scan over the NEW generation matches the merge
      val got = rows(StatsManifest.scan(spark, vpath,
          Seq(BetweenStat("n_chars", 100, 160)))
        .select($"doc_id", $"source", $"n_chars"))
      assert(got == expected, "pruned scan on the applied generation diverged")
      // time-travel reads route through the manifest index when the
      // generation carries one: same rows, and the scan's FileIndex IS
      // the manifest index. (No skipping to assert here: this layout is
      // hash-bucketed on doc_id, so every file spans ~the full n_chars
      // range — pruning quality is the LAYOUT's property, the z-order
      // tests above own that claim.)
      val tt = MergeOps.readGeneration(spark, Chain.flat(sf), 1)
        .filter($"n_chars".between(100, 160))
        .select($"doc_id", $"source", $"n_chars")
      assert(rows(tt) == expected, "manifest-indexed time travel diverged")
      tt.collect() // drive tt's own QueryExecution so the plan finalizes
      val locs = scans(tt.queryExecution.executedPlan).map(_.relation.location)
      assert(locs.nonEmpty && locs.forall(_.isInstanceOf[ManifestFileIndex]),
        s"time-travel read did not route through the manifest index: $locs")
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
      rmAll(java.nio.file.Paths.get(base))
    }
  }

  test("manifest∘layout composition: ONE executed plan both skips files and ships zero Exchange on the id join") {
    // The claim the two components make separately, pinned TOGETHER on a
    // single executed plan: a manifested CorpusLayout generation read
    // through ifPresent routes via ManifestFileIndex.bucketedTable, so a
    // selective pushed filter skips files (numFiles < total) while the
    // carried BucketSpec keeps the id-keyed join Exchange-free — the
    // 100 TB "what changed since the last apply" read. Pruning works on
    // the hash-bucketed layout precisely because CoW rewrites only
    // touched buckets: hard-linked files keep their old stats rows, so a
    // predicate that only new rows satisfy drops every untouched file.
    import spark.implicits._
    import java.nio.file.Files
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = Files.createTempDirectory("graft_smcomp").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val t = CorpusLayout.tableName("documents", sf)
      val (gen0, _) = Chain.flat(sf).layout(spark)
      StatsManifest.build(spark, gen0, Seq("doc_id", "n_chars", "source"))
      val target = Chain.flat(sf).served(spark).get
      // recrawl 3 docs, bumping n_chars into a sentinel range only the
      // rewritten bucket files can contain
      val up = target.filter($"doc_id".isin(5L, 17L, 40L))
        .select($"doc_id", $"text", $"lang", $"source",
          ($"n_chars" + 9000L).as("n_chars"))
        .withColumn("tombstone", lit(false))
      val vpath = MergeOps.applyToLayout(spark, sf, up)
      val total = StatsManifest.listDataFiles(vpath).size
      val served = Chain.flat(sf).served(spark).get
      val emb = spark.table(CorpusLayout.tableName("embeddings", sf))
      val q = served.filter($"n_chars" >= 9000L).hint("merge")
        .join(emb, col("doc_id") === col("vec_id"))
        .select($"doc_id", $"n_chars")
      assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 17L, 40L),
        "composed read returned wrong rows")
      val plan = q.queryExecution.executedPlan
      val planStr = plan.toString
      assert(!planStr.contains("Exchange"),
        s"manifest-served layout join shuffled:\n$planStr")
      val docScans = scans(plan)
        .filter(_.relation.location.isInstanceOf[ManifestFileIndex])
      assert(docScans.nonEmpty,
        s"served read did not route through the manifest index:\n$planStr")
      val nf = docScans.map(_.metrics("numFiles").value).sum
      assert(nf > 0 && nf < total,
        s"no file skipping in the composed plan: $nf of $total files")
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
      rmAll(java.nio.file.Paths.get(base))
    }
  }

  test("a manifest-served read logs no 'All paths were ignored' warning") {
    // the manifest lives under `<generation>/_stats`; Spark's DataSource
    // skips a root whose name starts with `_` and warns about it, so the
    // manifest must be read through its part files (a glob instead trips
    // FileStreamSink's metadata probe: any warning naming the manifest
    // counts)
    import spark.implicits._
    import java.nio.file.Files
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-datasource-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.WARN))
          warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    // on the root logger: an appender added to a Spark class's logger by
    // name is bypassed by the logger Spark actually logs through
    val logger = org.apache.logging.log4j.LogManager.getRootLogger.asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    val base = Files.createTempDirectory("graft_smwarn").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      val (gen0, _) = Chain.flat(sf).layout(spark)
      StatsManifest.build(spark, gen0, Seq("doc_id", "n_chars"))
      warnings.clear()
      val q = Chain.flat(sf).served(spark).get.filter($"n_chars" >= 0L)
      assert(q.count() > 0, "served read returned no rows")
      assert(scans(q.queryExecution.executedPlan)
          .exists(_.relation.location.isInstanceOf[ManifestFileIndex]),
        "served read did not route through the manifest index")
      val logged = warnings.asScala.filter(_.contains(StatsManifest.SubDir))
      assert(logged.isEmpty, s"manifest read logged: ${logged.mkString("; ")}")
    } finally {
      logger.removeAppender(appender)
      appender.stop()
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
      rmAll(java.nio.file.Paths.get(base))
    }
  }

  test("non-ASCII string stats PRUNE files (byte-space ordering), not just stay sound") {
    // PropertySpec's generated law proves non-ASCII comparisons never
    // drop a matching file; this pins the EFFECTIVENESS half — when
    // files partition cleanly on a non-ASCII column, equality and range
    // predicates provably skip files. The pool crosses the UTF-16 /
    // UTF-8 ordering divergence on purpose: U+FFFD sorts ABOVE the
    // supplementary 😀 in Java's char ordering but BELOW it in UTF-8
    // bytes (0xEF… < 0xF0…) — stats were written under UTF8String's
    // unsigned byte order, so pruning must compare in byte space to be
    // both sound AND effective here.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_smuni")
    try {
      val dir = tmp.toString + "/t"
      val vals = Seq("ánchor", "βeta", "γamma", "�repl", "😀emoji")
      // one file per tag value: clean partitioning on the string column
      vals.zipWithIndex.foreach { case (v, i) =>
        Seq.tabulate(8)(j => (i * 100L + j, v)).toDF("id", "tag")
          .coalesce(1).write.mode("append").parquet(dir)
      }
      StatsManifest.build(spark, dir, Seq("id", "tag"))
      val full = spark.read.parquet(dir)
      val mdir = manifestDirFor(dir)

      // equality on a non-ASCII value: exactly one file survives
      val eq = Seq(EqStat("tag", "βeta"))
      val (keepEq, totEq) = prunedFiles(spark, dir, mdir, eq)
      assert(totEq == vals.size, s"scenario broken: $totEq files")
      assert(keepEq.size == 1, s"equality kept ${keepEq.size} of $totEq files")
      assert(rows(StatsManifest.scan(spark, dir, eq))
        == rows(full.filter($"tag" === "βeta")), "eq prune diverged")

      // range straddling the UTF-16/UTF-8 divergence: tag >= U+FFFD must
      // keep BOTH the U+FFFD file and the 😀 file (byte order: F0 > EF)
      // and drop the three BMP-lowercase ones
      val ge = Seq(GeStat("tag", "�"))
      val (keepGe, _) = prunedFiles(spark, dir, mdir, ge)
      assert(keepGe.size == 2, s"range kept ${keepGe.size} files (byte-order break)")
      assert(rows(StatsManifest.scan(spark, dir, ge))
        == rows(full.filter($"tag" >= "�")), "range prune diverged")
      assert(full.filter($"tag" >= "�").count() == 16L,
        "Spark-side comparison disagrees with the scenario")

      // and the planner-integrated index prunes the same way (collect()
      // on q ITSELF — count() would spawn a separate QueryExecution and
      // leave q's scan metrics empty)
      val q = ManifestFileIndex.table(spark, dir).filter($"tag" === "γamma")
      assert(q.collect().length == 8)
      val nf = scans(q.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
      assert(nf == 1, s"planner path read $nf files for a one-file predicate")
    } finally rmAll(tmp)
  }

  test("cluster spec: reclusterTouched keeps pruning quality through 10 trickle applies") {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory("graft_recluster")
    val corpus = tmp.toString + "/corpus"
    val base = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    base.write.parquet(s"$corpus/documents.parquet")
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    try {
      // z-clustered layout: each of the 8 buckets splits into ~4 z-tight
      // files, so a selective n_chars filter can skip WITHIN buckets
      CorpusLayout.materialize(spark, corpus, buckets = 8,
        tables = Seq("documents"),
        clusterBy = Seq("n_chars", "doc_id"), clusterRowsPerFile = 16)
      val gen0 = CorpusLayout.servedGeneration(spark, corpus, "documents").get
      StatsManifest.build(spark, gen0, Seq("doc_id", "n_chars"))
      def served(): DataFrame =
        Chain.flat(corpus).served(spark).get
      assert(!served().columns.contains("_zv"),
        "the physical-only _zv column leaked into the logical view")
      val flt = $"n_chars".between(100, 130)
      def keptFrac(): (Double, Long, Long) = {
        val loc = CorpusLayout.servedGeneration(spark, corpus, "documents").get
        val q = served().filter(flt).select($"doc_id", $"n_chars")
        q.collect()
        val nf = scans(q.queryExecution.executedPlan)
          .map(_.metrics("numFiles").value).sum
        val total = StatsManifest.listDataFiles(loc).size.toLong
        (nf.toDouble / total, nf, total)
      }
      val (frac0, nf0, total0) = keptFrac()
      assert(total0 > 8, s"clustered build did not split buckets: $total0 files")
      // nontrivial in-bucket skipping at build time (z interleaves BOTH
      // dims, so a one-dim band keeps ~half the per-bucket files; the
      // LAW under test is the no-decay assertion below)
      assert(frac0 < 0.8, s"no in-bucket skipping at build time: $nf0/$total0")
      // value parity against the raw corpus before any apply
      assert(rows(served().filter(flt).select($"doc_id", $"n_chars")) ==
        rows(base.filter(flt).select($"doc_id", $"n_chars")),
        "clustered read diverged from the raw corpus")
      // 10 trickle applies, each touching a handful of keys — every
      // rewritten bucket re-sorts and re-splits by the z-value
      var expected = base
      (0 until 10).foreach { w =>
        val ch = base.filter($"doc_id" % 50 === w)
          .select($"doc_id", concat(lit(s"t$w "), $"text").as("text"),
            $"lang", $"source", ($"n_chars" + 1L).as("n_chars"))
          .withColumn(MergeOps.TombstoneCol, lit(false))
        MergeOps.applyToLayout(spark, corpus, ch)
        expected = MergeOps.applyChanges(expected, ch)
      }
      val (frac10, nf10, total10) = keptFrac()
      // soundness first: the pruned read still answers exactly
      assert(rows(served().filter(flt).select($"doc_id", $"n_chars")) ==
        rows(expected.filter(flt).select($"doc_id", $"n_chars")),
        "pruned read diverged after 10 applies")
      // the maintenance law: pruning quality did NOT decay — rewritten
      // buckets kept their z-split (without reclusterTouched each apply
      // folds touched buckets into one wide file and the kept fraction
      // drifts toward 1)
      assert(total10 > 8, s"applies folded the z-split away: $total10 files")
      assert(frac10 <= frac0 * 1.5 + 0.05,
        s"pruning decayed: kept $nf10/$total10 (${frac10}) vs initial " +
          s"$nf0/$total0 (${frac0})")
    } finally {
      CorpusLayout.drop(spark, corpus)
      spark.conf.unset(CorpusLayout.ConfKey)
      rmAll(tmp)
    }
  }
}
