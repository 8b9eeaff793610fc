package graft

import graft.sources.Chain

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Crash-recovery across a REAL JVM boundary (VERDICT r7 #7): the
  * in-process StreamingSpec replays batches cooperatively; this spec
  * hard-kills a running CorpusIngest query (Runtime.halt — no stop path,
  * no shutdown hooks) after the checkpoint has recorded an offset whose
  * commit never lands, restarts the query from that checkpoint in a
  * SECOND JVM, and pins the final output against the batch reference.
  * The mid-flight batch is REPLAYED on restart; ParquetSink's
  * per-batch-directory overwrite must replace any partial attempt
  * instead of double-inserting beside it.
  *
  * The forked JVMs run graft.streaming.CrashRecoveryMain over the
  * production classpath (/opt/spark/jars + compiled classes) — the same
  * binary-level recovery a cluster restart performs.
  */
class CrashRecoverySpec extends AnyFunSuite with SparkTestBase {

  private def fork(mode: String, inputDir: String, outPath: String,
                   ckptDir: String, indexBase: Option[String] = None): Int = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = "/opt/spark/jars/*:target/scala-2.13/classes"
    val log = java.nio.file.Files.createTempFile("graft_crash_" + mode, ".log").toFile
    // the exact JDK-17 module opens build.sbt forks with (Spark 4 outside
    // spark-submit), so the child JVM is the same runtime shape
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).map(p => s"--add-opens=$p=ALL-UNNAMED")
    val cmd = Seq(javaBin, "-Xmx3g", "-cp", cp,
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++
      addOpens ++
      Seq("graft.streaming.CrashRecoveryMain", mode, inputDir, outPath, ckptDir, "2") ++
      indexBase.toSeq
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(new java.io.File("."))
    pb.redirectOutput(log)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val done = p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) { p.destroyForcibly(); fail(s"$mode JVM hung; log: $log") }
    val code = p.exitValue()
    if (mode.startsWith("resume") && code != 0)
      fail(s"$mode JVM exited $code; log tail:\n" +
        scala.util.Using.resource(scala.io.Source.fromFile(log))(
          _.getLines().toSeq.takeRight(30).mkString("\n")))
    code
  }

  private def countFiles(dir: java.nio.file.Path): Int =
    if (!java.nio.file.Files.isDirectory(dir)) 0
    else scala.util.Using.resource(java.nio.file.Files.list(dir))(
      _.filter(p => !p.getFileName.toString.startsWith(".")).count().toInt)

  test("atomic pointer writes: content is replaced whole; an interrupted write's temp file changes nothing") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_atomic")
    def read(n: String) = new String(Files.readAllBytes(dir.resolve(n)), "UTF-8")
    try {
      FsUtil.writeAtomically(dir.resolve("CURRENT"), "v12")
      FsUtil.writeAtomically(dir.resolve("CURRENT"), "v3")
      // the shorter content replaced the longer one whole (no "v32" tail)
      assert(read("CURRENT") == "v3")
      assert(graft.sources.VersionedStore.current(dir.toString).contains(3))
      FsUtil.writeAtomically(dir.resolve("s1"), "documents\t/gen")
      assert(FsUtil.list(dir).map(_.getFileName.toString).sorted == Seq("CURRENT", "s1"),
        "a completed write left its temp file behind")
      // a write killed between its temp write and its move leaves only
      // the temp sibling: the pointer, the numbered listing (snapshots,
      // tags, generations) and the pointer's reader are unchanged
      Files.write(dir.resolve(".CURRENT.4711.tmp"), "v9".getBytes("UTF-8"))
      Files.write(dir.resolve(".s2.4712.tmp"), "documents\t/other".getBytes("UTF-8"))
      assert(read("CURRENT") == "v3")
      assert(graft.sources.VersionedStore.current(dir.toString).contains(3))
      assert(FsUtil.numbered(dir, "s").map(_._1) == Seq(1L))
      assert(read("s1") == "documents\t/gen")
    } finally FsUtil.deleteRecursively(dir)
  }

  test("hard-killed ingest restarts from checkpoint: replayed batch, exactly-once output") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text", $"n_chars")
    def stamped(df: org.apache.spark.sql.DataFrame, t: String) =
      df.withColumn("ts", org.apache.spark.sql.functions.lit(java.sql.Timestamp.valueOf(t)))
    // 5 single-file waves = 5 micro-batches (maxFilesPerTrigger=1).
    // Wave 3 re-submits wave-0 content under new ids (re-crawl), so the
    // dedup state rebuilt from the checkpoint is load-bearing: losing it
    // across the crash would re-admit the duplicates.
    val waves = Seq(
      docs.filter($"doc_id" < 120),
      docs.filter($"doc_id" >= 120 && $"doc_id" < 240),
      docs.filter($"doc_id" >= 240 && $"doc_id" < 360),
      docs.filter($"doc_id" < 60).withColumn("doc_id", $"doc_id" + 50000L),
      docs.filter($"doc_id" >= 360 && $"doc_id" < 480)
    ).zipWithIndex.map { case (df, i) =>
      stamped(df, f"2024-01-01 10:0$i:00")
    }
    // retry the race once: the crash JVM halts right after offsets/2
    // appears; on a pathologically fast batch the commit could sneak in
    // first, leaving nothing to replay — regenerate dirs and try again
    val attempt = (1 to 3).iterator.map { _ =>
      val base = java.nio.file.Files.createTempDirectory("graft_crash").toString
      val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      waves.zipWithIndex.foreach { case (w, i) =>
        w.coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
        val part = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/stage$i")))(
          _.filter(_.toString.endsWith(".parquet")).findFirst().get())
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(inDir, f"wave$i%02d.parquet"))
      }
      val code = fork("crash", inDir, outDir, ckpt)
      assert(code != 0, "crash JVM exited cleanly — halt() did not fire")
      val offsets = countFiles(java.nio.file.Paths.get(ckpt, "offsets"))
      val commits = countFiles(java.nio.file.Paths.get(ckpt, "commits"))
      (base, inDir, outDir, ckpt, offsets, commits)
    }.find { case (_, _, _, _, offsets, commits) => offsets > commits }
    assert(attempt.isDefined,
      "3 attempts never caught a batch between offset and commit")
    val (_, inDir, outDir, ckpt, offsets, commits) = attempt.get
    // the defining precondition: an offset with no commit = a batch that
    // MUST replay on restart
    assert(offsets > commits, s"no mid-flight batch (offsets=$offsets commits=$commits)")

    assert(fork("resume", inDir, outDir, ckpt) == 0)

    // exactly-once despite the replay: output == batch reference
    val out = spark.read.parquet(outDir).select($"doc_id", $"ch").collect()
    val batchGate = graft.streaming.CorpusIngest.gate(
      waves.reduce(_ unionByName _)).select($"ch").distinct()
      .collect().map(_.getString(0)).toSet
    assert(out.map(_.getString(1)).toSet == batchGate,
      "recovered stream's admitted-hash set diverges from the batch gate")
    assert(out.map(_.getString(1)).distinct.length == out.length,
      "replayed batch double-inserted rows")
    // first-arrival dedup survived the crash: re-crawled wave-3 content
    // kept its original ids (the checkpoint's dedup state was restored)
    assert(out.forall(_.getLong(0) < 50000L),
      "a re-submitted duplicate displaced its first arrival after recovery")
    // and the recovery actually processed everything: every wave that
    // contributes ≥1 FIRST-ARRIVAL document has its batch directory in
    // the sink (a wave the gate or the dedup fully drops writes no
    // partition — not a lost batch)
    var seen = Set.empty[String]
    val expectedBatches = waves.count { w =>
      val hs = graft.streaming.CorpusIngest.gate(w)
        .select($"ch").collect().map(_.getString(0)).toSet
      val fresh = (hs -- seen).nonEmpty
      seen ++= hs
      fresh
    }
    assert(spark.read.parquet(outDir)
      .select($"batch_id").distinct().count() == expectedBatches,
      s"sink batches != $expectedBatches first-arrival-bearing waves after recovery")
  }
  /** Same harness, the vector-index path: the store's (cell, batch_id)
    * dynamic partition overwrite is the replay-idempotency under test —
    * the mid-flight append must REPLACE its partial attempt on restart,
    * and probes over the recovered index must see every new vector
    * exactly once.
    */
  test("hard-killed vector ingest resumes: replayed append lands exactly-once in the index") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base0 = java.nio.file.Files.createTempDirectory("graft_vcrash_idx").toString
    spark.conf.set(graft.operators.VectorIndexStore.ConfKey, base0)
    try {
      graft.operators.VectorIndexStore.materialize(spark, sf)
      val baseIds = graft.operators.VectorIndexStore
        .assignmentsIfPresent(spark, sf).get
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      // 5 waves of NEW vectors: jittered copies of the corpus under
      // offset ids, one file per micro-batch
      val emb = Tables.load(spark, sf, "embeddings")
      def wave(i: Int) = emb
        .filter($"vec_id" % 5 === i)
        .select(($"vec_id" + 100000L * (i + 1)).as("vec_id"),
          expr("transform(embedding, (x, k) -> CAST(x + 0.001 * " + (i + 1) +
            " AS FLOAT))").as("embedding"))
      val waves = (0 until 5).map(wave)
      val expectedNew = waves.map(_.select($"vec_id").collect()
        .map(_.getLong(0)).toSet).reduce(_ ++ _)

      val attempt = (1 to 3).iterator.map { _ =>
        val base = java.nio.file.Files.createTempDirectory("graft_vcrash").toString
        val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
        waves.zipWithIndex.foreach { case (w, i) =>
          w.coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
          val part = scala.util.Using.resource(
            java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/stage$i")))(
            _.filter(_.toString.endsWith(".parquet")).findFirst().get())
          java.nio.file.Files.move(part,
            java.nio.file.Paths.get(inDir, f"wave$i%02d.parquet"))
        }
        val code = fork("crash-vector", inDir, sf, ckpt, Some(base0))
        assert(code != 0, "crash JVM exited cleanly - halt() did not fire")
        (inDir, ckpt,
          countFiles(java.nio.file.Paths.get(ckpt, "offsets")),
          countFiles(java.nio.file.Paths.get(ckpt, "commits")))
      }.find { case (_, _, offsets, commits) => offsets > commits }
      assert(attempt.isDefined, "3 attempts never caught a mid-flight append")
      val (inDir, ckpt, _, _) = attempt.get

      assert(fork("resume-vector", inDir, sf, ckpt, Some(base0)) == 0)

      val appended = graft.operators.VectorIndexStore
        .assignmentsIfPresent(spark, sf).get
        .select($"vec_id").collect().map(_.getLong(0)).toIndexedSeq
        .filterNot(baseIds)
      assert(appended.toSet == expectedNew,
        s"recovered index vec set diverges: missing ${(expectedNew -- appended.toSet).take(3)}, " +
          s"extra ${(appended.toSet -- expectedNew).take(3)}")
      assert(appended.distinct.size == appended.size,
        "replayed append double-inserted vectors")
      // the recovered index still serves: a probe over appended vectors
      val queries = Tables.load(spark, sf, "embeddings").orderBy($"vec_id").limit(4)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      assert(graft.operators.VectorIndexStore
        .probeBatch(spark, sf, queries).count() > 0)
    } finally {
      spark.conf.unset(graft.operators.VectorIndexStore.ConfKey)
    }
  }

  /** The STATEFUL tier under the same hard kill (VERDICT r8 #5): the
    * corpus/vector modes recover stateless-per-batch sinks; this one
    * kills flatMapGroupsWithState (StreamingDedup's per-bucket signature
    * state) mid-batch, on the ROCKSDB state store provider, and restarts
    * in a second JVM. Recovery must restore the state store to the last
    * committed batch so the full run emits exactly the pair multiset the
    * batch pipeline computes — and the pairs that SPAN the crash (state
    * written before the kill, matched by documents arriving after the
    * resume) are asserted present explicitly: wave 3 re-submits wave-0
    * content under offset ids, so every such pair needs wave-0 bucket
    * state to have survived the kill.
    */
  test("hard-killed stateful dedup (RocksDB) resumes: state restores, stream == batch pairs") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    def stamped(df: org.apache.spark.sql.DataFrame, t: String) =
      df.withColumn("ts", org.apache.spark.sql.functions.lit(java.sql.Timestamp.valueOf(t)))
    val waves = Seq(
      docs.filter($"doc_id" < 120),
      docs.filter($"doc_id" >= 120 && $"doc_id" < 240),
      docs.filter($"doc_id" >= 240 && $"doc_id" < 360),
      // near-exact replay of wave 0 under new ids: guaranteed est=1.0
      // pairs whose FIRST member's state predates the crash
      docs.filter($"doc_id" < 120).withColumn("doc_id", $"doc_id" + 50000L),
      docs.filter($"doc_id" >= 360)
    ).zipWithIndex.map { case (df, i) => stamped(df, f"2024-01-01 10:0$i:00") }

    val attempt = (1 to 3).iterator.map { _ =>
      val base = java.nio.file.Files.createTempDirectory("graft_scrash").toString
      val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      waves.zipWithIndex.foreach { case (w, i) =>
        w.coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
        val part = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/stage$i")))(
          _.filter(_.toString.endsWith(".parquet")).findFirst().get())
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(inDir, f"wave$i%02d.parquet"))
      }
      val code = fork("crash-state", inDir, outDir, ckpt, Some("rocksdb"))
      assert(code != 0, "crash JVM exited cleanly - halt() did not fire")
      (inDir, outDir, ckpt,
        countFiles(java.nio.file.Paths.get(ckpt, "offsets")),
        countFiles(java.nio.file.Paths.get(ckpt, "commits")))
    }.find { case (_, _, _, offsets, commits) => offsets > commits }
    assert(attempt.isDefined, "3 attempts never caught a mid-flight stateful batch")
    val (inDir, outDir, ckpt, _, _) = attempt.get

    assert(fork("resume-state", inDir, outDir, ckpt, Some("rocksdb")) == 0)

    def multiset(rows: Seq[(Long, Long, Double)]) =
      rows.groupBy(identity).view.mapValues(_.size).toMap
    val got = spark.read.parquet(outDir)
      .select($"i", $"j", $"est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // batch reference: the SAME operator over the union in one batch pass
    // (flatMapGroupsWithState on a batch Dataset — empty initial state,
    // each bucket's rows in one invocation)
    val want = graft.streaming.StreamingDedup.incrementalPairs(
        graft.streaming.StreamingDedup.bandedSignatures(
          waves.reduce(_ unionByName _)), minEst = 0.5, ttl = None)
      .collect().map(p => (p.i, p.j, p.est_jaccard)).toSeq
    assert(want.nonEmpty, "batch reference found no pairs — corpus unusable")
    assert(multiset(got) == multiset(want), {
      val g = multiset(got); val w = multiset(want)
      s"recovered stream's pair multiset diverges from batch: " +
        s"missing=${(w.keySet -- g.keySet).take(3)} extra=${(g.keySet -- w.keySet).take(3)} " +
        s"countDiff=${(g.keySet & w.keySet).filter(k => g(k) != w(k)).take(3)}"
    })
    // the crash-spanning pairs specifically: wave-3 copies (post-resume
    // arrivals) matching their wave-0 originals (pre-crash state)
    val spanning = got.filter { case (i, j, _) => i < 50000L && j >= 50000L }
    assert(spanning.nonEmpty,
      "no pre-crash-state x post-resume pairs — state did not survive the kill")
  }

  /** The MG-sketch snapshot chain under the same hard kill: fold state
    * lives OUTSIDE the checkpoint as per-batch snapshot directories, so
    * the kill can land mid-snapshot-write and leave a TORN (no _SUCCESS)
    * dir. Recovery must ignore it (snapshotBefore reads the predecessor,
    * never a batch's own dir), overwrite it on replay, and converge to
    * the batch answer: the recount of the recovered candidates equals
    * the batch t29 result exactly.
    */
  test("hard-killed heavy-hitters fold resumes: snapshot chain replays, exact == batch t29") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    def stamped(df: org.apache.spark.sql.DataFrame, t: String) =
      df.withColumn("ts", org.apache.spark.sql.functions.lit(java.sql.Timestamp.valueOf(t)))
    // 5 waves that UNION to the full documents table, so the recovered
    // stream state is comparable to the batch t29 query directly
    val waves = (0 until 5).map(i =>
      stamped(docs.filter($"doc_id" % 5 === i), f"2024-01-01 10:0$i:00"))

    val attempt = (1 to 3).iterator.map { _ =>
      val base = java.nio.file.Files.createTempDirectory("graft_hhcrash").toString
      val (inDir, stateDir, ckpt) = (s"$base/in", s"$base/state", s"$base/ckpt")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      waves.zipWithIndex.foreach { case (w, i) =>
        w.coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
        val part = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/stage$i")))(
          _.filter(_.toString.endsWith(".parquet")).findFirst().get())
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(inDir, f"wave$i%02d.parquet"))
      }
      val code = fork("crash-hh", inDir, stateDir, ckpt)
      assert(code != 0, "crash JVM exited cleanly - halt() did not fire")
      (inDir, stateDir, ckpt,
        countFiles(java.nio.file.Paths.get(ckpt, "offsets")),
        countFiles(java.nio.file.Paths.get(ckpt, "commits")))
    }.find { case (_, _, _, offsets, commits) => offsets > commits }
    assert(attempt.isDefined, "3 attempts never caught a mid-flight fold")
    val (inDir, stateDir, ckpt, _, _) = attempt.get

    assert(fork("resume-hh", inDir, stateDir, ckpt) == 0)

    // exact gate across the kill: recount of the recovered candidates
    // equals batch t29 (the φ > 1/(cap+1) exactness both rest on)
    val streamed = graft.streaming.StreamingHeavyHitters
      .exactHeavyHitters(docs, stateDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = SparkEntry.queries("t29_heavy_hitters")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed.nonEmpty, "no heavy hitters — corpus unusable")
    assert(streamed == batch,
      "recovered snapshot chain's recount diverges from batch t29")
    // the chain advanced past the killed batch and stayed capacity-bounded
    val snaps = java.nio.file.Files.list(java.nio.file.Paths.get(stateDir))
    val ids = try snaps.iterator().asScala.toList
      .map(_.getFileName.toString).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong) finally snaps.close()
    assert(ids.max >= 4, s"chain did not reach the last wave: $ids")
    assert(graft.streaming.StreamingHeavyHitters
      .candidates(spark, stateDir).count() <=
        graft.streaming.StreamingHeavyHitters.Capacity)
  }

  /** StreamingAsOf under the hard kill (VERDICT r9 #2): the temporal
    * join's flatMapGroupsWithState holds per key the reigning dimension
    * version + the pending not-yet-final events — the state a cluster
    * restart stresses hardest. The kill lands mid-batch on RocksDB with
    * live per-key state; a second JVM resumes from the checkpoint and
    * drains. The recovered output must equal batch AsOf.join over the
    * complete inputs, and the CRASH-SPANNING matches are asserted
    * explicitly: the span keys' only version row arrives in wave 0
    * (pre-crash state) while their events arrive in wave 3 (post-resume)
    * — losing the state would emit those events unmatched, not missing.
    */
  test("hard-killed streaming as-of (RocksDB) resumes: versions survive, stream == batch AsOf") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // (key, ts, isDim, event_id, payload) — the pre-unioned AsOfRow shape
    def dim(k: Long, t: String, p: Double): (Long, java.sql.Timestamp, Boolean, Long, Double) =
      (k, ts(t), true, -1L, p)
    def ev(k: Long, id: Long, t: String): (Long, java.sql.Timestamp, Boolean, Long, Double) =
      (k, ts(t), false, id, 0.0)
    val spanKeys = (100L to 109L)
    val waves: Seq[Seq[(Long, java.sql.Timestamp, Boolean, Long, Double)]] = Seq(
      // wave 0: the span keys' ONLY version + normal-key versions/events
      spanKeys.map(k => dim(k, "2024-01-01 10:00:00", k * 0.5)) ++
        Seq(dim(1L, "2024-01-01 10:00:00", 1.0), dim(2L, "2024-01-01 10:00:00", 2.0),
          dim(3L, "2024-01-01 10:00:00", 3.0),
          ev(1L, 1L, "2024-01-01 10:05:00"), ev(2L, 2L, "2024-01-01 10:06:00")),
      // wave 1: a newer version for k1; a pre-version (null-match) event
      Seq(dim(1L, "2024-01-01 10:20:00", 1.2),
        ev(1L, 3L, "2024-01-01 10:25:00"), ev(3L, 4L, "2024-01-01 10:26:00"),
        ev(2L, 5L, "2024-01-01 09:58:00")),
      // wave 2 (the killed batch): a LATE in-watermark version + events
      Seq(dim(3L, "2024-01-01 10:24:00", 3.5),
        ev(1L, 6L, "2024-01-01 10:40:00"), ev(2L, 7L, "2024-01-01 10:41:00")),
      // wave 3 (post-resume): the span keys' events — their match is the
      // wave-0 version that must have survived the kill — plus k2's
      // version refresh and one more k1 event
      spanKeys.zipWithIndex.map { case (k, i) =>
        ev(k, 100L + i, "2024-01-01 11:10:00") } ++
        Seq(dim(2L, "2024-01-01 11:00:00", 2.5), ev(1L, 8L, "2024-01-01 11:15:00")),
      // two sentinel waves: push the watermark >1 h past every event,
      // then trigger once more so the timeout flush takes effect
      Seq(ev(900L, 900L, "2024-01-01 23:00:00")),
      Seq(ev(901L, 901L, "2024-01-01 23:30:00")))

    val attempt = (1 to 3).iterator.map { _ =>
      val base = java.nio.file.Files.createTempDirectory("graft_asofcrash").toString
      val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      waves.zipWithIndex.foreach { case (w, i) =>
        w.toDF("key", "ts", "isDim", "event_id", "payload")
          .coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
        val part = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/stage$i")))(
          _.filter(_.toString.endsWith(".parquet")).findFirst().get())
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(inDir, f"wave$i%02d.parquet"))
      }
      val code = fork("crash-asof", inDir, outDir, ckpt, Some("rocksdb"))
      assert(code != 0, "crash JVM exited cleanly - halt() did not fire")
      (inDir, outDir, ckpt,
        countFiles(java.nio.file.Paths.get(ckpt, "offsets")),
        countFiles(java.nio.file.Paths.get(ckpt, "commits")))
    }.find { case (_, _, _, offsets, commits) => offsets > commits }
    assert(attempt.isDefined, "3 attempts never caught a mid-flight as-of batch")
    val (inDir, outDir, ckpt, _, _) = attempt.get

    assert(fork("resume-asof", inDir, outDir, ckpt, Some("rocksdb")) == 0)

    val got = spark.read.parquet(outDir)
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toMap
    // batch truth: the custom AsOf operator over the complete inputs
    // (sentinel events excluded — the watermark never passes them, so
    // streaming correctly holds them forever)
    val all = waves.flatten
    val evB = all.filter(r => !r._3 && r._4 < 900L)
      .map(r => (r._1, r._4, r._2)).toDF("user_id", "event_id", "ts")
    val vB = all.filter(_._3).map(r => (r._1, r._2, r._5))
      .toDF("user_id", "vts", "payload")
    def us(t: java.sql.Timestamp) = t.getTime * 1000 + (t.getNanos / 1000) % 1000
    val want = graft.plans.AsOf.join(evB, vB, "user_id", "ts", "vts")
      .toDF("user_id", "event_id", "ts", "r_user_id", "vts", "payload")
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(4)) -1L else us(r.getTimestamp(4)),
          if (r.isNullAt(5)) -1.0 else r.getDouble(5))).toMap
    assert(want.size == 18, s"batch truth wrong shape: ${want.keySet}")
    assert(got == want, {
      val miss = want.keySet -- got.keySet; val extra = got.keySet -- want.keySet
      val diff = (got.keySet & want.keySet).filter(k => got(k) != want(k))
      s"recovered as-of diverges from batch: missing=$miss extra=$extra wrong=$diff"
    })
    // the crash-spanning matches specifically: every span event matched
    // its key's wave-0 version (pre-crash state x post-resume arrival)
    spanKeys.zipWithIndex.foreach { case (k, i) =>
      assert(got(100L + i) == (us(ts("2024-01-01 10:00:00")), k * 0.5),
        s"span key $k lost its pre-crash version: ${got(100L + i)}")
    }
    // the null-match case rode along (e5 precedes every k2 version)
    assert(got(5L) == (-1L, -1.0), "pre-version event should match null")
  }

  test("hard-killed MERGE swing: fresh JVM re-attaches serving from disk and replays the wave") {
    import org.apache.spark.sql.functions.col
    val layoutBase = java.nio.file.Files.createTempDirectory("graft_crash_merge").toString
    val dump = java.nio.file.Files.createTempDirectory("graft_crash_merge_out").toString
    // crash half: materialize + wave 0 committed, wave 1 halted in its
    // commit after the markers, before the pointer (the one window)
    val code = fork("crash-merge", sf, layoutBase, dump)
    assert(code == 137, s"crash JVM exited $code — the mid-swing halt did not fire")
    // the kill left the new generation complete on disk, no ledger mark
    val root = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(layoutBase)))(
      _.findFirst().get()) // single corpus key under the base
    assert(java.nio.file.Files.exists(root.resolve("documents_v2/_SUCCESS")) &&
      java.nio.file.Files.exists(root.resolve("documents_v2/_BUCKETS")),
      "crashed swing did not leave a complete marked generation")
    assert(!java.nio.file.Files.exists(
      root.resolve("documents_applied_batches/b1")),
      "ledger marked a batch whose swing never completed")
    // resume half: a FRESH JVM with an empty catalog — recovery is pure
    // filesystem (repairServing + ledger replay)
    assert(fork("resume-merge", sf, layoutBase, dump) == 0)
    val servedDump = spark.read.parquet(dump)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val expected = graft.operators.MergeOps.applyChanges(
      graft.operators.MergeOps.applyChanges(docs,
        graft.streaming.CrashRecoveryMain.mergeWave(spark, sf, 0)),
      graft.streaming.CrashRecoveryMain.mergeWave(spark, sf, 1))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.map(col)
      df.select(cols.toIndexedSeq: _*).orderBy(cols.toIndexedSeq: _*)
        .collect().map(_.toString).toSeq
    }
    assert(canon(servedDump) == canon(expected),
      "recovered corpus diverges from the batch composition of both waves")
  }

  /** Like [[fork]] but non-blocking, with an explicit 5th argument
    * (contend-merge's start wave) — the contention test needs BOTH
    * writers alive at once.
    */
  private def forkAsync(mode: String, inputDir: String, outPath: String,
                        ckptDir: String, fifth: String): (Process, java.io.File) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = "/opt/spark/jars/*:target/scala-2.13/classes"
    val log = java.nio.file.Files.createTempFile("graft_fork_" + mode, ".log").toFile
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).map(p => s"--add-opens=$p=ALL-UNNAMED")
    val cmd = Seq(javaBin, "-Xmx3g", "-cp", cp,
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++
      addOpens ++
      Seq("graft.streaming.CrashRecoveryMain", mode, inputDir, outPath,
        ckptDir, fifth)
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(new java.io.File("."))
    pb.redirectOutput(log)
    pb.redirectErrorStream(true)
    (pb.start(), log)
  }

  test("two concurrent MERGE writers on one chain: the lease serializes swings — no lost updates, no torn chain") {
    import org.apache.spark.sql.functions._
    assert(spark.conf.getOption(graft.sources.CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory("graft_contend")
    val layoutBase = tmp.toString + "/layout"
    spark.conf.set(graft.sources.CorpusLayout.ConfKey, layoutBase)
    try {
      graft.sources.CorpusLayout.materialize(spark, sf, tables = Seq("documents"))
      // two real JVMs, CONCURRENT: even waves vs odd waves of disjoint
      // key slices — only the generation lease keeps their resolve→
      // stage→link→swing sections apart; resyncServing makes each see
      // the other's tip before every merge
      val (pa, la) = forkAsync("contend-merge", sf, layoutBase,
        tmp.toString + "/dumpA", "0")
      val (pb, lb) = forkAsync("contend-merge", sf, layoutBase,
        tmp.toString + "/dumpB", "1")
      // wait on progress, not on wall time: each writer appends a line to
      // its `.progress` file per committed batch, so a loaded host only
      // slows the lines down, while a deadlocked lease stops them. Fail
      // when neither writer has progressed for `stallS` seconds
      val beats = Seq("A", "B").map(w => java.nio.file.Paths.get(s"$tmp/dump$w.progress"))
      def progress: Long = beats.map(p =>
        if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else 0L).sum
      val stallS = 300
      var (seen, lastMove) = (progress, System.nanoTime())
      while ((pa.isAlive || pb.isAlive) &&
          System.nanoTime() - lastMove < stallS * 1000000000L) {
        Thread.sleep(500)
        if (progress != seen) { seen = progress; lastMove = System.nanoTime() }
      }
      val (doneA, doneB) = (!pa.isAlive, !pb.isAlive)
      if (!doneA) pa.destroyForcibly()
      if (!doneB) pb.destroyForcibly()
      def tail(f: java.io.File): String = scala.util.Using.resource(
        scala.io.Source.fromFile(f))(_.getLines().toSeq.takeRight(25).mkString("\n"))
      assert(doneA && doneB,
        s"a contending writer made no progress for $stallS s (deadlocked lease?)")
      assert(pa.exitValue() == 0, s"writer A failed; log tail:\n${tail(la)}")
      assert(pb.exitValue() == 0, s"writer B failed; log tail:\n${tail(lb)}")

      graft.sources.Chain.flat(sf).resync(spark)
      val served = graft.sources.Chain.flat(sf).served(spark).get
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      // no lost update: every wave's slice edited (each apply merged the
      // OTHER writer's tip, not a stale generation)
      (0 until 6).foreach { w =>
        val want = docs.filter(pmod(col("doc_id"), lit(26)) === w).count()
        val got = served.filter(col("text").startsWith(s"cw$w ")).count()
        assert(want > 0, s"degenerate slice $w at this SF")
        assert(got == want, s"wave $w lost updates: $got of $want edits survive")
      }
      // no duplicates, no dropped rows
      assert(served.count() == docs.count(), "row count drifted under contention")
      assert(served.groupBy("doc_id").count()
        .filter(col("count") > 1).isEmpty, "duplicate keys after contention")
      // chain integrity: base + exactly one generation per wave, ids
      // contiguous — two writers never raced into the same _vN
      val gens = graft.operators.MergeOps.generations(spark, Chain.flat(sf))
      assert(gens.map(_._1) == (0 to 6), s"torn chain: ${gens.map(_._1)}")
      // ledger: each batch marked exactly once
      assert(graft.streaming.StreamingMerge.appliedBatches(spark, sf, "documents")
        == (0L to 5L).toSet, "ledger diverged")
      // both writers released: the kernel lock is free again (the lock
      // FILE persists by design — unlinking it would re-open the
      // two-holders-on-different-inodes race)
      val root = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(layoutBase)))(
        _.findFirst().get())
      val leaseFile = root.resolve("documents_LEASE")
      assert(java.nio.file.Files.exists(leaseFile), "lease file missing")
      scala.util.Using.resource(java.nio.channels.FileChannel.open(leaseFile,
          java.nio.file.StandardOpenOption.WRITE)) { ch =>
        val probe = ch.tryLock()
        assert(probe != null, "lease still held after both writers exited")
        probe.release()
      }
    } finally {
      graft.sources.CorpusLayout.drop(spark, sf)
      spark.conf.unset(graft.sources.CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }
}
