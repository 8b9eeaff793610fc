package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Forked-JVM halves of the crash-recovery spec (CrashRecoverySpec):
  * the failure mode [[ParquetSink]]'s exactly-once contract exists for is
  * a DRIVER DEATH between a batch's offset write and its commit — which
  * an in-process spec can't produce (stopping a query gracefully runs the
  * stop path, not the crash path). This main runs the standard
  * [[CorpusIngest]] pipeline over a file source and either
  *
  *  - `crash`: waits for the checkpoint to record the OFFSET of batch
  *    `crashAtBatch` (offsets are written BEFORE a batch runs, commits
  *    after) and then `Runtime.halt`s the whole JVM — no stop(), no
  *    cleanup, the batch left mid-flight; or
  *  - `resume`: starts the SAME query on the SAME checkpoint, drains all
  *    available input (which REPLAYS the mid-flight batch first), stops
  *    cleanly, and exits 0.
  *
  * The spec forks crash then resume across real JVM boundaries and pins
  * the final output against the batch reference: identical admitted set,
  * zero duplicates — the replayed batch's writeBatch overwrote its own
  * partial attempt instead of double-inserting beside it.
  *
  * Three pipelines share the harness: the corpus ingest (modes
  * `crash`/`resume`), the vector-index ingest (`crash-vector`/
  * `resume-vector` — [[VectorIngest]] appending to a pre-materialized
  * [[graft.operators.VectorIndexStore]], whose (cell, batch_id)
  * partition overwrite is the replay-idempotency under test; the store
  * base travels as the 6th argument and the target corpus as the 3rd),
  * and the STATEFUL tier (`crash-state`/`resume-state` —
  * [[StreamingDedup.incrementalPairs]], flatMapGroupsWithState over
  * per-bucket signature state). The stateful mode is the one a cluster
  * restart actually stresses: the kill lands with LIVE bucket state, and
  * recovery must restore the state store to the last committed batch so
  * the replay emits exactly the pairs the batch pipeline would — pass
  * `rocksdb` as the 6th argument to run it on the RocksDB state store
  * provider instead of the default HDFS-backed one (both providers must
  * recover identically; the spec pins the RocksDB path).
  *
  * `crash-asof`/`resume-asof` puts [[StreamingAsOf.enrichPrepared]] under
  * the same hard kill — the temporal join a cluster restart stresses
  * hardest, because its per-key state (the reigning dimension version +
  * the pending not-yet-final events) must survive for matches that SPAN
  * the crash: a version row written before the kill is the correct as-of
  * match for events that only arrive after the resume. Input files carry
  * the pre-unioned [[StreamingAsOf.AsOfRow]] schema; same `rocksdb`
  * 6th-argument switch as `-state`.
  *
  * `crash-merge`/`resume-merge` targets the BATCH half of the CDC
  * lifecycle instead of a streaming checkpoint: the kill lands inside
  * [[graft.operators.MergeOps.applyToLayout]]'s commit (after the
  * markers, before the pointer — [[graft.operators.MergeOps.CrashPointKey]]
  * "before-pointer"), the one window where the new generation is
  * complete on disk while the pointer still names its parent. The
  * resume half is a FRESH JVM with an empty in-memory catalog —
  * recovery must come entirely from the filesystem: Chain.resync moves
  * the pointer forward onto the newest complete generation, the
  * unmarked ledger batch replays as a content no-op, and the served
  * corpus equals the batch composition of both waves. Args: inputDir = the corpus dir, outPath = the layout base,
  * ckptDir = where resume dumps the served contents for the spec.
  *
  * Usage: CrashRecoveryMain <mode> <inputDir> <outPathOrCorpus> <ckptDir> [crashAtBatch [indexBase|rocksdb]]
  */
object CrashRecoveryMain {

  /** Deterministic changeset wave `w` over the corpus's raw documents —
    * shared between the forked halves and the spec's batch reference.
    * Each wave recrawls the `doc_id ≡ w (mod 13)` slice and tombstones
    * the third of it with `doc_id ≡ w (mod 39)`.
    */
  private[graft] def mergeWave(spark: org.apache.spark.sql.SparkSession,
                               corpusDir: String, wave: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$corpusDir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(13)) === wave % 13)
      .select(col("doc_id"),
        concat(lit(s"wave$wave "), col("text")).as("text"),
        col("lang"), col("source"),
        (col("n_chars") + wave).cast("long").as("n_chars"))
      .withColumn("tombstone", pmod(col("doc_id"), lit(39)) === wave % 13)
  }

  /** Deterministic contention wave `w`: each wave edits the DISJOINT
    * key slice `doc_id ≡ w (mod 26)` (text prefix `cw$w`), so any
    * serialization of the waves yields the same final corpus — which is
    * what lets the spec pin "no lost updates" without pinning an
    * interleaving. Two writers apply the even and odd waves
    * concurrently; only the lease keeps their generation commits apart.
    */
  private[graft] def contendWave(spark: org.apache.spark.sql.SparkSession,
                                 corpusDir: String, wave: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$corpusDir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(26)) === wave)
      .select(col("doc_id"),
        concat(lit(s"cw$wave "), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .withColumn("tombstone", org.apache.spark.sql.functions.lit(false))
  }

  private def runMerge(mode: String, spark: org.apache.spark.sql.SparkSession,
                       corpusDir: String, layoutBase: String,
                       dumpDir: String, startWave: Int): Unit = {
    spark.conf.set(graft.sources.CorpusLayout.ConfKey, layoutBase)
    if (mode == "contend-merge") {
      // one of two concurrent writers: apply this writer's wave slice of
      // 0..5 against the SHARED chain (the pointer names the tip; the
      // generation lease serializes the commits, so each merge reads
      // the other writer's tip). A line in
      // `<dumpDir>.progress` per committed batch is the progress signal
      // the spec waits on: a writer that stops appending has stalled
      val progress = java.nio.file.Paths.get(s"$dumpDir.progress")
      def beat(msg: String): Unit = java.nio.file.Files.writeString(progress,
        msg + "\n", java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      beat("started")
      for (w <- startWave until 6 by 2) {
        StreamingMerge.applyBatch(contendWave(spark, corpusDir, w),
          w.toLong, corpusDir)
        beat(s"committed $w")
      }
      graft.sources.Chain.flat(corpusDir).served(spark)
        .getOrElse(sys.error("contend-merge: no serving table"))
        .write.mode("overwrite").parquet(dumpDir)
      spark.stop()
    } else if (mode == "crash-merge") {
      graft.sources.CorpusLayout.materialize(spark, corpusDir)
      StreamingMerge.applyBatch(mergeWave(spark, corpusDir, 0), 0, corpusDir)
      spark.conf.set(graft.operators.MergeOps.CrashPointKey, "before-pointer")
      StreamingMerge.applyBatch(mergeWave(spark, corpusDir, 1), 1, corpusDir)
      sys.error("unreachable: merge crash point did not fire")
    } else {
      // fresh JVM, empty catalog: the ledger (fs) says wave 1 never
      // committed, so this replays it; applyToLayout's resync first
      // moves the lagging pointer onto the complete generation
      val replayed = StreamingMerge.applyBatch(
        mergeWave(spark, corpusDir, 1), 1, corpusDir)
      require(replayed, "resume-merge: ledger claims the crashed wave committed")
      graft.sources.Chain.flat(corpusDir).served(spark)
        .getOrElse(sys.error("resume-merge: no serving table after repair"))
        .write.mode("overwrite").parquet(dumpDir)
      spark.stop()
    }
  }

  def main(args: Array[String]): Unit = {
    val (mode, inputDir, outPath, ckptDir) = (args(0), args(1), args(2), args(3))
    val crashAtBatch = args.lift(4).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.builder(master = "local[4]",
      shufflePartitions = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (mode.endsWith("-merge"))
      return runMerge(mode, spark, inputDir, outPath, ckptDir, crashAtBatch)
    val vectorMode = mode.endsWith("-vector")
    val stateMode = mode.endsWith("-state")
    val hhMode = mode.endsWith("-hh")
    val asofMode = mode.endsWith("-asof")
    val q = if (asofMode) {
      import spark.implicits._
      if (args.lift(5).contains("rocksdb"))
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // pre-unioned AsOfRow stream: dim-version rows (isDim) and event
      // rows share one keyed stream under one event-time watermark —
      // exactly what enrich() builds from separate frames
      val schema = StructType(Seq(
        StructField("key", LongType), StructField("ts", TimestampType),
        StructField("isDim", BooleanType), StructField("event_id", LongType),
        StructField("payload", DoubleType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inputDir)
      StreamingAsOf.enrichPrepared(
          stream.withWatermark("ts", "1 hour").as[StreamingAsOf.AsOfRow])
        .writeStream.outputMode("append").format("parquet")
        .option("path", outPath)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
    } else if (hhMode) {
      // the MG-sketch snapshot chain (crash-hh/resume-hh): fold state
      // lives OUTSIDE the checkpoint as per-batch snapshot dirs; a kill
      // mid-batch may leave a torn (no _SUCCESS) snapshot that the
      // replayed batch must ignore and overwrite (snapshotBefore reads
      // the PREDECESSOR, never the batch's own dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("ts", TimestampType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inputDir)
      StreamingHeavyHitters.ingestWriter(stream, stateDir = outPath)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
    } else if (stateMode) {
      if (args.lift(5).contains("rocksdb"))
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("ts", TimestampType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inputDir)
      // ttl = None: the bounded-replay opt-out — the spec's waves must
      // pair across ALL earlier waves, so no horizon applies
      StreamingDedup.incrementalPairs(
          StreamingDedup.bandedSignatures(stream), minEst = 0.5, ttl = None)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outPath)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
    } else if (vectorMode) {
      spark.conf.set(graft.operators.VectorIndexStore.ConfKey, args(5))
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inputDir)
      VectorIngest.ingestWriter(stream, corpusDir = outPath)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
    } else {
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("n_chars", LongType), StructField("ts", TimestampType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inputDir)
      CorpusIngest.ingest(stream, outPath)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
    }
    if (mode.startsWith("crash")) {
      // offsets/<n> lands before batch n executes; halting right after it
      // appears leaves batch n uncommitted — the replay case. halt(), not
      // exit(): shutdown hooks (which would stop the query cleanly) must
      // not run, this is the kill -9 path.
      val target = java.nio.file.Paths.get(ckptDir, "offsets", crashAtBatch.toString)
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!java.nio.file.Files.exists(target) && System.nanoTime() < deadline) {
        Thread.sleep(2)
      }
      Runtime.getRuntime.halt(137)
    } else {
      q.processAllAvailable()
      q.stop()
      spark.stop()
    }
  }
}
