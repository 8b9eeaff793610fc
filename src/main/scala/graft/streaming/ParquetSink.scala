package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Exactly-once parquet sink for Structured Streaming via foreachBatch.
  *
  * foreachBatch's contract is at-least-once: after a crash between "batch
  * written" and "offsets committed", the SAME batch id is replayed. A
  * plain append sink duplicates that batch's rows. This sink makes the
  * replay idempotent by giving every micro-batch its own `batch_id=N`
  * partition and overwriting ONLY that partition (dynamic partition
  * overwrite): re-running a batch replaces its previous attempt
  * byte-for-byte instead of appending beside it.
  *
  * Scale notes: the target table stays one parquet dataset partitioned by
  * batch_id — readers see `path` as a single table, partition pruning
  * works, and no global state (no compare-and-swap, no manifest) is
  * needed because the batch id IS the idempotency key. Writer parallelism
  * is the upstream partitioning; nothing funnels through the driver.
  */
object ParquetSink {

  /** Write one micro-batch idempotently (safe to call again with the same
    * batchId after a retry — the partition is replaced, never doubled).
    *
    * `routeCols`: optional partition columns layered ABOVE batch_id
    * (e.g. a lang/quality route) — readers prune on them, and replay
    * idempotency is untouched because batch_id stays in the partitioning
    * (a replayed batch rewrites exactly its own (route, batch_id)
    * leaves).
    */
  def writeBatch(df: DataFrame, batchId: Long, path: String,
                 routeCols: Seq[String] = Nil): Unit = {
    // Dynamic mode scopes mode("overwrite") to the partitions present in
    // THIS write (just batch_id=batchId), not the whole table. As a
    // per-WRITE option, never a session conf: a session-wide dynamic
    // mode leaks into every later partitioned overwrite on the session —
    // and dynamic overwrites skip the top-level _SUCCESS marker, which
    // silently broke VectorIndexStore's readiness probe in whatever
    // workload ran after a sink batch (caught by suite-order bisection).
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(routeCols :+ "batch_id": _*).parquet(path)
  }

  /** Attach the idempotent sink to a stream (caller starts/stops). */
  def sink(stream: DataFrame, path: String,
           routeCols: Seq[String] = Nil): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch(
      (df: DataFrame, id: Long) => writeBatch(df, id, path, routeCols))

  // ── Compaction: the small-files answer for a long-lived sink ──
  //
  // A micro-batch sink accumulates one partition directory per batch —
  // thousands of tiny files after a day of 10 s triggers, and every
  // reader pays the listing + open cost (the classic streaming-at-scale
  // failure mode). `compact` folds all batches up to the observed
  // high-watermark into a few large (optionally sorted) files under a
  // VERSIONED directory, and commits by rewriting one tiny watermark
  // file — readers atomically switch to (compacted vN) ∪ (live batches
  // > watermark). Exactly-once composes: a batch REPLAYED after it was
  // compacted still overwrites its own batch_id partition in the live
  // table, but `readOptimized` ignores batches ≤ the watermark — its
  // rows already live in the compacted store — so the replay cannot
  // double rows. Re-compaction is incremental: version N+1 = version N
  // ∪ (watermark_N, watermark_N+1], then the pointer swings.

  private def watermarkFile(compactDir: String) =
    java.nio.file.Paths.get(compactDir, "_watermark.json")

  /** (version, batch high-watermark) of the current compacted store. */
  def compactionState(compactDir: String): Option[(Long, Long)] = {
    val f = watermarkFile(compactDir)
    if (!java.nio.file.Files.exists(f)) None
    else {
      val txt = java.nio.file.Files.readString(f)
      val m = """"version"\s*:\s*(\d+).*"batch_hwm"\s*:\s*(-?\d+)""".r
        .findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(s"corrupt watermark file: $txt"))
      Some((m.group(1).toLong, m.group(2).toLong))
    }
  }

  /** Fold every live batch ≤ the current max batch id into the next
    * compacted version. Offline operation (run it between epochs or from
    * a maintenance job); readers are never blocked — they follow the
    * watermark pointer, which is swung only after the new version is
    * fully written. Returns the new high-watermark.
    */
  def compact(s: org.apache.spark.sql.SparkSession, path: String, compactDir: String,
              sortCols: Seq[String] = Nil, numFiles: Int = 8): Long = {
    import org.apache.spark.sql.functions.{col, max => fmax}
    val live = s.read.parquet(path)
    val (prevVersion, prevHwm) = compactionState(compactDir).getOrElse((-1L, Long.MinValue))
    // partition-value inference may type batch_id as int — normalize.
    // All-empty batches leave max() null: nothing to compact, keep the
    // current version instead of NPE-ing a maintenance job.
    val hwmRow = live.agg(fmax(col("batch_id").cast("long"))).head()
    if (hwmRow.isNullAt(0)) return prevHwm
    val hwm = hwmRow.getLong(0)
    val fresh = live.filter(col("batch_id") > prevHwm && col("batch_id") <= hwm)
    val prev = if (prevVersion >= 0)
      Some(s.read.parquet(s"$compactDir/v=$prevVersion")) else None
    val all = prev.fold(fresh)(p => p.unionByName(fresh))
    val arranged =
      if (sortCols.nonEmpty)
        all.repartitionByRange(numFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else all.coalesce(numFiles)
    val version = prevVersion + 1
    arranged.write.mode("overwrite").parquet(s"$compactDir/v=$version")
    graft.FsUtil.writeAtomically(watermarkFile(compactDir),
      s"""{"version": $version, "batch_hwm": $hwm}""")
    hwm
  }

  /** The read-optimized view: compacted store ∪ live batches above the
    * watermark. Without a compaction yet, just the live table.
    */
  def readOptimized(s: org.apache.spark.sql.SparkSession, path: String,
                    compactDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    compactionState(compactDir) match {
      case None => s.read.parquet(path)
      case Some((version, hwm)) =>
        s.read.parquet(s"$compactDir/v=$version")
          .unionByName(s.read.parquet(path).filter(col("batch_id") > hwm))
    }
  }
}
