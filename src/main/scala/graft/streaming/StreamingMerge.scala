package graft.streaming

import graft.operators.MergeOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming CDC apply — the streaming twin of [[MergeOps]] (the same
  * relationship StreamingDedup has to Dedup): a CHANGESET STREAM
  * (full-row upserts + tombstones, [[MergeOps.TombstoneCol]]) folds into
  * the served bucketed corpus generation per micro-batch, so the corpus
  * a nightly feed maintains is always one [[graft.Tables.load]] away.
  *
  * Exactly-once story, two layers (both load-bearing under the
  * crash-replay contract every sink in this package honors):
  *
  *  1. MERGE is REPLAY-IDEMPOTENT by semantics (MergeSpec pins it): a
  *     re-applied changeset updates rows to the values they already
  *     have and re-deletes rows that are already gone — so even a
  *     replayed batch that DOES re-apply converges to identical corpus
  *     contents;
  *  2. an applied-batch LEDGER (one marker file per batch id next to
  *     the generations, created atomically AFTER the apply commits)
  *     short-circuits replays entirely — a recovered query skips the
  *     re-apply instead of burning a generation on it. Crash between
  *     apply and marker ⇒ the replay re-applies; layer 1 makes that a
  *     content no-op.
  *
  * Scale: each micro-batch pays [[MergeOps.applyToLayout]]'s bucket-
  * scoped copy-on-write plan — read/merge/rewrite only the buckets the
  * batch's keys hash into (one file per touched bucket), hard-link the
  * rest forward — so per-batch cost tracks the BATCH size, not the
  * corpus; the stream never holds state (the corpus IS the state), so
  * there is no watermark, no state store, and nothing for a restart to
  * lose beyond the ledger on disk. Generations accrete per batch;
  * reclaim drained ones with [[MergeOps.vacuum]] (linked bytes survive).
  */
object StreamingMerge {

  private def ledgerDir(s: org.apache.spark.sql.SparkSession, corpusDir: String,
                        table: String): java.nio.file.Path =
    java.nio.file.Paths.get(MergeOps.layoutRoot(s, corpusDir),
      s"${table}_applied_batches")

  /** Batch ids already folded into the corpus (the replay ledger). */
  def appliedBatches(s: org.apache.spark.sql.SparkSession, corpusDir: String,
                     table: String = "documents"): Set[Long] =
    graft.FsUtil.numbered(ledgerDir(s, corpusDir, table), "b").map(_._1).toSet

  /** Apply ONE micro-batch of changes; returns true if it applied, false
    * if the ledger says this batch already landed (replay short-circuit)
    * or the batch is empty. The marker is written strictly AFTER
    * [[MergeOps.applyToLayout]] returns — a crash in between leaves no
    * marker, and the replayed apply is a content no-op by MERGE
    * idempotency.
    */
  def applyBatch(changes: DataFrame, batchId: Long, corpusDir: String,
                 table: String = "documents",
                 evolveSchema: Boolean = false,
                 partial: Boolean = false,
                 compactEvery: Int = 0,
                 maxGenerations: Int = 0,
                 keepLast: Int = 2): Boolean = {
    val s = changes.sparkSession
    if (appliedBatches(s, corpusDir, table).contains(batchId)) false
    else if (changes.isEmpty) false
    else {
      MergeOps.applyToLayoutFrom(s, graft.sources.Chain.flat(corpusDir, table),
        partial = partial, evolveSchema = evolveSchema)(_ => changes)
      val dir = ledgerDir(s, corpusDir, table)
      java.nio.file.Files.createDirectories(dir)
      try java.nio.file.Files.createFile(dir.resolve(s"b$batchId"))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      // fold the trickle chain every `compactEvery` applied batches
      // (ParquetSink.compact's rhythm, generation-chain edition): the
      // compacted generation shares no inode with its ancestors, so the
      // vacuum right after reclaims the whole drained chain instead of
      // keeping link-chain metadata alive forever. Inside the same
      // foreachBatch = inside the stream's own single-writer window.
      // `maxGenerations` is the self-tuning alternative (fold only when
      // the chain exceeds the bound — see [[MergeOps.maybeCompact]]'s
      // cost model for picking it); both policies compose, either alone
      // is fine, neither is on by default.
      if (compactEvery > 0 &&
          appliedBatches(s, corpusDir, table).size % compactEvery == 0) {
        val chain = graft.sources.Chain.flat(corpusDir, table)
        MergeOps.compact(s, chain)
        MergeOps.vacuum(s, chain, keepLast)
      } else if (maxGenerations > 0)
        MergeOps.maybeCompact(s, corpusDir, table, maxGenerations, keepLast)
      true
    }
  }

  /** Attach the merge sink to a changeset stream (caller starts/stops;
    * set the checkpoint on the returned writer as usual). Two opt-in
    * maintenance policies: `compactEvery` > 0 folds the chain every
    * that-many applied batches; `maxGenerations` > 0 folds only when the
    * chain exceeds that many generations ([[MergeOps.maybeCompact]] —
    * the recommended knob, since it tracks chain growth rather than wall
    * cadence). Both vacuum down to `keepLast` after folding; snapshot
    * pins always survive a vacuum.
    */
  def applyWriter(changes: DataFrame, corpusDir: String,
                  table: String = "documents",
                  evolveSchema: Boolean = false,
                  partial: Boolean = false,
                  compactEvery: Int = 0,
                  maxGenerations: Int = 0,
                  keepLast: Int = 2): DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.foreachBatch(
      (df: DataFrame, id: Long) =>
        { applyBatch(df, id, corpusDir, table, evolveSchema, partial,
            compactEvery, maxGenerations, keepLast); () })
}
