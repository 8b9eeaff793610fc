package graft.streaming


import graft.functions.{HeavyHittersAgg, MGSketch}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous corpus heavy hitters — t29's Misra–Gries sketch running
  * over an arriving document stream (SURVEY §2.H).
  *
  * Each micro-batch folds its tokens into a batch sketch DISTRIBUTED
  * (the same [[HeavyHittersAgg]] two-phase object aggregate the batch
  * query uses — the shuffle carries ≤ capacity counters per task), then
  * the ≤ capacity-entry result merges into the persisted sketch. The
  * cross-batch state is ONE sketch — capacity counters, bytes — however
  * much stream has flowed; the merge is the mergeable-summaries step
  * whose guarantee PropertySpec pins for arbitrary merge trees, so after
  * any number of batches every word with overall frequency > n/(cap+1)
  * is still a candidate.
  *
  * REPLAY-IDEMPOTENT by snapshot-per-batch (ParquetSink's recipe turned
  * inside out for fold state): batch N writes the post-merge sketch to
  * `batch_id=N` and READS its predecessor (newest snapshot with id < N),
  * never itself — so a crashed-and-replayed batch N re-reads the same
  * predecessor and overwrites its own snapshot byte-for-byte instead of
  * double-merging. Snapshots are ≤ capacity rows each; prune old ones at
  * leisure (the newest one is the only live state).
  *
  * The candidates are a SUPERSET promise, exactly like the batch query:
  * [[exactHeavyHitters]] recounts them against the accumulated corpus
  * (broadcast semi-filter + exact groupBy) for the provably exact
  * answer — stream sketch + recount ≡ the batch t29 result,
  * StreamingSpec-pinned.
  */
object StreamingHeavyHitters {

  /** Sketch capacity shared with t29 (φ=1% > 1/(128+1) keeps the
    * exactness guarantee).
    */
  val Capacity = 128

  // only COMPLETE snapshots (_SUCCESS marker): a crash mid-write
  // leaves a torn batch_id=N dir, and a reader landing on it would
  // see a truncated sketch — the predecessor is the live state until
  // the replay overwrites N (VectorIndexStore's ready() discipline)
  private def snapshotDirs(stateDir: String): Seq[(Long, java.nio.file.Path)] =
    graft.FsUtil.numbered(java.nio.file.Paths.get(stateDir), "batch_id=")
      .filter(n => java.nio.file.Files.exists(n._2.resolve("_SUCCESS")))

  private def readSketch(s: SparkSession, dir: java.nio.file.Path): MGSketch = {
    val sk = new MGSketch(Capacity)
    s.read.parquet(dir.toString).collect().foreach { r =>
      sk.counts.update(r.getAs[String]("word"), r.getAs[Long]("est"))
    }
    sk
  }

  /** Newest persisted sketch strictly BELOW `batchId` — what a replayed
    * batch must read so it folds the same predecessor as its first
    * attempt. Pass Long.MaxValue for "the current state".
    */
  def snapshotBefore(s: SparkSession, stateDir: String, batchId: Long): MGSketch =
    snapshotDirs(stateDir).filter(_._1 < batchId).sortBy(-_._1).headOption
      .map { case (_, p) => readSketch(s, p) }
      .getOrElse(new MGSketch(Capacity))

  /** The distributed batch sketch: ≤ Capacity (word, est) entries. */
  def sketchOfBatch(batch: DataFrame): MGSketch = {
    import batch.sparkSession.implicits._
    val sk = new MGSketch(Capacity)
    batch.select(explode(tokens($"text")).as("word"))
      .select(HeavyHittersAgg.heavyHitters($"word", Capacity).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.word", $"e.est")
      .collect()
      .foreach(r => sk.counts.update(r.getString(0), r.getLong(1)))
    sk
  }

  /** Fold one micro-batch into the persisted sketch, idempotently:
    * merge(predecessor snapshot, this batch's sketch) → overwrite THIS
    * batch's snapshot.
    */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val s = batch.sparkSession
    val acc = snapshotBefore(s, stateDir, batchId)
    sketchOfBatch(batch).counts.foreach { case (w, c) => acc.addCount(w, c) }
    acc.shrink()
    import s.implicits._
    acc.sortedEntries.toSeq.toDF("word", "est").coalesce(1)
      .write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")
  }

  /** Attach the fold to a document stream (doc_id, text, ...). Caller
    * starts the returned writer.
    */
  def ingestWriter(stream: DataFrame, stateDir: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      processBatch(batch, id, stateDir)
    }

  /** Current candidate set as a DataFrame (word, est), estimate DESC. */
  def candidates(s: SparkSession, stateDir: String): DataFrame = {
    import s.implicits._
    snapshotBefore(s, stateDir, Long.MaxValue)
      .sortedEntries.toSeq.toDF("word", "est")
  }

  /** The provably exact heavy hitters of the accumulated corpus: recount
    * the streamed candidates against it (t29's phase 2 — broadcast
    * semi-filter, exact groupBy, φ·n threshold). Identical output to the
    * batch t29 query whenever φ > 1/(Capacity+1).
    */
  def exactHeavyHitters(corpus: DataFrame, stateDir: String,
                        phi: Double = 0.01): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val toks = corpus.select(explode(tokens($"text")).as("word"))
    val cand = candidates(s, stateDir).select($"word")
    val total = toks.agg(count(lit(1)).as("n_tokens"))
    toks.join(broadcast(cand), "word")
      .groupBy($"word")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter($"n" > $"n_tokens" * lit(phi))
      .select($"word", $"n",
        graft.GQuery.roundz($"n" / $"n_tokens", 5).as("share"))
      .orderBy($"n".desc, $"word".asc)
  }
}
