package graft.streaming

import graft.operators.MergeOps
import graft.sources.Chain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming spelling of the change data feed (SURVEY §2.H): subscribe
  * to a layout table's row-level changes as a Structured Streaming
  * source — the CDC-out loop closed: [[StreamingMerge]] folds a change
  * stream INTO the corpus, this serves the corpus's own changes OUT to
  * downstream consumers (replica sync, index rebuild, cache refresh) at
  * delta cost.
  *
  * Implementation is deliberately boring: Spark's FILE STREAM source
  * over a glob of the per-generation `_cdf/` sidecars (the table's
  * generation dirs, `_cdf` beneath). The glob re-lists each micro-batch, so a new
  * generation's slice is discovered when its apply commits; the
  * source's seen-files log gives exactly-once per FILE (sidecar files
  * are immutable once visible — parquet task commits are renames).
  * Honest caveats, documented not hidden: (1) atomicity is per file,
  * not per generation — a multi-file slice can straddle two
  * micro-batches (group by `_commit_generation` downstream when a
  * consumer needs whole-generation transactions); (2) the schema is
  * frozen at stream start — a slice written past a DROP/RENAME
  * boundary FAILS the stream loudly (the `_schema_fp` stamp; Delta
  * CDF's own restriction), and a restarted stream resumes cleanly on
  * the new era via the checkpoint's seen-files log; (3) generations must
  * outlive the consumer's lag: vacuum reclaims `_cdf` bytes with the
  * generation dir, so retain (or tag) at least the consumer's horizon.
  *
  * Requires [[MergeOps.ChangeFeedKey]] on for the applies being
  * consumed — [[MergeOps.changeFeed]]'s gapped-feed contract holds for
  * the batch verb; the stream simply never sees a slice that was never
  * written, so enable the feed BEFORE attaching consumers.
  */
object StreamingChangeFeed {

  /** The feed's frozen schema: logical serving columns (tombstone
    * payloads NULL) + `_change_type`; `_commit_generation` is derived
    * from the slice path at read.
    */
  def schemaFor(s: SparkSession, corpusDir: String,
                table: String): org.apache.spark.sql.types.StructType = {
    val tgt = Chain.flat(corpusDir, table).served(s).getOrElse(
      throw new IllegalStateException(
        s"no bucketed layout for ($corpusDir, $table)"))
    tgt.schema.add(MergeOps.ChangeTypeCol, "string")
  }

  /** `readStream` over the feed. Returns a streaming DataFrame of
    * change rows with [[MergeOps.ChangeTypeCol]] and
    * [[MergeOps.CommitGenCol]] columns.
    */
  def readStream(s: SparkSession, corpusDir: String,
                 table: String = "documents"): DataFrame = {
    val gens = MergeOps.generations(s, Chain.flat(corpusDir, table))
    require(gens.nonEmpty, s"($corpusDir, $table) has no generation chain")
    val parent = java.nio.file.Paths.get(gens.head._2).getParent
    // glob roots are exempt from Spark's hidden-path filter, so the
    // underscore-prefixed sidecar dir is listable here while staying
    // invisible to every DATA listing of the generation itself
    // `_v*` (not a bare `$table*`): a sibling directory merely SHARING
    // the table-name prefix (documents_backup/) must never feed slices
    // into this table's stream
    val glob = s"$parent/${table}_v*/${MergeOps.CdfDir}"
    val gen = regexp_extract(input_file_name(), s"/${table}_v(\\d+)/", 1)
    // schema-freeze enforcement (caveat 2 made LOUD): every slice is
    // stamped with its era's logical schema; a fixed-schema parquet
    // source would NULL-fill a renamed/dropped column's rows silently,
    // so a slice written past a DROP/RENAME boundary raises instead —
    // restart the stream (its fresh start-time schema + the
    // checkpoint's seen-files log resume cleanly on the new era).
    val expect = MergeOps.schemaFp(schemaFor(s, corpusDir, table))
    s.readStream
      .schema(schemaFor(s, corpusDir, table)
        .add(MergeOps.SchemaFpCol, "string"))
      .parquet(glob)
      .filter(
        // an unstamped slice predates the era stamp (legacy chain) — it
        // can only have been written under a schema the chain never
        // evolved past, so treat stamp absence as the stream's start era
        // rather than killing a valid pre-stamp feed
        when(col(MergeOps.SchemaFpCol).isNotNull &&
            col(MergeOps.SchemaFpCol) =!= lit(expect),
          raise_error(concat(
            lit("change-feed slice speaks a different schema era than " +
              "this stream's start (DROP/RENAME evolution?) — restart " +
              "the consumer; slice: "),
            col(MergeOps.SchemaFpCol),
            lit(" vs stream: "), lit(expect))).cast("boolean"))
          .otherwise(lit(true)))
      .drop(MergeOps.SchemaFpCol)
      .withColumn(MergeOps.CommitGenCol,
        // an unparseable slice path is a feed-contract violation — fail
        // loudly instead of mislabeling the slice as generation 0
        when(gen === "", raise_error(concat(
            lit("change-feed slice path parses no generation: "),
            input_file_name())).cast("int"))
          .otherwise(gen.cast("int")))
  }
}
