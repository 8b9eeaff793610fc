package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partition dimension COMPOSED with bucketing (SURVEY §2.H, round 14).
  *
  * Real 100 TB feeds are partitioned first (ingest date, source
  * stratum) and keyed second: a query that filters the partition column
  * must prune whole directories BEFORE any file listing or manifest
  * work, and the key-equality join must still run zero-Exchange off the
  * bucket spec. The flat [[CorpusLayout]] serves the second property
  * and leaves the first to the StatsManifest; this layout serves both
  * structurally — generation dirs gain `pcol=value/` partition subdirs,
  * each holding that partition's bucket files, so partition pruning is
  * directory arithmetic and bucket co-location is unchanged (the
  * BucketSpec is partition-independent). The served relation
  * ([[CorpusLayout.generation]]) takes its partition column from the
  * generation's `_PCOL` marker and its partition list from the one
  * listing of the generation's `pcol=value/` dirs: a partition filter
  * prunes directories at listing, and no catalog holds a partition.
  *
  * CoW applies rewrite only the touched (partition, bucket) PAIRS and
  * hard-link every other file forward — the write bill is
  * `Σ bytes(touched pairs)`, so a changeset confined to one ingest day
  * costs that day's touched buckets, not the corpus and not even the
  * day-spanning bucket set the flat layout would pay. A key whose
  * partition VALUE changes (a re-dated document) touches both homes:
  * the old pair rewrites without it, the new pair gains it.
  *
  * Where old homes come from: a key's old home is the partition of its
  * pre-image. SQL UPDATE and DELETE already scan the served frame for
  * their WHERE rows, and carry each row's partition value into the
  * apply ([[graft.operators.MergeOps.OldHomeCol]]), and so does MERGE
  * from its matched-row semi-join. A direct apply has no such read: it
  * looks the old homes up with one changeset-keyed semi-join against the
  * served frame, snapshotted at a changeset-sized partition count
  * ([[graft.operators.MergeOps.snapshot]]). Either way the apply reads the
  * corpus once; after that, every stage is changeset-sized, and the
  * touched pairs' files are read through a file index built from the
  * directory listing the apply already made, never re-listed by Spark.
  *
  * Merge-on-read composes here too (round 15): with
  * `spark.graft.merge.mode=mor` an apply hard-links EVERY base file
  * forward and folds the changeset into per-partition `_dv/` sidecars
  * under the touched partitions' dirs; untouched partitions carry their
  * sidecars forward verbatim. Per-partition (not one root sidecar)
  * because that's the 100 TB operating point: a one-day trickle writes
  * one day's sidecar, and a partition-filtered read's delta scan prunes
  * to the named partitions' sidecar files. The read composes `base ⊖
  * ∪tombstones ∪ deltas` (key-global anti-join is sound — keys are
  * unique corpus-wide, so a base row lives only in its serving
  * partition); [[Chain.served]] returns the composed frame and
  * [[graft.plans.ComposedServingRule]] closes the bare SQL-name
  * spelling, for both chain kinds.
  *
  * DROP/RENAME column mapping and z-clustering compose too (round 15):
  * metadata-only swings hard-link every byte, partition dirs and
  * sidecars alike; neither the key nor the PARTITION column can move —
  * the partition column names directories — and a `_CLUSTER` spec must
  * not name it (constant within every directory already).
  *
  * This object keeps only what is partition-specific: the catalog name
  * and [[drop]]. Everything that builds, writes
  * or reads the chain — materialize (with its partition checks), the
  * served read, the apply (CoW over (partition, bucket) pairs, MOR,
  * change feed), OPTIMIZE, time travel, the re-attach, tags, VACUUM,
  * history, CHECK TABLE, column evolution — is the one
  * [[graft.operators.MergeOps]] / [[Chain]] engine, run over this
  * layout's [[Chain]] descriptor (generation dirs under `partitioned/`,
  * lease and tag key `<table>@partitioned`).
  *
  * Partition values must be STRINGS that survive a directory name
  * verbatim (`[A-Za-z0-9._-]+`): Spark escapes anything else in the
  * partition path, and the touched-pair bookkeeping (which matches dir
  * names back to values) refuses loudly rather than guessing the
  * escaping rules.
  */
object PartitionedLayout {

  /** Catalog table name for a corpus table's partitioned layout. */
  def tableName(table: String, corpusDir: String): String =
    s"graft_plt_${table}_${CorpusLayout.corpusKey(corpusDir).take(12)}"

  /** Partition-column marker carried by every generation dir. */
  private[graft] val PcolMarker = "_PCOL"

  private[graft] val SafeValue = "[A-Za-z0-9._-]+".r

  /** Apply a changeset to the partitioned chain of (corpus, table) —
    * [[graft.operators.MergeOps.applyToLayout]] on its [[Chain]].
    */
  def applyToLayout(s: SparkSession, corpusDir: String, changes0: DataFrame,
                    table: String = "documents"): String =
    graft.operators.MergeOps.applyToLayout(s, Chain.partitioned(s, corpusDir, table), changes0)

  /** Drop the catalog registration (files stay; the next read
    * re-registers the name over the tip with [[Chain.repair]]).
    */
  def drop(s: SparkSession, corpusDir: String, table: String): Unit =
    s.sql(s"DROP TABLE IF EXISTS ${tableName(table, corpusDir)}")
}
