package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * directory arithmetic (Spark's catalog partition filters) and bucket
  * co-location is unchanged (the BucketSpec is partition-independent).
  *
  * CoW applies rewrite only the touched (partition, bucket) PAIRS and
  * hard-link every other file forward — the write bill is
  * `Σ bytes(touched pairs)`, so a changeset confined to one ingest day
  * costs that day's touched buckets, not the corpus and not even the
  * day-spanning bucket set the flat layout would pay. A key whose
  * partition VALUE changes (a re-dated document) touches both homes:
  * the old pair rewrites without it, the new pair gains it.
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
  * [[composedServing]] closes the bare SQL-name spelling.
  *
  * DROP/RENAME column mapping and z-clustering compose too (round 15):
  * metadata-only swings hard-link every byte, partition dirs and
  * sidecars alike; neither the key nor the PARTITION column can move —
  * the partition column names directories — and a `_CLUSTER` spec must
  * not name it (constant within every directory already).
  *
  * This object keeps only what is partition-specific: the catalog name,
  * the serving composition over the catalog table, [[materialize]]'s
  * partition checks and [[registerPartitions]]. Everything that writes
  * or reads the chain — the apply (CoW over (partition, bucket) pairs,
  * MOR, change feed), OPTIMIZE, time travel, the re-attach, tags,
  * VACUUM, history, CHECK TABLE, column evolution — is the one
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

  /** Re-entrancy guard: [[composedFrame]] resolves the catalog table
    * with `s.table`, which re-runs the analyzer — the serving rule must
    * no-op on that inner resolution or recurse forever.
    */
  private[graft] val composing: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Reverse-map `graft_plt_<table>_<hash12>` to (corpusDir, table) —
    * same `<table>_<hash12>` suffix and `_CORPUS` marker discipline as
    * the flat layout, so its reverse map is reused under the flat
    * prefix.
    */
  private[graft] def corpusForTable(s: SparkSession, catalogTable: String)
      : Option[(String, String)] =
    if (!catalogTable.startsWith("graft_plt_")) None
    else CorpusLayout.corpusForTable(s,
      "graft_cl_" + catalogTable.stripPrefix("graft_plt_"))

  /** The served COMPOSED frame: the catalog read (partition pruning and
    * the bucket spec both live there) with every partition's `_dv`
    * sidecar folded on top ([[CorpusLayout.withDeletionVectors]]) and
    * the column mapping projected. Identity when neither is present.
    */
  private[graft] def composedFrame(s: SparkSession, chain: Chain,
                                   loc: String): DataFrame = {
    val base = {
      composing.set(true)
      try s.table(chain.catalogName) finally composing.set(false)
    }
    // compose order: base (physical) → deletion vectors (physical) →
    // mapping projection (logical)
    CorpusLayout.applyMapping(
      CorpusLayout.withDeletionVectors(s, chain, loc, base),
      CorpusLayout.readMapping(loc))
  }

  /** The composed logical plan for a partitioned catalog name whose
    * served generation carries MOR sidecars; None when the raw catalog
    * read is already the truth. The partitioned arm of
    * [[graft.plans.ComposedServingRule]] — a bare
    * `SELECT * FROM graft_plt_…` over a MOR tip must never resurrect
    * tombstoned base rows.
    */
  private[graft] def composedServing(s: SparkSession, catalogTable: String)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    for {
      (corpusDir, table) <- corpusForTable(s, catalogTable)
      if s.catalog.tableExists(catalogTable)
      loc = graft.operators.MergeOps.tableLayout(s, catalogTable)._1
      chain = Chain.partitioned(s, corpusDir, table)
      if chain.dvDirs(loc).nonEmpty || CorpusLayout.readMapping(loc).nonEmpty
    } yield composedFrame(s, chain, loc).queryExecution.analyzed

  /** Build generation 0: one file per (partition, bucket) —
    * `repartition(B, key)` gives each task exactly one bucket, and the
    * partitioned writer splits that task's rows across its partition
    * dirs, so the file count is `|partitions present in the bucket|`
    * per task, never `tasks × B`.
    */
  def materialize(s: SparkSession, corpusDir: String, table: String,
                  pcol: String, buckets: Int = 32,
                  clusterBy: Seq[String] = Nil, clusterBits: Int = 12,
                  clusterRowsPerFile: Long = 8192): String = {
    val chain = Chain(corpusDir, table, Some(pcol))
    val key = chain.key
    require(pcol != key, s"partition column must differ from the key '$key'")
    require(!clusterBy.contains(pcol),
      s"clusterBy must not include the partition column '$pcol' — it is " +
        "constant within every partition directory already")
    // memoized-schema read (see CorpusLayout.materialize) — no footer
    // job per re-plan of the staged corpus
    val src = graft.Tables.readMemo(s, s"$corpusDir/$table.parquet")
    require(src.columns.contains(pcol), s"no column '$pcol' in $table")
    require(src.schema(pcol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"partition column '$pcol' must be STRING (directory-name values)")
    checkValues(src, pcol)
    val base = chain.root(s).getOrElse(throw new IllegalStateException(
      s"${CorpusLayout.ConfKey} is not set on this session — nowhere " +
        "to materialize a partitioned layout"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
    // the reverse map (catalog name → corpus) reads the layout root's
    // `_CORPUS` marker — the flat materialize writes it too; identical
    // content, whichever layout got there first
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base).getParent
        .resolve(CorpusLayout.CorpusMarker),
      corpusDir.getBytes("UTF-8"))
    val path = s"$base/$table"
    val t = tableName(table, corpusDir)
    // A re-materialize starts a NEW chain: stale `<table>_vN` dirs from a
    // previous chain would out-number the fresh generation 0, so the next
    // apply's resync would "repair" the serving table back onto OLD data
    // and silently discard this rebuild. Remove them before writing.
    graft.operators.MergeOps.generations(s, chain).collect { case (n, p) if n > 0 =>
      graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(p))
    }
    val spec = if (clusterBy.isEmpty) None else Some(
      CorpusLayout.ClusterSpec(clusterBy, clusterBits, clusterRowsPerFile,
        ZOrderLayout.columnBounds(src, clusterBy)))
    graft.operators.MergeOps.clusteredWrite(s, key, Some(pcol), src, spec,
      buckets, path, t)
    chain.markComplete(path, buckets)
    CorpusLayout.bumpEpoch(s, corpusDir, chain.epochKey, path)
    t
  }

  /** Apply a changeset to the partitioned chain of (corpus, table) —
    * [[graft.operators.MergeOps.applyToLayout]] on its [[Chain]].
    */
  def applyToLayout(s: SparkSession, corpusDir: String, changes0: DataFrame,
                    table: String = "documents"): String =
    graft.operators.MergeOps.applyToLayout(s, Chain.partitioned(s, corpusDir, table), changes0)

  /** Register a generation's partition dirs on a freshly attached table.
    * This used to be `ALTER TABLE … RECOVER PARTITIONS`, whose
    * RepairTableCommand walks EVERY FILE under the table root to infer
    * the partition list (at 100 TB a full-tree listing per statement;
    * locally a ~50–60 ms Spark-side walk per swing plus the skipped-
    * marker log spam the r15 driver tail recorded). The driver already
    * knows the partition dirs — one directory listing of the generation
    * root — so ADD PARTITION registers them as pure catalog metadata,
    * zero file walking (optimization r16, guide §5/§6). Values are
    * directory-safe by the layout's contract ([A-Za-z0-9._-]+), so
    * quoting them into DDL needs no escaping; IF NOT EXISTS because the
    * staging write already registered the partitions it wrote, at the
    * same locations.
    */
  private[graft] def registerPartitions(s: SparkSession, chain: Chain,
                                        vpath: String): Unit =
    chain.partitionCol.foreach { pcol =>
      val parts = chain.dataDirs(vpath)
      if (parts.nonEmpty) {
        val specs = parts.map { case (v, p) =>
          s"PARTITION ($pcol='$v') LOCATION '$p'" }.mkString(" ")
        s.sql(s"ALTER TABLE ${chain.catalogName} ADD IF NOT EXISTS $specs")
      }
    }

  /** Non-directory-safe partition values refuse at materialize. */
  private def checkValues(src: DataFrame, pcol: String): Unit = {
    val bad = src.filter(col(pcol).isNull ||
        !col(pcol).rlike("^[A-Za-z0-9._-]+$"))
      .select(col(pcol)).distinct().limit(3).collect()
    require(bad.isEmpty,
      s"partition column '$pcol' holds NULL or non-directory-safe " +
        s"values (${bad.mkString(", ")}) — this layout stores values " +
        "as directory names verbatim")
  }

  /** Drop the catalog table (files stay; a fresh session re-creates the
    * table from the newest generation with [[Chain.repair]]).
    */
  def drop(s: SparkSession, corpusDir: String, table: String): Unit =
    s.sql(s"DROP TABLE IF EXISTS ${tableName(table, corpusDir)}")
}
