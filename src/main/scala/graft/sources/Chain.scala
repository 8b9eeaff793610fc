package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One generation chain — flat ([[CorpusLayout]]) or partitioned
  * ([[PartitionedLayout]]) — as the chain verbs see it. A flat chain is
  * a partitioned chain with no partition column (Iceberg's empty
  * partition spec), so the descriptor owns exactly the facts that differ
  * between the two kinds and nothing else: the layout root, the catalog
  * name, the lease/tag/epoch key, the completeness markers, the listing
  * of a generation's data dirs and `_dv` sidecars, the re-attach
  * ([[resync]] / [[repair]]), the served read ([[served]] and the
  * serving rule's [[composedPlan]]), and the catalog swing. One engine
  * runs on top of it for both kinds ([[graft.operators.MergeOps]],
  * [[graft.operators.Fsck]]): materialize, the apply (copy-on-write,
  * merge-on-read, change feed), OPTIMIZE, time travel, tags, VACUUM,
  * DESCRIBE HISTORY, CHECK TABLE and column evolution.
  * The apply's write unit is the pair (partition value, bucket): `("",
  * bucket)` over the flat generation root, `(value, bucket)` over the
  * `pcol=value/` subdirs.
  *
  * Both kinds share one chain shape and discipline: generation 0 lives
  * at `<root>/<table>`, every advance at `<root>/<table>_vN`; the
  * single-writer lease ([[graft.operators.GenerationLease]]) under
  * [[leaseKey]] fences every chain mutation; tags share one store under
  * the layout root, namespaced by [[leaseKey]] (`documents` vs
  * `documents@partitioned` — the two can never collide) and pin their
  * generation against vacuum; commit-time stamps and the served
  * generation ride the epoch marker under [[epochKey]].
  *
  * Every listing here is a local `java.nio` `Files.list` (see
  * SCALING.md, "Listing assumption").
  */
final case class Chain(corpusDir: String, table: String,
                       partitionCol: Option[String]) {

  def partitioned: Boolean = partitionCol.isDefined

  /** The layout key: row identity and bucket placement. */
  def key: String = CorpusLayout.keyed.getOrElse(table,
    throw new IllegalArgumentException(
      s"table '$table' has no layout key (CorpusLayout.keyed)"))

  /** Directory holding the generation dirs; None without the layout conf. */
  def root(s: SparkSession): Option[String] =
    CorpusLayout.layoutRoot(s, corpusDir)
      .map(r => if (partitioned) s"$r/partitioned" else r)

  def catalogName: String =
    if (partitioned) PartitionedLayout.tableName(table, corpusDir)
    else CorpusLayout.tableName(table, corpusDir)

  /** Lease and tag namespace. */
  def leaseKey: String = if (partitioned) s"$table@partitioned" else table

  /** Epoch-marker key: served generation and commit stamps. */
  def epochKey: String = if (partitioned) s"${table}_partitioned" else table

  /** The markers that make a generation complete (attachable). */
  def markers: Seq[String] =
    if (partitioned) Seq(CorpusLayout.BucketsMarker, PartitionedLayout.PcolMarker)
    else Seq("_SUCCESS", CorpusLayout.BucketsMarker)

  def isComplete(gen: String): Boolean =
    markers.forall(m => Files.exists(Paths.get(gen, m)))

  /** Mark generation `gen`, whose files are all on disk, complete. */
  def markComplete(gen: String, buckets: Int): Unit = {
    CorpusLayout.writeBucketsMarker(gen, buckets)
    partitionCol match {
      case Some(p) => Files.write(
        Paths.get(gen, PartitionedLayout.PcolMarker), p.getBytes("UTF-8"))
      case None => Files.write(Paths.get(gen, "_SUCCESS"), Array.emptyByteArray)
    }
  }

  /** A generation's data dirs as (partition value, dir): the
    * generation root itself (value "") for a flat chain, its
    * `pcol=value` subdirs (sorted by value) for a partitioned one.
    */
  def dataDirs(gen: String): Seq[(String, Path)] =
    if (!partitioned) Seq("" -> Paths.get(gen))
    else graft.FsUtil.list(Paths.get(gen))
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .map(p => p.getFileName.toString.split("=", 2)(1) -> p).sortBy(_._1)

  /** The data dirs carrying a merge-on-read `_dv` sidecar. */
  def dvDirs(gen: String): Seq[(String, Path)] =
    dataDirs(gen).filter { case (_, d) =>
      Files.isDirectory(d.resolve(CorpusLayout.DvDir).resolve("tombstones")) }

  /** Where value `v`'s files live in generation `gen`: the root itself
    * on a flat chain (value ""), its `pcol=v` subdir on a partitioned one.
    */
  def dataDir(gen: String, v: String): Path =
    partitionCol.fold(Paths.get(gen))(p => Paths.get(gen, s"$p=$v"))

  /** Point this session's catalog at the newest complete generation on
    * disk. The swing verbs update the catalog of the session that RAN
    * them; another writer (or a fresh JVM) may have advanced the chain
    * since, and an apply planned against the stale frame would drop
    * that writer's edits. Every chain-mutating verb calls this first,
    * inside the [[graft.operators.GenerationLease]]. The catalog side is
    * read off session metadata — no Spark job.
    */
  def resync(s: SparkSession): Unit =
    if (!s.catalog.tableExists(catalogName)) repair(s)
    else newestComplete(s).foreach { np =>
      val cur = graft.operators.MergeOps.tableLayout(s, catalogName)._1
      if (Paths.get(np).normalize != Paths.get(cur).normalize) {
        s.sql(s"DROP TABLE IF EXISTS $catalogName")
        repair(s)
      }
    }

  /** Re-attach the newest complete generation when the registration is
    * missing (a fresh JVM — the session catalog is in-memory — or a
    * swing killed between DROP and RENAME): the filesystem is the truth.
    * The re-attach IS a [[swing]] over files already on disk, so a
    * dangling `<t>_staging` is replaced, partition dirs register and the
    * epoch moves to the attached generation. The schema comes from a
    * mergeSchema footer read: after an ADD COLUMN the generation mixes
    * evolved files with hard-linked older ones, and plain inference
    * could re-attach the old shape. Returns the attached path; None when
    * the table is registered or no complete generation exists.
    */
  def repair(s: SparkSession): Option[String] =
    if (s.catalog.tableExists(catalogName)) None
    else newestComplete(s).map { p =>
      val buckets = new String(Files.readAllBytes(
        Paths.get(p, CorpusLayout.BucketsMarker)), "UTF-8").trim.toInt
      val schema = s.read.option("mergeSchema", "true").parquet(p).schema
      swing(s, p, buckets, Some(org.apache.spark.sql.types.StructType(
        schema.filterNot(f => partitionCol.contains(f.name)))))
      p
    }

  private def newestComplete(s: SparkSession): Option[String] =
    graft.operators.MergeOps.generations(s, this).reverseIterator
      .map(_._2).find(isComplete)

  /** The served (composed, logical) frame — the ONE serving read of
    * both chain kinds; None when nothing is materialized. In order:
    * re-attach a missing registration ([[repair]]); refresh this
    * session's cached relation once per (session, epoch), since another
    * session's swing may have moved the chain; pick the base — the
    * stats-manifest relation when the served generation carries a
    * manifest (file skipping plus the bucket spec, cached per session
    * and generation), otherwise the catalog read (partition pruning and
    * the bucket spec live there), resolved under [[Chain.composing]] so
    * the serving rule does not compose it a second time; then fold the
    * `_dv` sidecars and project the column mapping.
    */
  def served(s: SparkSession): Option[DataFrame] = {
    repair(s)
    if (!s.catalog.tableExists(catalogName)) None
    else {
      CorpusLayout.refreshIfStale(s, corpusDir, epochKey, catalogName)
      val loc = CorpusLayout.servedGeneration(s, corpusDir, epochKey)
      val base = loc.flatMap(CorpusLayout.manifestServed(s, this, _)).getOrElse {
        Chain.composing.set(true)
        try s.table(catalogName) finally Chain.composing.set(false)
      }
      // compose order: base (physical) → deletion vectors (physical) →
      // mapping projection (logical)
      Some(loc.fold(base)(l => CorpusLayout.applyMapping(
        CorpusLayout.withDeletionVectors(s, this, l, base),
        CorpusLayout.readMapping(l))))
    }
  }

  /** The analyzed [[served]] plan when the served generation carries
    * `_dv` sidecars or a `_MAPPING` file; None when the raw catalog read
    * is already the truth (the stock path then keeps its relation cache
    * and bucketed scan). What [[graft.plans.ComposedServingRule]]
    * substitutes for the bare catalog name.
    */
  def composedPlan(s: SparkSession)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    CorpusLayout.servedGeneration(s, corpusDir, epochKey)
      .filter(loc => dvDirs(loc).nonEmpty || CorpusLayout.readMapping(loc).nonEmpty)
      .flatMap(_ => served(s)).map(_.queryExecution.analyzed)

  /** Swing the catalog name onto complete generation `vpath`: the
    * staging table (created here over files already on disk when
    * `fileSchema` — their physical schema, partition column excluded —
    * is given; a write registered it otherwise), DROP + RENAME, the
    * partition dirs registered when partitioned (the staging write
    * knew only the ones it wrote), the epoch bumped. Every chain swing
    * — apply, metadata, OPTIMIZE, re-attach — runs through here, so the
    * test-only crash hook ([[graft.operators.MergeOps.CrashPointKey]])
    * sits here too, in the window where the registration is gone but
    * the generation is complete on disk.
    */
  def swing(s: SparkSession, vpath: String, buckets: Int,
            fileSchema: Option[org.apache.spark.sql.types.StructType]): Unit = {
    val t = catalogName
    fileSchema.foreach { fs =>
      // SORTED BY must state what the files HONOR: a z-clustered
      // generation sorts by `_zv`, and claiming the key would let a
      // one-file bucket feed a sort-merge join unsorted data
      val sortCol = CorpusLayout.sortColFor(vpath).getOrElse(key)
      val (cols, partitionedBy) = partitionCol match {
        case Some(p) => (s"${fs.toDDL}, $p STRING", s"PARTITIONED BY ($p) ")
        case None => (fs.toDDL, "")
      }
      s.sql(s"DROP TABLE IF EXISTS ${t}_staging")
      s.sql(s"CREATE TABLE ${t}_staging ($cols) USING PARQUET $partitionedBy" +
        s"CLUSTERED BY ($key) SORTED BY ($sortCol) INTO $buckets BUCKETS " +
        s"LOCATION '$vpath'")
    }
    s.sql(s"DROP TABLE IF EXISTS $t")
    if (s.conf.getOption(graft.operators.MergeOps.CrashPointKey).contains("after-drop"))
      Runtime.getRuntime.halt(137) // test-only: die mid-swing, no cleanup
    s.sql(s"ALTER TABLE ${t}_staging RENAME TO $t")
    PartitionedLayout.registerPartitions(s, this, vpath)
    CorpusLayout.refreshRelationCache(s, t)
    CorpusLayout.bumpEpoch(s, corpusDir, epochKey, vpath)
    // this session's relation is current: record the new epoch as seen,
    // so its next served read does not invalidate (and re-list) it again
    CorpusLayout.refreshIfStale(s, corpusDir, epochKey, t)
  }
}

object Chain {

  def flat(corpusDir: String, table: String = "documents"): Chain =
    Chain(corpusDir, table, None)

  /** The partitioned chain of (corpus, table), its partition column read
    * off the served generation's `_PCOL` marker (the epoch names it —
    * two small file reads, no listing).
    */
  def partitioned(s: SparkSession, corpusDir: String,
                  table: String = "documents"): Chain =
    partitionedIfPresent(s, corpusDir, table).getOrElse(
      throw new IllegalStateException(
        s"no partitioned layout for ($corpusDir, $table)"))

  private def partitionedIfPresent(s: SparkSession, corpusDir: String,
                                   table: String): Option[Chain] =
    CorpusLayout.servedGeneration(s, corpusDir, s"${table}_partitioned")
      .map(Paths.get(_, PartitionedLayout.PcolMarker))
      .filter(Files.exists(_))
      .map(f => Chain(corpusDir, table,
        Some(new String(Files.readAllBytes(f), "UTF-8").trim)))

  /** The chain a catalog name (`graft_cl_…` flat, `graft_plt_…`
    * partitioned) serves; None when no `_CORPUS` marker maps the name
    * (or, partitioned, no partitioned chain was built). Both prefixes
    * share the `<table>_<hash12>` suffix, so one reverse map serves both.
    */
  def forCatalogName(s: SparkSession, name: String): Option[Chain] = {
    val plt = name.startsWith("graft_plt_")
    CorpusLayout.corpusForTable(s,
      if (plt) "graft_cl_" + name.stripPrefix("graft_plt_") else name)
      .flatMap { case (dir, table) =>
        if (plt) partitionedIfPresent(s, dir, table) else Some(flat(dir, table))
      }
  }

  /** Re-entrancy guard: [[Chain.served]] resolves the catalog table with
    * `s.table`, which re-runs the analyzer — the serving rule must no-op
    * on that inner resolution or compose twice (and recurse).
    */
  private[graft] val composing: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** [[forCatalogName]], failing loudly for an unmapped name. */
  def resolve(s: SparkSession, name: String, verb: String): Chain =
    forCatalogName(s, name).getOrElse(throw new IllegalStateException(
      s"$verb $name: no _CORPUS marker maps this layout table back to its " +
        "corpus under the session's layout base"))
}
