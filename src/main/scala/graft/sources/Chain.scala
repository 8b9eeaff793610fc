package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogStorageFormat, CatalogTable,
  CatalogTableType}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One generation chain — flat ([[CorpusLayout]]) or partitioned
  * ([[PartitionedLayout]]) — as the chain verbs see it. A flat chain is
  * a partitioned chain with no partition column (Iceberg's empty
  * partition spec), so the descriptor owns exactly the facts that differ
  * between the two kinds and nothing else: the layout root, the catalog
  * name, the lease/tag/epoch key, the completeness markers, the listing
  * of a generation's data dirs and `_dv` sidecars, the commit
  * ([[commit]]), the re-attach ([[resync]] / [[repair]]) and the read of
  * a generation ([[read]], and [[served]] over the tip). One engine runs
  * on top of it for both kinds ([[graft.operators.MergeOps]],
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
  * generation against vacuum.
  *
  * The pointer — the epoch marker under [[epochKey]], replaced whole by
  * an atomic move — is the only record of the chain's tip, and a commit
  * writes it last (Iceberg's and Delta's commit: one atomic pointer
  * swap; the metastore holds no table state). Each generation describes
  * itself: `_SCHEMA` (its file schema), `_BUCKETS`, `_PCOL`, `_CLUSTER`,
  * `_MAPPING`, `_dv/`, `_stats/`. The catalog name is registered once
  * per JVM as metadata (SHOW TABLES, DESCRIBE); no commit moves it and
  * no read goes through it — [[graft.plans.ComposedServingRule]] serves
  * the name from [[served]].
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

  /** Pointer (epoch marker) key: the tip generation and commit stamps. */
  def epochKey: String = if (partitioned) s"${table}_partitioned" else table

  /** The markers that make a generation complete (attachable). */
  def markers: Seq[String] =
    if (partitioned) Seq(CorpusLayout.BucketsMarker, PartitionedLayout.PcolMarker)
    else Seq("_SUCCESS", CorpusLayout.BucketsMarker)

  def isComplete(gen: String): Boolean =
    markers.forall(m => Files.exists(Paths.get(gen, m)))

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

  /** The generation the pointer (the epoch marker) names: the chain's
    * tip, and its only record. None when nothing is materialized.
    */
  def tip(s: SparkSession): Option[String] =
    CorpusLayout.servedGeneration(s, corpusDir, epochKey)

  /** (tip, its bucket count), failing loudly when nothing is materialized. */
  def layout(s: SparkSession): (String, Int) = {
    val t = tip(s).getOrElse(throw new IllegalStateException(
      s"no layout for ($corpusDir, $table) — materialize it first"))
    (t, CorpusLayout.bucketsOf(t))
  }

  /** Generation `gen`'s file schema — the columns its data files carry,
    * the partition column excluded — from its `_SCHEMA` record. A
    * generation written before the record existed pays a mergeSchema
    * footer read instead (after an ADD COLUMN it mixes evolved files
    * with hard-linked older ones, so plain inference could miss the
    * added columns).
    */
  def fileSchema(s: SparkSession, gen: String): StructType = {
    CorpusLayout.recordedSchema(gen).getOrElse(StructType(s.read.option("mergeSchema", "true")
      .parquet(dataDirs(gen).map(_._2.toString): _*).schema
      .filterNot(f => partitionCol.contains(f.name))))
  }

  /** [[fileSchema]] plus the partition column (STRING, last): the
    * physical space the apply merges and writes in.
    */
  def physicalSchema(s: SparkSession, gen: String): StructType =
    StructType(fileSchema(s, gen) ++ partitionSchema)

  /** The partition column as a schema: STRING, directory-named values. */
  def partitionSchema: StructType =
    StructType(partitionCol.map(StructField(_, StringType)).toSeq)

  /** The ONE commit: every verb that creates a generation ends here,
    * once the generation's files are all on disk. In order: the
    * physical schema record (`_SCHEMA`), the completeness markers, the
    * test-only crash hook ([[graft.operators.MergeOps.CrashPointKey]]),
    * and the pointer ([[CorpusLayout.bumpEpoch]]) — the atomic swap that
    * makes the generation the tip. A kill before the pointer leaves a
    * complete generation the pointer does not name yet; [[resync]] and
    * [[repair]] move the pointer forward onto it. No catalog statement
    * runs: the registration is metadata only, and after the pointer
    * its column list follows the tip's physical columns (one catalog
    * call, only when they changed) so DESCRIBE shows them.
    */
  def commit(s: SparkSession, gen: String, buckets: Int, files: StructType): Unit = {
    val data = CorpusLayout.describe(gen, files, buckets)
    partitionCol match {
      case Some(p) => Files.write(Paths.get(gen, PartitionedLayout.PcolMarker), p.getBytes("UTF-8"))
      case None => Files.write(Paths.get(gen, "_SUCCESS"), Array.emptyByteArray)
    }
    if (s.conf.getOption(graft.operators.MergeOps.CrashPointKey).contains("before-pointer"))
      Runtime.getRuntime.halt(137) // test-only: die before the pointer, no cleanup
    CorpusLayout.bumpEpoch(s, corpusDir, epochKey, gen)
    // `alterTable`, not `alterTableDataSchema`: the latter refuses a
    // column list that lost a name, which a rewrite folding a column
    // mapping produces (the in-memory catalog replaces the definition)
    val cat = s.sessionState.catalog
    val id = TableIdentifier(catalogName)
    if (cat.tableExists(id)) {
      val meta = cat.getTableMetadata(id)
      val phys = StructType(data ++ partitionSchema)
      if (meta.schema != phys) cat.alterTable(meta.copy(schema = phys))
    }
  }

  /** Move a lagging pointer forward onto the newest complete generation
    * on disk — the recovery of the one crash window [[commit]] has (a
    * kill after the markers, before the pointer): that generation is
    * the result of the interrupted verb, whose unmarked ledger batch
    * replays as a content no-op. Every chain-mutating verb calls this
    * first, inside the [[graft.operators.GenerationLease]]. File reads
    * and one listing — no Spark job, no catalog statement.
    */
  def resync(s: SparkSession): Unit =
    graft.operators.MergeOps.generations(s, this).reverseIterator
      .map(_._2).find(isComplete).foreach { np =>
        if (!tip(s).exists(t => Paths.get(t).normalize == Paths.get(np).normalize))
          CorpusLayout.bumpEpoch(s, corpusDir, epochKey, np)
      }

  /** Re-attach in a JVM whose catalog does not hold the name (a fresh
    * JVM — the session catalog is in-memory — or a dropped
    * registration): [[resync]] the pointer, then register the name over
    * the tip. Returns the tip it registered; None when the name is
    * registered already or nothing is materialized.
    */
  def repair(s: SparkSession): Option[String] =
    if (s.catalog.tableExists(catalogName)) None
    else {
      resync(s)
      tip(s).map { t => register(s, t); t }
    }

  /** Register [[catalogName]] over generation `gen` through the session
    * catalog API: the physical columns, the partition column, the bucket
    * spec and the location — metadata only, nothing reads data through
    * it. (`CREATE TABLE … PARTITIONED BY … LOCATION` would instead run a
    * repair walk over every file under the generation.) An earlier
    * registration is replaced (a rebuild from scratch).
    */
  private[graft] def register(s: SparkSession, gen: String): Unit = {
    val cat = s.sessionState.catalog
    cat.dropTable(TableIdentifier(catalogName), ignoreIfNotExists = true, purge = false)
    cat.createTable(CatalogTable(
      identifier = TableIdentifier(catalogName),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(gen).toUri)),
      schema = GraftPlanBridge.asNullable(physicalSchema(s, gen)),
      provider = Some("parquet"),
      partitionColumnNames = partitionCol.toSeq,
      bucketSpec = Some(bucketSpec(gen))), ignoreIfExists = true)
  }

  /** The bucket spec generation `gen`'s files honor: hashed on the key,
    * sorted by what the files are actually sorted by — `_zv` for a
    * z-clustered generation (claiming the key would let a one-file
    * bucket feed a sort-merge join unsorted data).
    */
  private[graft] def bucketSpec(gen: String): BucketSpec = BucketSpec(CorpusLayout.bucketsOf(gen),
    Seq(key), Seq(CorpusLayout.readClusterSpec(gen).fold(key)(_ => CorpusLayout.ZCol)))

  /** Generation `gen` as the frame it serves: [[CorpusLayout.generation]]
    * (its files, `_dv` folded; cached per session unless `cached` is
    * false) with its own column mapping projected.
    */
  def read(s: SparkSession, gen: String, cached: Boolean = true): DataFrame =
    CorpusLayout.applyMapping(CorpusLayout.generation(s, this, gen, cached),
      CorpusLayout.readMapping(gen))

  /** The served (composed, logical) frame — the ONE serving read of
    * both chain kinds: [[read]] over the pointer's generation, after a
    * [[repair]]; None when nothing is materialized.
    */
  def served(s: SparkSession): Option[DataFrame] = {
    repair(s)
    tip(s).map(read(s, _))
  }
}

object Chain {

  /** A generation's physical schema record (StructType JSON). */
  private[graft] val SchemaMarker = "_SCHEMA"

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

  /** [[forCatalogName]], failing loudly for an unmapped name. */
  def resolve(s: SparkSession, name: String, verb: String): Chain =
    forCatalogName(s, name).getOrElse(throw new IllegalStateException(
      s"$verb $name: no _CORPUS marker maps this layout table back to its " +
        "corpus under the session's layout base"))
}
