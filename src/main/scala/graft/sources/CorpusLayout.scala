package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** Bucketed corpus layout — the write-once data organization that makes
  * every per-document join in the engine shuffle-free (SURVEY §2.H, §5).
  *
  * The id-keyed corpus tables (`documents` on doc_id, `embeddings` on
  * vec_id) are rewritten ONCE as parquet generations bucketed and
  * sorted on their key with [[DefaultBuckets]] buckets, the count the
  * signature store's facets share. After that, every
  * id-keyed join in the engine — document ⋈ signature, document ⋈
  * component label, caption ⋈ embedding (m09's 1:1 id join), split/label
  * joins in p06/p15/p16 — reads both sides pre-partitioned: zero
  * Exchange on any bucketed side. At 100 TB this is the difference
  * between re-shuffling the corpus per job and paying one bucketed write
  * per corpus refresh; the bucket count scales to one-task-sized buckets
  * and each generation carries its own metadata (schema, bucket count,
  * partition column) between jobs, so no metastore holds table state.
  *
  * Opt-in mirror of [[graft.operators.SignatureStore]]: [[materialize]]
  * requires the [[ConfKey]] base directory; [[graft.Tables.load]]
  * serves the chain's [[Chain.served]] read when a layout exists for
  * (corpus, table), falling back to the plain parquet scan. The
  * Verify gate runs without the conf and never sees a table, so the
  * DuckDB comparison always exercises the raw-parquet path.
  * CorpusLayoutSpec pins read-equivalence and the zero-Exchange joins.
  *
  * Refresh is the caller's responsibility, like any materialized view:
  * a corpus rewritten in place serves a stale layout until
  * [[materialize]] runs again (the table keys on the corpus PATH).
  */
object CorpusLayout {

  /** Session conf holding the layout base directory; unset = no writes. */
  val ConfKey = "spark.graft.layout.dir"

  /** Bucket count of a layout generation and of the signature store's
    * facets. Matches the session's shuffle partitioning at test scale;
    * at 100 TB you size it so one bucket ≈ one comfortable task (e.g.
    * 4096). Key joins between a layout and a store stay Exchange-free
    * while both use the same count.
    */
  val DefaultBuckets = 32

  /** Tables with a unique integer id worth bucketing on. The relational
    * star schema deliberately stays raw: its joins are dimension
    * broadcasts or fact-fact shuffles AQE already plans well.
    */
  val keyed: Map[String, String] =
    Map("documents" -> "doc_id", "embeddings" -> "vec_id")

  private[sources] def corpusKey(corpusDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(corpusDir.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Root directory of this corpus's layout under the [[ConfKey]] base —
    * where the bucketed tables, MERGE generations and the streaming-merge
    * ledger live. None when the session has no layout conf.
    */
  private[graft] def layoutRoot(s: SparkSession, corpusDir: String): Option[String] =
    s.conf.getOption(ConfKey).map(b => s"$b/${corpusKey(corpusDir)}")

  /** Catalog table name for a corpus table's bucketed layout. */
  def tableName(table: String, corpusDir: String): String =
    s"graft_cl_${table}_${corpusKey(corpusDir).take(12)}"

  // ── The pointer: `<table>_EPOCH` under the layout root names the
  // chain's tip generation, replaced whole by an atomic move. It is the
  // only record of the tip — a commit (Chain.commit) writes it last, and
  // every read resolves it afresh, so a session sees another session's
  // (or another JVM's) commit at its next read, with nothing to refresh.

  private def epochFile(root: String, table: String): java.nio.file.Path =
    java.nio.file.Paths.get(root, s"${table}_EPOCH")

  /** Point (corpus, table) at `generation` — the last step of
    * [[Chain.commit]], and of the re-attach's forward move. Also stamps the
    * generation's commit time (once): every generation-creating path —
    * materialize, CoW/MOR swings, metadata swings, compaction,
    * rebucket — funnels its first epoch bump through here, so the
    * marker is the durable "when did this generation become visible"
    * record that `TIMESTAMP AS OF` and DESCRIBE HISTORY resolve
    * against. The re-attach moves the pointer onto an EXISTING
    * generation; the absence guard keeps it from moving history.
    */
  private[graft] def bumpEpoch(s: SparkSession, corpusDir: String,
                               table: String, generation: String): Unit =
    layoutRoot(s, corpusDir).foreach { root =>
      graft.FsUtil.writeAtomically(epochFile(root, table), generation)
      val m = java.nio.file.Paths.get(generation, CommitTsMarker)
      if (java.nio.file.Files.isDirectory(m.getParent) &&
          !java.nio.file.Files.exists(m))
        java.nio.file.Files.write(m,
          String.valueOf(System.currentTimeMillis).getBytes("UTF-8"))
    }

  /** Commit-time marker of a finalized generation (epoch millis). */
  private[graft] val CommitTsMarker = "_COMMIT_TS"

  /** When generation dir `path` became the served tip: the marker when
    * present; the directory's mtime for pre-marker generations (Delta
    * itself time-travels on commit-file mtimes, so the fallback speaks
    * the same fuzzy-but-standard language — and only for chains built
    * before the marker existed).
    */
  private[graft] def commitTsOf(path: String): Long = {
    val m = java.nio.file.Paths.get(path, CommitTsMarker)
    if (java.nio.file.Files.exists(m))
      new String(java.nio.file.Files.readAllBytes(m), "UTF-8").trim.toLong
    else java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(path)).toMillis
  }

  // ── Filesystem-as-truth serving: the session catalog is in-memory,
  // so a registration dies with the JVM, and nothing about the chain may
  // live only there. Each complete generation carries its markers —
  // `_SCHEMA` (file schema), `_BUCKETS` (bucket count), and Spark's
  // `_SUCCESS` (flat) or `_PCOL` (partitioned) — written before the
  // pointer moves onto it; a fresh JVM reads everything it serves from
  // them, and Chain.repair re-registers the name. A kill between the
  // markers and the pointer leaves a complete generation the pointer
  // does not name yet: Chain.resync moves the pointer forward onto it
  // (forward recovery — it is the result of the interrupted verb, whose
  // unmarked ledger batch replays as a content no-op).

  private[graft] val BucketsMarker = "_BUCKETS"

  /** Marker at the layout ROOT recording the corpus dir it serves —
    * the reverse of [[corpusKey]]'s one-way hash, written by
    * [[materialize]]. It exists for surfaces handed only a CATALOG
    * table name (the SQL `MERGE INTO graft_cl_…` rule): they must map
    * the name back to (corpusDir, table) to reach the layout verbs,
    * and the hash in the name cannot be inverted. Filesystem-as-truth,
    * like `_BUCKETS`: a fresh JVM recovers the mapping from disk.
    */
  private[graft] val CorpusMarker = "_CORPUS"

  /** Reverse-map a `graft_cl_<table>_<hash12>` catalog table name to
    * its (corpusDir, logical table), via the `_CORPUS` markers under
    * the session's layout base. None when the name is not a layout
    * table, the conf is unset, or no marker matches (pre-marker
    * layout). Driver-side listing of the base dir only. A `graft_plt_`
    * name shares the suffix; [[Chain.forCatalogName]] maps both.
    */
  def corpusForTable(s: SparkSession, catalogTable: String): Option[(String, String)] = {
    if (!catalogTable.startsWith("graft_cl_")) return None
    val rest = catalogTable.stripPrefix("graft_cl_")
    val parsed = keyed.keys.toSeq.sorted.collectFirst {
      case table if rest.startsWith(table + "_") =>
        (table, rest.stripPrefix(table + "_"))
    }
    for {
      (table, hash12) <- parsed
      base <- s.conf.getOption(ConfKey)
      root = java.nio.file.Paths.get(base)
      if java.nio.file.Files.isDirectory(root)
      corpusDir <- {
        val kids = java.nio.file.Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          kids.iterator().asScala
            .filter(p => p.getFileName.toString.take(12) == hash12)
            .map(_.resolve(CorpusMarker))
            .find(java.nio.file.Files.exists(_))
            .map(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim)
        } finally kids.close()
      }
    } yield (corpusDir, table)
  }

  /** Describe bucketed dir `dir` for a by-path read: its file schema
    * (`_SCHEMA`, every column nullable) and bucket count (`_BUCKETS`).
    * Returns the schema recorded.
    */
  private[graft] def describe(dir: String, files: org.apache.spark.sql.types.StructType,
                              buckets: Int): org.apache.spark.sql.types.StructType = {
    val data = org.apache.spark.sql.GraftPlanBridge.asNullable(files)
    graft.FsUtil.writeAtomically(java.nio.file.Paths.get(dir, Chain.SchemaMarker), data.json)
    graft.FsUtil.writeAtomically(java.nio.file.Paths.get(dir, BucketsMarker), buckets.toString)
    data
  }

  /** The file schema [[describe]] recorded for `dir`, if any. */
  private[graft] def recordedSchema(dir: String): Option[org.apache.spark.sql.types.StructType] =
    Some(java.nio.file.Paths.get(dir, Chain.SchemaMarker)).filter(java.nio.file.Files.exists(_))
      .map(f => org.apache.spark.sql.types.DataType.fromJson(
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** The bucket count `dir` was written with (`_BUCKETS`). */
  private[graft] def bucketsOf(dir: String): Int =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, BucketsMarker)),
      "UTF-8").trim.toInt

  // ── Merge-on-read deletion vectors: a MOR generation hard-links ALL
  // of its parent's data files and carries the batch's effect as a
  // sidecar under `_dv/` — `tombstones` (suppressed keys) + `deltas`
  // (replacement/new rows) — so a 1-key update writes ~delta bytes, not
  // bucketBytes (the CoW write-amplification floor). Underscore dirs
  // are invisible to data scans, so the generation's relation and the
  // manifest index keep serving the BASE files untouched; the read
  // composes `base ⊖ tombstones ∪ deltas` on top. The tombstone side is
  // cumulative-delta-sized → broadcast anti-join: the corpus side never
  // shuffles. Chained MOR applies FOLD the sidecar (tombstones ∪ new
  // keys; deltas merged changeset-style), and any full rewrite
  // (OPTIMIZE / rebucket / a CoW apply over a MOR tip) folds
  // the sidecar away entirely.

  private[graft] val DvDir = "_dv"

  private[graft] def hasDv(loc: String): Boolean =
    java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(loc, DvDir, "tombstones"))

  /** Fold generation `loc`'s deletion-vector sidecars over `base`:
    * `base ⊖ ∪tombstone keys ∪ deltas`, over every data dir of the chain
    * that carries one (the generation root on a flat chain, the touched
    * `pcol=v/` dirs on a partitioned one). Identity without a sidecar.
    * The tombstone side is cumulative-changeset-sized → broadcast
    * anti-join (the corpus never re-shuffles). Explicit read schemas
    * (optimization r15): an inferred-schema read runs a footer job at
    * PLAN time, and this composition sits in the serving/analyzer path;
    * tombstones carry the key alone, deltas the base columns minus a
    * partition column (the directory names it — re-attached as a per-arm
    * LITERAL, so a partition filter constant-folds whole delta arms
    * away), and an older sidecar NULL-fills under the wider schema.
    */
  private[graft] def withDeletionVectors(s: SparkSession, chain: Chain,
                                         loc: String,
                                         base: DataFrame): DataFrame = {
    val dv = chain.dvDirs(loc)
    if (dv.isEmpty) base
    else {
      def side(name: String, sch: org.apache.spark.sql.types.StructType) =
        dv.map { case (v, d) =>
          val r = s.read.schema(sch).parquet(d.resolve(DvDir).resolve(name).toString)
          chain.partitionCol.fold(r)(p => r.withColumn(p, lit(v)))
        }.reduce(_ unionByName _)
      val tombs = side("tombstones",
        org.apache.spark.sql.types.StructType(Seq(base.schema(chain.key))))
      val deltas = side("deltas", org.apache.spark.sql.types.StructType(
        base.schema.filterNot(f => chain.partitionCol.contains(f.name))))
      base.join(broadcast(tombs), Seq(chain.key), "left_anti")
        .unionByName(deltas.select(base.columns.toSeq.map(col): _*))
    }
  }

  // ── Cluster spec: optional multi-column z-clustering INSIDE each
  // bucket (SURVEY §2.H — ZOrderLayout's skipping, composed with the
  // bucketed layout). With a `_CLUSTER` marker, every generation write
  // sorts each bucket's rows by a Morton z-value over the spec's
  // columns and splits files at `rowsPerFile`, so each file is a tight
  // axis-aligned box and the stats manifest prunes selective filters on
  // the spec columns — while bucket-key joins stay co-located (hash
  // placement is untouched; only the in-bucket ORDER and file split
  // change). The helper `_zv` column is physical-only: the column
  // mapping hides it (a standing `_zv → dropped` entry), and every
  // apply RECOMPUTES it for rewritten rows — without that, each CoW
  // apply would fold touched buckets back into one key-sorted wide
  // file and pruning quality would decay generation over generation
  // (the reclusterTouched maintenance this spec exists for). Bucket
  // bounds are frozen at materialize: drifted values clamp into the
  // edge buckets until a full rewrite, ZOrderLayout's freshness
  // contract. The bucket spec truthfully declares SORTED BY `_zv`
  // (never the key — a one-file bucket would otherwise let a
  // sort-merge join trust an ordering the files don't have).

  final case class ClusterSpec(cols: Seq[String], bits: Int,
                               rowsPerFile: Long,
                               bounds: Seq[(Double, Double)])

  private[graft] val ClusterMarker = "_CLUSTER"
  private[graft] val ZCol = "_zv"

  /** Bits per clustered column in the Morton z-value (2^8 bins each). */
  private[graft] val ClusterBits = 8

  private[graft] def readClusterSpec(loc: String): Option[ClusterSpec] = {
    val f = java.nio.file.Paths.get(loc, ClusterMarker)
    if (!java.nio.file.Files.exists(f)) None
    else {
      val kv = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .linesIterator.filter(_.nonEmpty)
        .map { l => val Array(k, v) = l.split("\t", 2): @unchecked; k -> v }
        .toMap
      Some(ClusterSpec(
        kv("cols").split(",").toSeq,
        kv("bits").toInt,
        kv("rows").toLong,
        kv("bounds").split(",").toSeq.map { b =>
          val Array(lo, hi) = b.split(":"): @unchecked
          (lo.toDouble, hi.toDouble)
        }))
    }
  }

  private[graft] def writeClusterSpec(loc: String, spec: ClusterSpec): Unit = {
    val body = Seq(
      s"cols\t${spec.cols.mkString(",")}",
      s"bits\t${spec.bits}",
      s"rows\t${spec.rowsPerFile}",
      s"bounds\t${spec.bounds.map { case (lo, hi) => s"$lo:$hi" }.mkString(",")}"
    ).mkString("\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(loc, ClusterMarker), body.getBytes("UTF-8"))
  }

  /** The spec's Morton z-value as a codegen'd column expression. */
  private[graft] def zExpr(spec: ClusterSpec): org.apache.spark.sql.Column =
    ZOrderLayout.zValue(spec.cols.zip(spec.bounds).map { case (c, (lo, hi)) =>
      if (lo == hi) org.apache.spark.sql.functions.lit(0L)
      else ZOrderLayout.bucketize(col(c), lo, hi, spec.bits)
    }, spec.bits)

  /** A cluster spec speaks PHYSICAL column names; a full rewrite
    * rebases physical := logical, so the carried spec translates its
    * columns through the mapping — and dies (None) if one was dropped.
    */
  private[graft] def rebaseSpec(spec: ClusterSpec,
                                m: Map[String, Option[String]]): Option[ClusterSpec] = {
    val cols = spec.cols.map(p => m.get(p) match {
      case None => Some(p)
      case Some(l) => l
    })
    if (cols.exists(_.isEmpty)) None
    else Some(spec.copy(cols = cols.flatten))
  }

  // ── Column mapping: DROP/RENAME as per-generation METADATA, the
  // Delta/Iceberg column-mapping recipe. A generation may carry a
  // `_MAPPING` marker — one line per remapped PHYSICAL column,
  // `physical\tlogical` for a rename, `physical\t` for a drop — and the
  // serving read applies it as a projection over the raw frame: rename
  // = alias, drop = column omitted. Linked files are NEVER rewritten
  // for either; the physical names inside parquet footers stay what the
  // writer wrote. The mapping is cumulative and carries forward across
  // metadata and CoW-touched generations; any FULL rewrite (rebucket,
  // OPTIMIZE, a broad apply) writes the logical names as the
  // new physical truth and clears it — the same fold discipline as the
  // `_dv` sidecar. Compose order on read: base(physical) → deletion
  // vectors (physical) → mapping projection (logical).

  private[graft] val MappingMarker = "_MAPPING"

  /** physical → Some(logical) rename | None drop. Empty = identity. */
  private[graft] def readMapping(loc: String): Map[String, Option[String]] = {
    val f = java.nio.file.Paths.get(loc, MappingMarker)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      .linesIterator.filter(_.nonEmpty).map { line =>
        val Array(p, l @ _*) = line.split("\t", 2): @unchecked
        p -> l.headOption.filter(_.nonEmpty)
      }.toMap
  }

  private[graft] def writeMapping(loc: String,
                                  m: Map[String, Option[String]]): Unit = {
    val body = m.toSeq.sorted.map { case (p, l) => s"$p\t${l.getOrElse("")}" }
      .mkString("\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(loc, MappingMarker), body.getBytes("UTF-8"))
  }

  /** Physical frame → logical view: aliases renames, omits drops. */
  private[graft] def applyMapping(df: DataFrame,
                                  m: Map[String, Option[String]]): DataFrame =
    if (m.isEmpty) df
    else {
      val cols = df.columns.toSeq.flatMap { c =>
        m.get(c) match {
          case None => Some(col(c))            // unmapped = identity
          case Some(Some(l)) => Some(col(c).as(l))
          case Some(None) => None              // dropped
        }
      }
      df.select(cols: _*)
    }

  /** Logical-named changeset → the physical space of the files: renames
    * reverse-applied, dropped physical columns re-added as typed NULLs
    * (they are invisible logically, but the physical row still has the
    * slot — new rows carry NULL there).
    */
  private[graft] def toPhysical(df: DataFrame,
                                m: Map[String, Option[String]],
                                physSchema: org.apache.spark.sql.types.StructType): DataFrame =
    if (m.isEmpty) df
    else {
      val renamedBack = m.foldLeft(df) {
        case (d, (p, Some(l))) if l != p && d.columns.contains(l) =>
          d.withColumnRenamed(l, p)
        case (d, _) => d
      }
      m.foldLeft(renamedBack) {
        case (d, (p, None)) if !d.columns.contains(p) =>
          d.withColumn(p, org.apache.spark.sql.functions.lit(null)
            .cast(physSchema(p).dataType))
        case (d, _) => d
      }
    }

  /** The generation dir the pointer names, when one is recorded. */
  def servedGeneration(s: SparkSession, corpusDir: String,
                       table: String): Option[String] =
    layoutRoot(s, corpusDir).map(epochFile(_, table))
      .filter(java.nio.file.Files.exists(_))
      .map(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim)

  // One entry per (session, generation): a generation's relation is on
  // the hottest read path (every Tables.load and every SQL reference of
  // a layout name), and a fresh one per call would pay its listing and
  // `_dv` sidecar reads at build plus the lazy manifest collect at first
  // listFiles on EVERY query. A generation is immutable once committed,
  // except for two things the stamp tracks: its manifest, rebuilt in
  // place or carried just after the commit (`_stats/_SUCCESS` mtime and
  // size — mtime is millisecond-granular, so the size rides along), and
  // the name's registration, whose table identity the relation carries.
  // Lifecycle: entries hold a WeakReference to their session and a hit
  // is honored only when the referent IS the asking session —
  // identityHashCode is not unique, and without the check a collision
  // could hand one session a frame bound to another (possibly stopped)
  // one. [[drop]] and a rebuild of generation 0 evict ([[forget]]), and
  // the map is size-capped: past the cap, dead-referent entries (session
  // already collected) evict first, and only if the map is STILL over
  // does it fall back to a full clear. Files written DIRECTLY into a
  // committed generation dir outside the chain verbs stay invisible to
  // a cached relation; CHECK TABLE builds its own, uncached.
  private val generationCache = new java.util.concurrent.ConcurrentHashMap[
    String, (java.lang.ref.WeakReference[SparkSession], String, DataFrame)]()
  private val GenerationCacheCap = 128

  /** Evict dead-referent entries (session already collected); full clear
    * only if the map is still over the cap afterwards — see the cache
    * comment above.
    */
  private def evictGenerations(): Unit = {
    val it = generationCache.entrySet().iterator()
    while (it.hasNext) if (it.next().getValue._1.get() == null) it.remove()
    if (generationCache.size >= GenerationCacheCap) generationCache.clear()
  }

  /** Generation `gen` of `chain` in PHYSICAL space, `_dv` sidecars
    * folded — the ONE relation every read of a generation builds on:
    * the served read, time travel, snapshots, the generation diff and
    * CHECK TABLE. A `HadoopFsRelation` over
    *  - a file index pre-filled from one `java.nio` listing of the
    *    generation's data dirs (Spark runs no listing job), wrapped in
    *    the stats-manifest index when the generation carries `_stats`;
    *  - the data schema from `_SCHEMA` ([[Chain.fileSchema]]), so a
    *    generation mixing evolved and hard-linked older files reads
    *    missing columns as NULL with no footer read;
    *  - the partition column from `_PCOL`, typed STRING, never inferred
    *    (a partition filter prunes directories at listing);
    *  - the bucket spec from `_BUCKETS`, sorted by `_zv` under `_CLUSTER`
    *    ([[Chain.bucketSpec]]), so a key join over it ships no Exchange;
    *  - the name's registration as its table identity when the name is
    *    registered (EXPLAIN and the scan node name the table).
    * Cached per (session, generation) unless `cached` is false.
    */
  private[graft] def generation(s: SparkSession, chain: Chain, gen: String,
                                cached: Boolean = true): DataFrame = {
    val cat = s.sessionState.catalog
    val id = org.apache.spark.sql.catalyst.TableIdentifier(chain.catalogName)
    val registered = cat.tableExists(id)
    val stamp = {
      val f = java.nio.file.Paths.get(StatsManifest.manifestDirFor(gen), "_SUCCESS")
      if (!StatsManifest.hasManifest(gen)) s"-/$registered"
      else s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}/" +
        s"${java.nio.file.Files.size(f)}/$registered"
    }
    def build(): DataFrame = {
      val files = chain.fileSchema(s, gen)
      val parts = chain.partitionSchema
      val listed = ManifestFileIndex.listedIndex(s, gen,
        org.apache.spark.sql.types.StructType(files ++ parts),
        for ((_, d) <- chain.dataDirs(gen); f <- graft.FsUtil.list(d) if isDataFile(f)) yield f)
      val index = if (!StatsManifest.hasManifest(gen)) listed
        else new ManifestFileIndex(listed,
          () => ManifestFileIndex.loadStats(s, StatsManifest.manifestDirFor(gen)))
      withDeletionVectors(s, chain, gen, bucketedRelation(s, index, parts, files,
        chain.bucketSpec(gen), if (registered) Some(cat.getTableMetadata(id)) else None))
    }
    if (!cached) build()
    else {
      val ck = s"${System.identityHashCode(s)}/$gen"
      Option(generationCache.get(ck))
        .collect { case (ref, st, df) if (ref.get eq s) && st == stamp => df }
        .getOrElse {
          val df = build()
          if (generationCache.size >= GenerationCacheCap) evictGenerations()
          generationCache.put(ck, (new java.lang.ref.WeakReference(s), stamp, df))
          df
        }
    }
  }

  /** A bucketed parquet relation read by path — no catalog entry, no
    * listing job: `index` lists the files, `spec` declares the bucketing
    * the files honor, so a key join or aggregate over it ships no
    * Exchange. `table` only names the scan (EXPLAIN). The one builder of
    * a chain generation's relation ([[generation]]) and of the signature
    * store's facets.
    */
  private[graft] def bucketedRelation(s: SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      parts: org.apache.spark.sql.types.StructType,
      files: org.apache.spark.sql.types.StructType,
      spec: org.apache.spark.sql.catalyst.catalog.BucketSpec,
      table: Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = None): DataFrame = {
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(index, parts,
      files, Some(spec),
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(s)
    org.apache.spark.sql.GraftPlanBridge.ofRows(s, table.fold(
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel, false))(
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel, _)))
  }

  /** Evict every session's cached relation of the generations under
    * `path` — files rewritten in place (a rebuild of generation 0, a
    * dropped layout) must not be read through a stale listing.
    */
  private[graft] def forget(path: String): Unit =
    generationCache.keySet.removeIf(k => k.substring(k.indexOf('/') + 1).startsWith(path))

  /** A data file of a generation dir: a regular file that is neither a
    * marker (`_`) nor a checksum or temp file (`.`).
    */
  private[graft] def isDataFile(f: java.nio.file.Path): Boolean = {
    val n = f.getFileName.toString
    java.nio.file.Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Rewrite the keyed corpus tables as bucketed external tables: one
    * [[graft.operators.MergeOps.materialize]] per flat chain. `tables`
    * narrows the build to a subset of [[keyed]] (a corpus dir that only
    * carries some of the keyed tables — p28's private MERGE sandbox).
    * Returns the created table names.
    */
  def materialize(s: SparkSession, corpusDir: String,
                  buckets: Int = DefaultBuckets,
                  tables: Seq[String] = keyed.keys.toSeq,
                  clusterBy: Seq[String] = Nil,
                  clusterRowsPerFile: Long = 1L << 17): Seq[String] = {
    require(tables.forall(keyed.contains),
      s"unknown layout table(s) ${tables.filterNot(keyed.contains).mkString(", ")}" +
        s" — keyed tables are ${keyed.keys.toSeq.sorted.mkString(", ")}")
    require(clusterBy.isEmpty || tables.size == 1,
      "clusterBy applies to ONE table per materialize call (the spec's " +
        "columns are table-specific)")
    tables.distinct.sorted.map(table => graft.operators.MergeOps.materialize(s,
      Chain.flat(corpusDir, table), buckets, clusterBy, clusterRowsPerFile))
  }

  /** Remove the layout for a corpus — the flat and the partitioned
    * chain of every keyed table, registrations and files (tests;
    * explicit invalidation).
    */
  def drop(s: SparkSession, corpusDir: String): Unit = {
    val names = keyed.keys.toSeq.flatMap(table => Seq(
      tableName(table, corpusDir), PartitionedLayout.tableName(table, corpusDir)))
    names.filter(s.catalog.tableExists).foreach(t => s.sql(s"DROP TABLE $t"))
    layoutRoot(s, corpusDir).foreach { root =>
      forget(root)
      graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }
}
