package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** Bucketed corpus layout — the write-once data organization that makes
  * every per-document join in the engine shuffle-free (SURVEY §2.H, §5).
  *
  * The id-keyed corpus tables (`documents` on doc_id, `embeddings` on
  * vec_id) are rewritten ONCE as external parquet tables bucketed and
  * sorted on their key with the same bucket count as
  * [[graft.operators.SignatureStore.DefaultBuckets]]. After that, every
  * id-keyed join in the engine — document ⋈ signature, document ⋈
  * component label, caption ⋈ embedding (m09's 1:1 id join), split/label
  * joins in p06/p15/p16 — reads both sides pre-partitioned: zero
  * Exchange on any bucketed side. At 100 TB this is the difference
  * between re-shuffling the corpus per job and paying one bucketed write
  * per corpus refresh; the bucket count scales to one-task-sized buckets
  * and a shared metastore carries table metadata between jobs.
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

  val DefaultBuckets: Int = graft.operators.SignatureStore.DefaultBuckets

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

  // ── Generation-epoch tracking: MERGE applies (MergeOps.applyToLayout)
  // swing the catalog table to a new generation path, but Spark's
  // per-session relation cache can keep serving the OLD generation's
  // files to every session that is not the one that ran the swing (a
  // foreachBatch micro-batch clone, a sibling job session). The applier
  // bumps an on-disk epoch marker; the served read (Chain.served)
  // refreshes a session's cached relation exactly once per (session,
  // epoch) — correct under cross-session swings, free when nothing
  // changed.

  private val seenEpoch =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def epochFile(root: String, table: String): java.nio.file.Path =
    java.nio.file.Paths.get(root, s"${table}_EPOCH")

  /** Record that (corpus, table) now serves `generation` — written by the
    * MERGE apply after its catalog swing commits. Also stamps the
    * generation's commit time (once): every generation-creating path —
    * materialize, CoW/MOR swings, metadata swings, compaction,
    * rebucket — funnels its first epoch bump through here, so the
    * marker is the durable "when did this generation become visible"
    * record that `TIMESTAMP AS OF` and DESCRIBE HISTORY resolve
    * against. Repair paths re-bump the epoch for an EXISTING
    * generation; the absence guard keeps them from moving history.
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

  /** Invalidate the session's cached relation for a catalog table at
    * the SESSION-CATALOG tier — NOT `spark.catalog.refreshTable`, which
    * re-ANALYZES the table name to walk cached data plans: with the
    * composed-serving rule active, that analysis resolves a MOR/mapped
    * layout name to the composed frame (no CatalogTable attached) and
    * Spark's cache walk NPEs on the missing metadata. The engine never
    * `.cache()`s layout tables, so metadata/relation-cache invalidation
    * is the entire requirement.
    */
  private[graft] def refreshRelationCache(s: SparkSession, t: String): Unit =
    s.sessionState.catalog.refreshTable(
      org.apache.spark.sql.catalyst.TableIdentifier(t))

  private[graft] def refreshIfStale(s: SparkSession, corpusDir: String,
                                    table: String, t: String): Unit =
    for (root <- layoutRoot(s, corpusDir)) {
      val f = epochFile(root, table)
      if (java.nio.file.Files.exists(f)) {
        val cur = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val key = s"${System.identityHashCode(s)}/$t"
        if (seenEpoch.put(key, cur) != cur) refreshRelationCache(s, t)
      }
    }

  // ── Filesystem-as-truth serving: the session catalog is in-memory, so
  // the bucketed table registration dies with the JVM — without repair,
  // a fresh driver would silently fall back to the ORIGINAL raw parquet
  // and every applied MERGE generation would go invisible (and a crash
  // between applyToLayout's catalog DROP and RENAME strands even the
  // running JVM the same way). Each complete generation therefore
  // carries two markers — Spark's _SUCCESS (job commit) and our
  // _BUCKETS (bucket count, written after the table write returns) —
  // and [[Chain.repair]] re-attaches the NEWEST complete generation as
  // an external bucketed table. The served read (Chain.served) invokes
  // it whenever the table is missing, which makes every reader
  // self-healing across restarts
  // and crashed swings: forward recovery, since a complete-but-unserved
  // generation is the result of the interrupted apply (whose unmarked
  // ledger batch will replay as a content no-op).

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

  private[graft] def writeBucketsMarker(path: String, buckets: Int): Unit =
    graft.FsUtil.writeAtomically(
      java.nio.file.Paths.get(path, BucketsMarker), buckets.toString)

  // ── Merge-on-read deletion vectors: a MOR generation hard-links ALL
  // of its parent's data files and carries the batch's effect as a
  // sidecar under `_dv/` — `tombstones` (suppressed keys) + `deltas`
  // (replacement/new rows) — so a 1-key update writes ~delta bytes, not
  // bucketBytes (the CoW write-amplification floor). Underscore dirs
  // are invisible to data scans, so the bucketed catalog table and the
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
  // contract. The catalog table truthfully declares SORTED BY `_zv`
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

  /** The SORTED BY column a generation's files actually honor. */
  private[graft] def sortColFor(loc: String): Option[String] =
    readClusterSpec(loc).map(_ => ZCol)

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

  /** The catalog table's PHYSICAL schema, straight from catalog
    * metadata — never through `s.table(t)`, whose analysis passes the
    * composed-serving rule and would return the LOGICAL view (mapping
    * applied, `_zv` hidden). The swing internals merge and write in
    * physical space, so this is their schema source of truth.
    */
  private[graft] def physicalSchema(s: SparkSession,
                                    t: String): org.apache.spark.sql.types.StructType =
    s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).schema

  /** The generation dir the epoch marker says is served, when recorded.
    * Every swing (materialize, apply, rebucket, compact, repair) bumps
    * it, so the marker IS current whenever the catalog table is.
    */
  def servedGeneration(s: SparkSession, corpusDir: String,
                       table: String): Option[String] =
    layoutRoot(s, corpusDir).map(epochFile(_, table))
      .filter(java.nio.file.Files.exists(_))
      .map(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim)

  // One entry per (session, table): the manifest-served relation is on
  // the hottest read path (every Tables.load of a layout table), and a
  // fresh ManifestFileIndex per call would pay its InMemoryFileIndex
  // listing at build plus the lazy stats collect at first listFiles on
  // EVERY query. Cache the built frame; invalidate when the served
  // generation moves (epoch content = generation path) or the manifest
  // itself is rebuilt in place (its _SUCCESS mtime moves). Lifecycle:
  // entries hold a WeakReference to their session and a hit is honored
  // only when the referent IS the asking session — identityHashCode is
  // not unique, and without the check a collision could hand one
  // session a frame bound to another (possibly stopped) one. [[drop]]
  // evicts its tables' entries, and the map is size-capped (a driver
  // that churns sessions would otherwise pin every dead session through
  // its cached frame): past the cap, dead-referent entries (session
  // already collected) evict first, and only if the map is STILL over
  // does it fall back to a full clear — so one session churning past
  // the cap no longer wipes every live session's cached relation.
  // Staleness contract: the stamp is (generation path, manifest
  // _SUCCESS mtime+size), so files appended DIRECTLY into a served
  // generation dir outside the apply/swing verbs stay invisible until
  // a manifest rebuild or epoch bump — direct appends require one (the
  // swing verbs do this automatically; raw writers must too). The
  // _SUCCESS size rides along because mtime is millisecond-granular:
  // an in-place manifest rebuild completing within the same ms would
  // otherwise serve a stale frame.
  private val servedRelation = new java.util.concurrent.ConcurrentHashMap[
    String, (java.lang.ref.WeakReference[SparkSession], String, String, DataFrame)]()
  private val ServedRelationCap = 128

  /** Evict dead-referent entries (session already collected); full clear
    * only if the map is still over the cap afterwards — see the cache
    * comment above.
    */
  private def evictServedRelation(): Unit = {
    val it = servedRelation.entrySet().iterator()
    while (it.hasNext) if (it.next().getValue._1.get() == null) it.remove()
    if (servedRelation.size >= ServedRelationCap) servedRelation.clear()
  }

  /** The manifest-pruning, bucket-spec-carrying frame over served
    * generation `loc` — Some only when it carries BOTH markers (a
    * complete `_stats` manifest and `_BUCKETS`). Driver-side file probes
    * only on the cached path; the listing + stats jobs are paid once per
    * (session, generation), not per read.
    */
  private[graft] def manifestServed(s: SparkSession, chain: Chain,
                                    loc: String): Option[DataFrame] = {
    val bFile = java.nio.file.Paths.get(loc, BucketsMarker)
    if (!StatsManifest.hasManifest(loc) || !java.nio.file.Files.exists(bFile)) None
    else {
      val stamp = {
        val f = java.nio.file.Paths.get(
          StatsManifest.manifestDirFor(loc), "_SUCCESS")
        s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}/" +
          s"${java.nio.file.Files.size(f)}"
      }
      val ck = s"${System.identityHashCode(s)}/${chain.catalogName}"
      Option(servedRelation.get(ck))
        .collect { case (ref, l, st, df)
          if (ref.get eq s) && l == loc && st == stamp => df }
        .orElse {
          val buckets = new String(
            java.nio.file.Files.readAllBytes(bFile), "UTF-8").trim.toInt
          val df = ManifestFileIndex.bucketedTable(s, loc, buckets,
            chain.key, sortCol = sortColFor(loc).getOrElse(chain.key))
          if (servedRelation.size >= ServedRelationCap) evictServedRelation()
          servedRelation.put(ck,
            (new java.lang.ref.WeakReference(s), loc, stamp, df))
          Some(df)
        }
    }
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
    names.foreach(t => servedRelation.remove(s"${System.identityHashCode(s)}/$t"))
    layoutRoot(s, corpusDir).foreach(root =>
      graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(root)))
  }
}
