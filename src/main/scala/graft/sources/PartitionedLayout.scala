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
  * forward (zero base bytes — the per-pair CoW floor disappears) and
  * folds the changeset into per-partition `_dv/` sidecars under the
  * touched partitions' dirs; untouched partitions carry their sidecars
  * forward verbatim. Per-partition (not one root sidecar) because
  * that's the 100 TB operating point: a one-day trickle writes one
  * day's sidecar, maintenance touches one directory, and a
  * partition-filtered read's delta scan prunes to the named partitions'
  * sidecar files. The read composes `base ⊖ ∪tombstones ∪ deltas`
  * (key-global anti-join is sound — keys are unique corpus-wide, so a
  * base row lives only in its serving partition); [[ifPresent]] returns
  * the composed frame and [[composedServing]] closes the bare SQL-name
  * spelling exactly like the flat layout's rule. A CoW apply over a MOR
  * tip folds the sidecars away with a full rewrite
  * ([[graft.operators.MergeOps]]'s rule, one tier up).
  *
  * DROP/RENAME column mapping composes here too (round 15): a
  * `_MAPPING` marker makes [[graft.operators.MergeOps.renameColumn]] /
  * `dropColumn` METADATA-ONLY swings (every byte hard-links, partition
  * dirs and sidecars alike); the serving read projects physical→logical
  * AFTER the dv fold, changesets speak logical names and translate back
  * at the swing, and a full rewrite REBASES (logical names become
  * physical truth, marker clears). Neither the key nor the PARTITION
  * column can move — the partition column names directories.
  *
  * Z-clustering composes too (round 15): a `_CLUSTER` spec at
  * [[materialize]] makes every generation write sort each (partition,
  * bucket) pair by the Morton z-value and split files at the row
  * bound — tight axis-aligned boxes WITHIN pairs, so parquet row-group
  * stats prune selective filters on the spec columns while the
  * partition filter prunes directories and key joins stay
  * bucket-co-located: three orthogonal pruning dimensions on one
  * layout. CoW rewrites RECOMPUTE `_zv` for merged pairs (pruning does
  * not decay apply over apply); MOR and metadata swings carry the
  * marker with the linked files; rebases translate the spec through
  * the mapping. The spec must not name the partition column (constant
  * within every directory already).
  *
  * The chain verbs — tags, VACUUM, DESCRIBE HISTORY, CHECK TABLE, the
  * change feed and RENAME/DROP/ADD COLUMNS — are the flat chain's own,
  * run over this layout's [[Chain]] descriptor (its generation dirs
  * live under `partitioned/`, its lease and tag key is
  * `<table>@partitioned`); changeset validation mirrors
  * [[graft.operators.MergeOps]].
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

  private def readPcol(loc: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(loc, PcolMarker)), "UTF-8").trim

  /** The chain served from generation `loc` (its `_PCOL` names the
    * partition column).
    */
  private def chainAt(corpusDir: String, table: String, loc: String): Chain =
    Chain(corpusDir, table, Some(readPcol(loc)))

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
    * sidecar folded on top — `base ⊖ ∪tombstone-keys ∪ deltas`.
    * Identity when no partition carries a sidecar. The tombstone side
    * is cumulative-changeset-sized → broadcast anti-join (the corpus
    * never re-shuffles); delta files store the base-file schema (no
    * pcol — the directory names it), re-attached as a per-arm LITERAL
    * so a partition filter constant-folds whole delta arms away, the
    * sidecar-side mirror of the base scan's directory pruning.
    */
  private[graft] def composedFrame(s: SparkSession, chain: Chain,
                                   loc: String): DataFrame = {
    val base = {
      composing.set(true)
      try s.table(chain.catalogName) finally composing.set(false)
    }
    // compose order mirrors the flat layout: base (physical) → deletion
    // vectors (physical) → mapping projection (logical)
    CorpusLayout.applyMapping(composeDv(s, chain, base, loc),
      CorpusLayout.readMapping(loc))
  }

  /** Fold generation `loc`'s per-partition `_dv` sidecars over `base` —
    * the composition algebra shared by the serving read (base = catalog
    * table) and [[readGeneration]] (base = that generation's partition
    * dirs). Identity when no partition carries a sidecar.
    */
  private[graft] def composeDv(s: SparkSession, chain: Chain, base: DataFrame,
                               loc: String): DataFrame = {
    val dv = chain.dvDirs(loc)
    val (pcol, key) = (chain.partitionCol.get, chain.key)
    if (dv.isEmpty) base
    else {
      // EXPLICIT schemas on the sidecar reads (optimization r15): an
      // inferred-schema parquet read runs a footer-listing Spark job at
      // PLAN time, and this composition runs inside the analyzer rule
      // (composedServing) — every resolution of a MOR tip was paying
      // 2·|dv partitions| schema jobs before any data moved. The schemas
      // are known from the base frame: tombstones carry the key alone,
      // deltas the base columns minus the directory-named pcol; a delta
      // file that predates an ADD COLUMNS swing NULL-fills the missing
      // column under the wider read schema — exactly the padding the
      // union did by hand.
      val tombSchema = org.apache.spark.sql.types.StructType(
        Seq(base.schema(key)))
      val deltaSchema = org.apache.spark.sql.types.StructType(
        base.schema.filterNot(_.name == pcol))
      val tombs = dv.map { case (_, p) =>
        s.read.schema(tombSchema).parquet(p.resolve(CorpusLayout.DvDir)
          .resolve("tombstones").toString) }
        .reduce(_ unionByName _)
      val deltas = dv.map { case (v, p) =>
        s.read.schema(deltaSchema).parquet(p.resolve(CorpusLayout.DvDir)
          .resolve("deltas").toString)
          .withColumn(pcol, lit(v)) }
        .reduce(_ unionByName _)
      base.join(broadcast(tombs), Seq(key), "left_anti")
        .unionByName(deltas.select(base.columns.toSeq.map(col): _*))
    }
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
      chain = chainAt(corpusDir, table, loc)
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
    val key = CorpusLayout.keyed.getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' has no layout key (CorpusLayout.keyed)"))
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
    val chain = Chain(corpusDir, table, Some(pcol))
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
    s.sql(s"DROP TABLE IF EXISTS $t")
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
    clusteredWrite(s, src, spec, buckets, key, pcol, path, t,
      carryMapping = Map.empty)
    chain.markComplete(path, buckets)
    CorpusLayout.bumpEpoch(s, corpusDir, chain.epochKey, path)
    t
  }

  /** The ONE clustered partitioned staging write every generation
    * rewrite shares (materialize, CoW pair rewrites, full-rewrite
    * rebase, compaction): recompute `_zv` when a cluster spec rides
    * along (the changeset's rows arrive with it refilled as NULL), sort
    * each (partition, bucket) pair by what its files will actually
    * honor, split at the spec's row bound, and persist the `_CLUSTER`
    * marker plus the mapping that hides the physical-only `_zv`.
    * `tableOrStaging` is the catalog name the bucketed writer
    * registers — `t` at materialize, `<t>_staging` on the chain.
    */
  private def clusteredWrite(s: SparkSession, df: DataFrame,
                             spec: Option[CorpusLayout.ClusterSpec],
                             buckets: Int, key: String, pcol: String,
                             vpath: String, tableOrStaging: String,
                             carryMapping: Map[String, Option[String]]): Unit = {
    val out = spec.foldLeft(df.drop(CorpusLayout.ZCol))((d, sp) =>
      d.withColumn(CorpusLayout.ZCol, CorpusLayout.zExpr(sp)))
    s.sql(s"DROP TABLE IF EXISTS $tableOrStaging")
    out.repartition(buckets, col(key))
      .write.format("parquet")
      .option("path", vpath)
      .option("maxRecordsPerFile", spec.map(_.rowsPerFile).getOrElse(0L))
      .partitionBy(pcol)
      .bucketBy(buckets, key)
      .sortBy(spec.map(_ => CorpusLayout.ZCol).getOrElse(key))
      .mode("overwrite").saveAsTable(tableOrStaging)
    spec.foreach { sp =>
      CorpusLayout.writeClusterSpec(vpath, sp)
      CorpusLayout.writeMapping(vpath,
        carryMapping + (CorpusLayout.ZCol -> None)) // _zv is physical-only
    }
    if (spec.isEmpty && carryMapping.nonEmpty)
      CorpusLayout.writeMapping(vpath, carryMapping)
  }

  /** The served frame (catalog read — partition pruning and the bucket
    * spec both need the catalog table, not a raw path read).
    */
  def ifPresent(s: SparkSession, corpusDir: String,
                table: String): Option[DataFrame] = {
    val t = tableName(table, corpusDir)
    if (!s.catalog.tableExists(t)) None
    else {
      // a MOR tip serves base⊖tombstones∪deltas; identity otherwise
      val loc = graft.operators.MergeOps.tableLayout(s, t)._1
      Some(composedFrame(s, chainAt(corpusDir, table, loc), loc))
    }
  }

  /** Apply a changeset (upserts + `tombstone` rows) copy-on-write:
    * rewrite exactly the touched (partition, bucket) pairs, hard-link
    * everything else. Same contract as
    * [[graft.operators.MergeOps.applyToLayout]]: one row per key, NULL
    * keys refuse, the whole chain mutation runs under the single-writer
    * lease, and the changeset is snapshot-materialized once so
    * validation and the write see the same rows. Upserts must carry a
    * non-NULL partition value (it names the row's directory); tombstones
    * need only the key — their home partition comes from the corpus
    * lookup that also catches cross-partition moves.
    */
  def applyToLayout(s: SparkSession, corpusDir: String, changes0: DataFrame,
                    table: String = "documents"): String =
    applyToLayoutFrom(s, corpusDir, table)(_ => changes0)

  /** [[applyToLayout]] with the changeset DERIVED from the served
    * composed frame INSIDE the single-writer lease (post-resync) — the
    * flat layout's [[graft.operators.MergeOps.applyToLayoutFrom]]
    * discipline, which the SQL DML lowerings require: an UPDATE/DELETE
    * WHERE scan or INSERT existence probe evaluated outside the lease
    * would check-then-act across a concurrent writer's commit.
    * `partial = true` expands a sparse changeset (key + assigned
    * columns) to full rows from the served frame — unassigned columns,
    * the partition column included, fill from the OLD row via one
    * changeset-key semi-join, so an `UPDATE SET lang = …` never states
    * a partition value and never moves the row, while an explicit
    * `SET <pcol> = …` is a cross-partition move billed at exactly its
    * two (partition, bucket) homes. `preApply` runs after the snapshot
    * and key validation with (served frame, snapshotted changeset) —
    * rows it approves are bit-for-bit the rows applied.
    */
  def applyToLayoutFrom(s: SparkSession, corpusDir: String,
                        table: String = "documents",
                        partial: Boolean = false,
                        preApply: (DataFrame, DataFrame) => Unit = null)
                       (mkChanges: DataFrame => DataFrame): String = {
    val key = CorpusLayout.keyed(table)
    val t = tableName(table, corpusDir)
    require(s.catalog.tableExists(t),
      s"no partitioned layout for ($corpusDir, $table) — run " +
        "PartitionedLayout.materialize first")
    graft.operators.GenerationLease.withLease(
        s, corpusDir, s"$table@partitioned") {
      resync(s, corpusDir, table)
      val (curLoc, buckets) = graft.operators.MergeOps.tableLayout(s, t)
      val chain = chainAt(corpusDir, table, curLoc)
      val pcol = chain.partitionCol.get
      // the served view COMPOSES the tip's sidecars and column mapping:
      // the derivation callback, old-home lookup and full rewrites must
      // all see the LOGICAL view of base⊖tombs∪deltas, never raw base
      // files. The PHYSICAL composed frame (dv folded, names unmapped)
      // stays available for the pair-scoped rewrite, whose files sit
      // next to hard-linked ones and must keep the files' own names.
      val tipDv = chain.dvDirs(curLoc).nonEmpty
      val mapping = CorpusLayout.readMapping(curLoc)
      val physServed = {
        composing.set(true)
        val base = try s.table(t) finally composing.set(false)
        composeDv(s, chain, base, curLoc)
      }
      val served = CorpusLayout.applyMapping(physServed, mapping)
      val physSchema = CorpusLayout.physicalSchema(s, t)
      val changes0 = mkChanges(served)
      val tomb = graft.operators.MergeOps.TombstoneCol
      require(changes0.columns.contains(tomb),
        s"changeset must carry a '$tomb' boolean column")
      // key-type guard (MergeOps.applyToLayoutFrom's discipline): bucketOf
      // below hashes the key's BINARY representation, so an INT changeset
      // key against a LONG corpus computes the WRONG pair homes — the
      // touched-pair set (and the documented write bill) would drift even
      // though content lands correctly. try_cast + round-trip rejects
      // non-value-preserving keys loudly instead.
      val keyType = served.schema(key).dataType
      val srcType = changes0.schema(key).dataType
      val changes1 = (if (srcType == keyType) changes0
        else changes0.withColumn("__src_key", col(key))
          .withColumn(key, col(key).try_cast(keyType)))
        .localCheckpoint(true)
      val hasPcol = changes1.columns.contains(pcol)
      val morMode = s.conf.getOption(graft.operators.MergeOps.MergeModeKey)
        .getOrElse("cow") match {
        case "mor" => true
        case "cow" => false
        case other => throw new IllegalArgumentException(
          s"${graft.operators.MergeOps.MergeModeKey} must be 'cow' or " +
            s"'mor', got '$other'")
      }
      // ONE corpus join per apply (optimization r16, guide §1.2/§5): the
      // partial expansion's absent-column fill and the matched keys'
      // old-home lookup (the touched-pair set's old side, and under MOR
      // the sidecar fold's eviction arm) are the SAME changeset-keyed
      // semi-join against the served frame — they used to run as two
      // (three under MOR, which checkpointed oldHomes separately)
      // corpus-scanning jobs per statement. Run it once, attach the
      // matched key's old partition value as `__oldp`, and checkpoint
      // the result when more than one downstream ACTION consumes it
      // (partial rows feed the write; MOR's fold reads the old homes
      // twice) — otherwise leave it lazy for the one diagnostics job
      // below. Expansion semantics are expandPartial's verbatim: the
      // served side is unique-keyed, so the left join preserves the
      // changeset's key multiset, absent columns (pcol included) fill
      // from the old row, and an unmatched key fills NULL.
      val oldP = "__oldp"
      val payload = served.columns.toSeq.filterNot(_ == key)
      val absent =
        if (partial) payload.filterNot(changes1.columns.contains)
        else Seq.empty[String]
      val old = served.join(changes1.select(col(key)), Seq(key), "left_semi")
        .select(col(key) +: absent.filterNot(_ == pcol).map(col)
          :+ col(pcol).as(oldP): _*)
      // partial: the full expansion feeds the write, so checkpoint it
      // once (it replaces expandPartial's separate checkpoint AND the
      // old-home lookup's scan)
      val changesFull = if (partial) {
        val present = changes1.columns.toSeq
          .filterNot(c => c == key || c == tomb)
        changes1.join(old, Seq(key), "left")
          .select(col(key) +:
            (present.map(col) ++ absent.map(c =>
              if (c == pcol) col(oldP).as(pcol) else col(c))) :+
            col(oldP) :+ col(tomb): _*)
          .localCheckpoint(true)
      } else null
      // the probe frame validation / touched pairs / MOR's eviction arm
      // read: the full expansion when partial (already materialized); a
      // THIN (key, pcol, tombstone, __oldp) join otherwise — ckpt1
      // already holds the wide payload, re-materializing it bought
      // nothing. Checkpoint the thin probe only under MOR, whose fold
      // reads the old homes from two write actions.
      val probe0 =
        if (partial) changesFull
        else changes1.select(col(key) +: col(tomb) +:
            ((if (hasPcol) Seq(col(pcol)) else Seq.empty) ++
             (if (srcType != keyType) Seq(col("__src_key"))
              else Seq.empty)): _*)
          .join(old, Seq(key), "left")
      val probe =
        if (!partial && morMode) probe0.localCheckpoint(true) else probe0
      val changes = (if (partial) changesFull.drop(oldP) else changes1)
        .drop("__src_key")
      // combined diagnostics + touched-pair discovery, ONE job (r16):
      // the validation aggregate (dup/NULL keys, lossy key casts, bad
      // partition values — applyToLayout's key gate plus this layout's
      // home-directory gate), the partial orphan probe and the touched
      // (partition, bucket) distinct used to be three separate collects,
      // each paying a full job round-trip per DML statement. The checks
      // are unchanged, now evaluated on the post-expansion rows (the
      // expansion preserves the key multiset and carries user-stated
      // pcol values verbatim, so every gate sees the same facts — and
      // validation now provably inspects the exact rows applied).
      val rtBad =
        if (srcType == keyType) lit(false)
        else col("__src_key").isNotNull &&
          !(col(key).try_cast(srcType) <=> col("__src_key"))
      val pcolBad =
        if (hasPcol) !col(tomb) && (col(pcol).isNull ||
          !col(pcol).rlike("^[A-Za-z0-9._-]+$"))
        else lit(false)
      // expansion fills pcol from the corpus when the changeset lacks
      // it; an upsert for a key the corpus does not hold fills nothing —
      // no home directory, refuse (partial's orphan gate)
      val orphanBad =
        if (!hasPcol && partial) !col(tomb) && col(pcol).isNull
        else lit(false)
      val bucketOf = pmod(hash(col(key)), lit(buckets)).cast("int")
      val diagDf = probe.groupBy(col(key))
        .agg(count(lit(1)).as("__n"),
          max(when(pcolBad, 1).otherwise(0)).as("__badp"),
          max(when(rtBad, 1).otherwise(0)).as("__lossy"),
          max(when(orphanBad, 1).otherwise(0)).as("__orphan"))
        .filter(col(key).isNull || col("__n") > 1 || col("__badp") === 1 ||
          col("__lossy") === 1 || col("__orphan") === 1)
        .limit(5)
        .select(lit("diag").as("__tag"), col(key).cast("string").as("__a"),
          concat_ws("/", col("__n"), col("__badp"), col("__lossy"),
            col("__orphan")).as("__b"))
      // touched pairs = the changeset rows' NEW homes ∪ the matched
      // keys' OLD homes — both read off the one expanded frame now, no
      // second corpus scan
      val pairsDf = probe.filter(!col(tomb))
        .select(col(pcol).as("__a"), bucketOf.cast("string").as("__b"))
        .union(probe.filter(col(oldP).isNotNull)
          .select(col(oldP).as("__a"), bucketOf.cast("string").as("__b")))
        .distinct()
        .select(lit("pair").as("__tag"), col("__a"), col("__b"))
      val diagRows = diagDf.unionByName(pairsDf).collect()
      val offenders = diagRows.filter(_.getString(0) == "diag")
      // an orphan-only offender (1 row, clean key/pcol flags) gets the
      // partial-specific message; anything else the general gate's
      val (orphanOnly, hardBad) = offenders.partition { r =>
        r.getString(1) != null && r.getString(2) == "1/0/0/1"
      }
      require(hardBad.isEmpty,
        s"changeset violates one-row-per-'$key', carries a NULL key, an " +
          s"upsert's '$pcol' is NULL / not directory-safe " +
          s"([A-Za-z0-9._-]+), or its key (${srcType.sql}) does not " +
          s"round-trip through the layout's key type (${keyType.sql}): " +
          s"${hardBad.map(r => s"${r.getString(1)} " +
            s"[n/badp/lossy/orphan=${r.getString(2)}]").mkString(", ")}")
      require(orphanOnly.isEmpty,
        s"partial changeset upserts key(s) absent from the corpus with " +
          s"no '$pcol' value — an insert must state its partition: " +
          s"${orphanOnly.map(_.getString(1)).mkString(", ")}")
      if (preApply != null) preApply(served, changes)
      val touched = diagRows.filter(_.getString(0) == "pair")
        .map(r => (r.getString(1), r.getString(2).toInt)).toSet
      // the MOR fold's eviction arm: matched keys' old homes, a
      // projection of the checkpointed probe (it used to be its own
      // corpus semi-join + checkpoint)
      lazy val oldHomes = probe.filter(col(oldP).isNotNull)
        .select(col(key), col(oldP).as(pcol))
      val vpath = graft.operators.MergeOps.nextGenerationPath(s, chain)
      val staging = s"${t}_staging"
      // the no-op and MOR branches link files already on disk (no Spark
      // write job): the swing creates their staging table over them,
      // with the PHYSICAL file schema (files keep their own column names
      // under a mapping; the serving read projects logical). The write
      // branches' saveAsTable registered theirs.
      val overLinked = Some(org.apache.spark.sql.types.StructType(
        physSchema.filterNot(_.name == pcol)))
      val stagingSchema = if (touched.isEmpty) {
        // no-op changeset (empty, or tombstones for absent keys):
        // link the whole generation forward — sidecars too, verbatim —
        // the chain still advances so the apply is externally
        // observable (epoch, commit stamp)
        linkUntouched(curLoc, vpath, Set.empty)
        linkSidecars(chain, curLoc, vpath, skip = Set.empty)
        carryClusterMarker(curLoc, vpath)
        if (mapping.nonEmpty) CorpusLayout.writeMapping(vpath, mapping)
        overLinked
      } else if (morMode) {
        // MERGE-ON-READ: zero base bytes — every base file hard-links
        // forward, untouched partitions carry their sidecars verbatim,
        // and the changeset folds into the TOUCHED partitions' `_dv`
        // sidecars only (flat morSwingToPath's algebra, scoped per
        // partition: a key's base row lives only in its serving
        // partition, so its tombstone goes to the OLD home and its new
        // version to the NEW home's deltas — a cross-partition move is
        // one eviction + one upsert, two sidecar-sized writes)
        linkUntouched(curLoc, vpath, Set.empty)
        val touchedParts = touched.map(_._1)
        linkSidecars(chain, curLoc, vpath, skip = touchedParts)
        carryClusterMarker(curLoc, vpath)
        if (mapping.nonEmpty) CorpusLayout.writeMapping(vpath, mapping)
        // the sidecar lives in PHYSICAL space (it composes BEFORE the
        // mapping projection on read) — the logical-named changeset
        // translates back, dropped physical slots refilling as NULLs
        val changesPhys = CorpusLayout.toPhysical(changes, mapping, physSchema)
        val physCols = physSchema.fieldNames.toSeq.filterNot(_ == pcol)
        def emptyDf(sch: org.apache.spark.sql.types.StructType) =
          s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), sch)
        // BATCHED sidecar fold (optimization r15, guide §1.2/§5): the
        // per-partition loop here used to launch TWO serial write jobs
        // (plus its own sidecar reads and plan analysis) for every
        // touched partition — a driver loop in the query path billing a
        // P-partition trickle 2·P job rounds of fixed overhead. The fold
        // is per-(partition, key) set algebra, so it runs ONCE across
        // all touched partitions and ONE dynamic-partitioned write per
        // side fans the rows back out; the driver then renames each
        // `pcol=p/` staging dir into `pcol=p/_dv/{tombstones,deltas}`
        // (inode moves, no data pass). Semantics per partition are
        // applyChanges' algebra verbatim — every join below carries the
        // partition column, so rows never mix across partitions.
        val touchedSeq = touchedParts.toSeq.sorted
        val tombSchema = org.apache.spark.sql.types.StructType(
          Seq(physSchema(key)))
        val deltaSchema = org.apache.spark.sql.types.StructType(
          physSchema.filterNot(_.name == pcol))
        // explicit read schema: no footer-inference job per sidecar, and
        // an older (pre-ADD COLUMNS) delta file NULL-fills the missing
        // columns under the wider schema — the padding the read needs
        def unionPrev(side: String, sch: org.apache.spark.sql.types.StructType)
            : DataFrame =
          touchedSeq.flatMap { p =>
            val d = java.nio.file.Paths
              .get(curLoc, s"$pcol=$p", CorpusLayout.DvDir).resolve(side)
            if (java.nio.file.Files.isDirectory(d))
              Some(s.read.schema(sch).parquet(d.toString)
                .withColumn("__p", lit(p)))
            else None
          }.reduceOption(_ unionByName _)
            .getOrElse(emptyDf(sch).withColumn("__p", lit("")))
        // tombstones' = tombstones ∪ keys whose OLD home is p (kills the
        // base row; updates re-serve from the new home's deltas)
        val newTombsAll = unionPrev("tombstones", tombSchema)
          .select(col(key), col("__p"))
          .unionByName(oldHomes.select(col(key), col(pcol).as("__p")))
          .distinct()
        // deltas' = applyChanges(deltas_p, changeset slice relevant to
        // p): upserts whose NEW home is p land/replace; keys whose old
        // home is p but whose new version lives elsewhere (or is a
        // delete) evict their stale delta. (The explicit read schema
        // already NULL-fills columns an older sidecar predates.)
        val prevDeltas = unionPrev("deltas", deltaSchema)
        val upsAll = changesPhys.filter(!col(tomb))
          .filter(col(pcol).isin(touchedSeq: _*))
          .select(physCols.map(col) :+ col(tomb) :+ col(pcol).as("__p"): _*)
        val evictAll = oldHomes.select(col(key), col(pcol).as("__p"))
          .join(upsAll.select(col(key), col("__p")), Seq(key, "__p"), "left_anti")
          .select(col(key) +: physCols.filterNot(_ == key).map(c =>
            lit(null).cast(physSchema(c).dataType).as(c)) :+ col("__p"): _*)
          .withColumn(tomb, lit(true))
        val changesAll = upsAll.unionByName(evictAll)
        val newDeltasAll = prevDeltas
          .join(changesAll.select(col(key), col("__p")), Seq(key, "__p"), "left_anti")
          .unionByName(changesAll.filter(!col(tomb))
            .select(physCols.map(col) :+ col("__p"): _*))
        // one partitioned write per side: repartition by the partition
        // value so each touched partition lands as one file, then rename
        // each staging `pcol=p` dir into its sidecar home
        def writeSide(df: DataFrame, side: String,
                      sch: org.apache.spark.sql.types.StructType): Unit = {
          val stage = java.nio.file.Paths.get(vpath, s"_dv_stage_$side")
          df.withColumn(pcol, col("__p")).drop("__p")
            .repartition(col(pcol))
            .write.partitionBy(pcol).parquet(stage.toString)
          var template: java.nio.file.Path = null
          touchedSeq.foreach { p =>
            val dst = java.nio.file.Paths
              .get(vpath, s"$pcol=$p", CorpusLayout.DvDir).resolve(side)
            java.nio.file.Files.createDirectories(dst.getParent)
            val src = stage.resolve(s"$pcol=$p")
            if (java.nio.file.Files.isDirectory(src))
              java.nio.file.Files.move(src, dst)
            else {
              // a fold side with zero rows for p still needs a readable
              // (schema-bearing) sidecar — both sides exist together, the
              // read path's contract. One empty template per apply,
              // hard-linked into each empty home.
              if (template == null) {
                val tdir = stage.resolve("_template")
                emptyDf(sch).repartition(1).write.parquet(tdir.toString)
                template = {
                  val kids = java.nio.file.Files.list(tdir)
                  try {
                    import scala.jdk.CollectionConverters._
                    kids.iterator().asScala.find(
                      _.getFileName.toString.endsWith(".parquet")).getOrElse(
                      throw new IllegalStateException(
                        "empty-template write produced no parquet file"))
                  } finally kids.close()
                }
              }
              java.nio.file.Files.createDirectories(dst)
              graft.operators.MergeOps.linkOrCopy(template,
                dst.resolve(template.getFileName))
            }
          }
          graft.FsUtil.deleteRecursively(stage)
        }
        writeSide(newTombsAll, "tombstones", tombSchema)
        writeSide(newDeltasAll, "deltas", deltaSchema)
        overLinked
      } else {
        // a changeset touching MOST pairs is a rewrite wearing CoW's
        // clothes: past this bound the per-pair predicate tree and the
        // link walk cost more than the full rewrite they avoid. A CoW
        // apply over a MOR tip also rewrites fully: the pair fast path
        // hard-links base files whose sidecar edits it would silently
        // drop — the full rewrite's source is the COMPOSED frame, so
        // the sidecars fold away (MergeOps' mixed-mode convergence rule)
        val full = touched.size > 4096 || tipDv
        // pair path runs in PHYSICAL space: rewritten files sit next to
        // hard-linked ones, so both keep the files' own column names and
        // the mapping + cluster markers carry forward (the rewritten
        // pairs RECOMPUTE `_zv` and re-sort/re-split — without that,
        // each touched pair folds back into one key-sorted wide file
        // and pruning quality decays apply over apply). The full
        // rewrite REBASES — its source is the LOGICAL view, so logical
        // names become the new physical truth; the cluster spec
        // translates its columns through the mapping (dying if one was
        // dropped) and only the `_zv`-hiding entry carries.
        val spec0 = CorpusLayout.readClusterSpec(curLoc)
        if (full) {
          clusteredWrite(s,
            graft.operators.MergeOps.applyChanges(served, changes, key),
            spec0.flatMap(CorpusLayout.rebaseSpec(_, mapping)),
            buckets, key, pcol, vpath, staging, carryMapping = Map.empty)
        } else {
          // read ONLY the touched pairs: the isin conjunct prunes
          // partitions (directory arithmetic), the pair-membership test
          // narrows to the pair's bucket within them. The membership is
          // ONE InSet over `pcol#bucket` strings (optimization r15) —
          // the per-pair `(pcol = p AND bucket = b)` disjunction this
          // replaces planned a |touched|-term OR that re-instantiated
          // the bucket hash per term, and a broad changeset (hundreds of
          // touched pairs) paid seconds of optimizer time per apply on
          // that tree. '#' cannot appear in a directory-safe partition
          // value, so the concat key is collision-free.
          val touchedPs = touched.map(_._1).toSeq
          val pairKeys = touched.map { case (p, b) => s"$p#$b" }.toSeq
          val pairPred = concat_ws("#", col(pcol), bucketOf.cast("string"))
            .isin(pairKeys: _*)
          val touchedCur = physServed
            .filter(col(pcol).isin(touchedPs: _*) && pairPred)
          val merged = graft.operators.MergeOps.applyChanges(touchedCur,
            CorpusLayout.toPhysical(changes, mapping, physSchema), key)
          clusteredWrite(s, merged, spec0, buckets, key, pcol, vpath,
            staging, carryMapping = mapping)
          linkUntouched(curLoc, vpath, touched)
        }
        None
      }
      // change data feed: persist THIS apply's effective changeset as a
      // `_cdf/` sidecar at the generation ROOT (next to the partition
      // dirs — underscore-invisible to every data scan). `served` still
      // resolves: the old generation's files are kept on disk for
      // in-flight readers, this read included. Slices speak the LOGICAL
      // schema, the flat feed's contract.
      if (graft.operators.MergeOps.changeFeedOn(s))
        graft.operators.MergeOps.writeChangeFeedSlice(
          s, served, changes, key, vpath)
      chain.markComplete(vpath, buckets)
      chain.swing(s, vpath, buckets, stagingSchema)
      vpath
    }
  }

  /** Serve the filesystem's newest complete generation before deriving
    * anything from the catalog — another writer may have advanced the
    * chain since this session last looked (or a fresh JVM never looked).
    */
  private[graft] def resync(s: SparkSession, corpusDir: String,
                            table: String): Unit = {
    val t = tableName(table, corpusDir)
    if (!s.catalog.tableExists(t)) { repairServing(s, corpusDir, table); () }
    else {
      val newest = graft.operators.MergeOps.generations(s,
        Chain.partitioned(s, corpusDir, table)).lastOption.map(_._2)
      val (curLoc0, _) = graft.operators.MergeOps.tableLayout(s, t)
      if (newest.exists(n => java.nio.file.Paths.get(n).normalize !=
          java.nio.file.Paths.get(curLoc0).normalize)) {
        drop(s, corpusDir, table)
        repairServing(s, corpusDir, table)
      }
    }
  }

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

  /** Fold the chain's newest state into ONE fresh generation — the
    * partitioned OPTIMIZE: rewrites the COMPOSED frame (MOR sidecars
    * fold away, per-pair fragmentation heals back to one file per
    * (partition, bucket)), advancing the chain so in-flight readers of
    * the old tip stay valid until vacuum.
    */
  def compact(s: SparkSession, corpusDir: String,
              table: String = "documents"): String = {
    val key = CorpusLayout.keyed(table)
    graft.operators.GenerationLease.withLease(
        s, corpusDir, s"$table@partitioned") {
      resync(s, corpusDir, table)
      val t = tableName(table, corpusDir)
      require(s.catalog.tableExists(t),
        s"no partitioned layout for ($corpusDir, $table)")
      val (curLoc, buckets) = graft.operators.MergeOps.tableLayout(s, t)
      val chain = chainAt(corpusDir, table, curLoc)
      val composed = composedFrame(s, chain, curLoc)
      val vpath = graft.operators.MergeOps.nextGenerationPath(s, chain)
      // a rebase: the composed LOGICAL view becomes the physical truth,
      // the mapping clears, and a cluster spec translates its columns
      // through the mapping (recomputed `_zv`, fresh tight boxes)
      val spec = CorpusLayout.readClusterSpec(curLoc)
        .flatMap(CorpusLayout.rebaseSpec(_,
          CorpusLayout.readMapping(curLoc)))
      clusteredWrite(s, composed, spec, buckets, key, chain.partitionCol.get,
        vpath, s"${t}_staging", carryMapping = Map.empty)
      chain.markComplete(vpath, buckets)
      chain.swing(s, vpath, buckets, None)
      vpath
    }
  }

  /** Carry the `_CLUSTER` marker across a generation that links its
    * files forward (no-op, MOR and metadata swings) — the linked files
    * still honor the spec's `_zv` sort.
    */
  private def carryClusterMarker(curLoc: String, vpath: String): Unit = {
    val cl = java.nio.file.Paths.get(curLoc, CorpusLayout.ClusterMarker)
    if (java.nio.file.Files.exists(cl)) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(vpath))
      java.nio.file.Files.copy(cl,
        java.nio.file.Paths.get(vpath, CorpusLayout.ClusterMarker))
    }
  }

  /** Hard-link every data file of `curLoc`'s partition subdirs whose
    * (partition, bucket) pair is untouched into the same relative
    * location under `vpath`.
    */
  private def linkUntouched(curLoc: String, vpath: String,
                            touched: Set[(String, Int)]): Unit = {
    val cur = java.nio.file.Paths.get(curLoc)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(vpath))
    val parts = java.nio.file.Files.list(cur)
    try {
      import scala.jdk.CollectionConverters._
      parts.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.contains("="))
        .foreach { pdir =>
          val dirName = pdir.getFileName.toString
          val value = dirName.split("=", 2)(1)
          require(SafeValue.pattern.matcher(value).matches(),
            s"partition dir '$dirName' carries an escaped value — " +
              "outside this layout's directory-safe contract")
          val files = java.nio.file.Files.list(pdir)
          try {
            files.iterator().asScala
              .filter(f => f.getFileName.toString.endsWith(".parquet"))
              .foreach { f =>
                val b = graft.operators.MergeOps
                  .bucketIdOf(f.getFileName.toString)
                  .getOrElse(throw new IllegalStateException(
                    s"unbucketed data file in partitioned layout: $f"))
                if (!touched.contains((value, b))) {
                  val destDir = java.nio.file.Paths.get(vpath, dirName)
                  java.nio.file.Files.createDirectories(destDir)
                  graft.operators.MergeOps.linkOrCopy(
                    f, destDir.resolve(f.getFileName))
                }
              }
          } finally files.close()
        }
    } finally parts.close()
  }

  /** Hard-link each partition's `_dv` sidecar forward verbatim,
    * except the partitions in `skip` (whose fold writes fresh
    * sidecars) — the MOR carry step.
    */
  private def linkSidecars(chain: Chain, curLoc: String, vpath: String,
                           skip: Set[String]): Unit =
    chain.dvDirs(curLoc).foreach { case (v, pdir) =>
      if (!skip.contains(v)) {
        val dstPart = java.nio.file.Paths.get(vpath,
          pdir.getFileName.toString)
        val src = pdir.resolve(CorpusLayout.DvDir)
        val walk = java.nio.file.Files.walk(src)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.foreach { f =>
            val dst = dstPart.resolve(pdir.relativize(f).toString)
            if (java.nio.file.Files.isDirectory(f))
              java.nio.file.Files.createDirectories(dst)
            else graft.operators.MergeOps.linkOrCopy(f, dst)
          }
        } finally walk.close()
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

  /** Read retained generation `n` as the frame it SERVED: each partition
    * dir read with its value re-attached as a LITERAL (no partition-type
    * inference — values are directory strings verbatim, and a filter on
    * the partition column constant-folds whole arms away, the audit
    * read's form of directory pruning), with that generation's `_dv`
    * sidecars folded on top. Fails with the retained have-list for a
    * vacuumed or unknown generation — the flat
    * [[graft.operators.MergeOps.readGeneration]]'s contract, one tier
    * down.
    */
  def readGeneration(s: SparkSession, corpusDir: String, table: String,
                     n: Int): DataFrame = {
    val gens = graft.operators.MergeOps.generations(s,
      Chain.partitioned(s, corpusDir, table))
    val p = gens.collectFirst { case (g, path) if g == n => path }
      .getOrElse(throw new IllegalArgumentException(
        s"generation $n of ($corpusDir, $table) is not retained — have: " +
          s"${gens.map(_._1).mkString(", ")}"))
    val chain = chainAt(corpusDir, table, p)
    val pcol = chain.partitionCol.get
    val parts = chain.dataDirs(p)
    require(parts.nonEmpty,
      s"generation $n at $p has no partition dirs — not a partitioned " +
        "generation")
    // mergeSchema: a schema-evolved generation's added columns live
    // only in the anchor's footer; plain inference could re-attach a
    // pre-evolution shape. The union schema is inferred ONCE over the
    // whole generation (optimization r15 — the per-dir mergeSchema
    // reads used to run one footer-inference job per partition dir,
    // ~20 serial jobs per VERSION AS OF read); each partition dir then
    // reads under that explicit schema, which NULL-fills columns a
    // pre-anchor dir lacks — exactly what allowMissingColumns did.
    val genSchema = org.apache.spark.sql.types.StructType(
      s.read.option("mergeSchema", "true")
        .parquet(parts.map(_._2.toString): _*).schema
        .filterNot(_.name == pcol))
    val base = parts.map { case (v, d) =>
      s.read.schema(genSchema).parquet(d.toString)
        .withColumn(pcol, lit(v)) }
      .reduce(_ unionByName _)
    // that generation's OWN sidecars and mapping — not the tip's
    CorpusLayout.applyMapping(
      composeDv(s, chain, base, p),
      CorpusLayout.readMapping(p))
  }

  /** Drop the catalog table (files stay; a fresh session re-creates the
    * table from the newest generation with [[repairServing]]).
    */
  def drop(s: SparkSession, corpusDir: String, table: String): Unit =
    s.sql(s"DROP TABLE IF EXISTS ${tableName(table, corpusDir)}")

  /** Re-attach the newest complete generation in a fresh session —
    * the flat layout's filesystem-as-truth discipline, one tier down.
    */
  def repairServing(s: SparkSession, corpusDir: String,
                    table: String): Option[String] = {
    val t = tableName(table, corpusDir)
    if (s.catalog.tableExists(t)) return None
    val chain = Chain.partitioned(s, corpusDir, table)
    graft.operators.MergeOps.generations(s, chain).reverse.collectFirst {
      case (_, p) if chain.isComplete(p) => p
    }.map { p =>
      val buckets = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p, CorpusLayout.BucketsMarker)), "UTF-8")
        .trim.toInt
      val pcol = readPcol(p)
      val key = chain.key
      val sortCol = CorpusLayout.sortColFor(p).getOrElse(key)
      // mergeSchema: an evolved generation's added columns live only in
      // the anchor's footer — plain inference could lose them
      val schema = s.read.option("mergeSchema", "true").parquet(p).schema
      val ddl = org.apache.spark.sql.types.StructType(
        schema.filterNot(_.name == pcol)).toDDL
      s.sql(s"CREATE TABLE $t ($ddl, $pcol STRING) USING PARQUET " +
        s"PARTITIONED BY ($pcol) " +
        s"CLUSTERED BY ($key) SORTED BY ($sortCol) INTO $buckets BUCKETS " +
        s"LOCATION '$p'")
      registerPartitions(s, chainAt(corpusDir, table, p), p)
      p
    }
  }
}
