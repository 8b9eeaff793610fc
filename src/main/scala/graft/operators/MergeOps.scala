package graft.operators

import graft.sources.{Chain, CorpusLayout}
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.functions._

/** CDC MERGE — the APPLY verb of the incremental-corpus lifecycle
  * (SURVEY §2.H, §2.I p26).
  *
  * The engine can already diff two releases (p17), null-safe-join CDC
  * keys (q47), and dedup incremental ingest waves (d25/IncrementalDedup);
  * this module closes the loop by applying a changeset to a corpus:
  * MERGE INTO semantics — matched→update, not-matched→insert,
  * matched+tombstone→delete — expressed as the anti+union composition
  * Catalyst plans well, plus the inverse operation ([[changeset]]) that
  * derives a minimal changeset FROM two releases, so
  * `applyChanges(v1, changeset(v1, v2)) ≡ v2` row-for-row (the p26
  * oracle law: the DuckDB side computes v2 directly, the Spark side
  * goes diff → changeset → merge).
  *
  * Changesets are FULL-ROW upserts (a re-crawled document replaces its
  * old payload wholesale) plus tombstones — the shape a crawl/CDC feed
  * actually emits. Column-granular updates would force a read-modify-
  * write of the matched row; full-row upserts keep the apply a pure
  * anti-join + union, which is what lets it run shuffle-free over the
  * bucketed [[CorpusLayout]] (see [[applyToLayout]]).
  *
  * Scale discipline (100 TB):
  *  - the apply touches the target ONCE: one LEFT ANTI join on the key
  *    (broadcast when the changeset is day-sized — the common case — so
  *    the corpus never shuffles; sort-merge over buckets when both sides
  *    are bucketed, still zero Exchange on the corpus side) and one
  *    union with the upsert rows;
  *  - [[changeset]] hashes both releases' payloads FIRST and diffs
  *    (key, hash) pairs — p17's discipline: the wide text column never
  *    rides the diff join; upsert payloads are fetched by a key
  *    semi-join-back bounded by the change count;
  *  - [[applyToLayout]] writes the merged corpus as a NEW bucketed
  *    generation next to the old one (VectorIndexStore's versioning
  *    recipe): in-flight readers of the previous generation keep intact
  *    files, and every post-apply id-keyed join stays Exchange-free.
  */
object MergeOps {

  /** Column marking a changeset row as a delete. Upserts carry the full
    * new payload with `tombstone = false`; tombstones carry the key and
    * `tombstone = true` (payload columns are ignored — null by
    * convention from [[changeset]]).
    */
  val TombstoneCol = "tombstone"

  /** Internal changeset column: the partition value of each row's
    * pre-image on a partitioned chain (NULL for a key the chain does not
    * hold). A changeset derived from the served frame — SQL UPDATE and
    * DELETE — already knows it, and carrying it spares the apply its
    * old-home lookup against the corpus. Full-row changesets only.
    */
  private[graft] val OldHomeCol = "__oldp"

  /** Snapshot `df` (a local checkpoint, so a non-deterministic source is
    * read exactly once) at a changeset-sized partition count: the
    * materializing job also sums each partition's row bytes, and the
    * snapshot coalesces to one partition per advisory partition size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`). A changeset
    * cut from a corpus scan would otherwise keep the scan's partition
    * count, and every later action over it — the diagnostics collect,
    * the unit discovery, the MOR fold — would fan out into that many
    * mostly-empty tasks. The snapshot also plans at the measured size:
    * the checkpoint's `LogicalRDD` would keep the size estimate of the
    * plan it was cut from (corpus-sized for a changeset cut from a
    * corpus scan), and the unit rewrite's anti-join would then plan as a
    * sort-merge join and shuffle the touched rows by key instead of
    * broadcasting the changeset keys.
    */
  private[graft] def snapshot(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = false)
    val bytes = cp.queryExecution.toRdd.mapPartitions { it =>
      Iterator(it.map {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u.getSizeInBytes.toLong
        case _ => 64L
      }.sum)
    }.collect()
    val sized = cp.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        GraftPlanBridge.ofRows(s, r.copy()(s,
          Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(bytes.sum)),
          Some(r.constraints)))
    }
    val target = df.sparkSession.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val parts = math.max(1L, (bytes.sum + target - 1) / target)
    if (parts >= bytes.length) sized else sized.coalesce(parts.toInt)
  }

  /** Session conf selecting the durable apply strategy: `cow` (default)
    * rewrites touched buckets — write cost has a bucketBytes FLOOR per
    * touched bucket; `mor` (merge-on-read) hard-links every base file
    * and writes the batch as a `_dv/` sidecar (tombstone keys + delta
    * rows) the read path composes — write cost ≈ delta bytes, read pays
    * a broadcast anti-join until a fold. The Delta/Iceberg deletion-
    * vector trade, exposed as a conf so p26/p28-style flows run
    * unchanged over either path; [[compact]], [[rebucket]]
    * and any CoW apply over a MOR tip fold the sidecar away.
    */
  val MergeModeKey = "spark.graft.merge.mode"

  /** Session conf enabling the CHANGE DATA FEED (Delta's
    * `enableChangeDataFeed` shape, "CDC out" to the MERGE verbs' "CDC
    * in"): when true, every [[applyToLayout]] also persists its
    * effective changeset as a `_cdf/` sidecar inside the new generation
    * dir — key + payload + `_change_type`
    * (insert / update_postimage / delete; replay-safe no-op tombstones
    * are excluded because they changed nothing) — so downstream
    * consumers (index rebuilds, replicas, caches) read WHAT CHANGED
    * per generation at delta cost instead of diffing corpus pairs.
    * [[changeFeed]] is the read verb; `graft_changes(table, from, to)`
    * the SQL spelling. Off by default: the feed costs one extra
    * changeset-sized write + one corpus keys-only semi-join per apply
    * (matched-ness decides insert vs update). Generations that change
    * no rows (metadata swings, compaction, rebucket) contribute empty
    * slices.
    */
  val ChangeFeedKey = "spark.graft.merge.changeFeed"

  /** Opt-in `update_preimage` rows in the change feed (Delta CDF's row
    * type): the OLD values of every updated key, from one more
    * changeset-keyed semi-join against the pre-apply served frame —
    * changeset-sized, never a corpus rewrite. Off by default: the
    * post-image-only feed replays exactly with half the sidecar bytes,
    * and time travel already serves old values; turn this on for
    * consumers that expect Delta's pre+post pairing.
    */
  val PreImageKey = "spark.graft.merge.changeFeed.preImages"

  private[graft] def changeFeedOn(s: SparkSession): Boolean =
    s.conf.getOption(ChangeFeedKey).exists(_.toBoolean)

  /** Test-only fault injection for the crash-recovery harness: set to
    * "before-pointer" to halt the JVM inside every chain commit
    * ([[graft.sources.Chain.commit]]), after the markers and before the
    * pointer — the one window where the new generation is complete on
    * disk but not yet the tip.
    * CrashRecoverySpec's merge mode drives it; never set in production.
    */
  private[graft] val CrashPointKey = "spark.graft.merge.crashPoint"

  /** MERGE INTO target USING changes: matched upsert rows replace the
    * target row, unmatched upserts insert, matched tombstones delete.
    * Unmatched tombstones are no-ops (MERGE's WHEN MATCHED AND delete
    * clause — deleting a row that's already gone is not an error, which
    * is what makes a changeset REPLAYABLE: applying it twice yields the
    * same corpus).
    *
    * `changes` must carry the key, every payload column of `target`
    * (same names), and [[TombstoneCol]]. Exactly-one-row-per-key is the
    * caller's contract, as in SQL MERGE (two changes for one key would
    * make the result order-dependent; [[changeset]] emits at most one).
    *
    * Schema EVOLUTION (`evolveSchema = true`): the changeset may carry
    * columns the target lacks — they are ADDED, with untouched rows
    * reading NULL (SQL's ADD COLUMN semantics, Delta's mergeSchema).
    * Off by default so a typo'd column name fails loudly instead of
    * silently forking the schema.
    *
    * Plan shape: target LEFT ANTI changes.keys (the untouched rows — the
    * only corpus-sized stage, broadcast or bucket-co-located) UNION ALL
    * changes.upserts. Nothing pairwise, no window, no global sort.
    */
  def applyChanges(target: DataFrame, changes0: DataFrame,
                   key: String = "doc_id",
                   evolveSchema: Boolean = false,
                   partial: Boolean = false): DataFrame = {
    require(changes0.columns.contains(TombstoneCol),
      s"changeset must carry a '$TombstoneCol' boolean column")
    // partial = UPDATE SET semantics: absent payload columns coalesce
    // from the matched row via [[expandPartial]]. Off by default so a
    // misspelled column in a full-row feed still fails loudly below
    // instead of silently reading as "keep the old value".
    val changes = if (partial) expandPartial(target, changes0, key) else changes0
    val payload = target.columns.filterNot(_ == key)
    val missing = (Seq(key) ++ payload).filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changeset is missing target columns: ${missing.mkString(", ")}" +
        " — pass partial = true for UPDATE SET semantics (absent columns" +
        " keep the matched row's value)")
    val extra = changes.columns.filterNot(c =>
      c == key || c == TombstoneCol || payload.contains(c))
    require(evolveSchema || extra.isEmpty,
      s"changeset carries columns the target lacks: ${extra.mkString(", ")}" +
        " — pass evolveSchema = true to add them (untouched rows read NULL)")
    val anti = target.join(changes.select(col(key)), Seq(key), "left_anti")
    val untouched = extra.foldLeft(anti)((d, c) =>
      d.withColumn(c, lit(null).cast(changes.schema(c).dataType)))
    val upserts = changes.filter(!col(TombstoneCol))
      .select(col(key) +: (payload ++ extra).map(col): _*)
    untouched.unionByName(upserts)
  }

  /** Expand a PARTIAL-COLUMN changeset (key + any subset of payload
    * columns + [[TombstoneCol]]) into the full-row form [[applyChanges]]
    * merges — SQL MERGE's `WHEN MATCHED THEN UPDATE SET col = v` /
    * Delta's partial-update shape, so a feed that knows only the changed
    * columns no longer has to pre-join the corpus itself:
    *
    *  - a payload column PRESENT in the changeset overwrites the matched
    *    row's value (including an explicit NULL — presence means "SET");
    *  - a payload column ABSENT from the changeset keeps the matched
    *    row's value, and reads NULL for an inserted (unmatched) key;
    *  - tombstones need carry only the key;
    *  - columns the target lacks ride through untouched (evolution —
    *    [[applyChanges]]'s `evolveSchema` contract decides their fate).
    *
    * Scale: the matched rows' absent-column values come from ONE
    * changeset-key semi-join against the target (build side = the
    * changeset keys — broadcast when day-sized, bucket-co-located over a
    * [[graft.sources.CorpusLayout]]), then a changeset-sized×changeset-
    * sized left join stitches them on. The corpus is never shuffled and
    * its wide columns ride only for matched keys.
    */
  def expandPartial(target: DataFrame, changes: DataFrame,
                    key: String = "doc_id"): DataFrame = {
    require(changes.columns.contains(TombstoneCol),
      s"changeset must carry a '$TombstoneCol' boolean column")
    require(changes.columns.contains(key),
      s"changeset must carry the key column '$key'")
    val payload = target.columns.filterNot(_ == key)
    val absent = payload.filterNot(changes.columns.contains)
    if (absent.isEmpty) changes
    else {
      val present = changes.columns
        .filterNot(c => c == key || c == TombstoneCol)
      val old = target.join(changes.select(col(key)), Seq(key), "left_semi")
        .select(col(key) +: absent.map(col): _*)
      changes.join(old, Seq(key), "left")
        .select(col(key) +: (present ++ absent).map(col)
          :+ col(TombstoneCol): _*)
    }
  }

  /** Derive the minimal full-row changeset that transforms release `v1`
    * into release `v2` (same schema, unique key both sides): changed and
    * added keys become upserts carrying v2's payload, removed keys become
    * tombstones, unchanged keys are absent. This is p17's row-level diff
    * emitted in applicable form — `applyChanges(v1, changeset(v1, v2))`
    * equals v2 row-for-row (p26's cross-engine law; MergeSpec pins it at
    * the row level including the bridging cases).
    *
    * Scale: both sides reduce to (key, 64-bit payload hash) before the
    * FULL OUTER diff join — the join carries 16 bytes/row, never text
    * (p17's rule). Upsert payloads come from a LEFT SEMI join-back of v2
    * against the changed/added key set, co-partitioned on the key the
    * diff join just partitioned by.
    */
  def changeset(v1: DataFrame, v2: DataFrame,
                key: String = "doc_id"): DataFrame = {
    require(v1.columns.sorted.sameElements(v2.columns.sorted),
      "changeset requires identical release schemas")
    val payload = v1.columns.filterNot(_ == key)
    def hashed(v: DataFrame, as: String): DataFrame =
      v.select(col(key), xxhash64(payload.map(col): _*).as(as))
    val d = hashed(v1, "__h1").join(hashed(v2, "__h2"), Seq(key), "full_outer")
    val upsertKeys = d.filter(col("__h2").isNotNull &&
        (col("__h1").isNull || col("__h1") =!= col("__h2")))
      .select(col(key))
    val upserts = v2.join(upsertKeys, Seq(key), "left_semi")
      .withColumn(TombstoneCol, lit(false))
    val tombs = d.filter(col("__h2").isNull).select(
      col(key) +:
        payload.map(c => lit(null).cast(v1.schema(c).dataType).as(c)) :+
        lit(true).as(TombstoneCol): _*)
    upserts.unionByName(tombs)
  }

  private[graft] def layoutRoot(s: SparkSession, corpusDir: String): String =
    CorpusLayout.layoutRoot(s, corpusDir).getOrElse(
      throw new IllegalStateException(
        s"${CorpusLayout.ConfKey} is not set on this session — no layout to apply into"))

  /** Bucket ids the changeset touches under the layout's bucket spec —
    * `pmod(hash(key), buckets)`, the exact expression Spark's bucketed
    * writer and HashPartitioning use, so membership here IS membership
    * in the bucket file. Driver-collects at most `buckets` ints
    * (metadata-sized by construction).
    */
  private[graft] def touchedBuckets(changes: DataFrame, key: String,
                                    buckets: Int): Set[Int] =
    changes.select(bucketId(key, buckets).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet

  /** A row's bucket under a `buckets`-way spec on `key`. A write that
    * shuffles by it puts each bucket in exactly one task — one file per
    * bucket — while AQE sizes the tasks to the data.
    */
  private[graft] def bucketId(key: String, buckets: Int): Column =
    pmod(hash(col(key)), lit(buckets))

  /** Bucket id encoded in a bucketed-parquet file name
    * (`part-00000-<uuid>_00007.c000.snappy.parquet` → 7). None for
    * non-data files (`_SUCCESS`) and unbucketed names. The `_NNNNN`
    * group is Spark's `%05d` bucket suffix; `part-00000` is dash-joined
    * and UUIDs carry no underscores, so the last such group is the
    * bucket id.
    */
  private[graft] def bucketIdOf(name: String): Option[Int] = {
    if (!name.endsWith(".parquet")) None
    else {
      val m = java.util.regex.Pattern.compile("_(\\d{5})\\.").matcher(name)
      var id: Option[Int] = None
      while (m.find()) id = Some(m.group(1).toInt)
      id
    }
  }

  private[graft] def linkOrCopy(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    try java.nio.file.Files.createLink(to, from)
    catch {
      case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        java.nio.file.Files.copy(from, to)
    }

  /** Path of the next generation: one past the newest `<table>_vN`
    * (the base `materialize` build lives at `<table>`, generation 0).
    */
  private[graft] def nextGenerationPath(s: SparkSession, chain: Chain): String = {
    val next = generations(s, chain).map(_._1).foldLeft(0)(math.max) + 1
    val root = chain.root(s).getOrElse(throw new IllegalStateException(
      s"${CorpusLayout.ConfKey} is not set on this session — no layout to apply into"))
    s"$root/${chain.table}_v$next"
  }

  /** Apply a changeset to a generation chain — flat or partitioned —
    * producing a NEW generation: the end-to-end incremental corpus
    * refresh, one implementation for both chain kinds. The write unit
    * is the pair (partition value, bucket): `("", bucket)` over a flat
    * chain's generation root, `(value, bucket)` over a partitioned
    * chain's `pcol=value/` dirs.
    *
    *  1. COPY-ON-WRITE at unit granularity (the default): a changeset
    *     key can only land in bucket `pmod(hash(key), B)` — the same
    *     expression the bucketed writer used — and, on a partitioned
    *     chain, in its old and new partition, so a unit holding no
    *     changeset key is PROVABLY untouched. Only the touched units'
    *     files are read (by name), merged and rewritten; every other
    *     file is hard-linked into the new generation byte-for-byte (copy
    *     when the filesystem refuses links). Apply cost scales with the
    *     CHANGED fraction, not the corpus. (On an object store the link
    *     step becomes a manifest entry — the Iceberg/Delta recipe.)
    *  2. the merged rows repartition by the bucket expression before the
    *     write — one Exchange of TOUCHED data only, one new file per
    *     touched unit, so generations never fragment under streaming
    *     micro-batches ([[graft.streaming.StreamingMerge]]);
    *  3. the new generation lands at `<root>/<table>_vN` with the SAME
    *     bucket spec and is committed ([[Chain.commit]]: schema record,
    *     markers, then the pointer);
    *  4. previous generation files are never deleted here (in-flight
    *     plans resolved their paths at construction); reclaim drained
    *     generations with [[vacuum]].
    *
    * One full-rewrite (REBASE) rule: `cow = false`, a tip carrying MOR
    * sidecars (the unit path would hard-link base files whose sidecar
    * edits it would drop), an unbucketed file name, no untouched file
    * left to link, or more than 4096 touched units rewrite the composed
    * logical frame as a complete new generation. `mode = "mor"` (or the
    * [[MergeModeKey]] conf) folds the changeset into `_dv` sidecars
    * instead. Flat chains additionally run their upkeep: the sizing
    * policy ([[maybeRebucket]]) before, the stats-manifest carry and the
    * SignatureStore / VectorIndexStore applies after.
    *
    * Returns the new generation's path.
    */
  def applyToLayout(s: SparkSession, corpusDir: String, changes0: DataFrame,
                    table: String = "documents",
                    cow: Boolean = true,
                    evolveSchema: Boolean = false,
                    partial: Boolean = false,
                    mode: String = ""): String =
    applyToLayoutFrom(s, Chain.flat(corpusDir, table), partial, null, cow,
      evolveSchema, mode)(_ => changes0)

  /** [[applyToLayoutFrom]] with a fixed changeset, on either chain kind. */
  def applyToLayout(s: SparkSession, chain: Chain, changes: DataFrame): String =
    applyToLayoutFrom(s, chain)(_ => changes)

  /** The ONE apply (see [[applyToLayout]]) with the changeset DERIVED
    * from the served frame INSIDE the single-writer lease (post-resync):
    * a command whose changeset or validation reads the corpus it is about
    * to edit (INSERT's existing-key probe, OVERWRITE's gone-key anti-join,
    * UPDATE/DELETE's WHERE scan) would otherwise check-then-act across a
    * concurrent writer's commit. `mkChanges` receives the lease-resynced
    * served (composed, logical) frame; `preApply` runs after the
    * changeset snapshot and validation with (served frame, changeset) —
    * the rows it approves are bit-for-bit the rows applied.
    *
    * `partial = true` expands a sparse changeset (key + assigned columns,
    * UPDATE SET semantics) to full rows from the served frame: absent
    * columns — a partition column included — fill from the matched row,
    * so `UPDATE SET lang = …` never moves a row, while an explicit `SET
    * <pcol> = …` is a cross-partition move billed at its two homes.
    * Upserts on a partitioned chain must end up with a directory-safe
    * partition value; tombstones need only the key. `evolveSchema` adds
    * changeset columns the target lacks (untouched rows read NULL).
    *
    * Old homes — the partition each changeset key's pre-image lives in,
    * one side of its touched units — come from the changeset itself when
    * it carries [[OldHomeCol]] (SQL UPDATE / DELETE take it from their
    * WHERE scan), and otherwise from one semi-join against the served
    * frame, shared with the partial expansion and [[snapshot]]ted once.
    * Either way the corpus is read once per apply, and every stage after
    * that read is changeset-sized.
    */
  def applyToLayoutFrom(s: SparkSession, chain: Chain,
                        partial: Boolean = false,
                        preApply: (DataFrame, DataFrame) => Unit = null,
                        cow: Boolean = true,
                        evolveSchema: Boolean = false,
                        mode: String = "")
                       (mkChanges: DataFrame => DataFrame): String = {
    val (key, pcol) = (chain.key, chain.partitionCol)
    val morMode = (if (mode.nonEmpty) Some(mode)
      else s.conf.getOption(MergeModeKey)).getOrElse("cow") match {
      case "mor" => true
      case "cow" => false
      case other => throw new IllegalArgumentException(
        s"$MergeModeKey must be 'cow' or 'mor', got '$other'")
    }
    require(!(morMode && evolveSchema),
      "schema evolution requires a rewriting apply — MOR hard-links the " +
        "base files verbatim; use mode=cow for the evolving batch")
    // single-writer fence: every chain-mutating step below — resolve,
    // write, link, commit — runs under the generation lease, and the
    // FIRST fenced step re-syncs the pointer to the chain's newest
    // complete generation, so a concurrent writer in another JVM can
    // never be merged over (lost update) or raced to the same _vN.
    GenerationLease.withLease(s, chain.corpusDir, chain.leaseKey) {
      chain.resync(s)
      require(chain.tip(s).isDefined, s"no layout for (${chain.corpusDir}, " +
        s"${chain.table}) — materialize it first")
      // flat upkeep: the sizing policy (see [[TargetBucketBytesKey]]) pays
      // its one full rewrite now, so THIS apply is already changeset-sized
      // under the new B; everything below resolves after it
      if (!chain.partitioned) maybeRebucket(s, chain.corpusDir, chain.table)
      val (curLoc, buckets) = chain.layout(s)
      val tipDv = chain.dvDirs(curLoc).nonEmpty
      val mapping = CorpusLayout.readMapping(curLoc)
      // the tip's recorded schema: the apply merges and writes in
      // PHYSICAL space (files keep their own column names under a
      // mapping); the partition column is directory-named, never a file
      // column
      val fileSchema = chain.fileSchema(s, curLoc)
      val physSchema = chain.physicalSchema(s, curLoc)
      // the served view COMPOSES the tip's sidecars and mapping: the
      // derivation callback, old-row lookup and full rewrite all see the
      // LOGICAL view base⊖tombs∪deltas
      val served = chain.served(s).get
      val changes0 = mkChanges(served)
      val tomb = TombstoneCol
      require(changes0.columns.contains(tomb),
        s"changeset must carry a '$tomb' boolean column")
      // Bucket placement hashes the key's BINARY representation, and
      // murmur3 differs by width: an IntegerType changeset key against a
      // LongType corpus hashes to different bucket ids than the bucketed
      // writer used, so its real home unit would read as untouched and
      // hard-link forward unmodified. Cast the changeset key to the
      // target's type FIRST, with `try_cast` (plain `cast` throws under
      // ANSI and silently wraps without it) plus a round-trip check below
      // that also catches value-CHANGING conversions (double→long).
      val keyType = served.schema(key).dataType
      val srcType = changes0.schema(key).dataType
      // snapshot the changeset ONCE before anything durable or
      // validating: validation, the write, the `_cdf` slice and the index
      // applies each force this plan, and a non-deterministic source (a
      // foreachBatch frame, rand()-derived rows) would otherwise pass
      // validation on one row set and APPLY another. Changeset-sized.
      val changes1 = snapshot(if (srcType == keyType) changes0
        else changes0.withColumn("__src_key", col(key))
          .withColumn(key, col(key).try_cast(keyType)))
      // Where old homes come from. A changeset derived from the served
      // frame (SQL UPDATE / DELETE) carries them as [[OldHomeCol]] and
      // reads the corpus once, in its own WHERE scan. Otherwise ONE
      // changeset-keyed semi-join against the served frame serves both
      // the partial expansion's absent-column fill and a partitioned
      // chain's old-home lookup (the touched units' old side, and under
      // MOR the sidecar fold's eviction arm). The served side is
      // unique-keyed, so the left join preserves the changeset's key
      // multiset; an unmatched key fills NULL.
      val oldP = OldHomeCol
      val carried = changes1.columns.contains(oldP)
      val absent = if (!partial) Seq.empty[String]
        else served.columns.toSeq.filterNot(c => c == key || changes1.columns.contains(c))
      lazy val old = served.join(changes1.select(col(key)), Seq(key), "left_semi")
        .select((col(key) +: absent.filterNot(pcol.contains).map(col)) ++
          pcol.map(p => col(p).as(oldP)): _*)
      // partial: the expansion feeds the write, so it is snapshotted
      // once; a flat changeset with nothing absent needs no join at all.
      // The snapshot precedes validation on purpose: validation reads
      // the expanded rows (the rows actually applied), and running it on
      // the lazy expansion first would force the corpus join twice on
      // every valid partial apply — the common case — to spare only a
      // refused one
      val changesFull =
        if (!partial || (pcol.isEmpty && absent.isEmpty)) changes1
        else {
          val present = changes1.columns.toSeq.filterNot(c => c == key || c == tomb)
          snapshot(changes1.join(old, Seq(key), "left")
            .select(((col(key) +: present.map(col)) ++ absent.map(c =>
              if (pcol.contains(c)) col(oldP).as(c) else col(c)) ++
              pcol.map(_ => col(oldP)) :+ col(tomb)): _*))
        }
      // the frame validation and unit discovery read: the (expanded or
      // old-home-carrying) changeset itself, or on any other partitioned
      // apply a THIN (key, tombstone, pcol, old home) join, snapshotted so
      // that the diagnostics collect, its two unit arms and the MOR fold
      // never re-run the corpus join
      val probe = pcol match {
        case Some(p) if !partial && !carried =>
          snapshot(changes1.select(Seq(key, tomb, p, "__src_key")
              .filter(changes1.columns.contains).map(col): _*)
            .join(old, Seq(key), "left"))
        case _ => changesFull
      }
      val changes = changesFull.drop(oldP).drop("__src_key")
      // the units a write consumes: the CoW unit path, and the
      // partitioned MOR fold's touched partitions
      val needUnits = if (morMode) chain.partitioned else cow && !tipDv
      val newHome = pcol.filter(probe.columns.contains).map(col)
        .getOrElse(lit(null).cast("string"))
      // combined diagnostics + touched-unit discovery, ONE collect (r16):
      // the refusal classes — dup/NULL key, lossy key cast, unsafe
      // partition value, upsert with no partition value (a partial
      // insert's orphan) — are evaluated on the rows actually applied,
      // each class sampling its OWN offenders so the message names the
      // right cause
      val rtBad =
        if (srcType == keyType) lit(false)
        else col("__src_key").isNotNull &&
          !(col(key).try_cast(srcType) <=> col("__src_key"))
      val stated = pcol.exists(changes1.columns.contains)
      val pcolBad = if (stated) !col(tomb) && (newHome.isNull ||
        !newHome.rlike("^[A-Za-z0-9._-]+$")) else lit(false)
      val orphanBad = if (pcol.isDefined && !stated) !col(tomb) && newHome.isNull
        else lit(false)
      val refusals = Seq(
        "key" -> (col(key).isNull || col("__n") > 1),
        "lossy" -> (col("__lossy") === 1),
        "pcol" -> (col("__badp") === 1),
        "orphan" -> (col("__orphan") === 1))
      val diagDf = probe.groupBy(col(key))
        .agg(count(lit(1)).as("__n"),
          max(when(pcolBad, 1).otherwise(0)).as("__badp"),
          max(when(rtBad, 1).otherwise(0)).as("__lossy"),
          max(when(orphanBad, 1).otherwise(0)).as("__orphan"))
        .filter(refusals.map(_._2).reduce(_ || _))
        .select(col(key).cast("string").as("__a"),
          explode(array(refusals.map { case (c, bad) => when(bad, lit(c)) }: _*))
            .as("__tag"))
        .filter(col("__tag").isNotNull)
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__tag"))
            .orderBy(col("__a"))))
        .filter(col("__rn") <= 5)
        .select(col("__tag"), col("__a"), lit("").as("__b"))
      val bucketOf = bucketId(key, buckets).cast("string")
      // touched units = the upserts' NEW homes ∪ the matched keys' OLD
      // homes; on a flat chain both are the key's bucket, so every
      // changeset key's bucket (no corpus lookup)
      lazy val unitsDf = (pcol match {
        case None => probe.select(lit("").as("__a"), bucketOf.as("__b"))
        case Some(_) => probe.filter(!col(tomb)).select(newHome.as("__a"), bucketOf.as("__b"))
          .union(probe.filter(col(oldP).isNotNull)
            .select(col(oldP).as("__a"), bucketOf.as("__b")))
      }).distinct().select(lit("unit").as("__tag"), col("__a"), col("__b"))
      val diagRows = (if (needUnits) diagDf.unionByName(unitsDf) else diagDf).collect()
      def refuse(cls: String, msg: String): Unit = {
        val bad = diagRows.filter(_.getString(0) == cls).map(_.getString(1))
        require(bad.isEmpty, s"$msg: ${bad.mkString(", ")}")
      }
      refuse("key", s"changeset violates one-row-per-'$key' (SQL MERGE's " +
        "multiple-match error) or carries a NULL key")
      refuse("lossy", s"changeset key (${srcType.sql}) does not round-trip " +
        s"through the layout's key type (${keyType.sql})")
      pcol.foreach { p =>
        refuse("pcol", s"an upsert's '$p' is NULL or not directory-safe " +
          "([A-Za-z0-9._-]+)")
        refuse("orphan", s"changeset upserts key(s) with no '$p' value to " +
          "take from the corpus — an insert must state its partition")
      }
      if (preApply != null) preApply(served, changes)
      val touched = diagRows.filter(_.getString(0) == "unit")
        .map(r => (r.getString(1), r.getString(2).toInt)).toSet
      val vpath = nextGenerationPath(s, chain)
      // the generation's file schema: the tip's for the no-op and MOR
      // branches (they link files already on disk, no Spark write job),
      // what the write wrote for the others
      val written = if (needUnits && touched.isEmpty) {
        // no-op changeset (empty, or tombstones for absent keys): link
        // the whole generation forward, sidecars too — the chain still
        // advances so the apply is externally observable
        linkForward(chain, curLoc, vpath, keepDv = _ => true)
        if (mapping.nonEmpty) CorpusLayout.writeMapping(vpath, mapping)
        fileSchema
      } else if (morMode) {
        // a partitioned key's base row lives only in its OLD home, so its
        // tombstone goes there; on a flat chain every key's home is the
        // root (a tombstone for an absent key is harmless)
        val oldHomes = pcol match {
          case Some(_) => probe.filter(col(oldP).isNotNull)
            .select(col(key), col(oldP).as("__p"))
          case None => changes.select(col(key), lit("").as("__p"))
        }
        val parts = if (pcol.isEmpty) Seq("") else touched.map(_._1).toSeq.sorted
        morFold(s, chain, curLoc, vpath, changes, oldHomes, parts, physSchema,
          mapping)
        fileSchema
      } else {
        val spec = CorpusLayout.readClusterSpec(curLoc)
        // the unit path runs in PHYSICAL space: rewritten files sit next
        // to hard-linked ones, so both keep the files' own column names,
        // the raw cluster spec re-sorts the rewritten units (pruning
        // quality does not decay apply over apply) and the mapping
        // carries. The rebase reads the LOGICAL view: logical names
        // become the physical truth, the spec translates through the
        // mapping (dying if one of its columns was dropped) and only the
        // `_zv`-hiding entry carries.
        val unitPath = if (!needUnits) None else rewriteUnits(s, key, pcol,
          chain.dataDirs(curLoc), curLoc, vpath, buckets, touched,
          physSchema, CorpusLayout.toPhysical(changes, mapping, physSchema),
          spec, mapping, evolveSchema)
        unitPath.getOrElse(clusteredWrite(s, key, pcol,
          applyChanges(served, changes, key, evolveSchema),
          spec.flatMap(CorpusLayout.rebaseSpec(_, mapping)), buckets, vpath))
      }
      // change data feed: persist THIS apply's effective changeset as a
      // `_cdf/` sidecar at the generation root (see [[ChangeFeedKey]])
      // before the generation is marked — a complete generation always
      // carries its slice. `served` still resolves: the old generation's
      // files stay on disk for in-flight readers, this read included.
      if (changeFeedOn(s)) writeChangeFeedSlice(s, served, changes, key, vpath)
      // complete on disk → commit: a crash past the markers is
      // forward-recoverable (the re-attach moves the pointer onto it)
      chain.commit(s, vpath, buckets, written)
      if (!chain.partitioned) {
        // carry the file-skipping manifest: hard-linked files keep their
        // stats rows verbatim, only the files this apply wrote re-stat
        // (no-op when the served generation had none)
        graft.sources.StatsManifest.refreshAfterApply(s, curLoc, vpath)
        // keep the derived stores coherent with the corpus they index
        // (each applyChangeset is a no-op without its store)
        if (chain.table == "documents")
          SignatureStore.applyChangeset(s, chain.corpusDir, changes)
        else if (chain.table == "embeddings")
          VectorIndexStore.applyChangeset(s, chain.corpusDir, changes)
      }
      vpath
    }
  }

  /** Build generation 0 of `chain` from the corpus file
    * `<corpusDir>/<table>.parquet` — the ONE materialize of both chain
    * kinds; commits it, registers the catalog name over it (replacing
    * an earlier registration) and returns the name. `repartition(B,
    * key)` gives each task exactly one bucket, and a partitioned writer
    * splits that task's rows across its partition dirs, so the file
    * count is one per (partition, bucket) present, never `tasks × B`.
    * Writes the layout root's `_CORPUS` marker (the catalog-name reverse
    * map), and starts a NEW chain: stale `<table>_vN` dirs from a
    * previous chain would out-number the fresh generation 0, so the next
    * apply's resync would move the pointer onto OLD data and silently
    * discard this rebuild. A partitioned chain additionally checks its
    * column: not the key, not in `clusterBy` (constant within every
    * directory already), STRING, and directory-safe values only.
    */
  def materialize(s: SparkSession, chain: Chain,
                  buckets: Int = CorpusLayout.DefaultBuckets,
                  clusterBy: Seq[String] = Nil,
                  clusterRowsPerFile: Long = 1L << 17): String = {
    val key = chain.key
    val root = chain.root(s).getOrElse(throw new IllegalStateException(
      s"${CorpusLayout.ConfKey} is not set on this session — nowhere to materialize"))
    require(clusterBy.isEmpty || clusterRowsPerFile > 0,
      s"clusterRowsPerFile must be positive, got $clusterRowsPerFile")
    // memoized-schema read: a staged corpus seeds the memo at write
    // time, a warmed corpus dir was inferred once — either way the
    // materialize re-plan runs no footer job (optimization r15)
    val src = graft.Tables.readMemo(s, s"${chain.corpusDir}/${chain.table}.parquet")
    chain.partitionCol.foreach { p =>
      require(p != key, s"partition column must differ from the key '$key'")
      require(!clusterBy.contains(p),
        s"clusterBy must not include the partition column '$p' — it is " +
          "constant within every partition directory already")
      require(src.columns.contains(p), s"no column '$p' in ${chain.table}")
      require(src.schema(p).dataType == org.apache.spark.sql.types.StringType,
        s"partition column '$p' must be STRING (directory-name values)")
      val bad = src.filter(col(p).isNull || !col(p).rlike("^[A-Za-z0-9._-]+$"))
        .select(col(p)).distinct().limit(3).collect()
      require(bad.isEmpty,
        s"partition column '$p' holds NULL or non-directory-safe " +
          s"values (${bad.mkString(", ")}) — this layout stores values " +
          "as directory names verbatim")
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.write(java.nio.file.Paths.get(
      layoutRoot(s, chain.corpusDir), CorpusLayout.CorpusMarker),
      chain.corpusDir.getBytes("UTF-8"))
    generations(s, chain).collect { case (n, p) if n > 0 =>
      graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(p))
    }
    val path = s"$root/${chain.table}"
    CorpusLayout.forget(path) // generation 0 is rebuilt in place
    // z-clustered build: each bucket's rows sort by the Morton z-value
    // and split at rowsPerFile — many tight-box files per bucket instead
    // of one wide one (see CorpusLayout's cluster-spec comment)
    val spec = if (clusterBy.isEmpty) None else Some(CorpusLayout.ClusterSpec(
      clusterBy, CorpusLayout.ClusterBits, clusterRowsPerFile,
      graft.sources.ZOrderLayout.columnBounds(src, clusterBy)))
    chain.commit(s, path, buckets,
      clusteredWrite(s, key, chain.partitionCol, src, spec, buckets, path))
    chain.register(s, path)
    chain.catalogName
  }

  /** The ONE clustered bucketed write every generation write shares,
    * for both chain kinds — materialize, the CoW unit rewrite,
    * the rebase, OPTIMIZE and rebucket: recompute `_zv` when a cluster
    * spec rides along (changeset rows arrive with it refilled as NULL),
    * sort each unit by what its files will actually honor, split at the
    * spec's row bound, partition by the partition column when there is
    * one, and persist the `_CLUSTER` marker plus the mapping (`carry`,
    * and the entry hiding the physical-only `_zv`). `repartitionFirst`
    * is the one-task-per-bucket discipline — without it the bucketed
    * writer emits up to (tasks × B) files. Materialize, OPTIMIZE and the
    * rebase keep it; the exchange-free flat OPTIMIZE skips it, its input
    * already being bucket-partitioned, and so do the unit rewrite and
    * the signature store's facet writes, which shuffle by the bucket id
    * itself ([[bucketId]]) into AQE-sized tasks.
    * The write goes by path ([[GraftPlanBridge.writeBucketed]]): no
    * catalog table is created or replaced. Returns the file schema
    * written (the partition column excluded).
    */
  private[graft] def clusteredWrite(s: SparkSession, key: String,
                                    pcol: Option[String], df: DataFrame,
                                    spec: Option[CorpusLayout.ClusterSpec],
                                    buckets: Int, vpath: String,
                                    carry: Map[String, Option[String]] = Map.empty,
                                    repartitionFirst: Boolean = true)
      : org.apache.spark.sql.types.StructType = {
    val out = spec.foldLeft(df.drop(CorpusLayout.ZCol))((d, sp) =>
      d.withColumn(CorpusLayout.ZCol, CorpusLayout.zExpr(sp)))
    GraftPlanBridge.writeBucketed(
      if (repartitionFirst) out.repartition(buckets, col(key)) else out, vpath,
      pcol.toSeq, org.apache.spark.sql.catalyst.catalog.BucketSpec(buckets, Seq(key),
        Seq(spec.map(_ => CorpusLayout.ZCol).getOrElse(key))),
      Map("maxRecordsPerFile" -> spec.map(_.rowsPerFile).getOrElse(0L).toString))
    spec.foreach(CorpusLayout.writeClusterSpec(vpath, _))
    val mapping = if (spec.isEmpty) carry else carry + (CorpusLayout.ZCol -> None)
    if (mapping.nonEmpty) CorpusLayout.writeMapping(vpath, mapping)
    org.apache.spark.sql.types.StructType(out.schema.filterNot(f => pcol.contains(f.name)))
  }

  /** The copy-on-write unit rewrite shared by the chain apply and the
    * signature store's apply ([[SignatureStore.applyChangeset]]): read
    * ONLY the touched (value, bucket) units' files of `curLoc` by name
    * (a partitioned chain's value comes back from the directory name),
    * merge the physical-space changeset into them, write them through
    * [[clusteredWrite]], and hard-link every other data file into the
    * same relative place under `vpath`. Returns the file schema written;
    * None, having written nothing, when the unit path does not pay —
    * an unbucketed file name, no untouched file left to link, or more
    * than 4096 touched units (the read's file list and the link walk
    * then cost more than the rewrite they avoid): the caller rewrites in
    * full.
    */
  private[graft] def rewriteUnits(s: SparkSession, key: String,
                                  pcol: Option[String],
                                  dirs: Seq[(String, java.nio.file.Path)],
                                  curLoc: String, vpath: String,
                                  buckets: Int, touched: Set[(String, Int)],
                                  physSchema: org.apache.spark.sql.types.StructType,
                                  changesPhys: DataFrame,
                                  spec: Option[CorpusLayout.ClusterSpec],
                                  mapping: Map[String, Option[String]],
                                  evolve: Boolean)
      : Option[org.apache.spark.sql.types.StructType] = {
    val files = for ((v, d) <- dirs; f <- graft.FsUtil.list(d) if CorpusLayout.isDataFile(f))
      yield (v, bucketIdOf(f.getFileName.toString), f)
    val (hit, rest) = files.partition { case (v, b, _) => b.exists(x => touched((v, x))) }
    if (touched.size > 4096 || rest.isEmpty || files.exists(_._2.isEmpty)) None
    else {
      pcol.foreach(_ => dirs.foreach { case (v, d) =>
        require(graft.sources.PartitionedLayout.SafeValue.pattern.matcher(v).matches(),
          s"partition dir '${d.getFileName}' carries an escaped value — " +
            "outside this layout's directory-safe contract") })
      val cur = if (hit.isEmpty) // inserts into empty units only
          s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            physSchema)
        else graft.sources.ManifestFileIndex.listed(s, curLoc, physSchema, hit.map(_._3))
      // write tasks sized to the touched data, never one per declared
      // bucket: the shuffle is by the bucket id itself, so each bucket
      // lands in exactly one task (one file per touched (value, bucket)
      // unit), and AQE coalesces the partitions — at most one per touched
      // bucket — down to the touched bytes, leaving no empty task
      val written = clusteredWrite(s, key, pcol,
        applyChanges(cur, changesPhys, key, evolve)
          .repartition(bucketId(key, buckets)),
        spec, buckets, vpath, carry = mapping, repartitionFirst = false)
      val (from, to) = (java.nio.file.Paths.get(curLoc), java.nio.file.Paths.get(vpath))
      rest.foreach { case (_, _, f) =>
        val dst = to.resolve(from.relativize(f).toString)
        java.nio.file.Files.createDirectories(dst.getParent)
        linkOrCopy(f, dst)
      }
      Some(written)
    }
  }

  /** The merge-on-read fold: hard-link EVERY base data file forward
    * (zero base bytes — the CoW unit floor disappears), carry the `_dv`
    * sidecars of untouched data dirs verbatim, and fold the changeset
    * into the sidecars of data dirs `parts` (the generation root on a
    * flat chain; the touched partitions on a partitioned one).
    * Changeset-sized set algebra per (data dir, key), run ONCE across
    * all touched dirs:
    *
    *  - `tombstones' = tombstones ∪ keys whose OLD home is the dir`
    *    (kills the base row; updates re-serve from the deltas);
    *  - `deltas' = deltas ⊖ (keys upserted to the dir ∪ keys evicted
    *    from it) ∪ upserts whose NEW home is the dir` — [[applyChanges]]
    *    scoped to the sidecar; a cross-partition move is one eviction
    *    plus one upsert.
    *
    * The sidecar is cumulative, so the READ only composes the SERVED
    * generation's `_dv` (never a chain walk), and a rewrite — OPTIMIZE,
    * rebucket, a CoW apply — folds it away. It lives in PHYSICAL space
    * (it composes BEFORE the mapping projection on read). File-skipping
    * stats carry verbatim: every base name is unchanged.
    */
  private def morFold(s: SparkSession, chain: Chain, curLoc: String,
                      vpath: String, changes: DataFrame, oldHomes: DataFrame,
                      parts: Seq[String],
                      physSchema: org.apache.spark.sql.types.StructType,
                      mapping: Map[String, Option[String]]): Unit = {
    val (key, pcol, tomb) = (chain.key, chain.partitionCol, TombstoneCol)
    linkForward(chain, curLoc, vpath, keepDv = v => !parts.contains(v))
    if (mapping.nonEmpty) CorpusLayout.writeMapping(vpath, mapping)
    val changesPhys = CorpusLayout.toPhysical(changes, mapping, physSchema)
    val tombSchema = org.apache.spark.sql.types.StructType(Seq(physSchema(key)))
    val deltaSchema = org.apache.spark.sql.types.StructType(
      physSchema.filterNot(f => pcol.contains(f.name)))
    val physCols = deltaSchema.fieldNames.toSeq
    def emptyDf(sch: org.apache.spark.sql.types.StructType) = s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), sch)
    // explicit read schemas: no footer-inference job per sidecar, and an
    // older (pre-ADD COLUMNS) delta file NULL-fills the missing columns
    def prev(side: String, sch: org.apache.spark.sql.types.StructType): DataFrame =
      parts.flatMap { p =>
        val d = chain.dataDir(curLoc, p).resolve(CorpusLayout.DvDir).resolve(side)
        if (java.nio.file.Files.isDirectory(d))
          Some(s.read.schema(sch).parquet(d.toString).withColumn("__p", lit(p)))
        else None
      }.reduceOption(_ unionByName _)
        .getOrElse(emptyDf(sch).withColumn("__p", lit("")))
    val newTombs = prev("tombstones", tombSchema).select(col(key), col("__p"))
      .unionByName(oldHomes).distinct()
    val ups = changesPhys.filter(!col(tomb)).select(physCols.map(col) :+ col(tomb) :+
      pcol.map(col).getOrElse(lit("")).as("__p"): _*)
    val evict = oldHomes.join(ups.select(col(key), col("__p")), Seq(key, "__p"), "left_anti")
      .select(col(key) +: physCols.filterNot(_ == key).map(c =>
        lit(null).cast(physSchema(c).dataType).as(c)) :+ col("__p"): _*)
      .withColumn(tomb, lit(true))
    val all = ups.unionByName(evict)
    val newDeltas = prev("deltas", deltaSchema)
      .join(all.select(col(key), col("__p")), Seq(key, "__p"), "left_anti")
      .unionByName(all.filter(!col(tomb)).select(physCols.map(col) :+ col("__p"): _*))
    def writeSide(df: DataFrame, side: String,
                  sch: org.apache.spark.sql.types.StructType): Unit = pcol match {
      case None => df.drop("__p").repartition(1)
        .write.parquet(s"$vpath/${CorpusLayout.DvDir}/$side")
      case Some(p) =>
        // BATCHED (optimization r15): ONE partitioned write per side fans
        // the rows out, then each staging `pcol=v/` dir renames into
        // `pcol=v/_dv/<side>` (inode moves, no data pass) — a per-
        // partition write loop paid 2·P job rounds per trickle
        val stage = java.nio.file.Paths.get(vpath, s"_dv_stage_$side")
        df.withColumn(p, col("__p")).drop("__p")
          .repartition(col(p)).write.partitionBy(p).parquet(stage.toString)
        lazy val template = {
          // a fold side with zero rows for a touched dir still needs a
          // readable (schema-bearing) sidecar: one empty file per apply,
          // hard-linked into each empty home
          val tdir = stage.resolve("_template")
          emptyDf(sch).repartition(1).write.parquet(tdir.toString)
          graft.FsUtil.list(tdir).find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(
              "empty-template write produced no parquet file"))
        }
        parts.foreach { v =>
          val dst = chain.dataDir(vpath, v).resolve(CorpusLayout.DvDir).resolve(side)
          java.nio.file.Files.createDirectories(dst.getParent)
          val src = stage.resolve(s"$p=$v")
          if (java.nio.file.Files.isDirectory(src)) java.nio.file.Files.move(src, dst)
          else {
            java.nio.file.Files.createDirectories(dst)
            linkOrCopy(template, dst.resolve(template.getFileName))
          }
        }
        graft.FsUtil.deleteRecursively(stage)
    }
    writeSide(newTombs, "tombstones", tombSchema)
    writeSide(newDeltas, "deltas", deltaSchema)
  }

  /** Link every data file of `curLoc`'s data dirs — and the `_dv`
    * sidecars of the dirs `keepDv` accepts (by partition value) — into
    * the same relative place under `vpath` byte-for-byte, carrying the
    * `_CLUSTER` marker: the copy step of the no-op, MOR and metadata
    * swings.
    */
  private def linkForward(chain: Chain, curLoc: String, vpath: String,
                          keepDv: String => Boolean): Unit = {
    val cur = java.nio.file.Paths.get(curLoc)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(vpath))
    chain.dataDirs(curLoc).foreach { case (v, dir) =>
      val dst = java.nio.file.Paths.get(vpath).resolve(cur.relativize(dir).toString)
      java.nio.file.Files.createDirectories(dst)
      graft.FsUtil.list(dir).filter(CorpusLayout.isDataFile)
        .foreach(f => linkOrCopy(f, dst.resolve(f.getFileName.toString)))
      val dvSrc = dir.resolve(CorpusLayout.DvDir)
      if (keepDv(v) && java.nio.file.Files.isDirectory(dvSrc)) {
        val walk = java.nio.file.Files.walk(dvSrc)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.foreach { p =>
            val to = dst.resolve(dir.relativize(p).toString)
            if (java.nio.file.Files.isDirectory(p))
              java.nio.file.Files.createDirectories(to)
            else linkOrCopy(p, to)
          }
        } finally walk.close()
      }
    }
    val cl = java.nio.file.Paths.get(curLoc, CorpusLayout.ClusterMarker)
    if (java.nio.file.Files.exists(cl))
      java.nio.file.Files.copy(cl,
        java.nio.file.Paths.get(vpath, CorpusLayout.ClusterMarker))
  }

  // ── DROP / RENAME COLUMN: per-generation column mapping (SURVEY
  // §2.I) — the other half of schema evolution (ADD COLUMN rides the
  // apply with NULL-fill). Both are METADATA-ONLY: the new generation
  // hard-links every byte of its parent (data files AND dv sidecar)
  // and only the `_MAPPING` marker changes; the serving read projects
  // physical→logical (rename = alias, drop = omission). Applies keep
  // working across the boundary — changesets speak LOGICAL names and
  // translate back at the swing — and the mapping folds away at the
  // next full rewrite, when logical names become the physical truth.
  // The layout KEY cannot be renamed or dropped (row identity, bucket
  // placement); renaming columns a table-format index derives from
  // (documents.text → SignatureStore) leaves the index keyed on the
  // old semantics — retrain in the same maintenance window, as with
  // rebucket.

  private def logicalColumns(m: Map[String, Option[String]],
                             phys: org.apache.spark.sql.types.StructType): Seq[String] =
    phys.fieldNames.toSeq.flatMap(p => m.get(p) match {
      case None => Some(p)
      case Some(Some(l)) => Some(l)
      case Some(None) => None
    })

  private def physicalFor(m: Map[String, Option[String]], logical: String): String =
    m.collectFirst { case (p, Some(l)) if l == logical => p }.getOrElse(logical)

  /** Neither the layout key (row identity, bucket placement) nor the
    * partition column (it names directories) can be renamed or dropped.
    */
  private def requireMovable(chain: Chain, c: String, verb: String): Unit = {
    require(c != chain.key, s"cannot $verb the layout key '${chain.key}'")
    chain.partitionCol.foreach(p => require(c != p,
      s"cannot $verb the partition column '$p' — it names the layout's " +
        "directories"))
  }

  /** Rename a logical column — a metadata-only generation (no file
    * rewritten). Fails loudly on the key, the partition column, an
    * unknown source, or a colliding target. Returns the new
    * generation's path.
    */
  def renameColumn(s: SparkSession, chain: Chain,
                   from: String, to: String): String = {
    require(to.nonEmpty && !to.startsWith("_"),
      s"invalid target column name '$to'")
    metadataSwing(s, chain) { (m, logical, _) =>
      requireMovable(chain, from, "rename")
      require(logical.contains(from),
        s"no column '$from' — logical columns are ${logical.mkString(", ")}")
      require(!logical.contains(to), s"column '$to' already exists")
      val p = physicalFor(m, from)
      if (p == to) m - p else m + (p -> Some(to))
    }
  }

  /** Drop a logical column — metadata-only: linked files keep the bytes,
    * the serving projection omits them, and new rows fill the physical
    * slot with NULL. Returns the new generation's path.
    */
  def dropColumn(s: SparkSession, chain: Chain, column: String): String =
    metadataSwing(s, chain) { (m, logical, _) =>
      requireMovable(chain, column, "drop")
      require(logical.contains(column),
        s"no column '$column' — logical columns are ${logical.mkString(", ")}")
      m + (physicalFor(m, column) -> None)
    }

  /** ADD COLUMNS as a metadata-only generation: every existing byte
    * hard-links; the only new bytes are ONE zero-row "schema anchor"
    * parquet file (bucket-0 named, footer only, in the first data dir)
    * carrying the widened physical schema. Serving and time-travel reads
    * infer schema from file-footer union, so the anchor IS the durable
    * record of the ADD — Spark's partition-0 writer emits a footer-only
    * file for an empty frame by design (the mechanism that preserves
    * schema for empty datasets), and parquet NULL-fills a requested
    * column a file lacks, so every untouched row reads the new columns
    * as NULL (the Delta/Iceberg metadata-only ADD COLUMN). The anchor
    * rides bucket 0 until the next rewrite of that bucket folds it
    * away; until then bucket 0 holds two files, which costs nothing at
    * read beyond Spark's (correct) refusal to claim per-bucket sort
    * order there. Fails loudly on a name colliding with any LOGICAL or
    * PHYSICAL column (a dropped physical slot must not be shadowed — the
    * mapping entry would hide the new column too), the partition column
    * included.
    */
  def addColumns(s: SparkSession, chain: Chain,
                 cols: Seq[(String, org.apache.spark.sql.types.DataType)]): String = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    require(cols.map(_._1).distinct.size == cols.size,
      "duplicate column in ADD COLUMNS")
    cols.foreach { case (n, _) =>
      require(n.nonEmpty && !n.startsWith("_"), s"invalid column name '$n'") }
    metadataSwing(s, chain, widen = cols) { (m, logical, phys) =>
      val taken = (logical ++ phys.fieldNames).toSet
      cols.foreach { case (n, _) =>
        require(!taken.contains(n), s"column '$n' already exists") }
      m
    }
  }

  /** Write the zero-row schema-anchor file for [[addColumns]] into a
    * data dir of the new generation, named as a bucket-0 file so bucket
    * discipline holds (zero rows trivially satisfy the bucket's
    * key-placement and sort invariants).
    */
  private def writeSchemaAnchor(s: SparkSession, dir: String,
                                schema: org.apache.spark.sql.types.StructType): Unit = {
    val stage = java.nio.file.Paths.get(dir, "_anchor_stage")
    s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .repartition(1).write.parquet(stage.toString)
    val src = Option(stage.toFile.listFiles())
      .flatMap(_.find(f => f.isFile && f.getName.endsWith(".parquet")))
      .map(_.toPath)
      .getOrElse(throw new IllegalStateException(
        "empty-frame write produced no schema-anchor file"))
    val n = src.getFileName.toString
    val bucketed = if (n.contains(".c000")) n.replace(".c000", "_00000.c000")
      else n.stripSuffix(".parquet") + "_00000.parquet"
    java.nio.file.Files.move(src, java.nio.file.Paths.get(dir, bucketed))
    graft.FsUtil.deleteRecursively(stage)
  }

  /** Persist one apply's change-feed slice (see [[ChangeFeedKey]]):
    * key + payload + `_change_type`. Matched-ness (insert vs update)
    * comes from ONE corpus keys-only semi-join — the changeset is the
    * build side, the corpus never shuffles — then a changeset×changeset
    * stitch; replay-safe no-op tombstones (unmatched keys) drop out.
    */
  private[graft] def writeChangeFeedSlice(s: SparkSession, target: DataFrame,
                                   changes: DataFrame, keyCol: String,
                                   vpath: String): Unit = {
    val mk = target.select(col(keyCol))
      .join(changes.select(col(keyCol)), Seq(keyCol), "left_semi")
      .withColumn("__m", lit(true))
    val post = changes.join(mk, Seq(keyCol), "left")
      .withColumn(ChangeTypeCol,
        when(col(TombstoneCol) && col("__m"), "delete")
          .when(!col(TombstoneCol) && col("__m"), "update_postimage")
          .when(!col(TombstoneCol), "insert"))
      .filter(col(ChangeTypeCol).isNotNull)
      .drop(TombstoneCol, "__m")
    val slice = if (!s.conf.getOption(PreImageKey).exists(_.toBoolean)) post
      else {
        // pre-images (see [[PreImageKey]]): target ⋉ upsert-keys IS the
        // updated-row set — inserts have no target row, tombstones are
        // deletes — and reads the PRE-apply generation (its files are
        // kept on disk for in-flight readers, this one included)
        val pre = target.join(
            changes.filter(!col(TombstoneCol)).select(col(keyCol)),
            Seq(keyCol), "left_semi")
          .withColumn(ChangeTypeCol, lit("update_preimage"))
        post.unionByName(pre, allowMissingColumns = true)
      }
    // stamp the slice's LOGICAL schema (constant column — one RLE'd
    // dictionary entry in the footer): the streaming reader pins its
    // start-time schema and a fixed-schema parquet source would
    // otherwise NULL-fill a renamed column's rows SILENTLY; with the
    // stamp it fails loudly at the era boundary (Delta's CDF
    // schema-change behavior). Batch readers drop it — changeFeed's
    // per-era NULL-padding union stays the documented batch contract.
    slice.withColumn(SchemaFpCol, lit(schemaFp(slice.schema)))
      .write.mode("overwrite").parquet(s"$vpath/$CdfDir")
  }

  /** Slice-constant logical-schema stamp (see [[writeChangeFeedSlice]]). */
  private[graft] val SchemaFpCol = "_schema_fp"

  /** The era fingerprint: NAMES and TYPES only, order- and
    * nullability-normalized — a changeset's projection order and
    * lit-derived NOT NULLs vary per DML verb within one era; only a
    * rename/drop/type change is a new era.
    */
  private[graft] def schemaFp(st: org.apache.spark.sql.types.StructType): String =
    st.fields.filterNot(f =>
        f.name == ChangeTypeCol || f.name == SchemaFpCol ||
          f.name == CommitGenCol)
      .map(f => s"${f.name}:${f.dataType.sql}").sorted.mkString(",")

  /** Change-type column of the feed: insert / update_postimage /
    * delete. Post-images by default: with the key they replay exactly
    * (pre-images are one [[readGeneration]] away — persisting them
    * would double the sidecar for a value time travel already serves).
    * [[PreImageKey]] opts in Delta-style `update_preimage` rows.
    */
  val ChangeTypeCol = "_change_type"
  /** Generation whose apply produced the feed row. */
  val CommitGenCol = "_commit_generation"
  private[graft] val CdfDir = "_cdf"

  /** The change data feed across generations `(fromGen, toGen]` — what
    * [[applyToLayout]] changed, per generation, at delta cost (the
    * sidecars are changeset-sized; the corpus is never read, let alone
    * diffed). Requires [[ChangeFeedKey]] to have been on for every
    * row-changing apply in the range — a missing sidecar fails loudly
    * (deriving it silently via generationDiff would hide that the feed
    * contract was broken). Generations with no row changes (metadata
    * swings, compaction, rebucket) contribute empty slices. Slices
    * speak the LOGICAL schema of their generation; across a rename
    * boundary the union NULL-pads per era (consumers of a renamed feed
    * project per slice, Delta CDF's column-mapping caveat).
    * SQL spelling: `SELECT * FROM graft_changes('<table>', from[, to])`.
    */
  def changeFeed(s: SparkSession, chain: Chain,
                 fromGen: Int, toGen: Int = -1): DataFrame = {
    val gens = generations(s, chain).toMap
    val top = if (toGen < 0) gens.keys.max else toGen
    require(fromGen >= 0 && fromGen < top,
      s"changeFeed needs 0 <= fromGen < toGen, got ($fromGen, $top)")
    (fromGen + 1 to top).flatMap { g =>
      val p = gens.getOrElse(g, throw new IllegalArgumentException(
        s"generation $g of (${chain.corpusDir}, ${chain.table}) is not " +
          s"retained — have ${gens.keys.toSeq.sorted.mkString(", ")}"))
      val cdf = java.nio.file.Paths.get(p, CdfDir)
      val files = graft.FsUtil.parquetParts(cdf)
      if (java.nio.file.Files.isDirectory(cdf) && files.isEmpty) None
      else if (!java.nio.file.Files.isDirectory(cdf)) {
        // a generation may legitimately lack the sidecar only when it
        // changed no rows (metadata swing / compaction / rebucket have
        // no _cdf at all); a ROW-CHANGING apply without one means the
        // feed was off — fail loudly rather than serve a gapped feed
        if (isRowPreserving(chain, gens, g)) None
        else throw new IllegalStateException(
          s"generation $g (${p}) carries no change-feed sidecar — " +
            s"enable $ChangeFeedKey before applying, or derive this " +
            "slice explicitly with MergeOps.generationDiff")
      } else Some(
        s.read.option("mergeSchema", "true").parquet(files: _*)
          .drop(SchemaFpCol) // streaming-reader stamp, not feed payload
          .withColumn(CommitGenCol, lit(g)))
    }.reduceLeftOption((a, b) =>
        a.unionByName(b, allowMissingColumns = true))
      .getOrElse {
        // every generation in range changed no rows — a legitimate
        // quiet window: an EMPTY feed in the serving's logical shape
        val tgt = chain.served(s).getOrElse(throw new IllegalStateException(
          s"no layout for (${chain.corpusDir}, ${chain.table})"))
        tgt.limit(0)
          .withColumn(ChangeTypeCol, lit(null).cast("string"))
          .withColumn(CommitGenCol, lit(null).cast("int"))
      }
  }

  /** A generation with no row-level changes: every data file of the
    * previous generation rides forward under the same name (metadata
    * swings and MOR links preserve names; compaction/rebucket REWRITE —
    * those always re-derive from a served read, and a compaction of a
    * feed-recorded chain still changes no rows, so name-preservation is
    * the conservative test: false negatives fail loudly above, never
    * silently).
    */
  private def isRowPreserving(chain: Chain, gens: Map[Int, String],
                              g: Int): Boolean =
    gens.get(g - 1).exists { prev =>
      // data file names AND dv-sidecar file names must ride forward
      // unchanged: a MOR apply links every base name but rewrites the
      // cumulative _dv — rows changed, the feed must not read empty
      def names(gen: String): Set[String] =
        chain.dataDirs(gen).flatMap { case (label, dir) =>
          val dv = dir.resolve(CorpusLayout.DvDir)
          Seq("" -> dir, "dv/" -> dv, "dv/t/" -> dv.resolve("tombstones"),
            "dv/d/" -> dv.resolve("deltas")).flatMap { case (pre, d) =>
            graft.FsUtil.list(d).map(_.getFileName.toString)
              .filter(n => n.endsWith(".parquet") &&
                java.nio.file.Files.isRegularFile(d.resolve(n)))
              .map(n => s"$label/$pre$n")
          }
        }.toSet
      val p = names(prev); val c = names(gens(g))
      p.nonEmpty && p.subsetOf(c)
    }

  /** The shared metadata-only swing: link the whole generation forward
    * (data files and sidecars), write the updated `_MAPPING` (and, when
    * widening, the schema anchor), commit it.
    * `update` receives (current mapping, logical column names, physical
    * schema) and returns the new mapping.
    */
  private def metadataSwing(s: SparkSession, chain: Chain,
                            widen: Seq[(String, org.apache.spark.sql.types.DataType)] = Seq.empty)
      (update: (Map[String, Option[String]], Seq[String],
        org.apache.spark.sql.types.StructType) => Map[String, Option[String]]): String =
    GenerationLease.withLease(s, chain.corpusDir, chain.leaseKey) {
      chain.resync(s)
      val (curLoc, b) = chain.layout(s)
      val vpath = nextGenerationPath(s, chain)
      val physSchema = chain.physicalSchema(s, curLoc)
      val m0 = CorpusLayout.readMapping(curLoc)
      val newMapping = update(m0, logicalColumns(m0, physSchema), physSchema)
      val fileSchema = org.apache.spark.sql.types.StructType(
        chain.fileSchema(s, curLoc) ++ widen.map { case (n, dt) =>
          org.apache.spark.sql.types.StructField(n, dt, nullable = true) })
      linkForward(chain, curLoc, vpath, keepDv = _ => true)
      if (widen.nonEmpty) writeSchemaAnchor(s,
        chain.dataDirs(vpath).headOption.getOrElse(throw new IllegalStateException(
          s"no data dir under $vpath to anchor the ADD"))._2.toString, fileSchema)
      if (newMapping.nonEmpty) CorpusLayout.writeMapping(vpath, newMapping)
      chain.commit(s, vpath, b, fileSchema)
      // every file name is unchanged → the stats manifest carries
      // verbatim (stats key on PHYSICAL columns, which didn't move)
      graft.sources.StatsManifest.refreshAfterApply(s, curLoc, vpath)
      vpath
    }

  /** Generation dirs of a chain, oldest→newest: generation 0 is the base
    * `materialize` build at `<table>`, every advance appends
    * `<table>_vN`. Pure directory listing — no Spark job.
    */
  def generations(s: SparkSession, chain: Chain): Seq[(Int, String)] =
    chain.root(s).toSeq.flatMap { base =>
      val prefix = s"${chain.table}_v"
      graft.FsUtil.list(java.nio.file.Paths.get(base)).map(_.getFileName.toString)
        .flatMap { n =>
          if (n == chain.table) Some(0 -> s"$base/$n")
          else graft.FsUtil.numberOf(n, prefix).map(_.toInt -> s"$base/$n")
        }.sortBy(_._1)
    }

  // ── Corpus snapshots: one marker pinning the (table → generation)
  // assignment of EVERY layout table at a moment — the reproducibility
  // verb. A training run records snapshot K before it starts; the feed
  // keeps folding changesets in, vacuum keeps reclaiming, and the exact
  // documents+embeddings pair the run saw stays readable until the
  // snapshot is dropped (vacuum skips pinned generations). Cross-table:
  // per-table swings are independent, so "documents v5 with embeddings
  // v3" is only a consistent pair if something records it — the
  // snapshot file is that record (single-writer window, like the
  // swings themselves).

  private def snapshotDir(s: SparkSession, corpusDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(layoutRoot(s, corpusDir), "snapshots")

  /** Pin the currently-served generation of every layout table as
    * snapshot K (next free number). Returns (K, table → generation dir).
    */
  def snapshot(s: SparkSession, corpusDir: String): (Int, Map[String, String]) = {
    val pinned = CorpusLayout.keyed.keys.toSeq.sorted.flatMap { table =>
      val chain = Chain.flat(corpusDir, table)
      chain.repair(s)
      chain.tip(s).map(table -> _)
    }.toMap
    require(pinned.nonEmpty,
      s"nothing to snapshot for $corpusDir — no layout tables are served")
    val k = snapshots(s, corpusDir).foldLeft(0)(math.max) + 1
    val body = pinned.toSeq.sorted.map { case (t, p) => s"$t\t$p" }.mkString("\n")
    graft.FsUtil.writeAtomically(snapshotDir(s, corpusDir).resolve(s"s$k"), body)
    (k, pinned)
  }

  /** Retained snapshot numbers, ascending. */
  def snapshots(s: SparkSession, corpusDir: String): Seq[Int] =
    graft.FsUtil.numbered(snapshotDir(s, corpusDir), "s").map(_._1.toInt)

  private[graft] def snapshotPins(s: SparkSession, corpusDir: String,
                                  table: String): Set[String] = {
    val dir = snapshotDir(s, corpusDir)
    snapshots(s, corpusDir).flatMap { k =>
      new String(java.nio.file.Files.readAllBytes(dir.resolve(s"s$k")), "UTF-8")
        .linesIterator.map(_.split("\t", 2)).collect {
          case Array(t, p) if t == table =>
            java.nio.file.Paths.get(p).normalize.toString
        }
    }.toSet
  }

  // ── TAGS: named generation refs (Iceberg's tag shape) — release
  // management for the chain: `tagGeneration("v2-train")` pins the
  // generation a run read, `VERSION AS OF 'v2-train'` reads it forever
  // (vacuum keeps tagged generations like snapshot pins), `dropTag`
  // releases the bytes at the next vacuum. One tiny file per (table,
  // tag) under the layout root — same durability story as snapshots.

  private def tagsDir(s: SparkSession, corpusDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(layoutRoot(s, corpusDir), "tags")

  private[graft] def tagFile(s: SparkSession, corpusDir: String, table: String,
                             name: String): java.nio.file.Path = {
    require(name.matches("[A-Za-z][A-Za-z0-9_.-]*"),
      s"invalid tag name '$name' — [A-Za-z][A-Za-z0-9_.-]*")
    tagsDir(s, corpusDir).resolve(s"${table}__$name")
  }

  /** Tag a generation (default: the served one) with `name`. Fails on
    * an existing tag (retagging is drop + create — an accidental move
    * of a name a training run depends on must be loud). Returns the
    * tagged generation dir.
    */
  def tagGeneration(s: SparkSession, chain: Chain,
                    name: String, generation: Int = -1): String =
    GenerationLease.withLease(s, chain.corpusDir, chain.leaseKey) {
      chain.resync(s)
      val gens = generations(s, chain)
      val g = if (generation < 0) gens.last._1 else generation
      val p = gens.toMap.getOrElse(g, throw new IllegalArgumentException(
        s"generation $g of (${chain.corpusDir}, ${chain.table}) is not " +
          s"retained — have ${gens.map(_._1).mkString(", ")}"))
      val f = tagFile(s, chain.corpusDir, chain.leaseKey, name)
      require(!java.nio.file.Files.exists(f),
        s"tag '$name' already exists for ${chain.leaseKey} (generation " +
          s"${tags(s, chain).getOrElse(name, -1)}) — dropTag first")
      graft.FsUtil.writeAtomically(f, s"$g\t$p")
      p
    }

  /** Drop a tag; returns whether it existed. The tagged generation's
    * bytes reclaim at the NEXT vacuum (tags pin, they don't own).
    */
  def dropTag(s: SparkSession, chain: Chain, name: String): Boolean =
    java.nio.file.Files.deleteIfExists(
      tagFile(s, chain.corpusDir, chain.leaseKey, name))

  /** (name, tag-file body `generation\tpath`) of a chain's retained tags. */
  private def tagEntries(s: SparkSession, chain: Chain): Seq[(String, Array[String])] = {
    val prefix = s"${chain.leaseKey}__"
    graft.FsUtil.list(tagsDir(s, chain.corpusDir))
      .filter(_.getFileName.toString.startsWith(prefix))
      .map(f => f.getFileName.toString.stripPrefix(prefix) -> new String(
        java.nio.file.Files.readAllBytes(f), "UTF-8").split("\t", 2))
  }

  /** Retained tags of a chain: name → generation number. */
  def tags(s: SparkSession, chain: Chain): Map[String, Int] =
    tagEntries(s, chain).map { case (n, body) => n -> body(0).toInt }.toMap

  private[graft] def tagPins(s: SparkSession, chain: Chain): Set[String] =
    tagEntries(s, chain).map { case (_, body) =>
      java.nio.file.Paths.get(body(1)).normalize.toString }.toSet

  /** Snapshot pins ∪ tag pins — the full set vacuum and the compaction
    * bound must respect.
    */
  private[graft] def pins(s: SparkSession, chain: Chain): Set[String] =
    snapshotPins(s, chain.corpusDir, chain.leaseKey) ++ tagPins(s, chain)

  /** The generation assignment snapshot K pinned: table → raw frame of
    * the pinned generation dir (audit/reproduce surface, like
    * [[readGeneration]]).
    */
  def readSnapshot(s: SparkSession, corpusDir: String,
                   k: Int): Map[String, DataFrame] = {
    val f = snapshotDir(s, corpusDir).resolve(s"s$k")
    require(java.nio.file.Files.exists(f),
      s"snapshot $k of $corpusDir does not exist (have: ${snapshots(s, corpusDir).mkString(",")})")
    new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      .linesIterator.map(_.split("\t", 2)).collect {
        // the one generation read: a pinned generation reads through its
        // own schema record, manifest, sidecar and column mapping — the
        // snapshot reproduces the COMPOSED view it served
        case Array(t, p) => t -> Chain.flat(corpusDir, t).read(s, p)
      }.toMap
  }

  /** Unpin snapshot K; its generations become vacuum-eligible. */
  def dropSnapshot(s: SparkSession, corpusDir: String, k: Int): Unit =
    java.nio.file.Files.deleteIfExists(snapshotDir(s, corpusDir).resolve(s"s$k"))

  /** Reclaim drained generations: delete every generation dir strictly
    * older than the `keepLast` most recent ones, never touching the one
    * the pointer names or any generation a retained
    * [[snapshot]] pins. Copy-on-write makes this safe at any point AFTER
    * old readers drain: shared bytes are hard links, so an inode
    * referenced by a surviving generation outlives the deletion of every
    * older dir that also linked it. Returns the deleted paths.
    */
  def vacuum(s: SparkSession, chain: Chain, keepLast: Int = 2): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    GenerationLease.withLease(s, chain.corpusDir, chain.leaseKey) {
      // resync: a crashed writer may have left a complete generation
      // the pointer does not name yet — deleting "old" generations judged
      // from a lagging pointer could reclaim the dir recovery serves next
      chain.resync(s)
      val served = chain.tip(s).getOrElse(throw new IllegalArgumentException(
        s"no layout for (${chain.corpusDir}, ${chain.table})"))
      val pinned = pins(s, chain) +
        java.nio.file.Paths.get(served).normalize.toString
      generations(s, chain).dropRight(keepLast)
        .filterNot { case (_, p) =>
          pinned.contains(java.nio.file.Paths.get(p).normalize.toString) }
        .map { case (_, p) =>
          graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(p))
          p
        }
    }
  }

  /** Time-travel read: retained generation `gen` of either chain kind as
    * the frame it SERVED — its own schema, `_dv` sidecars and column
    * mapping, not the tip's: [[Chain.read]], the read the tip is served
    * through. Fails with the retained have-list for a vacuumed or
    * unknown generation.
    */
  def readGeneration(s: SparkSession, chain: Chain, gen: Int): DataFrame =
    chain.read(s, generationPath(s, chain, gen))

  private def generationPath(s: SparkSession, chain: Chain, gen: Int): String = {
    val gens = generations(s, chain)
    gens.collectFirst { case (g, p) if g == gen => p }.getOrElse(
      throw new IllegalArgumentException(
        s"generation $gen of (${chain.corpusDir}, ${chain.table}) is not " +
          s"retained — have: ${gens.map(_._1).mkString(", ")}"))
  }

  /** What changed between two retained generations, as an applicable
    * changeset: `applyChanges(readGeneration(from), generationDiff(from,
    * to)) ≡ readGeneration(to)` (MergeSpec pins the law). The audit
    * verb of the lifecycle — "what did the last week of feeds do to the
    * corpus" is one call, and its cost is [[changeset]]'s: a (key, hash)
    * diff join, text only rides for the changed rows.
    */
  def generationDiff(s: SparkSession, corpusDir: String, table: String,
                     from: Int, to: Int): DataFrame = {
    val chain = Chain.flat(corpusDir, table)
    // Both sides read through the NEWER generation's column mapping
    // (mappings name PHYSICAL columns, which are stable across metadata
    // generations): a rename between `from` and `to` then surfaces the
    // same logical name over the same bytes on both sides — diffing as
    // unchanged, not every-row-changed — and a drop is omitted from
    // both. (Across a full rewrite that REBASED a rename, the old
    // physical is gone and the diff degrades to the padded add/remove
    // shape below — still applicable, just not minimal.)
    val mTo = CorpusLayout.readMapping(generationPath(s, chain, to))
    def side(g: Int) = CorpusLayout.applyMapping(
      CorpusLayout.generation(s, chain, generationPath(s, chain, g)), mTo)
    val (v1, v2) = (side(from), side(to))
    // diffing across an ADD-COLUMN boundary: pad each side with the
    // columns only the other has (NULL — exactly what that generation's
    // readers observe), so the hash diff compares like with like and an
    // all-NULL added column diffs as "unchanged", not "every row changed"
    def pad(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    changeset(pad(v1, v2), pad(v2, v1), chain.key)
  }

  // ── Bucket-count sizing policy ──────────────────────────────────────
  // SCALING §8's honest limit, closed: copy-on-write's rewrite
  // amplification for a k-key feed is the touched fraction 1−e^(−k/B),
  // so B must TRACK THE CORPUS (one-task-sized buckets) for trickle
  // applies to stay changeset-sized — B=32 rewrites 28% of a 100 TB
  // corpus for a 10-key feed; B=10⁵ rewrites ~10⁻⁴ of it. The knob is
  // [[TargetBucketBytesKey]]; [[applyToLayout]] consults the policy
  // before each apply and folds in a [[rebucket]] when the served
  // generation has drifted ≥4× off the sized count. The 4× hysteresis
  // (with power-of-two counts) bounds maintenance: under geometric
  // corpus growth the full rewrite is paid O(log corpus) times ever,
  // and every apply in between is changeset-sized.

  /** Session conf: target data bytes per bucket (suffixes k/m/g). Unset
    * = no automatic re-bucketing — DefaultBuckets stands, the honest
    * pre-round-11 behavior.
    */
  val TargetBucketBytesKey = "spark.graft.layout.targetBucketBytes"

  private[graft] def parseBytes(v: String): Long = {
    val t = v.trim.toLowerCase
    val (num, mult) =
      if (t.endsWith("k")) (t.dropRight(1), 1L << 10)
      else if (t.endsWith("m")) (t.dropRight(1), 1L << 20)
      else if (t.endsWith("g")) (t.dropRight(1), 1L << 30)
      else (t, 1L)
    math.round(num.toDouble * mult)
  }

  /** Data bytes of a generation dir (data files only — markers and the
    * `_stats` manifest excluded). Driver-side listing, like the CoW
    * file partition itself.
    */
  private[graft] def dataBytes(loc: String): Long =
    graft.FsUtil.list(java.nio.file.Paths.get(loc)).filter(CorpusLayout.isDataFile)
      .map(java.nio.file.Files.size(_)).sum

  /** The bucket count the sizing policy wants for `totalBytes` at
    * `targetBytes` per bucket: ceil(total/target) rounded UP to a power
    * of two (stability — counts move in doublings, so the 4× drift
    * gate below fires predictably), floored at 1.
    */
  private[graft] def sizedBucketCount(totalBytes: Long, targetBytes: Long): Int = {
    require(targetBytes > 0, s"target bucket bytes must be positive, got $targetBytes")
    val raw = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
    var b = 1
    while (b < raw && b < (1 << 30)) b <<= 1
    b
  }

  /** Consult the sizing policy for a served layout table: when the
    * [[TargetBucketBytesKey]] conf is set and the served generation's
    * BYTES PER BUCKET has drifted ≥4× off the target (too fat — applies
    * rewrite too much per touched bucket — or ≤¼, too thin — task and
    * file overhead dominate), fold in a [[rebucket]] to the sized
    * power-of-two count and return its path. The band is deliberately
    * judged on raw bytes/bucket, not on the rounded count: power-of-two
    * ceiling would halve the effective hysteresis, and per-file format
    * overhead shifting total bytes across a rewrite could then re-fire
    * the policy immediately (rebucket thrash). A rewrite additionally
    * requires the SIZED COUNT to differ from the served one: at the
    * count floor (tiny corpus, sized = 1 = cur) and the 2^30 cap the
    * band stays "violated" forever, and without this guard every apply
    * would pay a full-corpus rewrite and burn a generation — the
    * opposite of the O(log corpus) maintenance bound. No conf,
    * within-band, or already-at-sized-count = None, no work.
    */
  def maybeRebucket(s: SparkSession, corpusDir: String,
                    table: String = "documents"): Option[String] =
    s.conf.getOption(TargetBucketBytesKey).flatMap { v =>
      val target = parseBytes(v)
      val chain = Chain.flat(corpusDir, table)
      if (chain.tip(s).isEmpty) None
      else {
        val (loc, cur) = chain.layout(s)
        val bytes = dataBytes(loc)
        val perBucket = bytes.toDouble / cur
        val sized = sizedBucketCount(bytes, target)
        if ((perBucket >= 4.0 * target || perBucket <= target / 4.0) && sized != cur)
          Some(rebucket(s, corpusDir, table, sized))
        else None
      }
    }

  /** OPTIMIZE: fold a chain's served state into ONE fresh generation —
    * same bucket count, every byte rewritten, no inode shared with any
    * ancestor — for both chain kinds. MOR sidecars fold away, per-unit
    * fragmentation heals back to one file per (partition, bucket), a
    * column mapping rebases, and [[vacuum]] can then reclaim a long
    * trickle chain outright (streaming merge burns one generation per
    * non-empty micro-batch; hard links keep the chain cheap, but the
    * directory entries and link-chain metadata still accrete — this is
    * [[graft.streaming.ParquetSink]]'s `compact` verb for the chain).
    * A flat tip without sidecars folds with ZERO Exchange: with
    * auto-bucketed-scan forced off, the bucketed read yields partition
    * i ≡ bucket i and the bucketBy writer emits exactly one fresh file
    * per bucket — a corpus-sized IO pass, never a corpus-sized shuffle.
    * Readers are never blocked (same write + commit as an apply).
    */
  def compact(s: SparkSession, chain: Chain): String = rewrite(s, chain, None)

  /** The one full-rewrite verb behind [[compact]] and [[rebucket]]: the
    * served (composed, logical) frame written as a fresh generation at
    * `newBuckets` (default: the served count). A cluster spec survives:
    * its columns rebase through the mapping (the rewrite writes logical
    * names), `_zv` recomputes, files re-sort and re-split by it. The
    * rewrite changes no rows, so with the change feed on it stamps an
    * EMPTY feed slice (the conservative row-preservation test cannot
    * vouch for a generation whose every file was renamed).
    */
  private def rewrite(s: SparkSession, chain: Chain,
                      newBuckets: Option[Int]): String =
    GenerationLease.withLease(s, chain.corpusDir, chain.leaseKey) {
      chain.resync(s)
      val served = chain.served(s).getOrElse(throw new IllegalStateException(
        s"no layout for (${chain.corpusDir}, ${chain.table}) — materialize it first"))
      val (curLoc, b0) = chain.layout(s)
      val b = newBuckets.getOrElse(b0)
      val vpath = nextGenerationPath(s, chain)
      val spec = CorpusLayout.readClusterSpec(curLoc)
        .flatMap(CorpusLayout.rebaseSpec(_, CorpusLayout.readMapping(curLoc)))
      def write(repartitionFirst: Boolean) =
        clusteredWrite(s, chain.key, chain.partitionCol, served, spec, b, vpath,
          repartitionFirst = repartitionFirst)
      // the exchange-free fold needs the bucketed scan's partitioning: a
      // composed MOR tip (anti-join + union), a partitioned chain and a
      // new bucket count all pay the one repartition instead
      val written =
        if (newBuckets.nonEmpty || chain.partitioned || chain.dvDirs(curLoc).nonEmpty)
          write(repartitionFirst = true)
        else {
          // auto-bucketed-scan would DROP the bucketed scan here (no join
          // in the plan to justify it) and the write would fan out
          // per-task files; forcing it pins partition id == bucket id (the
          // mapping projection and _zv recompute are per-row — both
          // preserve it)
          val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
          val prevAuto = s.conf.getOption(autoKey)
          try {
            s.conf.set(autoKey, "false")
            write(repartitionFirst = false)
          } finally prevAuto match {
            case Some(v) => s.conf.set(autoKey, v)
            case None => s.conf.unset(autoKey)
          }
        }
      if (changeFeedOn(s)) java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(vpath, CdfDir))
      chain.commit(s, vpath, b, written)
      // flat upkeep: every file name changed, so the manifest carry
      // degenerates to a full re-stat (no-op without a manifest)
      if (!chain.partitioned)
        graft.sources.StatsManifest.refreshAfterApply(s, curLoc, vpath)
      vpath
    }

  /** Generation-count compaction policy — the self-tuning alternative to
    * a raw "every N batches" cadence: compact (then vacuum to `keepLast`,
    * snapshot pins always survive) only when the chain has accreted more
    * than `maxGenerations` generations. Cost model for picking a bound:
    * a fold is one corpus-sized IO pass (zero shuffle) paid once per
    * ~maxGenerations applied batches, so its IO amortizes to
    * corpusBytes / maxGenerations per batch — against an ingest batch of
    * avgBatchBytes, the overhead ratio is
    * (corpusBytes / avgBatchBytes) / maxGenerations. Pick
    * maxGenerations ≈ (corpus/batch size ratio) / overheadBudget: a
    * 1/1000-corpus trickle with a 25% IO budget wants maxGenerations
    * ≈ 4000, NOT a small number — and that is fine, because the chain's
    * cost between folds is metadata only (CoW hard links share bytes;
    * [[vacuum]] already reclaims unpinned generation DIRS), so the fold
    * is directory/inode hygiene, not byte reclaim. Small bounds
    * (8–64) are right only when batches are a meaningful fraction of
    * the corpus (nightly re-crawls), where the ratio itself is small.
    * Pair with keepLast ≥ 2 so one pre-compaction generation survives
    * for in-flight readers. The bound counts only RECLAIMABLE
    * generations: snapshot-pinned ones survive every vacuum by
    * contract, so counting them would make the trigger re-fire on
    * every apply once pins alone exceed the bound — a full corpus
    * rewrite per batch, the same thrash pathology [[maybeRebucket]]'s
    * sized-count guard closes on its side. Returns the compacted
    * generation's path, or None when the reclaimable chain is still
    * under the bound.
    */
  def maybeCompact(s: SparkSession, corpusDir: String,
                   table: String = "documents",
                   maxGenerations: Int = 64,
                   keepLast: Int = 2): Option[String] = {
    if (maxGenerations <= 0) return None
    // keepLast >= maxGenerations would re-violate the bound the moment
    // the post-fold vacuum finishes (it RETAINS keepLast generations),
    // so every subsequent apply would pay a full-corpus fold — the
    // per-batch thrash this policy exists to close. Loud, not silent.
    require(keepLast < maxGenerations,
      s"keepLast ($keepLast) must be < maxGenerations ($maxGenerations): " +
        "vacuum retains keepLast generations after a fold, so the bound " +
        "would re-trigger on every apply")
    val chain = Chain.flat(corpusDir, table)
    val pinned = pins(s, chain)
    val reclaimable = generations(s, chain).count { case (_, p) =>
      !pinned.contains(java.nio.file.Paths.get(p).normalize.toString)
    }
    if (reclaimable > maxGenerations) {
      val p = compact(s, chain)
      vacuum(s, chain, keepLast)
      Some(p)
    } else None
  }

  /** Re-bucket a layout table at a new bucket count, as a new
    * generation — the lever SCALING.md §8 names: copy-on-write's
    * rewrite amplification for a k-key feed is the touched fraction
    * 1−e^(−k/B), so B must track the corpus (one-task-sized buckets) to
    * keep trickle applies changeset-sized. This is the one generation
    * write that cannot share a byte with its parent (every row moves
    * buckets): one full shuffle + rewrite, paid per re-bucketing
    * decision, not per apply.
    *
    * The signature store buckets its facets independently on the SAME
    * key expression, at [[CorpusLayout.DefaultBuckets]]; corpus ⋈ store
    * doc_id joins stay zero-Exchange only while the bucket counts agree,
    * so rebuild the store ([[SignatureStore.materialize]]) at the new
    * count before relying on co-location again. (The vector index is
    * partitioned by cell, not bucketed, and is unaffected.)
    */
  def rebucket(s: SparkSession, corpusDir: String, table: String,
               newBuckets: Int): String = {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    rewrite(s, Chain.flat(corpusDir, table), Some(newBuckets))
  }
}
