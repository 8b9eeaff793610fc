package graft.operators

import graft.sources.{Chain, CorpusLayout}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  /** Session conf selecting the durable apply strategy: `cow` (default)
    * rewrites touched buckets — write cost has a bucketBytes FLOOR per
    * touched bucket; `mor` (merge-on-read) hard-links every base file
    * and writes the batch as a `_dv/` sidecar (tombstone keys + delta
    * rows) the read path composes — write cost ≈ delta bytes, read pays
    * a broadcast anti-join until a fold. The Delta/Iceberg deletion-
    * vector trade, exposed as a conf so p26/p28-style flows run
    * unchanged over either path; [[compactGenerations]], [[rebucket]]
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
    * "after-drop" to halt the JVM inside [[applyToLayout]]'s catalog
    * swing, between DROP and RENAME — the window where the registration
    * is gone but the new generation is complete on disk.
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
    changes.select(pmod(hash(col(key)), lit(buckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet

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

  /** (location dir, declared bucket count) of a catalog table — straight
    * off the session catalog's metadata. This used to run `DESCRIBE
    * FORMATTED` + collect, i.e. a 1-task Spark JOB for two metadata
    * fields, on every apply/serve/resync — and [[graft.sources
    * .PartitionedLayout.composedServing]] calls it from inside an
    * ANALYZER rule, so each resolution of a served table paid it too.
    * Driver metadata must not be cluster work (guide §5).
    */
  private[graft] def tableLayout(s: SparkSession, t: String): (String, Int) = {
    val meta = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalStateException(s"table $t carries no bucket spec"))
    (meta.location.getPath, buckets)
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

  /** Apply a changeset to a corpus table served by the bucketed
    * [[CorpusLayout]], producing a NEW bucketed generation — the
    * end-to-end incremental corpus refresh:
    *
    *  1. COPY-ON-WRITE at bucket granularity (the default): a changeset
    *     key can only land in bucket `pmod(hash(key), B)` — the same
    *     expression the bucketed writer used to place the target's rows —
    *     so buckets holding no changeset key are PROVABLY untouched by
    *     the MERGE. Only touched buckets' files are read, merged, and
    *     rewritten; untouched bucket files are hard-linked into the new
    *     generation byte-for-byte (copy when the filesystem refuses
    *     links). Apply cost scales with the CHANGED fraction, not the
    *     corpus: a day-sized changeset against a 100 TB corpus reads and
    *     writes ~touched-buckets' worth of data, never 100 TB. (On an
    *     object store the link step becomes a manifest entry — same
    *     recipe Iceberg/Delta use; the local engine links.)
    *  2. the merged touched-bucket rows repartition by the bucket
    *     expression before the write — one Exchange of TOUCHED data only,
    *     which pins exactly one new file per touched bucket per apply so
    *     generations never fragment under streaming micro-batches
    *     ([[graft.streaming.StreamingMerge]] calls this per batch);
    *  3. the new generation lands under `$base/$corpusKey/<table>_vN`
    *     with the SAME bucketBy spec, then the catalog table swings to
    *     the new path — `Tables.load` consumers pick up v(N) on their
    *     next plan, and every id-keyed join downstream stays bucketed;
    *  4. previous generation files are never deleted here (in-flight
    *     plans resolved their paths at construction — the
    *     VectorIndexStore versioning recipe); reclaim drained `_vN`
    *     dirs with [[vacuum]] — hard-linked bytes survive any subset of
    *     generation dirs being dropped — or [[CorpusLayout.drop]].
    *
    * `cow = false` (or a changeset touching every populated bucket, or a
    * current generation whose files don't carry bucket suffixes) falls
    * back to the full rewrite: one anti-join over the whole corpus and a
    * complete new generation.
    *
    * The catalog flip is DROP + CREATE (Spark's catalog has no atomic
    * table swap): a reader planning in that window falls back to
    * `Tables.load`'s raw-parquet path — stale by one apply, never
    * broken. Returns the new generation's path.
    */
  def applyToLayout(s: SparkSession, corpusDir: String, changes0: DataFrame,
                    table: String = "documents",
                    buckets: Int = -1,
                    cow: Boolean = true,
                    evolveSchema: Boolean = false,
                    partial: Boolean = false,
                    mode: String = ""): String =
    applyToLayoutFrom(s, corpusDir, table, buckets, cow, evolveSchema,
      partial, mode)(_ => changes0)

  /** [[applyToLayout]] with the changeset DERIVED from the served frame
    * INSIDE the single-writer lease (post-resync): a command whose
    * changeset or validation reads the corpus it is about to edit
    * (INSERT's existing-key probe, OVERWRITE's gone-key anti-join,
    * UPDATE/DELETE's WHERE scan) would otherwise check-then-act across
    * the lease boundary — a concurrent writer committing between the
    * outside read and the lease turns a loud rejection into a silent
    * lost update. `mkChanges` receives the lease-resynced served frame;
    * `preApply` (optional) runs AFTER the changeset snapshot and key
    * validation with (served frame, snapshotted changeset) — the rows it
    * approves are bit-for-bit the rows applied, so a non-deterministic
    * source can never pass the probe yet apply different keys.
    */
  def applyToLayoutFrom(s: SparkSession, corpusDir: String,
                    table: String = "documents",
                    buckets: Int = -1,
                    cow: Boolean = true,
                    evolveSchema: Boolean = false,
                    partial: Boolean = false,
                    mode: String = "",
                    preApply: (DataFrame, DataFrame) => Unit = null)
                   (mkChanges: DataFrame => DataFrame): String = {
    val keyCol = CorpusLayout.keyed.getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' has no bucketed layout key (CorpusLayout.keyed)"))
    val t = CorpusLayout.tableName(table, corpusDir)
    require(CorpusLayout.ifPresent(s, corpusDir, table).isDefined,
      s"no bucketed layout for ($corpusDir, $table) — run CorpusLayout.materialize first")
    // single-writer fence: every chain-mutating step below — resolve,
    // stage, link, swing — runs under the generation lease, and the
    // FIRST fenced step re-syncs this session's catalog to the chain
    // tip, so a concurrent writer in another JVM can never be merged
    // over (lost update) or raced to the same _vN.
    GenerationLease.withLease(s, corpusDir, table) {
    CorpusLayout.resyncServing(s, corpusDir, table)
    // sizing policy FIRST (see [[TargetBucketBytesKey]]): when the
    // served B has drifted ≥4× off the sized count, pay the one full
    // rewrite now so THIS apply (and every following one) is already
    // changeset-sized under the new B. The explicit-`buckets` escape
    // hatch skips the policy — the caller pinned a count on purpose.
    if (buckets <= 0) maybeRebucket(s, corpusDir, table)
    // resolve AFTER any rebucket: the relation, generation numbering and
    // bucket count may all have moved
    val target = CorpusLayout.ifPresent(s, corpusDir, table).get
    val changes0 = mkChanges(target)
    val vpath = nextGenerationPath(s, Chain.flat(corpusDir, table))
    val (curLoc, curBuckets) = tableLayout(s, t)
    // Bucket placement hashes the key's BINARY representation, and
    // murmur3 differs by width: an IntegerType changeset key against a
    // LongType corpus hashes to different bucket ids than the bucketed
    // writer used, so touchedBuckets would classify the real home bucket
    // "untouched" and hard-link it forward unmodified — silent duplicate
    // or undeleted keys. Cast the changeset key to the target's type
    // FIRST. Plain `cast` is unusable for the lossy case: ANSI mode
    // THROWS on an overflowing narrowing cast, and with ANSI off it
    // silently WRAPS — two distinct keys colliding onto one doc_id would
    // upsert the wrong row past every check. `try_cast` nulls on
    // overflow under either setting, and the round-trip comparison below
    // also catches value-CHANGING conversions that don't null (double→
    // long truncation), so any non-value-preserving key rejects loudly
    // here, before anything durable.
    val keyType = target.schema(keyCol).dataType
    val srcType = changes0.schema(keyCol).dataType
    val changes1raw = if (srcType == keyType) changes0
      else changes0.withColumn("__src_key", col(keyCol))
        .withColumn(keyCol, col(keyCol).try_cast(keyType))
    // snapshot the changeset ONCE before anything durable OR validating:
    // the key check below, the swing, the `_cdf` slice and the index
    // applies each force this plan, and a non-deterministic source (a
    // streaming foreachBatch frame, rand()/now()-derived rows, a table
    // changing underneath) would otherwise pass validation on one row
    // set and APPLY another — and persist a feed slice differing from
    // the rows actually applied, breaking the feed's replay law.
    // localCheckpoint truncates lineage to materialized blocks
    // (changeset-sized, never corpus); lost blocks fail loudly instead
    // of silently recomputing a different changeset.
    val changes1 = changes1raw.localCheckpoint(true)
    // SQL MERGE raises on multiple source matches; enforce the same
    // contract LOUDLY before anything lands on disk — a duplicate or
    // NULL changeset key would write a generation with duplicate/orphan
    // rows and silently corrupt every downstream uniqueness assumption
    // (bucketed joins, stores, dedup). The SAME aggregate also verifies
    // the key cast round-trips (a lossy width cast would mis-bucket or
    // collide keys — see the try_cast note above): folding it in keeps
    // the validation at ONE changeset-sized map-combined job instead of
    // a separate full evaluation of the changeset plan per apply. Never
    // corpus work; applyChanges stays a lazy combinator, so the durable
    // path is where the check belongs.
    val rtBad =
      if (srcType == keyType) lit(false)
      else col("__src_key").isNotNull &&
        !(col(keyCol).try_cast(srcType) <=> col("__src_key"))
    // diagnostics + touched-bucket discovery in ONE job (optimization
    // r16, guide §1.2): the validation aggregate and cowSwingToPath's
    // touched-bucket distinct both reduce the SAME checkpointed
    // changeset — each used to pay its own job round-trip per apply. The
    // bucket expression depends only on the key, and partial expansion
    // preserves the key multiset, so the set computed here equals the
    // one the swing used to compute post-expansion.
    val diagAndBuckets = changes1.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"),
        max(when(rtBad, 1).otherwise(0)).as("__lossy"))
      .filter(col(keyCol).isNull || col("__n") > lit(1L) || col("__lossy") === 1)
      .limit(5)
      .select(lit("diag").as("__tag"), col(keyCol).cast("string").as("__a"),
        concat_ws("/", col("__n"), col("__lossy")).as("__b"))
      .unionByName(changes1
        .select(pmod(hash(col(keyCol)), lit(curBuckets)).cast("int").as("__bk"))
        .distinct()
        .select(lit("bucket").as("__tag"), col("__bk").cast("string").as("__a"),
          lit("").as("__b")))
      .collect()
    val badKeys = diagAndBuckets.filter(_.getString(0) == "diag")
    require(badKeys.isEmpty,
      s"changeset violates one-row-per-'$keyCol' (SQL MERGE's multiple-" +
        s"match error), carries a NULL key, or its key (${srcType.sql}) " +
        s"does not round-trip through the layout's key type " +
        s"(${keyType.sql}): ${badKeys.map(r => s"${r.getString(1)} " +
          s"[n/lossy=${r.getString(2)}]").mkString(", ")}")
    val touchedPre = diagAndBuckets.filter(_.getString(0) == "bucket")
      .map(_.getString(1).toInt).toSet
    val changes2 = if (srcType == keyType) changes1
      else changes1.drop("__src_key")
    if (preApply != null) preApply(target, changes2)
    // a sparse (UPDATE SET) changeset expands to full rows HERE, before
    // anything durable: the bucket math below only needs the key, but
    // the downstream index applies (SignatureStore / VectorIndexStore)
    // and the staging write want complete rows. Expansion is one
    // changeset-key semi-join against the corpus — broadcast-sized, and
    // bucket-co-located over this very layout. (The key checks above
    // ran pre-expansion: expansion left-joins the unique-keyed corpus,
    // so it preserves the changeset's key multiset.)
    // (expansion re-snapshots: its corpus semi-join would otherwise be
    // re-run by each downstream consumer — swing, slice, index applies —
    // against the documented one-semi-join cost)
    val changes = if (partial)
      expandPartial(target, changes2, keyCol).localCheckpoint(true)
      else changes2
    // buckets <= 0 = adopt the served generation's bucket count — the
    // right default, since a [[rebucket]] may have moved it off
    // DefaultBuckets; an explicit ask that disagrees is a caller bug.
    val nBuckets = if (buckets <= 0) curBuckets else buckets
    require(curBuckets == nBuckets,
      s"layout for $t has $curBuckets buckets; apply asked for $nBuckets")
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
    val colMapping = CorpusLayout.readMapping(curLoc)
    if (morMode)
      morSwingToPath(s, Chain.flat(corpusDir, table), curLoc, nBuckets, vpath,
        changes, colMapping)
    else
      // a CoW apply over a MOR tip must FOLD the sidecar: the touched-
      // bucket fast path reads base files directly and would silently
      // drop the sidecar's edits, so force the full rewrite (whose
      // `target` is the dv-composed effective frame) — this is also how
      // a mixed-mode chain converges back to a pure bucketed layout
      cowSwingToPath(s, t, target, curLoc, nBuckets, vpath, changes, keyCol,
        cow && !CorpusLayout.hasDv(curLoc), evolveSchema, colMapping,
        touchedPre = Some(touchedPre))
    // change data feed: persist THIS apply's effective changeset as a
    // `_cdf/` sidecar in the new generation (see [[ChangeFeedKey]]).
    // `target` still resolves — the old generation's files are kept on
    // disk for in-flight readers, this read included.
    if (changeFeedOn(s)) writeChangeFeedSlice(s, target, changes, keyCol, vpath)
    // bump the layout epoch so OTHER sessions' cached relations (a
    // foreachBatch clone ran this swing; the driver session is still
    // holding the old generation's resolved plan) refresh on next read
    CorpusLayout.bumpEpoch(s, corpusDir, table, vpath)
    // carry the file-skipping manifest across the swing: hard-linked
    // bucket files keep their stats rows verbatim, only the files this
    // apply wrote re-stat (no-op when the served generation had none)
    graft.sources.StatsManifest.refreshAfterApply(s, curLoc, vpath)
    // keep the table-format indexes coherent with the corpus they index:
    // when a store exists for this corpus, derive the index changeset
    // from the SAME changes and apply it with the same verb (each
    // applyChangeset is a no-op without its store)
    if (table == "documents")
      SignatureStore.applyChangeset(s, corpusDir, changes)
    else if (table == "embeddings")
      VectorIndexStore.applyChangeset(s, corpusDir, changes)
    vpath
    } // GenerationLease.withLease
  }


  /** The ONE clustered bucketed staging write every generation rewrite
    * shares (touched-bucket CoW, full-rewrite rebase, compaction fold,
    * rebucket): recompute `_zv` when a cluster spec rides along, sort
    * files by what they will actually honor, split at the spec's row
    * bound, and persist the `_CLUSTER` (and, for rebasing writes, the
    * `_zv` mapping) markers next to the write. `repartitionFirst` is
    * the one-task-per-bucket discipline — skipped only by the
    * exchange-free compaction path, whose input is already
    * bucket-partitioned.
    */
  private def clusteredStagingWrite(s: SparkSession, df: DataFrame,
                                    spec: Option[CorpusLayout.ClusterSpec],
                                    nBuckets: Int, keyCol: String,
                                    vpath: String, t: String,
                                    repartitionFirst: Boolean,
                                    writeZMapping: Boolean): Unit = {
    val out = spec.foldLeft(df)((d, sp) =>
      d.withColumn(CorpusLayout.ZCol, CorpusLayout.zExpr(sp)))
    val aligned = if (repartitionFirst) out.repartition(nBuckets, col(keyCol))
      else out
    aligned.write.format("parquet").option("path", vpath)
      .option("maxRecordsPerFile", spec.map(_.rowsPerFile).getOrElse(0L))
      .bucketBy(nBuckets, keyCol)
      .sortBy(spec.map(_ => CorpusLayout.ZCol).getOrElse(keyCol))
      .mode("overwrite").saveAsTable(s"${t}_staging")
    spec.foreach { sp =>
      CorpusLayout.writeClusterSpec(vpath, sp)
      if (writeZMapping)
        CorpusLayout.writeMapping(vpath, Map(CorpusLayout.ZCol -> None))
    }
  }

  /** The bucket-scoped copy-on-write swing shared by the corpus apply
    * and the table-format index apply ([[SignatureStore.applyChangeset]]):
    * write the merged TOUCHED buckets to `vpath` as a staging table,
    * hard-link untouched bucket files forward, mark the generation
    * complete, and swing the catalog name `t` onto it.
    *
    * Under `evolve` the staging write carries the EVOLVED schema and the
    * catalog table adopts it, while linked untouched files keep the old
    * one — Spark's parquet reader fills a requested column a file lacks
    * with NULL, so the linked bytes never rewrite for an ADD COLUMN (the
    * Delta/Iceberg metadata-only evolution recipe; [[readGeneration]] /
    * [[CorpusLayout.repairServing]] read with mergeSchema so raw-path
    * reads see the union schema too).
    */
  private[graft] def cowSwingToPath(s: SparkSession, t: String, target: DataFrame,
                                    curLoc: String, nBuckets: Int, vpath: String,
                                    changes: DataFrame, keyCol: String,
                                    cow: Boolean,
                                    evolve: Boolean = false,
                                    mapping: Map[String, Option[String]] = Map.empty,
                                    touchedPre: Option[Set[Int]] = None): Unit = {
    // Partition the CURRENT generation's files by whether their bucket
    // can contain a changeset key. Resolved before any write so the
    // listing is of the generation the catalog serves right now.
    val curFiles = {
      val dir = java.nio.file.Paths.get(curLoc)
      val kids = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala.map(_.getFileName.toString)
          .filter(n => !n.startsWith("_") && !n.startsWith("."))
          .toVector
      } finally kids.close()
    }
    val fileBuckets = curFiles.map(f => f -> bucketIdOf(f))
    // the corpus apply hands the bucket set in (computed inside its
    // combined validation job — key-only, expansion-invariant); index
    // applies (SignatureStore) still compute their own
    val touched = if (cow) touchedPre.getOrElse(
      touchedBuckets(changes, keyCol, nBuckets)) else Set.empty[Int]
    val untouchedFiles = fileBuckets.collect {
      case (f, Some(b)) if !touched.contains(b) => f
    }
    val parseable = fileBuckets.forall(_._2.isDefined)
    // materialize the merged result BEFORE dropping the table the plan
    // reads from (the SignatureStore.mergeComponents discipline) — here
    // the write itself is the materialization, and it lands in a fresh
    // path the source table never served, so no read-under-write either
    if (cow && parseable && untouchedFiles.nonEmpty) {
      // the touched-bucket path runs in PHYSICAL space: rewritten files
      // sit next to linked ones, so both must keep the files' own
      // column names — the catalog table's schema IS the physical one,
      // and the logical-named changeset translates back through the
      // mapping (dropped physical slots refill as typed NULLs). The
      // mapping marker carries forward: this generation still serves
      // the logical view through it.
      val physSchema = CorpusLayout.physicalSchema(s, t)
      val changesPhys = CorpusLayout.toPhysical(changes, mapping, physSchema)
      val touchedFiles = fileBuckets.collect {
        case (f, Some(b)) if touched.contains(b) => s"$curLoc/$f"
      }
      val touchedTarget =
        if (touchedFiles.isEmpty) // inserts into empty buckets
          CorpusLayout.toPhysical(target, mapping, physSchema).limit(0)
        else s.read.schema(physSchema).parquet(touchedFiles: _*)
      // reclusterTouched: when the layout carries a cluster spec, the
      // merged rows RECOMPUTE the z-value (the changeset's rows arrive
      // with _zv refilled as NULL) and the rewritten buckets re-sort +
      // re-split by it — without this, every touched bucket would fold
      // back into one key-sorted wide file and the manifest's pruning
      // quality would decay apply over apply
      // raw (un-rebased) spec: this branch stays in physical space, and
      // the FULL mapping carries below (it already holds the _zv entry)
      clusteredStagingWrite(s,
        applyChanges(touchedTarget, changesPhys, keyCol, evolve),
        CorpusLayout.readClusterSpec(curLoc), nBuckets, keyCol, vpath, t,
        repartitionFirst = true, writeZMapping = false)
      for (f <- untouchedFiles)
        linkOrCopy(java.nio.file.Paths.get(curLoc, f),
          java.nio.file.Paths.get(vpath, f))
      if (mapping.nonEmpty) CorpusLayout.writeMapping(vpath, mapping)
      // the staging table listed its files before the links landed
      CorpusLayout.refreshRelationCache(s, s"${t}_staging")
    } else {
      // full rewrite = REBASE: `target` is the logical view (mapping +
      // any dv sidecar composed), so the fresh generation's physical
      // names become the logical ones and no _MAPPING carries — the
      // same fold discipline as the dv sidecar.
      // repartition on the bucket expression so each task holds exactly
      // one bucket — without it the bucketBy writer emits up to
      // (tasks × B) files per full rewrite, which at a corpus-sized B
      // (sizing policy, B≈10³⁺) explodes the file count generation over
      // generation (observed locally: 33 tasks × 1024 buckets = 33k
      // files in one broad apply). Same discipline as the touched-bucket
      // write above; the shuffle is the one any bucketed rewrite pays.
      // A cluster spec survives the rebase: its columns translate to
      // the logical names (which become physical here), _zv recomputes
      // over the logical frame and stays the one physical-only column.
      clusteredStagingWrite(s, applyChanges(target, changes, keyCol, evolve),
        CorpusLayout.readClusterSpec(curLoc)
          .flatMap(CorpusLayout.rebaseSpec(_, mapping)),
        nBuckets, keyCol, vpath, t,
        repartitionFirst = true, writeZMapping = true)
    }
    // the generation is complete on disk: mark it (with its bucket
    // count) BEFORE the swing, so a crash anywhere past this line is
    // forward-recoverable — repairServing re-attaches this generation
    CorpusLayout.writeBucketsMarker(vpath, nBuckets)
    // swing the catalog name to the new generation's files
    s.sql(s"DROP TABLE IF EXISTS $t")
    if (s.conf.getOption(CrashPointKey).contains("after-drop"))
      Runtime.getRuntime.halt(137) // test-only: die mid-swing, no cleanup
    s.sql(s"ALTER TABLE ${t}_staging RENAME TO $t")
    CorpusLayout.refreshRelationCache(s, t)
  }

  /** The merge-on-read swing: hard-link EVERY base data file of the
    * current generation forward (zero data bytes written — the CoW
    * bucketBytes floor disappears), fold the batch into the `_dv/`
    * sidecar, and swing the catalog. Sidecar algebra, changeset-sized
    * end to end:
    *
    *  - `tombstones' = tombstones ∪ keys(changes)` — every key the
    *    batch touches must stop being served from the base (updates get
    *    their new version from the deltas; deletes just vanish);
    *  - `deltas' = applyChanges(deltas, changes)` — the same MERGE
    *    combinator, scoped to the sidecar: upserts land/replace, batch
    *    tombstones evict stale delta rows.
    *
    * The sidecar is cumulative, so the READ only ever composes the
    * SERVED generation's `_dv` (never a chain walk), and a fold —
    * [[compactGenerations]], [[rebucket]], or a CoW apply — clears it.
    * Locally the sidecar lands as a handful of files; at corpus scale
    * it would bucket on the same key expression (the anti-join is
    * broadcast until then, so the corpus side never shuffles either
    * way). File-skipping stats carry verbatim: every base name is
    * unchanged, and pruning stays sound because the compose only
    * REMOVES base rows (anti-join) and adds delta rows whose scan
    * carries the same pushed filters.
    */
  private[graft] def morSwingToPath(s: SparkSession, chain: Chain, curLoc: String,
                                    nBuckets: Int, vpath: String,
                                    changes: DataFrame,
                                    mapping: Map[String, Option[String]] = Map.empty): Unit = {
    val keyCol = chain.key
    linkGenerationForward(curLoc, vpath, withDv = false,
      Seq(java.nio.file.Paths.get(curLoc)))
    // catalog-metadata schema + schema-pinned empty frames: s.table(t)
    // passes the composed-serving rule and would hand back the LOGICAL
    // view, but the sidecar lives in PHYSICAL space (it composes BEFORE
    // the mapping projection on read)
    val physSchema = CorpusLayout.physicalSchema(s, chain.catalogName)
    def emptyPhys(sch: org.apache.spark.sql.types.StructType): DataFrame =
      s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), sch)
    val changesPhys = CorpusLayout.toPhysical(changes, mapping, physSchema)
    if (mapping.nonEmpty) CorpusLayout.writeMapping(vpath, mapping)
    val dvOf = (name: String) => s"$curLoc/${CorpusLayout.DvDir}/$name"
    // explicit read schemas: no footer-inference job per sidecar read
    // (the shapes are pinned — tombstones carry the key alone, deltas
    // the physical schema; older files NULL-fill under the wider read)
    val tombSchema = org.apache.spark.sql.types.StructType(Seq(physSchema(keyCol)))
    val prevTombs = if (CorpusLayout.hasDv(curLoc))
      s.read.schema(tombSchema).parquet(dvOf("tombstones"))
      else emptyPhys(tombSchema)
    val prevDeltas = if (CorpusLayout.hasDv(curLoc))
      s.read.schema(physSchema).parquet(dvOf("deltas"))
      else emptyPhys(physSchema)
    val newTombs = prevTombs.unionByName(changesPhys.select(col(keyCol))).distinct()
    val newDeltas = applyChanges(prevDeltas, changesPhys, keyCol)
    // materialized INTO the new generation before the swing — a crash
    // past the markers is forward-recoverable like any complete
    // generation; before them, the dir is garbage the next apply ignores
    newTombs.repartition(1)
      .write.mode("overwrite").parquet(s"$vpath/${CorpusLayout.DvDir}/tombstones")
    newDeltas.repartition(1)
      .write.mode("overwrite").parquet(s"$vpath/${CorpusLayout.DvDir}/deltas")
    // no Spark job wrote the generation ROOT — mark completeness by hand
    chain.markComplete(vpath, nBuckets)
    chain.swing(s, vpath, nBuckets, Some(physSchema))
  }

  /** Link every data file of `curLoc`'s data dirs (their `_dv`
    * sidecars too, when asked) into the same relative place under
    * `vpath` byte-for-byte, carrying the `_CLUSTER` marker — the shared
    * copy step of the MOR and metadata swings.
    */
  private def linkGenerationForward(curLoc: String, vpath: String,
                                    withDv: Boolean,
                                    dirs: Seq[java.nio.file.Path]): Unit = {
    val cur = java.nio.file.Paths.get(curLoc)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(vpath))
    dirs.foreach { dir =>
      val dst = java.nio.file.Paths.get(vpath).resolve(cur.relativize(dir).toString)
      java.nio.file.Files.createDirectories(dst)
      Chain.list(dir).filter { f =>
        val n = f.getFileName.toString
        java.nio.file.Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }.foreach(f => linkOrCopy(f, dst.resolve(f.getFileName.toString)))
      val dvSrc = dir.resolve(CorpusLayout.DvDir)
      if (withDv && java.nio.file.Files.isDirectory(dvSrc)) {
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
      val files = Option(cdf.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
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
        s.read.option("mergeSchema", "true").parquet(cdf.toString)
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
            Chain.list(d).map(_.getFileName.toString)
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
    * widening, the schema anchor), mark it complete, swing the catalog.
    * `update` receives (current mapping, logical column names, physical
    * schema) and returns the new mapping.
    */
  private def metadataSwing(s: SparkSession, chain: Chain,
                            widen: Seq[(String, org.apache.spark.sql.types.DataType)] = Seq.empty)
      (update: (Map[String, Option[String]], Seq[String],
        org.apache.spark.sql.types.StructType) => Map[String, Option[String]]): String =
    GenerationLease.withLease(s, chain.corpusDir, chain.leaseKey) {
      chain.resync(s)
      val t = chain.catalogName
      require(s.catalog.tableExists(t),
        s"no layout for (${chain.corpusDir}, ${chain.table}) — materialize it first")
      val (curLoc, b) = tableLayout(s, t)
      val vpath = nextGenerationPath(s, chain)
      val physSchema = CorpusLayout.physicalSchema(s, t)
      val m0 = CorpusLayout.readMapping(curLoc)
      val newMapping = update(m0, logicalColumns(m0, physSchema), physSchema)
      // the files' schema: a partition column is directory-named, never
      // a file column
      val fileSchema = org.apache.spark.sql.types.StructType(
        physSchema.filterNot(f => chain.partitionCol.contains(f.name)) ++
          widen.map { case (n, dt) =>
            org.apache.spark.sql.types.StructField(n, dt, nullable = true) })
      linkGenerationForward(curLoc, vpath, withDv = true,
        chain.dataDirs(curLoc).map(_._2))
      if (widen.nonEmpty) writeSchemaAnchor(s,
        chain.dataDirs(vpath).headOption.getOrElse(throw new IllegalStateException(
          s"no data dir under $vpath to anchor the ADD"))._2.toString, fileSchema)
      if (newMapping.nonEmpty) CorpusLayout.writeMapping(vpath, newMapping)
      chain.markComplete(vpath, b)
      chain.swing(s, vpath, b, Some(fileSchema))
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
      Chain.list(java.nio.file.Paths.get(base)).map(_.getFileName.toString).collect {
        case n if n == chain.table => 0 -> s"$base/$n"
        case n if n.startsWith(prefix) && n.drop(prefix.length).nonEmpty &&
          n.drop(prefix.length).forall(_.isDigit) =>
          n.drop(prefix.length).toInt -> s"$base/$n"
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
      CorpusLayout.repairServing(s, corpusDir, table)
      val t = CorpusLayout.tableName(table, corpusDir)
      if (!s.catalog.tableExists(t)) None
      else Some(table -> tableLayout(s, t)._1)
    }.toMap
    require(pinned.nonEmpty,
      s"nothing to snapshot for $corpusDir — no layout tables are served")
    val dir = snapshotDir(s, corpusDir)
    java.nio.file.Files.createDirectories(dir)
    val k = snapshots(s, corpusDir).foldLeft(0)(math.max) + 1
    val body = pinned.toSeq.sorted.map { case (t, p) => s"$t\t$p" }.mkString("\n")
    java.nio.file.Files.write(dir.resolve(s"s$k"), body.getBytes("UTF-8"))
    (k, pinned)
  }

  /** Retained snapshot numbers, ascending. */
  def snapshots(s: SparkSession, corpusDir: String): Seq[Int] = {
    val dir = snapshotDir(s, corpusDir)
    if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
    else {
      val kids = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("s") && n.drop(1).nonEmpty &&
            n.drop(1).forall(_.isDigit))
          .map(_.drop(1).toInt).toVector.sorted
      } finally kids.close()
    }
  }

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
      java.nio.file.Files.createDirectories(f.getParent)
      require(!java.nio.file.Files.exists(f),
        s"tag '$name' already exists for ${chain.leaseKey} (generation " +
          s"${tags(s, chain).getOrElse(name, -1)}) — dropTag first")
      java.nio.file.Files.write(f, s"$g\t$p".getBytes("UTF-8"))
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
    Chain.list(tagsDir(s, chain.corpusDir))
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
        // same manifest-index + mergeSchema routing as readGeneration:
        // a pinned generation can be post-evolution mixed-schema, and
        // the snapshot exists to reproduce EXACTLY what was served.
        // Construction pays one footer-merge inference per pinned table
        // (≤|buckets| footers); the manifest collect defers to first scan.
        // A pinned generation reads through its own sidecar and column
        // mapping — the snapshot reproduces the COMPOSED view it served.
        case Array(t, p) =>
          t -> CorpusLayout.applyMapping(rawGeneration(s, p, t),
            CorpusLayout.readMapping(p))
      }.toMap
  }

  /** Unpin snapshot K; its generations become vacuum-eligible. */
  def dropSnapshot(s: SparkSession, corpusDir: String, k: Int): Unit =
    java.nio.file.Files.deleteIfExists(snapshotDir(s, corpusDir).resolve(s"s$k"))

  /** Reclaim drained generations: delete every generation dir strictly
    * older than the `keepLast` most recent ones, never touching the one
    * the catalog currently serves or any generation a retained
    * [[snapshot]] pins. Copy-on-write makes this safe at any point AFTER
    * old readers drain: shared bytes are hard links, so an inode
    * referenced by a surviving generation outlives the deletion of every
    * older dir that also linked it. Returns the deleted paths.
    */
  def vacuum(s: SparkSession, chain: Chain, keepLast: Int = 2): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    GenerationLease.withLease(s, chain.corpusDir, chain.leaseKey) {
      // resync (subsumes the fresh-JVM re-attach): a concurrent writer
      // may have advanced the chain — deleting "old" generations judged
      // from a stale catalog could reclaim the dir an in-flight apply
      // links from
      chain.resync(s)
      require(s.catalog.tableExists(chain.catalogName),
        s"no layout for (${chain.corpusDir}, ${chain.table})")
      val served = tableLayout(s, chain.catalogName)._1
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

  /** Time-travel read: a not-yet-vacuumed generation as a plain parquet
    * frame (audit/diff surface — NOT the bucketed catalog table; serve
    * reads go through [[graft.sources.CorpusLayout.ifPresent]]).
    */
  def readGeneration(s: SparkSession, corpusDir: String, table: String,
                     gen: Int): DataFrame = {
    val path = generationPath(s, corpusDir, table, gen)
    // Serve through the manifest file index: when the generation
    // carries a stats manifest, time-travel reads skip files on any
    // user filter at planning time like the live table's explicit scan
    // path; without one, table() degrades to the plain read itself.
    // Either way the read carries mergeSchema semantics: a generation
    // holds hard-linked pre-evolution files next to evolved ones after
    // an ADD-COLUMN apply, and the union schema (missing columns read
    // NULL) is what the catalog table serves, so the raw time-travel
    // read must see it too. Footer cost is bounded by the generation's
    // ≤|buckets| files. A MOR generation composes its sidecar, and a
    // column-mapped one its projection — the time-travel read sees what
    // that generation SERVED, not its physical base.
    CorpusLayout.applyMapping(rawGeneration(s, path, table),
      CorpusLayout.readMapping(path))
  }

  private def generationPath(s: SparkSession, corpusDir: String,
                             table: String, gen: Int): String = {
    val gens = generations(s, Chain.flat(corpusDir, table))
    gens.collectFirst { case (g, p) if g == gen => p }.getOrElse(
      throw new IllegalArgumentException(
        s"generation $gen of ($corpusDir, $table) does not exist " +
          s"(have: ${gens.map(_._1).mkString(",")} — older ones may be vacuumed)"))
  }

  /** A generation's frame in PHYSICAL space with its dv sidecar
    * composed — shared by time travel ([[readGeneration]] adds the
    * generation's own mapping) and [[generationDiff]] (which applies
    * the NEWER side's mapping to both, so a rename diffs as unchanged).
    */
  private def rawGeneration(s: SparkSession, path: String,
                            table: String): DataFrame = {
    val base = graft.sources.ManifestFileIndex.table(s, path)
    CorpusLayout.keyed.get(table)
      .map(k => CorpusLayout.withDeletionVectors(s, path, base, k))
      .getOrElse(base)
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
    val keyCol = CorpusLayout.keyed.getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' has no bucketed layout key (CorpusLayout.keyed)"))
    // Both sides read through the NEWER generation's column mapping
    // (mappings name PHYSICAL columns, which are stable across metadata
    // generations): a rename between `from` and `to` then surfaces the
    // same logical name over the same bytes on both sides — diffing as
    // unchanged, not every-row-changed — and a drop is omitted from
    // both. (Across a full rewrite that REBASED a rename, the old
    // physical is gone and the diff degrades to the padded add/remove
    // shape below — still applicable, just not minimal.)
    val mTo = CorpusLayout.readMapping(generationPath(s, corpusDir, table, to))
    val v1 = CorpusLayout.applyMapping(
      rawGeneration(s, generationPath(s, corpusDir, table, from), table), mTo)
    val v2 = CorpusLayout.applyMapping(
      rawGeneration(s, generationPath(s, corpusDir, table, to), table), mTo)
    // diffing across an ADD-COLUMN boundary: pad each side with the
    // columns only the other has (NULL — exactly what that generation's
    // readers observe), so the hash diff compares like with like and an
    // all-NULL added column diffs as "unchanged", not "every row changed"
    def pad(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    changeset(pad(v1, v2), pad(v2, v1), keyCol)
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
  private[graft] def dataBytes(loc: String): Long = {
    val dir = java.nio.file.Paths.get(loc)
    val kids = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      kids.iterator().asScala
        .filter(p => { val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".") &&
            java.nio.file.Files.isRegularFile(p) })
        .map(java.nio.file.Files.size(_)).sum
    } finally kids.close()
  }

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
      val t = CorpusLayout.tableName(table, corpusDir)
      if (!s.catalog.tableExists(t)) None
      else {
        val (loc, cur) = tableLayout(s, t)
        val bytes = dataBytes(loc)
        val perBucket = bytes.toDouble / cur
        val sized = sizedBucketCount(bytes, target)
        if ((perBucket >= 4.0 * target || perBucket <= target / 4.0) && sized != cur)
          Some(rebucket(s, corpusDir, table, sized))
        else None
      }
    }

  /** Fold the served generation into a FRESH one — same bucket count,
    * every byte rewritten, no inode shared with any ancestor — so
    * [[vacuum]] can reclaim a long trickle chain outright (streaming
    * merge burns one generation per non-empty micro-batch; hard links
    * keep the chain cheap, but the directory entries and the link-chain
    * metadata still accrete — this is [[graft.streaming.ParquetSink]]'s
    * `compact` verb for the generation chain). The rewrite ships ZERO
    * Exchange: with auto-bucketed-scan forced on, the bucketed read
    * yields partition i ≡ bucket i, and the bucketBy writer then emits
    * exactly one fresh file per bucket without redistributing anything —
    * a corpus-sized IO pass, never a corpus-sized shuffle. Readers are
    * never blocked (same staging + swing as an apply); run it in the
    * single-writer maintenance window like every other generation write.
    */
  def compactGenerations(s: SparkSession, corpusDir: String,
                         table: String = "documents"): String = {
    val keyCol = CorpusLayout.keyed.getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' has no bucketed layout key (CorpusLayout.keyed)"))
    val t = CorpusLayout.tableName(table, corpusDir)
    GenerationLease.withLease(s, corpusDir, table) {
    CorpusLayout.resyncServing(s, corpusDir, table)
    val target = CorpusLayout.ifPresent(s, corpusDir, table).getOrElse(
      throw new IllegalStateException(
        s"no bucketed layout for ($corpusDir, $table) — run CorpusLayout.materialize first"))
    val vpath = nextGenerationPath(s, Chain.flat(corpusDir, table))
    val (curLoc, b) = tableLayout(s, t)
    // a cluster spec survives the fold: its columns rebase through the
    // mapping (the fold writes logical names), _zv recomputes, files
    // re-sort + re-split by it (SORTED BY stays truthful)
    val spec = CorpusLayout.readClusterSpec(curLoc)
      .flatMap(CorpusLayout.rebaseSpec(_, CorpusLayout.readMapping(curLoc)))
    if (CorpusLayout.hasDv(curLoc)) {
      // folding a MOR tip: the effective frame is base⊖tombs∪deltas —
      // an anti-join + union, whose output partitioning is NOT the
      // bucketed scan's, so the exchange-free trick below would fan out
      // per-task files. Pay the one repartition of the corpus; the fold
      // is exactly the moment that cost belongs to.
      clusteredStagingWrite(s, target, spec, b, keyCol, vpath, t,
        repartitionFirst = true, writeZMapping = true)
    } else {
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = s.conf.getOption(autoKey)
    try {
      // auto-bucketed-scan would DROP the bucketed scan here (no join in
      // the plan to justify it) and the write would fan out per-task
      // files; forcing it pins partition id == bucket id, which is what
      // makes the write Exchange-free and one-file-per-bucket (the
      // mapping projection and _zv recompute are per-row — both preserve
      // the scan's partitioning)
      s.conf.set(autoKey, "false")
      clusteredStagingWrite(s, target, spec, b, keyCol, vpath, t,
        repartitionFirst = false, writeZMapping = true)
    } finally prevAuto match {
      case Some(v) => s.conf.set(autoKey, v)
      case None => s.conf.unset(autoKey)
    }
    }
    // a fold changes no rows: stamp an EMPTY feed slice so changeFeed
    // ranges crossing it stay readable (the rewrite renames every file,
    // which the conservative row-preservation test cannot vouch for)
    if (changeFeedOn(s)) java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(vpath, CdfDir))
    CorpusLayout.writeBucketsMarker(vpath, b)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"ALTER TABLE ${t}_staging RENAME TO $t")
    CorpusLayout.refreshRelationCache(s, t)
    CorpusLayout.bumpEpoch(s, corpusDir, table, vpath)
    // every file name changed → the manifest carry degenerates to a full
    // re-stat over the compacted generation (no-op without a manifest)
    graft.sources.StatsManifest.refreshAfterApply(s, curLoc, vpath)
    vpath
    } // GenerationLease.withLease
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
      val p = compactGenerations(s, corpusDir, table)
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
    * The signature/vector stores bucket independently on the SAME key
    * expression; their doc_id joins stay zero-Exchange only while the
    * bucket counts agree, so re-bucket those stores in the same
    * maintenance window (SignatureStore.materializeTable /
    * VectorIndexStore.retrain) before relying on co-location again.
    */
  def rebucket(s: SparkSession, corpusDir: String, table: String,
               newBuckets: Int): String = {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    val keyCol = CorpusLayout.keyed.getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' has no bucketed layout key (CorpusLayout.keyed)"))
    val t = CorpusLayout.tableName(table, corpusDir)
    GenerationLease.withLease(s, corpusDir, table) {
    CorpusLayout.resyncServing(s, corpusDir, table)
    val target = CorpusLayout.ifPresent(s, corpusDir, table).getOrElse(
      throw new IllegalStateException(
        s"no bucketed layout for ($corpusDir, $table) — run CorpusLayout.materialize first"))
    val vpath = nextGenerationPath(s, Chain.flat(corpusDir, table))
    val (curLoc, _) = tableLayout(s, t)
    // a cluster spec survives the rebucket: columns rebase through the
    // mapping (full rewrite), _zv recomputes, SORTED BY stays truthful,
    // files re-split at the spec's row bound
    clusteredStagingWrite(s, target,
      CorpusLayout.readClusterSpec(curLoc)
        .flatMap(CorpusLayout.rebaseSpec(_, CorpusLayout.readMapping(curLoc))),
      newBuckets, keyCol, vpath, t,
      repartitionFirst = true, writeZMapping = true)
    // rebucket changes no rows — stamp an empty feed slice (see
    // compactGenerations)
    if (changeFeedOn(s)) java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(vpath, CdfDir))
    CorpusLayout.writeBucketsMarker(vpath, newBuckets)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"ALTER TABLE ${t}_staging RENAME TO $t")
    CorpusLayout.refreshRelationCache(s, t)
    CorpusLayout.bumpEpoch(s, corpusDir, table, vpath)
    // every file name changed, so the carry degenerates to a full
    // re-stat over the new generation — still the right upkeep
    graft.sources.StatsManifest.refreshAfterApply(s, curLoc, vpath)
    vpath
    } // GenerationLease.withLease
  }
}
