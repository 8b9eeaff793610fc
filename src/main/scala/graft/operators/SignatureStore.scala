package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Materialized MinHash signature/component store — the production form
  * of the d02 pipeline (SURVEY §2.D).
  *
  * Seven operators (d04/d08/d11/d12/p06/p15/p16 + d02 itself) consume the
  * banded-signature frame, and three of those consume the converged
  * duplicate-component labels. Inline, every cold run recomputes
  * tokenize→shingle→md5→16-permutation-min over the whole corpus per
  * consumer — at 100 TB you compute minhashes ONCE, write them next to
  * the corpus, and every dedup/decontamination/sampling job joins the
  * store instead (signatures are per-document and corpus-independent, so
  * the store composes with [[IncrementalDedup]]: nightly batches append
  * the same schema).
  *
  * Opt-in by session conf [[ConfKey]] (a base directory): when set,
  * [[Dedup.signatures]]/[[Dedup.dupComponents]] read a materialized store
  * for the corpus if one exists and fall back inline otherwise. When
  * unset (the default — and the Verify gate's configuration) everything
  * computes inline, which keeps the DuckDB oracle comparison exercising
  * the real pipeline. SignatureStoreSpec pins store-read ≡ inline
  * bit-for-bit.
  *
  * Refresh is the caller's responsibility, like any materialized view:
  * [[materialize]] overwrites; a corpus rewritten in place serves stale
  * signatures until then (the store keys on the corpus PATH).
  */
object SignatureStore {

  /** Session conf holding the store base directory; unset = inline. */
  val ConfKey = "spark.graft.sigstore.dir"

  /** Signature family the store BUILDS: "oph" (default — one hash
    * evaluation per (doc, shingle), d24's estimator) or "perm16" (d02's
    * 16-permutation family, bit-identical to the inline pipeline and its
    * DuckDB oracle). Both emit the same schema (m0..m15 + b0..b3), so
    * every consumer is family-agnostic; the knob only changes WHICH
    * Jaccard estimator the materialized signatures carry. OPH is the
    * at-scale default because its signature scan does 1/16th of the
    * per-shingle aggregate work (SCALING.md measures the crossover);
    * pick perm16 when downstream jobs must reproduce the inline/oracle
    * pair set exactly. Like the corpus-path keying, the family is baked
    * in at materialize time — flipping the conf without re-materializing
    * serves the old family until refresh.
    */
  val FamilyKey = "spark.graft.sigstore.family"

  /** The family the session builds stores with (read at materialize). */
  def family(s: SparkSession): String =
    s.conf.getOption(FamilyKey).getOrElse("oph")

  private def buildSignatures(s: SparkSession, docsDf: DataFrame): DataFrame =
    family(s) match {
      case "perm16" => Dedup.signatureFrame(docsDf)
      case "oph" => Dedup.ophSignatureFrame(docsDf)
      case other => throw new IllegalArgumentException(
        s"$FamilyKey must be 'oph' or 'perm16', got '$other'")
    }

  /** Bucket count for the table-format store ([[materializeTable]]).
    * Matches the session's shuffle partitioning at test scale; at 100 TB
    * you size it so one bucket ≈ one comfortable task (e.g. 4096).
    */
  val DefaultBuckets = 32

  private def corpusKey(corpusDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(corpusDir.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Store directory for a corpus, if the session opted in. */
  def storeDir(s: SparkSession, corpusDir: String): Option[String] =
    s.conf.getOption(ConfKey).map(b => s"$b/${corpusKey(corpusDir)}")

  /** Catalog table name for a store facet ("sig" / "comp"). */
  def tableName(facet: String, corpusDir: String): String =
    s"graft_${facet}_${corpusKey(corpusDir).take(12)}"

  private def ready(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))

  /** Marker file recording which signature family a store was BUILT with.
    * Lives next to (not inside) the table/parquet directories, and is
    * written only AFTER the signature write commits — a build that fails
    * or is killed mid-write leaves the previous marker describing the
    * previous (still-served) rows, never a new-family marker over old
    * rows. Appends must match it: a session whose [[FamilyKey]]
    * differs from the bootstrap (one job built with perm16, a later
    * ingest runs the oph default) would otherwise silently mix two
    * estimators' rows in one table, corrupting est_jaccard with no error.
    */
  private def familyMarker(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "FAMILY")

  private def writeFamilyMarker(dir: String, fam: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(familyMarker(dir), fam.getBytes("UTF-8"))
  }

  /** The family a store under `dir` was materialized with, if recorded. */
  def storedFamily(dir: String): Option[String] = {
    val p = familyMarker(dir)
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  private def tableIfPresent(s: SparkSession, facet: String,
                             corpusDir: String): Option[DataFrame] =
    Some(tableName(facet, corpusDir)).filter(s.catalog.tableExists)
      .map(s.table(_))

  /** The banded-signature frame from the store, when materialized.
    * The bucketed catalog table ([[materializeTable]]) wins over the
    * plain parquet directory: same rows, but its doc_id bucketing lets
    * downstream doc_id joins/aggregates skip the Exchange.
    */
  def signaturesIfPresent(s: SparkSession, corpusDir: String): Option[DataFrame] =
    tableIfPresent(s, "sig", corpusDir)
      .orElse(storeDir(s, corpusDir).map(d => s"$d/signatures").filter(ready)
        .map(s.read.parquet(_)))

  /** The converged component labels from the store, when materialized. */
  def componentsIfPresent(s: SparkSession, corpusDir: String): Option[DataFrame] =
    tableIfPresent(s, "comp", corpusDir)
      .orElse(storeDir(s, corpusDir).map(d => s"$d/components").filter(ready)
        .map(s.read.parquet(_)))

  /** Build (or rebuild) the store for a corpus: one signature pass, one
    * component convergence, both written as parquet. Requires [[ConfKey]]
    * to be set. Returns the store directory.
    *
    * The component stage deliberately runs AFTER the signature write and
    * a memo flush, so it reads the store it will sit next to — the same
    * plan every consumer gets.
    */
  def materialize(s: SparkSession, corpusDir: String): String = {
    val dir = storeDir(s, corpusDir).getOrElse(throw new IllegalStateException(
      s"$ConfKey is not set on this session — nowhere to materialize"))
    // drop any cached plan still scanning a previous store generation
    Dedup.releaseSignatures()
    buildSignatures(s, Tables.load(s, corpusDir, "documents"))
      .write.mode("overwrite").parquet(s"$dir/signatures")
    // marker strictly after the write: a killed build must not leave a
    // new-family marker over the old family's rows
    writeFamilyMarker(dir, family(s))
    Dedup.releaseSignatures()
    // dupComponents now reads the freshly written signatures; its result
    // is a localCheckpoint, so writing it elsewhere is safe
    Dedup.dupComponents(s, corpusDir)
      .write.mode("overwrite").parquet(s"$dir/components")
    Dedup.releaseSignatures()
    dir
  }

  /** Table-format store: the same two facets written as EXTERNAL parquet
    * tables bucketed + sorted on `doc_id` (files under the [[ConfKey]]
    * store dir, metadata in the session catalog — a shared metastore in a
    * real deployment). Bucketing is the piece the plain parquet store
    * can't give: every consumer that joins or aggregates on doc_id
    * (signature lookup for candidate pairs, component→document joins in
    * d08/p06/p15/p16) reads pre-partitioned data, so the store side of
    * those joins ships ZERO Exchange — and a signatures⋈components join
    * (both tables, same bucket count) shuffles nothing at all.
    * SignatureStoreSpec pins both properties plus bit-level equality with
    * the inline pipeline.
    *
    * Returns (signatureTable, componentTable).
    */
  def materializeTable(s: SparkSession, corpusDir: String,
                       buckets: Int = DefaultBuckets): (String, String) = {
    val dir = storeDir(s, corpusDir).getOrElse(throw new IllegalStateException(
      s"$ConfKey is not set on this session — nowhere to materialize"))
    val sigT = tableName("sig", corpusDir)
    val compT = tableName("comp", corpusDir)
    s.sql(s"DROP TABLE IF EXISTS $sigT")
    s.sql(s"DROP TABLE IF EXISTS $compT")
    Dedup.releaseSignatures()
    // repartition on the bucket expression before every bucketBy write
    // (here and below): without it the writer emits up to (tasks × B)
    // files — at cluster task counts that is millions of store files,
    // and it defeats the one-file-per-bucket scan/maintenance arithmetic
    buildSignatures(s, Tables.load(s, corpusDir, "documents"))
      .repartition(buckets, col("doc_id"))
      .write.format("parquet").option("path", s"$dir/sig_table")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable(sigT)
    // marker strictly after the write (see familyMarker Scaladoc)
    writeFamilyMarker(dir, family(s))
    Dedup.releaseSignatures()
    // the component convergence now consumes the bucketed signature table;
    // schema stays (node, label) — node IS the doc_id, and bucketing keys
    // on column position in the join, not the name
    Dedup.dupComponents(s, corpusDir)
      .repartition(buckets, col("node"))
      .write.format("parquet").option("path", s"$dir/comp_table")
      .bucketBy(buckets, "node").sortBy("node")
      .mode("overwrite").saveAsTable(compT)
    Dedup.releaseSignatures()
    (sigT, compT)
  }

  /** Append a batch of NEW documents' signatures to the table-format
    * store — the nightly-ingest path. Signatures are per-document and
    * corpus-independent (see [[Dedup.signatureFrame]]), so appending the
    * new batch's rows is EXACTLY what a full rebuild would compute for
    * them: no read-modify-write, no re-touch of existing rows, and the
    * write lands bucket-aligned (same bucketBy spec), so consumers keep
    * their shuffle-free plans. This is the store-side half of
    * [[IncrementalDedup]]'s contract: new×store + new×new candidate
    * pairs come from joining the appended rows against the table.
    *
    * Component labels are deliberately NOT appended: new edges can merge
    * existing components, so labels are a global fixpoint — fold the
    * batch's pairs in with [[mergeComponents]] (exact, touched-components
    * work) or refresh via [[materializeTable]] once a batch lands.
    *
    * The caller owns batch dedup: appending the same doc_id twice stores
    * two identical rows, like any append-only ingest.
    */
  def appendTable(s: SparkSession, corpusDir: String, newDocs: DataFrame,
                  buckets: Int = DefaultBuckets): Unit = {
    val dir = storeDir(s, corpusDir).getOrElse(throw new IllegalStateException(
      s"$ConfKey is not set on this session — nowhere to append"))
    val sigT = tableName("sig", corpusDir)
    // first batch creates the table (day-0 bootstrap IS an append of the
    // whole corpus); later batches land alongside with the same bucket spec
    val mode = if (s.catalog.tableExists(sigT)) "append" else "overwrite"
    if (mode == "append") storedFamily(dir) match {
      case Some(fam) if fam != family(s) => throw new IllegalStateException(
        s"store at $dir was materialized with family '$fam' but this " +
          s"session's $FamilyKey resolves to '${family(s)}' — appending " +
          "would mix estimators in one table; set the conf to match or " +
          "rebuild via materializeTable")
      case _ => ()
    }
    buildSignatures(s, newDocs)
      .repartition(buckets, col("doc_id"))
      .write.format("parquet").option("path", s"$dir/sig_table")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .mode(mode).saveAsTable(sigT)
    // marker strictly after the write commits: the day-0 bootstrap (which
    // overwrites, so the session family is now the ONLY family in the
    // table) and a legacy store predating the marker record the session
    // family only once rows of that family actually landed
    if (mode == "overwrite" || storedFamily(dir).isEmpty)
      writeFamilyMarker(dir, family(s))
    // the memoized frame may hold the pre-append table snapshot
    Dedup.releaseSignatures()
  }

  /** Keep the table-format signature facet coherent under a corpus CDC
    * MERGE ([[MergeOps.applyToLayout]] calls this automatically for the
    * documents table): recompute signatures for the changeset's upserted
    * docs, tombstone the deleted ones, and apply both as the SAME
    * bucket-scoped copy-on-write swing the corpus itself uses
    * ([[MergeOps.cowSwingToPath]]) — the signature table versions to
    * `sig_table_vN` beside its parent, in-flight readers keep intact
    * files, and consumers' shuffle-free plans survive because the bucket
    * spec is unchanged. Signatures are per-document, so the rewritten
    * rows are EXACTLY what a full rebuild would compute for them
    * (SignatureStoreSpec pins store-after-apply ≡ rebuild-from-scratch).
    *
    * Returns false (no-op) when no table-format store exists for the
    * corpus. When the COMPONENT facet is also table-format, it repairs
    * EXACTLY afterwards — including the split a deleted bridge doc
    * causes — via [[repairComponents]]: re-convergence scoped to the
    * affected components, never the corpus.
    */
  def applyChangeset(s: SparkSession, corpusDir: String,
                     changes: DataFrame): Boolean = {
    import org.apache.spark.sql.functions._
    val sigT = tableName("sig", corpusDir)
    storeDir(s, corpusDir) match {
      case None => false
      case Some(_) if !s.catalog.tableExists(sigT) => false
      case Some(dir) =>
        storedFamily(dir) match {
          case Some(fam) if fam != family(s) => throw new IllegalStateException(
            s"store at $dir was materialized with family '$fam' but this " +
              s"session's $FamilyKey resolves to '${family(s)}' — applying " +
              "a changeset would mix estimators; set the conf to match or " +
              "rebuild via materializeTable")
          case _ => ()
        }
        val target = s.table(sigT)
        val sigCols = target.columns.filterNot(_ == "doc_id")
        val tomb = MergeOps.TombstoneCol
        val sigUpserts = buildSignatures(s, changes.filter(!col(tomb)))
          .withColumn(tomb, lit(false))
        // every changeset key NOT re-signed must lose its old row: the
        // tombstoned docs, and upserted docs whose new text yields zero
        // shingles (the explode→groupBy pipeline emits no row for them,
        // exactly as a full rebuild would have none)
        val unsigned = changes.select(col("doc_id")).distinct()
          .join(sigUpserts.select(col("doc_id")), Seq("doc_id"), "left_anti")
        val sigTombs = unsigned.select(
          col("doc_id") +: sigCols.map(c =>
            lit(null).cast(target.schema(c).dataType).as(c)) :+
            lit(true).as(tomb): _*)
        val (curLoc, buckets) = MergeOps.tableLayout(s, sigT)
        // next signature generation beside the current one (the parent
        // dir holds sig_table plus any earlier sig_table_vN)
        val next = nextVersion(dir, "sig_table_v")
        MergeOps.cowSwingToPath(s, sigT, target, curLoc, buckets,
          s"$dir/sig_table_v$next", sigUpserts.unionByName(sigTombs), "doc_id")
        repairComponents(s, corpusDir, dir, changes)
        // the memoized frames may hold the pre-apply table snapshots
        Dedup.releaseSignatures()
        true
    }
  }

  /** Exact component repair under a changeset, scoped to the AFFECTED
    * subgraph — the piece [[mergeComponents]] (additions only) cannot
    * give: deletions can SPLIT a component and updates can re-wire one,
    * so the touched components must re-converge, but nothing else needs
    * to. Soundness of the scope: an unchanged pair of docs has the same
    * pair relationship before and after the apply, so any edge that can
    * appear, move, or vanish involves a CHANGED doc — and every doc a
    * changed doc can now pair with shares an LSH band bucket with it
    * (the candidate superset). The scope is therefore: members of every
    * component containing a changed doc or a band-neighbor of one, plus
    * the band-neighbors and upserts themselves. Pairs re-derive from the
    * FRESH signature table (this runs after the sig swing), the scoped
    * subgraph re-converges through the same large-star/small-star
    * contraction as a full build, and the comp table rewrites via the
    * same CoW swing (comp_table_vN beside its parent).
    *
    * Cost: one thin-column band scan of the signature table (the
    * neighbor probe — same class as the vector apply's cell lookup) plus
    * work proportional to the affected components, never the corpus.
    */
  private def repairComponents(s: SparkSession, corpusDir: String,
                               dir: String, changes: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val compT = tableName("comp", corpusDir)
    if (!s.catalog.tableExists(compT)) return
    val comp = s.table(compT)
    val storeSig = s.table(tableName("sig", corpusDir)) // post-swing generation
    val changedKeys = changes.select(col("doc_id")).distinct()
    val nBands = graft.functions.TextFunctions.MinHashParams.NumBands
    def bandKeys(sig: DataFrame): DataFrame =
      sig.select(col("doc_id"),
        posexplode(array((0 until nBands).map(b => col(s"b$b")): _*)))
        .toDF("doc_id", "band", "bkey")
    val changedBands = bandKeys(
      storeSig.join(changedKeys, Seq("doc_id"), "left_semi"))
      .select(col("band"), col("bkey")).distinct()
    val neighbors = bandKeys(storeSig)
      .join(changedBands, Seq("band", "bkey"), "left_semi")
      .select(col("doc_id")).distinct()
    val seeds = neighbors.unionByName(changedKeys).distinct()
    val hitLabels = comp.join(seeds,
      comp("node") === seeds("doc_id"), "left_semi")
      .select(col("label")).distinct()
    val members = comp.join(broadcast(hitLabels), Seq("label"))
      .select(col("node"))
    val scope = members.unionByName(seeds.select(col("doc_id").as("node")))
      .distinct()
    val scopeSig = storeSig.join(
      scope.select(col("node").as("doc_id")), Seq("doc_id"), "left_semi")
    val newLabels = Dedup.starComponents(
      Dedup.pairsFromSignatures(scopeSig).select(col("i"), col("j")))._1
    val tomb = MergeOps.TombstoneCol
    val compTombs = members
      .unionByName(changedKeys.select(col("doc_id").as("node"))).distinct()
      .join(newLabels.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"),
        lit(null).cast(comp.schema("label").dataType).as("label"),
        lit(true).as(tomb))
    val compChanges = newLabels.select(col("node"), col("label"))
      .withColumn(tomb, lit(false)).unionByName(compTombs)
    val (compLoc, compBuckets) = MergeOps.tableLayout(s, compT)
    MergeOps.cowSwingToPath(s, compT, comp, compLoc, compBuckets,
      s"$dir/comp_table_v${nextVersion(dir, "comp_table_v")}", compChanges, "node")
  }

  /** The next free `<prefix>N` beside the store's current generations. */
  private def nextVersion(dir: String, prefix: String): Long =
    graft.FsUtil.numbered(java.nio.file.Paths.get(dir), prefix)
      .lastOption.fold(0L)(_._1) + 1

  /** Reclaim drained signature/component generations left by
    * [[applyChangeset]] swings: delete every `sig_table_vN` /
    * `comp_table_vN` dir except the ones the catalog currently serves
    * (and the unversioned base dirs, which may share linked bytes —
    * hard links make deleting either side safe once readers drain, the
    * [[MergeOps.vacuum]] argument). Mirrors
    * [[VectorIndexStore.pruneOldVersions]]. Returns deleted paths.
    */
  def pruneOldGenerations(s: SparkSession, corpusDir: String): Seq[String] =
    storeDir(s, corpusDir).toSeq.flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(root)) Seq.empty
      else {
        val servedNow = Seq("sig", "comp").map(tableName(_, corpusDir))
          .filter(s.catalog.tableExists)
          .map(t => java.nio.file.Paths.get(MergeOps.tableLayout(s, t)._1)
            .normalize.toString).toSet
        val doomed = Seq("sig_table_v", "comp_table_v")
          .flatMap(p => graft.FsUtil.numbered(root, p))
          .map(g => s"$dir/${g._2.getFileName}")
          .filterNot(p =>
            servedNow.contains(java.nio.file.Paths.get(p).normalize.toString))
        doomed.foreach(p =>
          graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(p)))
        doomed
      }
    }

  /** Fold a batch's near-dup pairs into the materialized COMPONENT facet
    * incrementally ([[IncrementalDedup.mergeComponents]] — exact vs a
    * full rebuild, work bounded by the touched components). This is the
    * label half of the nightly-ingest contract: [[appendTable]] lands
    * the batch's signatures, [[IncrementalDedup.processBatch]] emits its
    * new pairs, and this call merges those pairs into the served labels
    * — no corpus-wide re-convergence between full refreshes.
    *
    * Parquet-facet stores only: a table-format component facet
    * ([[materializeTable]]) is bucketed metadata the catalog owns —
    * refresh it with materializeTable (same policy as its Scaladoc).
    */
  def mergeComponents(s: SparkSession, corpusDir: String,
                      newPairs: DataFrame): Unit = {
    require(!s.catalog.tableExists(tableName("comp", corpusDir)),
      "table-format component facet present — refresh via materializeTable")
    val dir = storeDir(s, corpusDir).getOrElse(throw new IllegalStateException(
      s"$ConfKey is not set on this session — no store to merge into"))
    val existing = componentsIfPresent(s, corpusDir).getOrElse(
      throw new IllegalStateException(
        s"no materialized component facet under $dir — run materialize() first"))
    // materialize BEFORE overwriting the directory the plan reads from
    val merged = IncrementalDedup.mergeComponents(existing, newPairs)
      .localCheckpoint()
    Dedup.releaseSignatures()
    merged.write.mode("overwrite").parquet(s"$dir/components")
    Dedup.releaseSignatures()
  }

  /** Remove the store for a corpus (tests; explicit invalidation). */
  def drop(s: SparkSession, corpusDir: String): Unit = {
    Seq("sig", "comp").map(tableName(_, corpusDir))
      .filter(s.catalog.tableExists)
      .foreach(t => s.sql(s"DROP TABLE $t"))
    storeDir(s, corpusDir).foreach(d =>
      graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(d)))
  }
}
