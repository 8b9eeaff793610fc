package graft.operators

import graft.Tables
import graft.sources.{CorpusLayout, VersionedStore}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
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
  * One form, one commit: the store commits like the vector index
  * ([[VersionedStore]]). Every mutation — [[materialize]], [[append]],
  * [[applyChangeset]] with its component repair, [[mergeComponents]] —
  * stages a complete `$store/vN` and then flips one CURRENT pointer, so a
  * reader always sees signatures and components of one version. Inside a
  * version, `signatures` is bucketed and sorted on `doc_id` and
  * `components` on `node`, both at [[CorpusLayout.DefaultBuckets]] and
  * written by path; each facet records its schema and bucket count, and
  * the `FAMILY` marker sits beside them. Reads build a by-path bucketed
  * relation ([[CorpusLayout.bucketedRelation]]), so every consumer that
  * joins or aggregates on doc_id reads pre-partitioned data — the store
  * side of those joins ships ZERO Exchange, and signatures ⋈ components
  * shuffles nothing — with no catalog entry: the store outlives the JVM
  * that built it.
  *
  * Opt-in by session conf [[ConfKey]] (a base directory): when set,
  * [[Dedup.signatures]]/[[Dedup.dupComponents]] read a materialized store
  * for the corpus if one exists and fall back inline otherwise. When
  * unset (the default — and the Verify gate's configuration) everything
  * computes inline, which keeps the DuckDB oracle comparison exercising
  * the real pipeline. SignatureStoreSpec pins store-read ≡ inline
  * bit-for-bit.
  *
  * Refresh: a corpus apply ([[MergeOps.applyToLayout]]) maintains the
  * store through [[applyChangeset]]; a corpus rewritten in place outside
  * the layout serves stale signatures until [[materialize]] runs again
  * (the store keys on the corpus PATH).
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

  private def corpusKey(corpusDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(corpusDir.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Store directory for a corpus, if the session opted in. */
  def storeDir(s: SparkSession, corpusDir: String): Option[String] =
    s.conf.getOption(ConfKey).map(b => s"$b/${corpusKey(corpusDir)}")

  private def requireDir(s: SparkSession, corpusDir: String, what: String): String =
    storeDir(s, corpusDir).getOrElse(throw new IllegalStateException(
      s"$ConfKey is not set on this session — $what"))

  /** The two facets of a version, each with its bucket key. */
  private val Sig = "signatures" -> "doc_id"
  private val Comp = "components" -> "node"

  /** Facet `f` of version `vdir` as a by-path bucketed relation, when
    * written completely (its `_BUCKETS` record is written last).
    */
  private def facetIn(s: SparkSession, vdir: String,
                      f: (String, String)): Option[DataFrame] = {
    val dir = s"$vdir/${f._1}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, CorpusLayout.BucketsMarker))) None
    else {
      val files = CorpusLayout.recordedSchema(dir).get
      val index = graft.sources.ManifestFileIndex.listedIndex(s, dir, files,
        graft.FsUtil.list(java.nio.file.Paths.get(dir)).filter(CorpusLayout.isDataFile))
      Some(CorpusLayout.bucketedRelation(s, index,
        org.apache.spark.sql.types.StructType(Nil), files,
        org.apache.spark.sql.catalyst.catalog.BucketSpec(
          CorpusLayout.bucketsOf(dir), Seq(f._2), Seq(f._2))))
    }
  }

  /** Write `df` as facet `f` of staged version `vdir`: bucketed and
    * sorted on the facet key, by path ([[MergeOps.clusteredWrite]]), then
    * described for [[facetIn]]. The shuffle is by the bucket id, as in the
    * unit rewrite: one file per bucket, in tasks sized to the data rather
    * than one per declared bucket.
    */
  private def writeFacet(s: SparkSession, vdir: String, f: (String, String),
                         df: DataFrame, buckets: Int): Unit = {
    val dir = s"$vdir/${f._1}"
    CorpusLayout.describe(dir, MergeOps.clusteredWrite(s, f._2, None,
      df.repartition(MergeOps.bucketId(f._2, buckets)), None, buckets, dir,
      repartitionFirst = false), buckets)
  }

  /** Carry facet `f` of version `from` into staged version `to` unchanged. */
  private def linkFacet(from: String, to: String, f: (String, String)): Unit = {
    val src = java.nio.file.Paths.get(from, f._1)
    if (java.nio.file.Files.isDirectory(src))
      VersionedStore.link(src, java.nio.file.Paths.get(to, f._1))
  }

  /** Stage and serve the next version of the store at `dir`
    * ([[VersionedStore.commit]]): `build` writes its facets, then the
    * `FAMILY` marker records the signature family they carry, then the
    * pointer flips. A build that fails or is killed leaves the served
    * version — rows and marker — untouched.
    */
  private def commit(dir: String, fam: String)(build: String => Unit): Unit = {
    VersionedStore.commit(dir) { vdir =>
      build(vdir)
      java.nio.file.Files.write(java.nio.file.Paths.get(vdir, "FAMILY"), fam.getBytes("UTF-8"))
    }
    // the memoized frames may hold the previous version's relations
    Dedup.releaseSignatures()
  }

  /** The family the served version of the store at `dir` was built with.
    * Appends and applies must match it: a session whose [[FamilyKey]]
    * differs from the bootstrap (one job built with perm16, a later
    * ingest runs the oph default) would otherwise silently mix two
    * estimators' rows in one facet, corrupting est_jaccard with no error.
    */
  def storedFamily(dir: String): Option[String] =
    VersionedStore.served(dir).map(java.nio.file.Paths.get(_, "FAMILY"))
      .filter(java.nio.file.Files.exists(_))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)

  private def requireFamily(s: SparkSession, dir: String, verb: String): Unit =
    storedFamily(dir) match {
      case Some(fam) if fam != family(s) => throw new IllegalStateException(
        s"store at $dir was materialized with family '$fam' but this " +
          s"session's $FamilyKey resolves to '${family(s)}' — $verb " +
          "would mix estimators; set the conf to match or rebuild via materialize")
      case _ => ()
    }

  /** The served version and its facet `f`, when materialized. */
  private def served(s: SparkSession, corpusDir: String,
                     f: (String, String)): Option[(String, DataFrame)] =
    storeDir(s, corpusDir).flatMap(VersionedStore.served)
      .flatMap(v => facetIn(s, v, f).map(v -> _))

  /** The banded-signature frame from the store, when materialized. */
  def signaturesIfPresent(s: SparkSession, corpusDir: String): Option[DataFrame] =
    served(s, corpusDir, Sig).map(_._2)

  /** The converged component labels from the store, when materialized. */
  def componentsIfPresent(s: SparkSession, corpusDir: String): Option[DataFrame] =
    served(s, corpusDir, Comp).map(_._2)

  /** Build (or rebuild) the store for a corpus as a new version. One
    * signature pass, materialized once ([[MergeOps.snapshot]]), feeds
    * both facets: the bucketed signature write, and the component
    * contraction over its pairs ([[Dedup.components]], the computation
    * [[Dedup.dupComponents]] runs inline), so the two facets the pointer
    * serves always agree. The two writes run as concurrent Spark jobs
    * that carry the caller's job properties, and the build returns or
    * throws only once both have finished. Requires [[ConfKey]]. Returns
    * the store directory.
    */
  def materialize(s: SparkSession, corpusDir: String): String =
    materializeWith(s, corpusDir)(Dedup.components)

  /** [[materialize]] with the contraction `contract` of the pair graph. */
  private[graft] def materializeWith(s: SparkSession, corpusDir: String)
                                    (contract: DataFrame => DataFrame): String = {
    val dir = requireDir(s, corpusDir, "nowhere to materialize")
    val buckets = CorpusLayout.DefaultBuckets
    // drop any cached plan still scanning a previous store version
    Dedup.releaseSignatures()
    commit(dir, family(s)) { vdir =>
      val sig = MergeOps.snapshot(buildSignatures(s, Tables.load(s, corpusDir, "documents")))
      GraftPlanBridge.concurrently(s)(
        writeFacet(s, vdir, Sig, sig, buckets),
        writeFacet(s, vdir, Comp,
          contract(Dedup.pairsFromSignatures(sig).select(col("i"), col("j"))), buckets))
    }
    dir
  }

  /** Append a batch of NEW documents' signatures — the nightly-ingest
    * path. Signatures are per-document and corpus-independent (see
    * [[Dedup.signatureFrame]]), so appending the new batch's rows is
    * EXACTLY what a full rebuild would compute for them: no
    * read-modify-write, no re-touch of existing rows — the new version
    * links every served signature file and adds the batch's, written
    * bucket-aligned at the served bucket count, so consumers keep their
    * shuffle-free plans. This is the store-side half of
    * [[IncrementalDedup]]'s contract: new×store + new×new candidate
    * pairs come from joining the appended rows against the store. The
    * first batch with no store served bootstraps it (day 0 IS an append
    * of the whole corpus).
    *
    * Component labels are deliberately NOT appended: new edges can merge
    * existing components, so labels are a global fixpoint — the served
    * component facet links forward unchanged; fold the batch's pairs in
    * with [[mergeComponents]] (exact, touched-components work) or
    * refresh via [[materialize]] once a batch lands.
    *
    * The caller owns batch dedup: appending the same doc_id twice stores
    * two identical rows, like any append-only ingest.
    */
  def append(s: SparkSession, corpusDir: String, newDocs: DataFrame): Unit = {
    val dir = requireDir(s, corpusDir, "nowhere to append")
    requireFamily(s, dir, "appending")
    val cur = VersionedStore.served(dir)
    val buckets = cur.map(v => CorpusLayout.bucketsOf(s"$v/${Sig._1}"))
      .getOrElse(CorpusLayout.DefaultBuckets)
    commit(dir, family(s)) { vdir =>
      // the write replaces its target dir, so the served files link after it
      writeFacet(s, vdir, Sig, buildSignatures(s, newDocs), buckets)
      cur.foreach { v =>
        val to = java.nio.file.Paths.get(vdir, Sig._1)
        graft.FsUtil.list(java.nio.file.Paths.get(v, Sig._1)).filter(CorpusLayout.isDataFile)
          .foreach(f => MergeOps.linkOrCopy(f, to.resolve(f.getFileName.toString)))
        linkFacet(v, vdir, Comp)
      }
    }
  }

  /** Facet `f` of version `from` with `changes` (key, payload,
    * tombstone) merged in, staged into version `to`: the bucket-scoped
    * copy-on-write rewrite the corpus apply uses ([[MergeOps.rewriteUnits]]
    * — touched buckets rewritten, every other file linked), or a full
    * rewrite when the unit path declines. Same bucket count and spec, so
    * consumers' shuffle-free plans survive.
    */
  private def rewriteFacet(s: SparkSession, from: String, to: String,
                           f: (String, String), target: DataFrame,
                           changes: DataFrame): Unit = {
    val (src, dst, key) = (s"$from/${f._1}", s"$to/${f._1}", f._2)
    val buckets = CorpusLayout.bucketsOf(src)
    val touched = MergeOps.touchedBuckets(changes, key, buckets).map("" -> _)
    val files = MergeOps.rewriteUnits(s, key, None, Seq("" -> java.nio.file.Paths.get(src)),
        src, dst, buckets, touched, target.schema, changes, None, Map.empty, evolve = false)
      .getOrElse(MergeOps.clusteredWrite(s, key, None,
        MergeOps.applyChanges(target, changes, key), None, buckets, dst))
    CorpusLayout.describe(dst, files, buckets)
  }

  /** Keep the store coherent under a corpus CDC apply
    * ([[MergeOps.applyToLayout]] calls this for the documents table):
    * one new version holding the signature facet with the changeset's
    * upserted docs re-signed and its deleted ones tombstoned
    * ([[rewriteFacet]]), and — when the served version has components —
    * the component facet repaired over that STAGED signature facet
    * ([[repairComponents]]). One pointer flip serves both, so no reader
    * sees new signatures beside old components. Signatures are
    * per-document, so the rewritten rows are EXACTLY what a full rebuild
    * would compute for them (SignatureStoreSpec pins store-after-apply ≡
    * rebuild-from-scratch).
    *
    * Returns false (no-op) when no store is materialized for the corpus.
    */
  def applyChangeset(s: SparkSession, corpusDir: String,
                     changes: DataFrame): Boolean = {
    import org.apache.spark.sql.functions._
    served(s, corpusDir, Sig) match {
      case None => false
      case Some((cur, target)) =>
        val dir = storeDir(s, corpusDir).get
        requireFamily(s, dir, "applying a changeset")
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
        commit(dir, family(s)) { vdir =>
          rewriteFacet(s, cur, vdir, Sig, target, sigUpserts.unionByName(sigTombs))
          facetIn(s, cur, Comp).foreach(comp =>
            repairComponents(s, cur, vdir, facetIn(s, vdir, Sig).get, comp, changes))
        }
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
    * staged signature facet `storeSig`, the scoped subgraph re-converges
    * through the contraction a full build runs ([[Dedup.components]],
    * planned to the scoped pair set's measured size), and the component
    * facet of version `cur` rewrites into the staged version `vdir`
    * ([[rewriteFacet]]).
    *
    * Cost: one thin-column band scan of the signature facet (the
    * neighbor probe — same class as the vector apply's cell lookup) plus
    * work proportional to the affected components, never the corpus.
    */
  private def repairComponents(s: SparkSession, cur: String, vdir: String,
                               storeSig: DataFrame, comp: DataFrame,
                               changes: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
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
    val newLabels = Dedup.components(
      Dedup.pairsFromSignatures(scopeSig).select(col("i"), col("j")))
    val tomb = MergeOps.TombstoneCol
    val compTombs = members
      .unionByName(changedKeys.select(col("doc_id").as("node"))).distinct()
      .join(newLabels.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"),
        lit(null).cast(comp.schema("label").dataType).as("label"),
        lit(true).as(tomb))
    val compChanges = newLabels.select(col("node"), col("label"))
      .withColumn(tomb, lit(false)).unionByName(compTombs)
    rewriteFacet(s, cur, vdir, Comp, comp, compChanges)
  }

  /** Reclaim the store versions older than the served one
    * ([[VersionedStore.pruneOld]]) — hard links make deleting them safe
    * once their readers drain, the [[MergeOps.vacuum]] argument. Returns
    * the deleted paths.
    */
  def pruneOldGenerations(s: SparkSession, corpusDir: String): Seq[String] =
    storeDir(s, corpusDir).toSeq.flatMap(VersionedStore.pruneOld)

  /** Fold a batch's near-dup pairs into the materialized COMPONENT facet
    * incrementally ([[IncrementalDedup.mergeComponents]] — exact vs a
    * full rebuild, work bounded by the touched components). This is the
    * label half of the nightly-ingest contract: [[append]] lands the
    * batch's signatures, [[IncrementalDedup.processBatch]] emits its new
    * pairs, and this call merges those pairs into the served labels — no
    * corpus-wide re-convergence between full refreshes. The new version
    * links the signature facet forward.
    */
  def mergeComponents(s: SparkSession, corpusDir: String,
                      newPairs: DataFrame): Unit = {
    val dir = requireDir(s, corpusDir, "no store to merge into")
    val (cur, existing) = served(s, corpusDir, Comp).getOrElse(
      throw new IllegalStateException(
        s"no materialized component facet under $dir — run materialize() first"))
    commit(dir, storedFamily(dir).getOrElse(family(s))) { vdir =>
      linkFacet(cur, vdir, Sig)
      writeFacet(s, vdir, Comp, IncrementalDedup.mergeComponents(existing, newPairs),
        CorpusLayout.bucketsOf(s"$cur/${Comp._1}"))
    }
  }

  /** Remove the store for a corpus (tests; explicit invalidation). */
  def drop(s: SparkSession, corpusDir: String): Unit =
    storeDir(s, corpusDir).foreach(d =>
      graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(d)))
}
