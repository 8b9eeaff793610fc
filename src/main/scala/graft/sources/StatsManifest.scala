package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-FILE min/max statistics manifest — file-level data skipping for
  * the 100 TB scan path (SURVEY §2.H), the missing third of the layout
  * triad: [[CorpusLayout]] prunes id-keyed JOINS (bucketing),
  * [[ZOrderLayout]] clusters files into axis-aligned boxes, and this
  * manifest turns those boxes into SKIPPED TASKS.
  *
  * Why parquet footers aren't enough: Spark's parquet reader prunes
  * ROW-GROUPS, but only after it has listed every file, read every
  * footer, and scheduled a task per split — at 10⁶ files that is 10⁶
  * footer reads and task launches to answer a query that touches 40
  * files. A manifest (the recipe behind Delta/Iceberg file skipping)
  * holds one tiny row per (file, column); planning reads the manifest,
  * not the corpus, and only surviving files reach the scan's file index.
  *
  * Soundness contract — bounds may be WIDER than the data, never
  * narrower, so pruning can only keep extra files, never drop a match:
  *   - integral columns keep EXACT long bounds; they are compared on a
  *     double view, exact below 2^53 (ids/counters live there; a column
  *     beyond 2^53 should be statted as a string);
  *   - fractional/decimal bounds are widened by one relative+absolute
  *     epsilon at BUILD time ([[widenDown]]/[[widenUp]]) — a decimal
  *     whose double cast rounds inward can't lose its boundary row;
  *   - string bounds are capped at [[StringBoundLen]] code points: the
  *     min truncates to a prefix (a valid lower bound); a max LONGER
  *     than the cap is stored as NULL-with-rows (= unknown, never
  *     prunes upward) — short keys (langs, sources, URLs' hosts) keep
  *     full two-sided pruning, blob-ish strings cost manifest bytes
  *     nothing and upper-prune nothing, all without the code-point
  *     increment gymnastics a truncated upper bound would need;
  *   - a column with NULL min/max but rows > 0 is all-NULL: no
  *     comparison predicate can match it, so comparisons drop the file
  *     while [[IsNullStat]] keeps it;
  *   - a file or column MISSING from the manifest is never pruned, and
  *     [[scan]] re-applies the exact predicate to the surviving rows —
  *     the manifest is a planning hint, correctness never depends on it.
  *
  * Incremental maintenance rides the copy-on-write generation chain
  * ([[graft.operators.MergeOps.applyToLayout]]): hard-linked untouched
  * bucket files keep their basenames, so [[refreshAfterApply]] CARRIES
  * their stats rows verbatim and re-scans only the files the apply
  * actually wrote — manifest upkeep costs the touched fraction, exactly
  * like the apply itself. A rebucket renames everything and therefore
  * re-stats everything, automatically.
  *
  * Planning is driver-side by design (same as Spark's own file index
  * and Delta's log replay): the manifest frame collapses to surviving
  * file NAMES — bounded by what `spark.read.parquet(dir)` would list
  * driver-side anyway — never to data rows.
  */
object StatsManifest {

  /** Manifest subdirectory inside a data directory. The leading '_'
    * keeps Spark's file listing from reading it as data.
    */
  val SubDir = "_stats"

  /** Max code points kept of a string bound (Delta uses 32; 64 keeps
    * URL-ish prefixes selective).
    */
  val StringBoundLen = 64

  def manifestDirFor(dataDir: String): String = s"$dataDir/$SubDir"

  // ── union-schema marker ─────────────────────────────────────────────
  // The data directory's UNION schema (mergeSchema over every footer),
  // captured once when the manifest is (re)built and read back by every
  // scan — without it each pruned scan would pay a full-directory
  // footer-merge inference, the exact per-file cost the manifest exists
  // to avoid. The underscore name keeps it out of parquet listings.

  private def schemaMarker(mdir: String): java.nio.file.Path =
    java.nio.file.Paths.get(mdir, "_SCHEMA")

  private def writeSchemaMarker(mdir: String, schema: StructType): Unit =
    java.nio.file.Files.write(schemaMarker(mdir), schema.json.getBytes("UTF-8"))

  private[graft] def unionSchema(s: SparkSession, dataDir: String,
                                 mdir: String): StructType = {
    val p = schemaMarker(mdir)
    if (java.nio.file.Files.exists(p))
      DataType.fromJson(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .asInstanceOf[StructType]
    else // pre-marker manifests: pay the inference once per call
      s.read.option("mergeSchema", "true").parquet(dataDir).schema
  }

  // ── predicates ──────────────────────────────────────────────────────

  /** A conjunct the manifest can prune on. `dataFilter` is the EXACT
    * predicate re-applied to surviving rows; `mayMatch` is the
    * conservative interval test evaluated over a manifest row's
    * (min, max, nulls, rows) — NULL result means "unknown", which
    * [[prunedFiles]] treats as keep. Null discipline: min IS NULL ⇔
    * the column is all-NULL in the file (Spark min/max skip nulls), the
    * one state where comparisons are decisively false; max alone may be
    * NULL-with-data (a string over the [[StringBoundLen]] cap), and
    * three-valued logic then yields NULL = keep, never a drop.
    */
  sealed trait StatPred {
    def column: String
    def dataFilter: Column
    private[graft] def mayMatch(mn: Column, mx: Column, nulls: Column,
                                rows: Column): Column
  }

  /** column >= v */
  final case class GeStat(column: String, v: Any) extends StatPred {
    def dataFilter: Column = col(column) >= lit(v)
    private[graft] def mayMatch(mn: Column, mx: Column, nulls: Column,
                                rows: Column): Column =
      when(mn.isNull, lit(false)).otherwise(mx >= lit(v))
  }

  /** column <= v */
  final case class LeStat(column: String, v: Any) extends StatPred {
    def dataFilter: Column = col(column) <= lit(v)
    private[graft] def mayMatch(mn: Column, mx: Column, nulls: Column,
                                rows: Column): Column =
      when(mn.isNull, lit(false)).otherwise(mn <= lit(v))
  }

  /** lo <= column <= hi */
  final case class BetweenStat(column: String, lo: Any, hi: Any) extends StatPred {
    def dataFilter: Column = col(column).between(lit(lo), lit(hi))
    private[graft] def mayMatch(mn: Column, mx: Column, nulls: Column,
                                rows: Column): Column =
      when(mn.isNull, lit(false)).otherwise(mn <= lit(hi) && mx >= lit(lo))
  }

  /** column = v */
  final case class EqStat(column: String, v: Any) extends StatPred {
    def dataFilter: Column = col(column) === lit(v)
    private[graft] def mayMatch(mn: Column, mx: Column, nulls: Column,
                                rows: Column): Column =
      when(mn.isNull, lit(false)).otherwise(mn <= lit(v) && mx >= lit(v))
  }

  /** column IN (vs…) — prunes each set member against the interval. */
  final case class InStat(column: String, vs: Seq[Any]) extends StatPred {
    require(vs.nonEmpty, s"InStat($column) needs at least one value")
    def dataFilter: Column = col(column).isInCollection(vs)
    private[graft] def mayMatch(mn: Column, mx: Column, nulls: Column,
                                rows: Column): Column =
      when(mn.isNull, lit(false))
        .otherwise(vs.map(v => mn <= lit(v) && mx >= lit(v)).reduce(_ || _))
  }

  /** column IS NULL — the one predicate the null COUNT answers. */
  final case class IsNullStat(column: String) extends StatPred {
    def dataFilter: Column = col(column).isNull
    private[graft] def mayMatch(mn: Column, mx: Column, nulls: Column,
                                rows: Column): Column = nulls > lit(0L)
  }

  // ── build ───────────────────────────────────────────────────────────

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def isFractional(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType | _: DecimalType => true
    case _ => false
  }

  /** One relative + one absolute epsilon down/up — sound bounds for
    * values whose double cast may round inward (decimals beyond 2^53).
    */
  private def widenDown(c: Column): Column =
    c - abs(c) * lit(1e-12) - lit(java.lang.Double.MIN_NORMAL)
  private def widenUp(c: Column): Column =
    c + abs(c) * lit(1e-12) + lit(java.lang.Double.MIN_NORMAL)

  /** String UPPER bound under the length cap: kept exact when it fits,
    * NULL (= unknown, keeps the file) when longer — a sound bound needs
    * a code-point-incremented truncation, and "don't prune" is the
    * cheaper correct answer for blob-length strings.
    */
  private def cappedUpper(c: Column): Column =
    when(length(c) <= lit(StringBoundLen), c)

  /** Build the manifest for `dataDir` over `cols`, one column-pruned
    * scan with map-side partial aggregation (grouped by file — at most
    * |files| groups). Returns the manifest directory. `manifestDir`
    * defaults to `<dataDir>/_stats`; pass an explicit directory when the
    * data directory is read-only (e.g. the raw testdata corpora).
    */
  def build(s: SparkSession, dataDir: String, cols: Seq[String],
            manifestDir: String = null): String = {
    require(cols.nonEmpty, "StatsManifest.build needs at least one column")
    val out = Option(manifestDir).getOrElse(manifestDirFor(dataDir))
    // mergeSchema: an evolved generation mixes file schemas; the stat
    // columns must resolve against the UNION schema (old files simply
    // contribute all-NULL stats for a column they lack — sound)
    val df = s.read.option("mergeSchema", "true").parquet(dataDir)
    writeManifest(s, df, cols, out)
    out
  }

  private def writeManifest(s: SparkSession, df: DataFrame,
                            cols: Seq[String], out: String): Unit = {
    val schema = df.schema
    val resolved = cols.map { c =>
      val f = schema.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"StatsManifest: column '$c' not in schema ${schema.fieldNames.mkString(",")}"))
      f.dataType match {
        case dt if isIntegral(dt) => c -> "long"
        case dt if isFractional(dt) => c -> "double"
        case StringType => c -> "string"
        case dt => throw new IllegalArgumentException(
          s"StatsManifest: column '$c' has unsupported type $dt " +
            "(stat integral/fractional/string columns only)")
      }
    }
    // one scan: per-file rows + per-(file, col) nulls/min/max, reshaped
    // long-form by a stack over the already-aggregated (≤|files|-row) frame
    val aggs = count(lit(1L)).as("rows") +: resolved.flatMap { case (c, lane) =>
      val base = col(c)
      val (mnE, mxE) = lane match {
        case "long" =>
          (min(base).cast(LongType), max(base).cast(LongType))
        case "double" =>
          (widenDown(min(base).cast(DoubleType)), widenUp(max(base).cast(DoubleType)))
        case "string" =>
          (substring(min(base), 1, StringBoundLen), cappedUpper(max(base)))
      }
      Seq(mnE.as(s"__mn_$c"), mxE.as(s"__mx_$c"),
        (count(lit(1L)) - count(base)).as(s"__nl_$c"))
    }
    val perFile = df
      .select(col("*"), regexp_extract(input_file_name(), "([^/]+)$", 1).as("__file"))
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
    val rows = resolved.map { case (c, lane) =>
      val (mnL, mxL) = if (lane == "long")
        (col(s"__mn_$c"), col(s"__mx_$c"))
      else (lit(null).cast(LongType), lit(null).cast(LongType))
      val (mnD, mxD) = if (lane == "double")
        (col(s"__mn_$c"), col(s"__mx_$c"))
      else (lit(null).cast(DoubleType), lit(null).cast(DoubleType))
      val (mnS, mxS) = if (lane == "string")
        (col(s"__mn_$c"), col(s"__mx_$c"))
      else (lit(null).cast(StringType), lit(null).cast(StringType))
      perFile.select(
        col("__file").as("file"), lit(c).as("col"), lit(lane).as("lane"),
        col("rows").cast(LongType).as("rows"),
        col(s"__nl_$c").cast(LongType).as("nulls"),
        mnL.as("min_long"), mxL.as("max_long"),
        mnD.as("min_dbl"), mxD.as("max_dbl"),
        mnS.as("min_str"), mxS.as("max_str"))
    }.reduce(_ unionByName _)
    rows.repartition(1).write.mode("overwrite").parquet(out)
    // capture the data's union schema alongside the stats (see
    // [[unionSchema]]) — `df` was opened with mergeSchema by every caller
    writeSchemaMarker(out, df.schema)
  }

  private def ready(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))

  /** Does `dataDir` carry a complete manifest at the default location?
    * One driver-side existence probe — [[CorpusLayout.generation]]
    * uses it to decide whether a generation's relation routes through the
    * manifest-pruning [[ManifestFileIndex]].
    */
  def hasManifest(dataDir: String): Boolean = ready(manifestDirFor(dataDir))

  /** The manifest frame, when one has been built. */
  def read(s: SparkSession, manifestDir: String): Option[DataFrame] =
    if (ready(manifestDir)) Some(readParts(s, manifestDir)) else None

  /** A manifest directory's rows, read through its part files: Spark
    * ignores a root whose name starts with `_` (as `_stats` does) and
    * warns "All paths were ignored" on every such read.
    */
  private def readParts(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.FsUtil.parquetParts(java.nio.file.Paths.get(dir)): _*)

  // ── prune + scan ────────────────────────────────────────────────────

  private[graft] def listDataFiles(dataDir: String): Seq[String] =
    graft.FsUtil.list(java.nio.file.Paths.get(dataDir)).filter(CorpusLayout.isDataFile)
      .map(_.getFileName.toString).sorted

  /** Evaluate `preds` (a conjunction) against the manifest: surviving
    * file names, plus the directory's total data-file count. Files or
    * columns absent from the manifest are kept. The collect here is file
    * NAMES only — the same driver-side listing any parquet scan of the
    * directory performs.
    */
  def prunedFiles(s: SparkSession, dataDir: String, manifestDir: String,
                  preds: Seq[StatPred]): (Seq[String], Int) = {
    // empty conjunction prunes nothing: answer from the listing alone —
    // only [[scan]] needs the known-file set prunedFilesKnown would pay
    // a manifest job for here
    if (preds.isEmpty) { val all = listDataFiles(dataDir); return (all, all.size) }
    val (keep, total, _) = prunedFilesKnown(s, dataDir, manifestDir, preds)
    (keep, total)
  }

  /** [[prunedFiles]] plus the manifest's own known-file set (None when
    * no manifest exists), so [[scan]] can decide the unknown-files
    * schema path without a second manifest job: the same single collect
    * that evaluates the predicates also returns every file name the
    * manifest carries.
    */
  private def prunedFilesKnown(s: SparkSession, dataDir: String,
                               manifestDir: String, preds: Seq[StatPred])
      : (Seq[String], Int, Option[Set[String]]) = {
    val all = listDataFiles(dataDir)
    val m = read(s, manifestDir)
      .getOrElse(return (all, all.size, None))
    if (preds.isEmpty) {
      val known = m.select(col("file")).distinct()
        .collect().map(_.getString(0)).toSet
      return (all, all.size, Some(known))
    }
    // numeric preds compare on the double VIEW of whichever numeric lane
    // the column landed in (long casts are exact below 2^53; double-lane
    // bounds were widened at build); string preds on the string lane.
    // The lane GUARD is soundness-critical: a probe whose type doesn't
    // match the column's statted lane (EqStat("n_chars", "120"), or a
    // mixed-type In) must never drop — the exact filter may still match
    // under Spark's coercion, so only matching-lane rows may prune.
    val mnNum = coalesce(col("min_long").cast(DoubleType), col("min_dbl"))
    val mxNum = coalesce(col("max_long").cast(DoubleType), col("max_dbl"))
    def probeKind(vs: Seq[Any]): Option[Boolean] = { // Some(isString) | mixed
      val kinds = vs.map {
        case _: String => Some(true)
        case _: java.lang.Number => Some(false)
        case _ => None
      }
      if (kinds.forall(_.contains(true))) Some(true)
      else if (kinds.forall(_.contains(false))) Some(false)
      else None
    }
    def probeValues(p: StatPred): Seq[Any] = p match {
      case GeStat(_, v) => Seq(v)
      case LeStat(_, v) => Seq(v)
      case BetweenStat(_, lo, hi) => Seq(lo, hi)
      case EqStat(_, v) => Seq(v)
      case InStat(_, vs) => vs
      case IsNullStat(_) => Nil
    }
    val dropConds = preds.map { p =>
      val (mn, mx, laneGuard) = p match {
        // null counts are lane-independent — any lane's row may drop
        case IsNullStat(_) => (mnNum, mxNum, lit(true))
        case _ => probeKind(probeValues(p)) match {
          case Some(true) => (col("min_str"), col("max_str"),
            col("lane") === lit("string"))
          case Some(false) => (mnNum, mxNum, col("lane") =!= lit("string"))
          case None => (mnNum, mxNum, lit(false)) // mixed probe: never prune
        }
      }
      // a file is droppable on this conjunct iff its stats row exists in
      // the probe's own lane and mayMatch is definitively FALSE (null =
      // unknown = keep; when(null) falls to otherwise, like the filter
      // form this replaced)
      col("col") === lit(p.column) && laneGuard &&
        !coalesce(p.mayMatch(mn, mx, col("nulls"), col("rows")), lit(true))
    }
    // ONE manifest job serves both decisions [[scan]] needs: which files
    // any conjunct definitively excludes, and which files the manifest
    // knows at all (the unknown-files schema degrade probe).
    val verdicts = m.groupBy(col("file"))
      .agg(max(when(dropConds.reduce(_ || _), 1).otherwise(0)).as("__drop"))
      .collect()
    val known = verdicts.map(_.getString(0)).toSet
    val dropped = verdicts.filter(_.getInt(1) == 1).map(_.getString(0)).toSet
    (all.filterNot(dropped), all.size, Some(known))
  }

  /** Manifest-pruned scan: read only surviving files, then re-apply the
    * exact predicate — identical rows to a full scan + filter, minus the
    * skipped tasks. Missing manifest degrades to the full scan.
    */
  def scan(s: SparkSession, dataDir: String, preds: Seq[StatPred],
           manifestDir: String = null): DataFrame = {
    val mdir = Option(manifestDir).getOrElse(manifestDirFor(dataDir))
    val (keep, total, known) = prunedFilesKnown(s, dataDir, mdir, preds)
    val flt = preds.map(_.dataFilter).reduceOption(_ && _).getOrElse(lit(true))
    // every branch serves the FULL DIRECTORY's union schema (from the
    // manifest's schema marker — one tiny file, no footer sweep): an
    // evolved generation mixes file schemas, and a kept SUBSET that
    // happens to be all pre-evolution files would otherwise lose the
    // added column — silently, or as an unresolvable-column error when
    // the predicate itself names it (IsNullStat on the evolved column
    // keeps exactly the pre-evolution files)
    if (keep.isEmpty) {
      // no file can match: an empty frame with the directory's schema
      // (Filter(false) folds to an empty LocalRelation — zero tasks)
      val sch = unionSchema(s, dataDir, mdir)
      s.read.schema(sch).parquet(dataDir).filter(lit(false))
    } else if (keep.size == total && !ready(mdir))
      // no manifest at all: the plain degrade read
      s.read.option("mergeSchema", "true").parquet(dataDir).filter(flt)
    else if (known.exists(k => keep.exists(!k(_)))) {
      // files written OUTSIDE build/refreshAfterApply (a direct append):
      // correctly never pruned, but the marker schema predates them — a
      // new column they carry would be silently absent. Degrade THIS
      // scan's schema to a live footer merge; pruning still applies to
      // the files the manifest does know. The known set rode along on
      // prunedFilesKnown's single manifest job — no second probe.
      val paths = if (keep.size == total) Seq(dataDir)
        else keep.map(f => s"$dataDir/$f")
      s.read.option("mergeSchema", "true").parquet(paths: _*).filter(flt)
    } else {
      val sch = unionSchema(s, dataDir, mdir)
      val paths = if (keep.size == total) Seq(dataDir)
        else keep.map(f => s"$dataDir/$f")
      s.read.schema(sch).parquet(paths: _*).filter(flt)
    }
  }

  // ── incremental maintenance (generation chain) ──────────────────────

  /** Carry the previous generation's manifest across a copy-on-write
    * apply: stats rows for file names still present (hard-linked bucket
    * files — byte-identical by construction) are kept verbatim; only the
    * files the apply WROTE are re-scanned, over the same columns the
    * previous manifest statted. No-op when the previous generation had
    * no manifest. Called by [[graft.operators.MergeOps.applyToLayout]].
    */
  private[graft] def refreshAfterApply(s: SparkSession, prevLoc: String,
                                       newLoc: String): Unit = {
    val prevDir = manifestDirFor(prevLoc)
    if (!ready(prevDir)) return
    val prev = readParts(s, prevDir)
    val cols = prev.select("col").distinct().collect().map(_.getString(0)).toSeq.sorted
    val newFiles = listDataFiles(newLoc)
    val carried = prev.filter(col("file").isin(newFiles: _*))
    val carriedNames = carried.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    val fresh = newFiles.filterNot(carriedNames)
    val out = manifestDirFor(newLoc)
    if (fresh.isEmpty) {
      carried.repartition(1).write.mode("overwrite").parquet(out)
      // no new files: the union schema is whatever the previous
      // generation's marker recorded (fall back to one inference)
      writeSchemaMarker(out, unionSchema(s, prevLoc, prevDir))
    } else {
      val tmp = s"$out.__build"
      // the files the apply wrote carry the EVOLVED schema (a superset
      // of every linked file's — applyChanges only ever adds columns),
      // so their schema IS the generation's union schema
      val freshDf = s.read.parquet(fresh.map(f => s"$newLoc/$f"): _*)
      writeManifest(s, freshDf, cols, tmp)
      carried.unionByName(readParts(s, tmp))
        .repartition(1).write.mode("overwrite").parquet(out)
      writeSchemaMarker(out, freshDf.schema)
      graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }
}
