package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType

/** Planner-integrated file skipping: a [[FileIndex]] that evaluates
  * Spark's OWN pushed data filters against the [[StatsManifest]] before
  * any task is scheduled — `StatsManifest.table(spark, dir)` then prunes
  * on every `filter`/WHERE a user writes, no explicit predicate API, the
  * way Delta/Iceberg integrate their manifests.
  *
  * Mechanics: Spark's FileSourceStrategy hands every `FileIndex` the
  * post-pushdown data filters at `listFiles` time. This index translates
  * them through the engine's own `DataSourceStrategy.translateFilter`
  * (the exact translation parquet pushdown uses — no bespoke Expression
  * walking) and keeps a file unless its stats interval PROVABLY excludes
  * every translated conjunct. Catalyst keeps the Filter node above the
  * scan regardless, so rows are re-checked exactly — a stats bug can
  * cost correctness only via the same soundness contract
  * [[StatsManifest]] documents (bounds only ever widen).
  *
  * The manifest is read fresh and collected at the FIRST pruning
  * decision, then held (|files|×|cols| rows — the same metadata scale as
  * the file listing itself; Delta replays its log driver-side
  * identically): constructing a frame costs no manifest job, a manifest
  * rebuilt between construction and first scan is picked up rather than
  * read from a stale file listing, and a manifest deleted in that window
  * degrades to keep-all. Evaluation here is driver-side Scala,
  * deliberately mirroring [[StatsManifest.prunedFiles]]'s relational
  * evaluation; StatsManifestSpec pins the two paths to agree on the same
  * predicates so they cannot drift. Conservative outs, in addition to
  * the manifest's own: an untranslatable filter prunes nothing; a
  * file or column the manifest has never seen is always kept.
  * Non-ASCII strings prune too: every driver-side string comparison here
  * runs over UTF-8 BYTES (unsigned lexicographic — exactly
  * UTF8String.compareTo, the ordering Spark's min/max stats were
  * computed under); comparing with Java's UTF-16 `String` ordering
  * instead would disagree above the BMP and unsoundly drop files.
  *
  * Schema caveat (the one contract [[StatsManifest.scan]] holds
  * slightly stronger): the served schema is the manifest marker's union
  * schema, fixed at relation construction. Files appended to the
  * directory OUTSIDE build/refreshAfterApply are never pruned (sound),
  * but a NEW column only they carry stays absent from this relation
  * until the manifest is rebuilt — mutate manifested directories only
  * through the build/apply path, or rebuild after a direct append
  * (`scan` detects this case per-scan and degrades to mergeSchema; a
  * FileIndex cannot, its schema is already bound).
  */
object ManifestFileIndex {

  /** One column's collected stats (lane tells an all-NULL numeric column
    * apart from a string-statted one when a numeric probe arrives).
    */
  final case class ColStats(lane: String, rows: Long, nulls: Long,
                            minL: Option[Long], maxL: Option[Long],
                            minD: Option[Double], maxD: Option[Double],
                            minS: Option[String], maxS: Option[String])

  /** A DataFrame over `dataDir` whose scans skip files via the manifest.
    * Degrades to the plain read when no manifest has been built.
    */
  def table(s: SparkSession, dataDir: String,
            manifestDir: String = null): DataFrame = {
    val mdir = Option(manifestDir).getOrElse(StatsManifest.manifestDirFor(dataDir))
    StatsManifest.read(s, mdir) match {
      // mergeSchema on the degrade path too: an evolved dir mixes file
      // schemas whether or not its manifest exists
      case None => s.read.option("mergeSchema", "true").parquet(dataDir)
      case Some(_) =>
        // DEFERRED manifest load (first listFiles call, see class doc):
        // re-reads the manifest FRESH at that moment — no DataFrame (and
        // no file listing) captured across the window, and a manifest
        // that was rebuilt or deleted meanwhile resolves to its current
        // state (deleted = empty map = keep-all).
        // The union schema comes from the manifest's marker (one tiny
        // file; mergeSchema inference only for pre-marker manifests) —
        // the dir may mix pre-evolution linked files with evolved ones
        val schema = StatsManifest.unionSchema(s, dataDir, mdir)
        val base = new InMemoryFileIndex(s, Seq(new Path(dataDir)),
          Map.empty[String, String], Some(schema))
        val rel = HadoopFsRelation(new ManifestFileIndex(base, () => loadStats(s, mdir)),
          new StructType(), schema, None, new ParquetFileFormat, Map.empty)(s)
        org.apache.spark.sql.GraftPlanBridge.ofRows(s, LogicalRelation(rel, false))
    }
  }

  /** An [[InMemoryFileIndex]] over exactly `files`, which the caller
    * has just listed, under generation root `basePath`: its file-status
    * cache already holds them, so building it lists nothing. Handing
    * more than 32 file paths to `spark.read.parquet` instead launches
    * Spark's parallel "Listing leaf files" job to list them again. A
    * file under a `pcol=value` dir reads `value` back as its partition
    * column, typed by `schema` (never inferred).
    */
  private[graft] def listedIndex(s: SparkSession, basePath: String, schema: StructType,
                                 files: Seq[java.nio.file.Path]): InMemoryFileIndex = {
    def hpath(p: java.nio.file.Path) = new Path("file", null, p.toAbsolutePath.toString)
    val byDir = files.groupBy(_.getParent).map { case (d, fs) =>
      hpath(d) -> fs.map(f => new org.apache.hadoop.fs.FileStatus(
        java.nio.file.Files.size(f), false, 1, 32L << 20,
        java.nio.file.Files.getLastModifiedTime(f).toMillis, hpath(f))).toArray
    }
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path) = byDir.get(p)
      override def putLeafFiles(p: Path, fs: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    new InMemoryFileIndex(s, byDir.keys.toSeq, Map("basePath" -> basePath), Some(schema), cache)
  }

  /** A frame over exactly `files` through [[listedIndex]]. */
  def listed(s: SparkSession, basePath: String, schema: StructType,
             files: Seq[java.nio.file.Path]): DataFrame = {
    val index = listedIndex(s, basePath, schema, files)
    val pcols = index.partitionSchema.fieldNames.toSet
    val rel = HadoopFsRelation(index, index.partitionSchema,
      StructType(schema.filterNot(f => pcols(f.name))), None,
      new ParquetFileFormat, Map.empty)(s)
    org.apache.spark.sql.GraftPlanBridge.ofRows(s, LogicalRelation(rel, false))
  }

  /** The manifest at `mdir` collected to the driver as file → column →
    * stats, read FRESH at call time; empty when no manifest is there
    * (keep-all).
    */
  private[graft] def loadStats(s: SparkSession, mdir: String): Map[String, Map[String, ColStats]] =
    StatsManifest.read(s, mdir).map(_.collect().map { r =>
      def s_(c: String) = Option(r.getAs[String](c))
      def l_(c: String) = if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Long](c))
      def d_(c: String) = if (r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Double](c))
      (r.getAs[String]("file"), r.getAs[String]("col")) -> ColStats(
        r.getAs[String]("lane"), r.getAs[Long]("rows"), r.getAs[Long]("nulls"),
        l_("min_long"), l_("max_long"), d_("min_dbl"), d_("max_dbl"),
        s_("min_str"), s_("max_str"))
    }.groupBy(_._1._1)
      .map { case (f, rows) => f -> rows.map { case ((_, c), st) => c -> st }.toMap })
      .getOrElse(Map.empty)

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Unsigned lexicographic byte compare — UTF8String.compareTo's
    * ordering, i.e. the ordering the manifest's min/max were computed
    * under by Spark's own string min/max. Java `String` comparison
    * (UTF-16 code units) disagrees with it above the BMP (surrogates
    * sort below U+E000), so every stats comparison must run here.
    */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private[graft] def utf8Cmp(a: String, b: String): Int = cmpBytes(utf8(a), utf8(b))

  /** Strict upper sibling of a byte prefix: the shortest byte string
    * above every byte string starting with `p` (trailing 0xFF bytes
    * dropped, last remaining byte incremented). None when p is all 0xFF
    * (no finite bound exists). Strings starting with string-prefix s
    * have UTF-8 bytes in [utf8(s), prefixSuccBytes(utf8(s))) — UTF-8 is
    * prefix-preserving, so the byte interval IS the prefix range.
    */
  private def prefixSuccBytes(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }
}

final class ManifestFileIndex(
    base: InMemoryFileIndex,
    loadStats: () => Map[String, Map[String, ManifestFileIndex.ColStats]])
  extends FileIndex {
  import ManifestFileIndex._

  // deferred to the first pruning decision; a frame that is never
  // scanned (an unused readSnapshot entry) never pays the manifest job
  private lazy val stats = loadStats()

  override def rootPaths: Seq[Path] = base.rootPaths
  override def inputFiles: Array[String] = base.inputFiles
  override def refresh(): Unit = base.refresh()
  override def sizeInBytes: Long = base.sizeInBytes
  override def partitionSchema: StructType = base.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = base.metadataOpsTimeNs

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // the same filter translation parquet pushdown runs; an expression
    // it cannot translate simply does not participate in pruning
    val fs = dataFilters.flatMap(org.apache.spark.sql.GraftPlanBridge.translateFilter)
    val listed = base.listFiles(partitionFilters, dataFilters)
    if (fs.isEmpty) listed
    else listed.map { pd =>
      PartitionDirectory(pd.values,
        pd.files.filter(f => mayMatchFile(f.getPath.getName, fs)))
    }
  }

  private def mayMatchFile(name: String, fs: Seq[sources.Filter]): Boolean =
    stats.get(name) match {
      case None => true // written after the manifest — never prune blind
      case Some(cols) => fs.forall(mayMatch(cols, _))
    }

  // widen every numeric comparison one relative+absolute epsilon — the
  // probe value may itself have rounded through a double (decimals),
  // and slack only ever KEEPS a file
  private def eps(x: Double): Double = math.abs(x) * 1e-12 + java.lang.Double.MIN_NORMAL

  private def numeric(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  /** Conservative three-valued test collapsed to keep/drop: true = the
    * file may hold a matching row, false = provably cannot.
    */
  private def mayMatch(cols: Map[String, ColStats], f: sources.Filter): Boolean = f match {
    case sources.And(a, b) => mayMatch(cols, a) && mayMatch(cols, b)
    case sources.Or(a, b) => mayMatch(cols, a) || mayMatch(cols, b)
    case sources.GreaterThan(c, v) => upperReaches(cols.get(c), v)
    case sources.GreaterThanOrEqual(c, v) => upperReaches(cols.get(c), v)
    case sources.LessThan(c, v) => lowerReaches(cols.get(c), v)
    case sources.LessThanOrEqual(c, v) => lowerReaches(cols.get(c), v)
    case sources.EqualTo(c, v) =>
      upperReaches(cols.get(c), v) && lowerReaches(cols.get(c), v)
    case sources.In(c, vs) =>
      vs.exists(v => upperReaches(cols.get(c), v) && lowerReaches(cols.get(c), v))
    case sources.IsNull(c) => cols.get(c).forall(_.nulls > 0L)
    case sources.IsNotNull(c) => cols.get(c).forall(st => st.rows > st.nulls)
    case sources.StringStartsWith(c, p) =>
      cols.get(c).forall { st =>
        if (st.lane != "string") true
        else if (st.minS.isEmpty) false // all-NULL column
        else {
          val pb = utf8(p)
          val upOk = st.maxS.forall(mx => cmpBytes(utf8(mx), pb) >= 0)
          // truncated minimum: still a valid lower bound (a code-point
          // prefix is a byte prefix, hence <= in byte order) — the test
          // only widens
          val loOk = prefixSuccBytes(pb).forall(succ =>
            cmpBytes(utf8(st.minS.get), succ) < 0)
          upOk && loOk
        }
      }
    case _ => true // Not, EqualNullSafe, contains/endsWith, …: never prune
  }

  /** Can some value in the file be >= v (also the conservative answer
    * for > v)? None stats = unknown = yes.
    */
  private def upperReaches(st: Option[ColStats], v: Any): Boolean = st match {
    case None => true
    case Some(s) => numeric(v) match {
      case Some(d) =>
        if (s.lane == "string") true // type confusion: never prune
        else numUpper(s) match {
          case None => false // numeric lane with no bounds ⇔ all-NULL column
          case Some(hi) => hi >= d - eps(d)
        }
      case None => v match {
        case str: String =>
          if (s.lane != "string") true
          else if (s.minS.isEmpty) false // all-NULL column
          else s.maxS.forall(mx => utf8Cmp(mx, str) >= 0)
        case _ => true
      }
    }
  }

  /** Can some value in the file be <= v (also conservative for < v)? */
  private def lowerReaches(st: Option[ColStats], v: Any): Boolean = st match {
    case None => true
    case Some(s) => numeric(v) match {
      case Some(d) =>
        if (s.lane == "string") true
        else numLower(s) match {
          case None => false // numeric lane with no bounds ⇔ all-NULL column
          case Some(lo) => lo <= d + eps(d)
        }
      case None => v match {
        case str: String =>
          if (s.lane != "string") true
          else s.minS match {
            case None => false // all-NULL column
            // truncated minimum: still a valid lower bound, and the test
            // only widens (min' <= min keeps more files)
            case Some(mn) => utf8Cmp(mn, str) <= 0
          }
        case _ => true
      }
    }
  }

  private def numUpper(s: ColStats): Option[Double] =
    s.maxL.map(_.toDouble).orElse(s.maxD)
  private def numLower(s: ColStats): Option[Double] =
    s.minL.map(_.toDouble).orElse(s.minD)
}
