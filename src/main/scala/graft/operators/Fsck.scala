package graft.operators

import graft.sources.{Chain, CorpusLayout, PartitionedLayout, StatsManifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `CHECK TABLE` — the fsck of the corpus layout (SURVEY §2.H): audit
  * the SERVED generation's physical invariants so an operator can
  * verify a corpus before a training run instead of trusting it. Every
  * check is sized honestly:
  *
  *  - driver-side metadata (markers, file naming, mapping validity,
  *    manifest coverage, dv readability): directory listings only;
  *  - `bucket_placement`: ONE distributed key-column scan — every row
  *    must live in `pmod(hash(key), B)`, the exact expression the
  *    bucketed writer used (a misplace breaks every zero-Exchange join
  *    silently, the worst class of corruption because results are
  *    wrong, not missing);
  *  - `key_uniqueness`: one groupBy over the SERVING view (what
  *    readers actually see, dv compose and mapping included);
  *  - `stats_soundness`: re-derive the file stats with the SAME
  *    builder into a scratch dir and require the committed bounds to
  *    CONTAIN the fresh ones (hard-linked carries must be verbatim;
  *    a narrower committed bound would prune live rows). This is the
  *    one corpus-sized check — it is the audit's point; run it in the
  *    same maintenance window as compaction.
  *
  * Failures are facts, not guesses: each row is (check, status,
  * details) with status ok / warn / FAIL — warn marks sound-but-
  * suboptimal states (unknown files are never pruned; stale manifest
  * entries never match a listing) and FAIL marks serving-correctness
  * hazards. One audit serves both chain kinds: a partitioned chain's
  * data dirs are its `pcol=value` subdirs (each audited like the flat
  * generation root, sidecars included), and it adds `partition_dirs`
  * (every value directory-safe). SQL spelling: `CHECK TABLE
  * graft_cl_…` / `graft_plt_…` (GraftSqlParser).
  */
object Fsck {

  final case class Finding(check: String, status: String, details: String)

  def checkTable(s: SparkSession, chain: Chain): Seq[Finding] = {
    val keyCol = chain.key
    chain.repair(s)
    val loc = chain.tip(s).getOrElse(throw new IllegalStateException(
      s"no layout for (${chain.corpusDir}, ${chain.table}) — nothing to check"))
    // the audit reads the files ON DISK through a relation of its own,
    // not this session's cached one (whose listing a file changed
    // outside the chain verbs would leave stale)
    val served = chain.read(s, loc, cached = false)
    val dirs = chain.dataDirs(loc)
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    def add(check: String, ok: Boolean, details: String,
            failStatus: String = "FAIL"): Unit =
      out += Finding(check, if (ok) "ok" else failStatus, details)

    // ── markers: the generation must carry its completeness markers
    val bFile = java.nio.file.Paths.get(loc, CorpusLayout.BucketsMarker)
    val buckets = if (!java.nio.file.Files.exists(bFile)) -1
      else scala.util.Try(new String(
        java.nio.file.Files.readAllBytes(bFile), "UTF-8").trim.toInt)
        .getOrElse(-1)
    add("markers", chain.isComplete(loc) && buckets > 0,
      if (chain.isComplete(loc) && buckets > 0)
        s"${chain.markers.mkString(" + ")} (B=$buckets)"
      else s"missing/unreadable markers in $loc")

    // ── partition dirs: present, every value directory-safe (the
    // layout's no-escaping contract)
    chain.partitionCol.foreach { _ =>
      val badVals = dirs.map(_._1).filterNot(v =>
        PartitionedLayout.SafeValue.pattern.matcher(v).matches())
      add("partition_dirs", dirs.nonEmpty && badVals.isEmpty,
        if (dirs.nonEmpty && badVals.isEmpty) s"${dirs.size} partitions"
        else if (dirs.isEmpty) "no partition dirs under the generation"
        else s"escaped/unsafe values: ${badVals.take(3).mkString(", ")}")
    }

    // ── column mapping: physical slots must exist, the key must be
    // neither renamed nor dropped, logical names must not collide
    val mapping = CorpusLayout.readMapping(loc)
    val physNames = chain.physicalSchema(s, loc).fieldNames.toSet
    val mapBad =
      mapping.keys.filterNot(physNames.contains).map(p =>
        s"mapping names unknown physical column '$p'") ++
      (keyCol +: chain.partitionCol.toSeq).filter(mapping.contains).map(c =>
        s"mapping touches the layout ${if (c == keyCol) "key" else "partition column"} '$c'") ++ {
        val logical = physNames.toSeq.map(p =>
          mapping.getOrElse(p, Some(p))).collect { case Some(l) => l }
        logical.groupBy(identity).collect { case (n, d) if d.size > 1 =>
          s"logical name '$n' maps from ${d.size} physical slots" }
      }
    add("column_mapping", mapBad.isEmpty,
      if (mapBad.isEmpty) s"${mapping.size} entries" else mapBad.mkString("; "))

    // ── file naming: every data file must parse a bucket id < B
    val dataFiles = dirs.flatMap { case (_, d) => graft.FsUtil.list(d) }
      .filter(f => java.nio.file.Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      .map(_.getFileName.toString)
    val badNames = dataFiles.filter(n =>
      !MergeOps.bucketIdOf(n).exists(b => b >= 0 && b < buckets))
    add("file_naming", buckets > 0 && badNames.isEmpty,
      if (badNames.isEmpty) s"${dataFiles.size} data files"
      else s"unparseable/out-of-range bucket ids: ${badNames.take(3).mkString(", ")}")

    // ── bucket placement: one distributed key-column scan of the base
    // files (key-only explicit schema — no footer-inference job); the
    // file's name says where the writer put it, the hash says where it
    // belongs
    val raw = s.read.schema(org.apache.spark.sql.types.StructType(
        Seq(served.schema(keyCol))))
      .parquet(dirs.map(_._2.toString): _*)
    // LAST `_NNNNN.` group, same rule as MergeOps.bucketIdOf — a name
    // carrying two such groups (schema-anchor rename + task suffix)
    // must classify identically here and in the writer/compaction path;
    // the greedy `.*` prefix pins the match to the final occurrence
    val misplaced = raw
      .select(col(keyCol),
        regexp_extract(input_file_name(), ".*_(\\d{5})\\.", 1).cast("int")
          .as("__fb"))
      .filter(col("__fb").isNotNull &&
        pmod(hash(col(keyCol)), lit(buckets)).cast("int") =!= col("__fb"))
      .count()
    add("bucket_placement", misplaced == 0,
      if (misplaced == 0) "every row in pmod(hash(key), B)"
      else s"$misplaced rows outside their hash bucket — bucket-co-located joins are WRONG for these keys")

    // ── key uniqueness + non-null on the SERVING view (dv compose and
    // mapping included — this is what readers see)
    val dupes = served.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).count()
    val nullKeys = served.filter(col(keyCol).isNull).count()
    add("key_uniqueness", dupes == 0 && nullKeys == 0,
      if (dupes == 0 && nullKeys == 0) "one row per key, no NULL keys"
      else s"$dupes duplicated keys, $nullKeys NULL keys")

    // ── manifest: coverage (warn-grade: unknown files are never pruned,
    // stale entries never match a listing) and bound SOUNDNESS
    // (FAIL-grade: a committed bound narrower than the data prunes
    // live rows)
    if (StatsManifest.hasManifest(loc)) {
      val committed = StatsManifest.read(
        s, StatsManifest.manifestDirFor(loc)).get.cache()
      try {
        val known = committed.select("file").distinct()
          .collect().map(_.getString(0)).toSet
        val present = dataFiles.toSet
        val unknown = present -- known
        val stale = known -- present
        add("manifest_coverage", unknown.isEmpty && stale.isEmpty,
          (if (unknown.isEmpty && stale.isEmpty) s"${known.size} files covered"
           else s"${unknown.size} unknown (never pruned), " +
             s"${stale.size} stale entries"),
          failStatus = "warn")
        val statCols = committed.select("col").distinct()
          .collect().map(_.getString(0)).toSeq
        val scratch = java.nio.file.Files
          .createTempDirectory("graft_fsck_stats").toString
        try {
          StatsManifest.build(s, loc, statCols, scratch)
          val fresh = StatsManifest.read(s, scratch).get
          def contains(pre: String) = {
            val cm = committed.as("c").join(fresh.as("f"),
              col("c.file") === col("f.file") && col("c.col") === col("f.col"))
            cm.filter(
              (col(s"c.min_$pre").isNotNull && col(s"f.min_$pre").isNotNull &&
                col(s"c.min_$pre") > col(s"f.min_$pre")) ||
              (col(s"c.max_$pre").isNotNull && col(s"f.max_$pre").isNotNull &&
                col(s"c.max_$pre") < col(s"f.max_$pre"))).count()
          }
          val rowDrift = committed.as("c").join(fresh.as("f"),
              col("c.file") === col("f.file") && col("c.col") === col("f.col"))
            .filter(col("c.rows") =!= col("f.rows") ||
              col("c.nulls") =!= col("f.nulls")).count()
          val leaks = contains("long") + contains("dbl") + contains("str")
          add("stats_soundness", leaks == 0 && rowDrift == 0,
            if (leaks == 0 && rowDrift == 0)
              s"bounds contain the data for ${statCols.size} stat columns"
            else s"$leaks bound violations, $rowDrift row/null drifts — " +
              "pruning may drop live rows; rebuild the manifest")
        } finally graft.FsUtil.deleteRecursively(
          java.nio.file.Paths.get(scratch))
      } finally committed.unpersist()
    }

    // ── dv sidecars: readable, and tombstones carry usable keys, one
    // delta row per key (per partition on a partitioned chain)
    val dv = chain.dvDirs(loc)
    if (dv.nonEmpty) {
      val issues = dv.flatMap { case (v, d) =>
        val where = if (chain.partitioned) s"$v: " else ""
        scala.util.Try {
          val side = d.resolve(CorpusLayout.DvDir)
          val badT = s.read.parquet(side.resolve("tombstones").toString)
            .filter(col(keyCol).isNull).count()
          val dupD = s.read.parquet(side.resolve("deltas").toString)
            .groupBy(col(keyCol)).count().filter(col("count") > 1).count()
          if (badT == 0 && dupD == 0) None
          else Some(s"$where$badT NULL tombstone keys, $dupD duplicate delta keys")
        }.fold(e => Some(s"${where}unreadable sidecar: ${e.getMessage}"), identity)
      }
      add("dv_sidecar", issues.isEmpty,
        if (issues.nonEmpty) issues.mkString("; ")
        else if (chain.partitioned)
          s"tombstones keyed, deltas unique in ${dv.map(_._1).mkString(", ")}"
        else "tombstones keyed, deltas unique")
    }
    out.toSeq
  }
}
