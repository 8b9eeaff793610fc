package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One generation chain — flat ([[CorpusLayout]]) or partitioned
  * ([[PartitionedLayout]]) — as the chain verbs see it. A flat chain is
  * a partitioned chain with no partition column (Iceberg's empty
  * partition spec), so the descriptor owns exactly the facts that differ
  * between the two kinds and nothing else: the layout root, the catalog
  * name, the lease/tag/epoch key, the completeness markers, the listing
  * of a generation's data dirs and `_dv` sidecars, resync, and the
  * catalog swing. Tags, VACUUM, DESCRIBE HISTORY, CHECK TABLE, the
  * change feed and column evolution are written once on top of it
  * ([[graft.operators.MergeOps]], [[graft.operators.Fsck]]).
  *
  * Both kinds share one chain shape and discipline: generation 0 lives
  * at `<root>/<table>`, every advance at `<root>/<table>_vN`; the
  * single-writer lease ([[graft.operators.GenerationLease]]) under
  * [[leaseKey]] fences every chain mutation; tags share one store under
  * the layout root, namespaced by [[leaseKey]] (`documents` vs
  * `documents@partitioned` — the two can never collide) and pin their
  * generation against vacuum; commit-time stamps and the served
  * generation ride the epoch marker under [[epochKey]].
  *
  * Every listing here is a local `java.nio` `Files.list` (see
  * SCALING.md, "Listing assumption").
  */
final case class Chain(corpusDir: String, table: String,
                       partitionCol: Option[String]) {

  def partitioned: Boolean = partitionCol.isDefined

  /** The layout key: row identity and bucket placement. */
  def key: String = CorpusLayout.keyed.getOrElse(table,
    throw new IllegalArgumentException(
      s"table '$table' has no layout key (CorpusLayout.keyed)"))

  /** Directory holding the generation dirs; None without the layout conf. */
  def root(s: SparkSession): Option[String] =
    CorpusLayout.layoutRoot(s, corpusDir)
      .map(r => if (partitioned) s"$r/partitioned" else r)

  def catalogName: String =
    if (partitioned) PartitionedLayout.tableName(table, corpusDir)
    else CorpusLayout.tableName(table, corpusDir)

  /** Lease and tag namespace. */
  def leaseKey: String = if (partitioned) s"$table@partitioned" else table

  /** Epoch-marker key: served generation and commit stamps. */
  def epochKey: String = if (partitioned) s"${table}_partitioned" else table

  /** The markers that make a generation complete (attachable). */
  def markers: Seq[String] =
    if (partitioned) Seq(CorpusLayout.BucketsMarker, PartitionedLayout.PcolMarker)
    else Seq("_SUCCESS", CorpusLayout.BucketsMarker)

  def isComplete(gen: String): Boolean =
    markers.forall(m => Files.exists(Paths.get(gen, m)))

  /** Mark generation `gen`, whose files are all on disk, complete. */
  def markComplete(gen: String, buckets: Int): Unit = {
    CorpusLayout.writeBucketsMarker(gen, buckets)
    partitionCol match {
      case Some(p) => Files.write(
        Paths.get(gen, PartitionedLayout.PcolMarker), p.getBytes("UTF-8"))
      case None => Files.write(Paths.get(gen, "_SUCCESS"), Array.emptyByteArray)
    }
  }

  /** A generation's data dirs as (partition value, dir): the
    * generation root itself (value "") for a flat chain, its
    * `pcol=value` subdirs (sorted by value) for a partitioned one.
    */
  def dataDirs(gen: String): Seq[(String, Path)] =
    if (!partitioned) Seq("" -> Paths.get(gen))
    else Chain.list(Paths.get(gen))
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .map(p => p.getFileName.toString.split("=", 2)(1) -> p).sortBy(_._1)

  /** The data dirs carrying a merge-on-read `_dv` sidecar. */
  def dvDirs(gen: String): Seq[(String, Path)] =
    dataDirs(gen).filter { case (_, d) =>
      Files.isDirectory(d.resolve(CorpusLayout.DvDir).resolve("tombstones")) }

  /** Point this session's catalog at the newest complete generation. */
  def resync(s: SparkSession): Unit =
    if (partitioned) PartitionedLayout.resync(s, corpusDir, table)
    else CorpusLayout.resyncServing(s, corpusDir, table)

  /** The served (composed, logical) frame, when the chain is served. */
  def served(s: SparkSession): Option[DataFrame] =
    if (partitioned) PartitionedLayout.ifPresent(s, corpusDir, table)
    else CorpusLayout.ifPresent(s, corpusDir, table)

  /** Swing the catalog name onto complete generation `vpath`: the
    * staging table (created here over files already on disk when
    * `fileSchema` — their physical schema, partition column excluded —
    * is given; a write registered it otherwise), DROP + RENAME, the
    * partition dirs registered when partitioned (the staging write
    * knew only the ones it wrote), the epoch bumped.
    */
  def swing(s: SparkSession, vpath: String, buckets: Int,
            fileSchema: Option[org.apache.spark.sql.types.StructType]): Unit = {
    val t = catalogName
    fileSchema.foreach { fs =>
      val sortCol = CorpusLayout.sortColFor(vpath).getOrElse(key)
      val (cols, partitionedBy) = partitionCol match {
        case Some(p) => (s"${fs.toDDL}, $p STRING", s"PARTITIONED BY ($p) ")
        case None => (fs.toDDL, "")
      }
      s.sql(s"DROP TABLE IF EXISTS ${t}_staging")
      s.sql(s"CREATE TABLE ${t}_staging ($cols) USING PARQUET $partitionedBy" +
        s"CLUSTERED BY ($key) SORTED BY ($sortCol) INTO $buckets BUCKETS " +
        s"LOCATION '$vpath'")
    }
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"ALTER TABLE ${t}_staging RENAME TO $t")
    PartitionedLayout.registerPartitions(s, this, vpath)
    CorpusLayout.refreshRelationCache(s, t)
    CorpusLayout.bumpEpoch(s, corpusDir, epochKey, vpath)
  }
}

object Chain {

  def flat(corpusDir: String, table: String = "documents"): Chain =
    Chain(corpusDir, table, None)

  /** The partitioned chain of (corpus, table), its partition column read
    * off the served generation's `_PCOL` marker (the epoch names it —
    * two small file reads, no listing).
    */
  def partitioned(s: SparkSession, corpusDir: String,
                  table: String = "documents"): Chain = {
    val pcol = CorpusLayout.servedGeneration(s, corpusDir, s"${table}_partitioned")
      .map(Paths.get(_, PartitionedLayout.PcolMarker))
      .filter(Files.exists(_))
      .getOrElse(throw new IllegalStateException(
        s"no partitioned layout for ($corpusDir, $table)"))
    Chain(corpusDir, table,
      Some(new String(Files.readAllBytes(pcol), "UTF-8").trim))
  }

  /** The chain a catalog name (`graft_cl_…` flat, `graft_plt_…`
    * partitioned) serves; None when no `_CORPUS` marker maps the name.
    */
  def forCatalogName(s: SparkSession, name: String): Option[Chain] =
    if (name.startsWith("graft_plt_"))
      PartitionedLayout.corpusForTable(s, name)
        .map { case (dir, table) => partitioned(s, dir, table) }
    else CorpusLayout.corpusForTable(s, name)
      .map { case (dir, table) => flat(dir, table) }

  /** [[forCatalogName]], failing loudly for an unmapped name. */
  def resolve(s: SparkSession, name: String, verb: String): Chain =
    forCatalogName(s, name).getOrElse(throw new IllegalStateException(
      s"$verb $name: no _CORPUS marker maps this layout table back to its " +
        "corpus under the session's layout base"))

  private[graft] def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val kids = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        kids.iterator().asScala.toVector
      } finally kids.close()
    }
}
