package graft.sources

import java.nio.file.{Files, Path, Paths}

/** The one commit protocol of the derived stores next to a corpus —
  * [[graft.operators.SignatureStore]] and
  * [[graft.operators.VectorIndexStore]]. A store root holds numbered
  * version dirs `vN`, each a complete set of the store's facets, and one
  * `CURRENT` pointer file naming the served version. Every mutation
  * stages a whole new version ([[commit]]), linking what it does not
  * change, and then replaces the pointer by an atomic move: a reader
  * resolves the pointer once and sees every facet of one version, never
  * a mix. Nothing lives in the session catalog, so a store outlives the
  * JVM that built it. Old versions stay on disk for plans already built
  * against them until [[pruneOld]] reclaims them.
  */
object VersionedStore {

  private def pointerFile(dir: String): Path = Paths.get(dir, "CURRENT")

  /** The served version number, once a commit has flipped the pointer. */
  def current(dir: String): Option[Int] =
    Some(pointerFile(dir)).filter(Files.exists(_))
      .map(p => new String(Files.readAllBytes(p), "UTF-8").trim.stripPrefix("v").toInt)

  /** The served version's directory, `$dir/vN`. */
  def served(dir: String): Option[String] = current(dir).map(v => s"$dir/v$v")

  /** Serve version `version` of the store at `dir`. */
  def flip(dir: String, version: Int): Unit =
    graft.FsUtil.writeAtomically(pointerFile(dir), s"v$version")

  /** One past the highest version on disk (or served): a fresh dir. A
    * build killed after staging part of `v(N+1)` leaves files there, and
    * reusing that number would serve them beside the next build's.
    */
  def next(dir: String): Int =
    (graft.FsUtil.numbered(Paths.get(dir), "v").map(_._1.toInt) ++ current(dir))
      .foldLeft(0)(math.max) + 1

  /** Stage the next version and serve it: `build` writes every facet
    * under the fresh dir it is handed, then the pointer flips. A build
    * that throws leaves the pointer where it was and its staged dir
    * removed. Returns the new version's dir.
    */
  def commit(dir: String)(build: String => Unit): String = {
    val n = next(dir)
    val vdir = s"$dir/v$n"
    try build(vdir)
    catch {
      case e: Throwable =>
        try graft.FsUtil.deleteRecursively(Paths.get(vdir))
        catch { case _: Throwable => () }
        throw e
    }
    flip(dir, n)
    vdir
  }

  /** Delete the versions older than the served one (run once in-flight
    * readers of them are known drained). Returns the deleted dirs.
    */
  def pruneOld(dir: String): Seq[String] =
    current(dir).toSeq.flatMap { cur =>
      graft.FsUtil.numbered(Paths.get(dir), "v").collect { case (n, p) if n < cur =>
        graft.FsUtil.deleteRecursively(p)
        p.toString
      }
    }

  /** Hard-link the tree at `from` to `to` (copy where the filesystem
    * refuses links): how a staged version carries an unchanged facet.
    */
  def link(from: Path, to: Path): Unit =
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      graft.FsUtil.list(from).foreach(k => link(k, to.resolve(k.getFileName.toString)))
    } else graft.operators.MergeOps.linkOrCopy(from, to)
}
