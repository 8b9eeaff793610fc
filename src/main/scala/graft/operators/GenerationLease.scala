package graft.operators

import org.apache.spark.sql.SparkSession

/** Single-writer lease on a layout table's generation chain (SURVEY
  * §2.I): every verb that stages a new generation or reclaims old ones
  * ([[MergeOps.applyToLayout]], [[MergeOps.rebucket]],
  * [[MergeOps.compact]], [[MergeOps.vacuum]], the metadata
  * swings) runs inside [[withLease]], so two concurrent appliers — two
  * [[graft.streaming.StreamingMerge]] queries, or a compactor racing an
  * applier, possibly in DIFFERENT JVMs — serialize instead of both
  * staging the same `_vN` and corrupting the chain. Crash recovery was
  * already filesystem-forward (CrashRecoverySpec); this closes
  * CONTENTION, the other half of multi-writer safety.
  *
  * Mechanics: an OS file lock (`FileChannel.tryLock`) on
  * `<layoutRoot>/<table>_LEASE`, the kernel-mediated primitive — NOT a
  * marker-file protocol with mtime heartbeats and staleness heuristics.
  * The first cut here WAS such a protocol, and review killed it for the
  * classic reason: stale-takeover (judge-then-rename) is a TOCTOU — two
  * contenders can both judge one incarnation stale, the loser's
  * pre-decided rename then tombs the winner's FRESH lease, and two
  * writers hold a "single-writer" lease. The kernel lock has no such
  * window by construction:
  *
  *  - acquisition is atomic in the kernel; a holder that dies — clean
  *    exit, `Runtime.halt`, SIGKILL — has its lock released by the OS
  *    immediately, so a crashed applier never needs a staleness clock
  *    (CrashRecoverySpec's halt/replay pair exercises exactly this);
  *  - within one JVM, a second thread's `tryLock` on a held file throws
  *    `OverlappingFileLockException` — mapped to the same wait-retry as
  *    the cross-process busy case;
  *  - the lock FILE is never deleted: unlink-on-release is the other
  *    classic race (a waiter holding the old inode acquires a lock
  *    nobody else can see). An empty `_LEASE` file per table is the
  *    whole residue; the holder token inside is diagnosis only.
  *
  * REENTRANT per thread: applyToLayout holds the lease while its sizing
  * policy folds in a rebucket, which would otherwise deadlock against
  * itself. Waiters poll (50 ms): chain maintenance is seconds-granular,
  * not a hot lock. [[WaitMsKey]] bounds the acquire; past the deadline
  * it throws rather than proceeding unfenced. On an object store this
  * primitive becomes a conditional PUT (the Delta/Iceberg commit-service
  * shape); the local engine gets the kernel's version of the same
  * guarantee.
  */
object GenerationLease {

  /** Session conf: max time an acquire waits before throwing (ms). */
  val WaitMsKey = "spark.graft.merge.leaseWaitMs"

  private val DefaultWaitMs = 600000L

  private val held = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }

  private def leasePath(s: SparkSession, corpusDir: String,
                        table: String): java.nio.file.Path =
    java.nio.file.Paths.get(MergeOps.layoutRoot(s, corpusDir), s"${table}_LEASE")

  /** Run `body` holding the single-writer lease for (corpus, table).
    * Reentrant within a thread; throws IllegalStateException when the
    * lease cannot be acquired before the wait deadline.
    */
  def withLease[T](s: SparkSession, corpusDir: String, table: String)
                  (body: => T): T = {
    val path = leasePath(s, corpusDir, table)
    val key = path.toAbsolutePath.normalize.toString
    if (held.get.contains(key)) return body // reentrant: already fenced
    val waitMs = s.conf.getOption(WaitMsKey).map(_.toLong)
      .getOrElse(DefaultWaitMs)
    val (channel, lock) = acquire(path, waitMs)
    held.get += key
    try body finally {
      held.get -= key
      try lock.release() catch { case _: java.io.IOException => () }
      try channel.close() catch { case _: java.io.IOException => () }
      // the lock FILE stays — unlinking a lock file re-opens the
      // two-holders-on-different-inodes race (see class doc)
    }
  }

  private def acquire(path: java.nio.file.Path, waitMs: Long)
      : (java.nio.channels.FileChannel, java.nio.channels.FileLock) = {
    val deadline = System.nanoTime() + waitMs * 1000000L
    while (true) {
      val ch = java.nio.channels.FileChannel.open(path,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock = try ch.tryLock() catch {
        // same-JVM holder (another thread/session): busy, like EAGAIN
        case _: java.nio.channels.OverlappingFileLockException => null
        case e: java.io.IOException => ch.close(); throw e
      }
      if (lock != null) {
        // holder token for DIAGNOSIS only (who is applying right now);
        // correctness lives entirely in the kernel lock
        val token = s"${java.lang.ProcessHandle.current.pid}@" +
          s"${java.net.InetAddress.getLocalHost.getHostName}/" +
          s"${System.currentTimeMillis()}\n"
        try {
          ch.truncate(0)
          ch.write(java.nio.ByteBuffer.wrap(token.getBytes("UTF-8")))
          ch.force(false)
        } catch { case _: java.io.IOException => () }
        return (ch, lock)
      }
      ch.close()
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"generation lease at $path not acquired within ${waitMs}ms " +
            s"(holder: ${scala.util.Try(new String(
              java.nio.file.Files.readAllBytes(path), "UTF-8").trim)
              .getOrElse("<unreadable>")})")
      Thread.sleep(50)
    }
    throw new IllegalStateException("unreachable")
  }
}
