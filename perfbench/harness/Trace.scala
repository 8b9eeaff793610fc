package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` is the id of the op that
  * caused it (-1 for set-up work); times are epoch milliseconds.
  */
final case class Span(name: String, op: Int, startMs: Double, endMs: Double)

/** In-memory span and counter recorder. Disabled, every call is a plain
  * pass-through, so the untraced run measures the program alone.
  */
final class Tracer(val enabled: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]

  /** Epoch milliseconds on the monotonic clock, comparable with the
    * wall-clock stamps Spark puts on phases and jobs. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = nowMs
      try body finally spans += Span(name, op, t0, nowMs)
    }

  def record(name: String, op: Int, startMs: Double, endMs: Double): Unit =
    if (enabled) spans += Span(name, op, startMs, endMs)

  def add(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v
}

/** Spark listener owned by the benchmark: attributes jobs and task
  * metrics to ops through the job description `op:<id>`. */
final class OpListener extends SparkListener {
  final case class Job(op: Int, startMs: Long, var endMs: Long = -1L)
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** per op: task seconds, shuffle-write, spill and input bytes */
  val taskTotals = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  @volatile var events = 0L

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.startsWith("op:")).map(_.drop(3).toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    jobs.put(e.jobId, Job(op, e.time))
    e.stageIds.foreach(s => stageOp.put(s, op))
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val op = stageOp.getOrDefault(e.stageId, -1)
      val t = taskTotals.computeIfAbsent(op, _ => new Array[Double](4))
      t.synchronized {
        t(0) += m.executorRunTime / 1e3
        t(1) += m.shuffleWriteMetrics.bytesWritten
        t(2) += m.memoryBytesSpilled + m.diskBytesSpilled
        t(3) += m.inputMetrics.bytesRead
      }
    }
    events += 1
  }

  /** Listener delivery is asynchronous: wait until no event has arrived
    * for 200 ms (bounded at 5 s) before reading the totals. */
  def settle(): Unit = {
    var prev = -1L
    var rounds = 0
    while (prev != events && rounds < 25) {
      prev = events
      Thread.sleep(200)
      rounds += 1
    }
  }
}

/** Filesystem walks of corpus directories: which data files an op added,
  * and whether each is a new inode (written) or a hard link to an
  * existing one (linked). */
object FsWalk {
  final case class Entry(inode: Long, size: Long)

  def snapshot(root: String): Map[String, Entry] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val walk = Files.walk(p)
    try walk.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(f => f.toString -> entry(f)).toMap
    finally walk.close()
  }

  def entry(f: Path): Entry =
    Entry(Files.getAttribute(f, "unix:ino").asInstanceOf[Long], Files.size(f))

  /** (files written, files linked, bytes written) between two snapshots. */
  def diff(before: Map[String, Entry], after: Map[String, Entry]): (Int, Int, Long) = {
    val oldInodes = before.values.map(_.inode).toSet
    val added = after.filter { case (k, _) => !before.contains(k) }.values
    val (linked, written) = added.partition(e => oldInodes.contains(e.inode))
    val fresh = written.groupBy(_.inode).values.map(_.head)
    (written.size, linked.size, fresh.map(_.size).sum)
  }

  /** Bytes of the distinct inodes among `files`. */
  def uniqueBytes(files: Iterable[Entry]): Long =
    files.groupBy(_.inode).values.map(_.head.size).sum
}

/** File scans of an executed plan: files each scan selected (its
  * `numFiles` metric, after partition pruning) and files in its index. */
object Scans {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

  def files(plan: SparkPlan): (Long, Long) = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[FileSourceScanExec] =
      if (!seen.add(p)) Nil
      else (p match {
        case s: FileSourceScanExec => Seq(s)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: InMemoryTableScanExec => walk(c.relation.cachedPlan)
        case other => other.children.flatMap(walk)
      }) ++ p.subqueries.flatMap(walk)
    val scans = walk(plan)
    (scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum,
      scans.map(_.relation.location.inputFiles.length.toLong).sum)
  }
}
