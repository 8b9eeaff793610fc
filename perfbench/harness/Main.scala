package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One op of a workload, as generated by run.py from the seed. */
final case class Op(node: JsonNode) {
  def id: Int = node.get("id").asInt
  def kind: String = node.get("kind").asText
  def group: Int = Option(node.get("group")).map(_.asInt).getOrElse(id)
  def str(k: String): String = Option(node.get(k)).map(_.asText).orNull
  def int(k: String): Int = node.get(k).asInt
}

/** What one op returned: the rows its check reads, their frame (for the
  * traced run's scan statistics) and any other value the check needs. */
final case class OpOut(cols: Seq[String] = Nil, rows: Seq[Row] = Nil,
                       extra: Map[String, Any] = Map.empty, df: DataFrame = null)

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val cfg: JsonNode, val tracer: Tracer) {
  val dataDir: String = cfg.get("data").asText
  val workDir: String = cfg.get("work").asText
  /** placeholder -> value, substituted into op SQL as {NAME} */
  val names = mutable.LinkedHashMap.empty[String, String]

  def fill(sql: String): String =
    names.foldLeft(sql) { case (s, (k, v)) =>
      s.replace(s"{$k}", v)
    }

  def sql(text: String): DataFrame = spark.sql(fill(text))

  /** Trace-only: the frame's catalyst phases as spans of `op`. Called
    * after the frame's action, when all of its phases have run. */
  def phases(df: DataFrame, op: Int): Unit =
    if (tracer.enabled) {
      val phases = df.queryExecution.tracker.phases
      for ((phase, layer) <- Seq("parsing" -> "plans.parse",
             "analysis" -> "catalyst.analysis",
             "optimization" -> "catalyst.optimization",
             "planning" -> "catalyst.planning"))
        phases.get(phase).foreach(p =>
          tracer.record(layer, op, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }

  def collect(df: DataFrame, op: Int): OpOut = {
    val rows = df.collect().toSeq
    phases(df, op)
    OpOut(df.columns.toSeq, rows, df = df)
  }
}

trait Workload {
  /** Build the state the ops run against (chains, stores). */
  def setup(ctx: Ctx): Unit
  /** Run one op; throw on failure. */
  def run(ctx: Ctx, op: Op): OpOut
  /** Untimed work after the timed region: dumps and counts for checks. */
  def finish(ctx: Ctx): Map[String, Any] = Map.empty
  /** Work around one timed op, outside its wall (filesystem walks). */
  def around(ctx: Ctx, op: Op)(body: => OpOut): OpOut = body
}

object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Files.readString(Paths.get(args(0))))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg()
    val cpus = cfg.get("cpus").asInt
    val spark = graft.GraftSession.builder(master = s"local[$cpus]",
      shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(cfg.get("trace").asInt == 1)
    val listener = new OpListener
    if (tracer.enabled) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, cfg, tracer)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl: Workload = cfg.get("workload").asText match {
      case "dml_session" => new DmlSession
      case "serve_read" => new ServeRead
      case "batch_pipeline" => new BatchPipeline
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val warmOps = cfg.get("warm_ops").elements().asScala.map(Op).toSeq
    val ops = cfg.get("ops").elements().asScala.map(Op).toSeq
    val t0 = System.nanoTime()
    wl.setup(ctx)
    val stateS = (System.nanoTime() - t0) / 1e9
    // warm the op paths once: codegen and class loading then stay out of
    // the timed ops (the warm ops use their own keys and batch ids)
    val w0 = System.nanoTime()
    warmOps.foreach(op => wl.run(ctx, op))
    spark.catalog.clearCache()
    val warmS = (System.nanoTime() - w0) / 1e9
    System.gc()

    // timed region: closed loop, one client, next op only after the
    // previous one returned; a started group of ops always completes
    val seconds = cfg.get("seconds").asDouble
    val minGroups = cfg.get("min_groups").asInt
    val results = new java.util.ArrayList[java.util.Map[String, Any]]()
    val runT0 = System.nanoTime()
    val deadline = runT0 + (seconds * 1e9).toLong
    var groupsDone = 0
    var lastGroup = Int.MinValue
    val it = ops.iterator
    var stop = false
    while (!stop && it.hasNext) {
      val op = it.next()
      if (op.group != lastGroup) {
        if (lastGroup != Int.MinValue) groupsDone += 1
        if (groupsDone >= minGroups && System.nanoTime() >= deadline) stop = true
        lastGroup = op.group
      }
      if (!stop) results.add(timed(ctx, wl, op))
    }
    val runS = (System.nanoTime() - runT0) / 1e9
    spark.sparkContext.setJobDescription(null)
    val loadEnd = loadAvg()

    val fin = wl.finish(ctx)
    if (tracer.enabled) {
      listener.settle()
      listener.jobs.asScala.foreach { case (_, j) =>
        if (j.endMs >= 0) tracer.record("spark.job", j.op, j.startMs, j.endMs)
      }
      listener.taskTotals.asScala.foreach { case (op, t) =>
        if (op >= 0) {
          tracer.add("spark.task_s", t(0))
          tracer.add("spark.shuffle_write_mb", t(1) / 1e6)
          tracer.add("spark.spill_mb", t(2) / 1e6)
          tracer.add("spark.input_mb", t(3) / 1e6)
        }
      }
    }
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("session_s", sessionS)
    out.put("state_s", stateS)
    out.put("warm_s", warmS)
    out.put("run_s", runS)
    out.put("load_start", loadStart)
    out.put("load_end", loadEnd)
    out.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    out.put("spark_master", spark.sparkContext.master)
    out.put("nproc", Runtime.getRuntime.availableProcessors)
    out.put("ops", results)
    out.put("finish", toJava(fin))
    out.put("peak_rss_mb", peakRssMb())
    if (tracer.enabled) {
      out.put("spans", tracer.spans.map(s => java.util.List.of[Any](
        s.name, s.op, s.startMs, s.endMs)).asJava)
      out.put("counters", tracer.counters.asJava)
    }
    mapper.writeValue(new java.io.File(cfg.get("out").asText), out)
    spark.stop()
  }

  private def timed(ctx: Ctx, wl: Workload, op: Op): java.util.Map[String, Any] = {
    val rec = new java.util.LinkedHashMap[String, Any]()
    rec.put("id", op.id)
    ctx.spark.sparkContext.setJobDescription(s"op:${op.id}")
    val t0 = ctx.tracer.nowMs
    var n0 = System.nanoTime()
    var wall = -1.0
    try {
      val res = wl.around(ctx, op) {
        n0 = System.nanoTime()
        try ctx.tracer.span("op", op.id)(wl.run(ctx, op))
        finally wall = (System.nanoTime() - n0) / 1e9
      }
      rec.put("wall_s", wall)
      rec.put("ok", true)
      if (ctx.tracer.enabled && res.df != null) {
        // outside the op's wall: the file listing is tracing work
        val (read, candidates) = Scans.files(res.df.queryExecution.executedPlan)
        ctx.tracer.add("sources.scan_files", read)
        ctx.tracer.add("sources.scan_candidates", candidates)
      }
      if (res.cols.nonEmpty) {
        rec.put("cols", res.cols.asJava)
        rec.put("rows", res.rows.map(r => toJava(r)).asJava)
      }
      res.extra.foreach { case (k, v) => rec.put(k, toJava(v)) }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        rec.put("wall_s", if (wall >= 0) wall else (System.nanoTime() - n0) / 1e9)
        rec.put("ok", false)
        rec.put("error", s"${e.getClass.getName}: ${e.getMessage}".take(2000))
    }
    rec.put("t0_ms", t0)
    rec
  }

  /** Spark values to JSON-able Java values. Timestamps become epoch
    * microseconds, decimals strings, binaries hex, structs lists. */
  def toJava(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.map(toJava).asJava
    case t: java.sql.Timestamp =>
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case f: Float => f.toDouble
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => String.valueOf(k) -> toJava(x) }.asJava
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case other => other
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Driver JVM resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
