package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds. */
object Bench {

  /** Total shuffle bytes WRITTEN by an executed plan — the number the
    * scale claims in PLANS.md/SURVEY §5 rest on ("the corpus never
    * shuffles", "one row per (doc, band)"), measured instead of
    * asserted. Walks AQE final plans, subqueries, and cached-relation
    * bodies; ReusedExchange shares its child's metric and is skipped,
    * so a reused shuffle counts once, like its cost.
    */
  private[graft] def shuffleBytes(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Long = {
      if (!seen.add(p)) return 0L
      val self = p match {
        case s: ShuffleExchangeLike =>
          s.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
        case _ => 0L
      }
      val below = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: InMemoryTableScanExec => walk(c.relation.cachedPlan)
        case other => other.children.map(walk).sum
      }
      val subs = p.subqueries.map(walk).sum
      self + below + subs
    }
    walk(plan)
  }

  /** Wall seconds of `body`, or the class and message of what it threw:
    * a query that throws has no time (timing it would record how fast it
    * failed). Fatal errors propagate.
    */
  private[graft] def timed(body: => Unit): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      body
      Right((System.nanoTime() - t0) / 1e9)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
  }

  /** `v` as a JSON string literal (control characters become spaces). */
  private[graft] def jsonStr(v: String): String = "\"" + v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  // spill_mb/peakmem_mb come from TaskMetricsListener (the untimed
  // metrics pass), not from executed-plan metric walks — a plan-walk
  // variant existed briefly and was removed as dead code.

  /** Bounded wait for a quiet machine: committed artifacts from hot runs
    * (round 7: load_avg 13.7/32) read as per-query regressions that were
    * noise. Waits until 1-min load ≤ `frac`·cpus or the deadline, then
    * proceeds either way — the run is stamped with start AND end load so
    * a reader can judge comparability.
    */
  private def awaitQuiet(frac: Double = 0.25, maxWaitSec: Int = 120): Double = {
    // PHYSICAL core count, not the Spark thread count: the load average
    // is a machine-wide number, and judging it against local[4] would
    // call an idle 32-core box "hot" at load 1.1
    val cores = Runtime.getRuntime.availableProcessors
    val bean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val deadline = System.nanoTime() + maxWaitSec * 1000000000L
    var load = bean.getSystemLoadAverage
    while (load > frac * cores && System.nanoTime() < deadline) {
      System.err.println(f"[bench] machine hot (load_avg $load%.1f / $cores cores) - waiting")
      Thread.sleep(10000)
      load = bean.getSystemLoadAverage
    }
    load
  }

  /** Task-metrics listener: spilled bytes and per-task peak execution
    * memory accumulate across every task that ends while it is
    * registered; the metrics pass snapshots around each query. These are
    * TASK metrics (SparkListener), so they see spill the plan-level
    * SQLMetrics miss (shuffle-write sorter spill has no plan node).
    */
  private final class TaskMetricsListener extends org.apache.spark.scheduler.SparkListener {
    val spilled = new java.util.concurrent.atomic.AtomicLong(0L)
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peak.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      }
    }
    /** Listener delivery is async; poll until the spill counter is stable
      * across a 100 ms window (bounded at 1 s) before snapshotting.
      */
    def settle(): Unit = {
      var prev = -1L
      var rounds = 0
      while (prev != spilled.get() + peak.get() && rounds < 10) {
        prev = spilled.get() + peak.get()
        Thread.sleep(100)
        rounds += 1
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val loadStart = awaitQuiet()
    val spark = GraftSession.builder(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined" warning fires dozens of times
    // per run from the lint-WHITELISTED tiny-aggregate global windows
    // (PlanLintSpec proves each sits above a bounded frame) and buries
    // any REAL warning in the tail the driver captures. Silence that one
    // logger here — the lint law, not a log line, is the guard.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    // Warm pass at the TARGET SF: AQE re-plans per data size, so warming at
    // a smaller SF leaves the real plans' codegen cold — the timed pass
    // then measures Janino compilation instead of the query. Steady-state
    // numbers are the comparable ones. Cache cleared between queries so
    // one query's cached intermediates can't distort another's memory.
    // Optional name-prefix filters (debugging: `runMain graft.Bench d0`
    // times just the dedup family under the exact harness conditions).
    // The driver invokes with no args → all queries.
    val queries0 = SparkEntry.queries.toSeq.sortBy(_._1)
    val queries = if (args.isEmpty) queries0
      else queries0.filter { case (n, _) => args.exists(n.startsWith) }
    // Materialize the signature/component store ONCE (timed separately as
    // sigstore_build): the 7 MinHash-family consumers then measure
    // consumer cost — a parquet scan + their own joins — instead of each
    // re-running the whole signature pipeline. That is also how 100 TB
    // runs: nobody computes minhashes seven times per corpus.
    val storeBase = java.nio.file.Files.createTempDirectory("graft_bench_sigstore")
    // JIT/codegen warm-up for the BUILD stages at the smallest SF before
    // the timed builds: the first heavy job otherwise pays Janino
    // compilation + classloading INSIDE the timed window — the committed
    // r06 artifact recorded sigstore_build ~30% hot for exactly this
    // reason, and the round-over-round diff read as a regression that
    // wasn't there. sf0.001 compiles the same operator code paths for
    // cents; the timed build at the target SF then measures the work.
    val warmSf = "/root/testdata/sf0.001"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(warmSf))) {
      val warmBase = java.nio.file.Files.createTempDirectory("graft_bench_warm")
      spark.conf.set(graft.operators.SignatureStore.ConfKey, warmBase.toString)
      spark.conf.set(graft.sources.CorpusLayout.ConfKey, warmBase.toString)
      try {
        graft.operators.SignatureStore.materialize(spark, warmSf)
        graft.sources.CorpusLayout.materialize(spark, warmSf)
      } catch {
        // a failed warm-up means the timed build pays JIT cost — say so
        // instead of silently producing a ~30%-hot artifact; fatal
        // errors (OOM) must still propagate
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] WARM-UP FAILED (timed numbers will run cold): $e")
      }
      graft.operators.Dedup.releaseSignatures()
      graft.operators.Relational.releaseCaches()
      System.gc()
    }
    spark.conf.set(graft.operators.SignatureStore.ConfKey, storeBase.toString)
    val storeT0 = System.nanoTime()
    graft.operators.SignatureStore.materialize(spark, sfDir)
    val storeSec = (System.nanoTime() - storeT0) / 1e9
    // Bucketed corpus layout, timed separately as layout_build: queries
    // then read documents/embeddings pre-partitioned on their id — the
    // production organization (you bucket the corpus once per refresh,
    // not per job), so per-query numbers reflect co-located reads.
    spark.conf.set(graft.sources.CorpusLayout.ConfKey, storeBase.toString)
    val layoutT0 = System.nanoTime()
    graft.sources.CorpusLayout.materialize(spark, sfDir)
    val layoutSec = (System.nanoTime() - layoutT0) / 1e9
    // a query that throws has no time; it is recorded here, left out of
    // every total, and fails scripts/check_bench.py
    var errors = Map.empty[String, String]
    queries.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"warm: $name")
      timed(fn(spark, sfDir).count()).left.foreach(e => errors += name -> s"warm: $e")
      spark.catalog.clearCache()
      graft.operators.Dedup.releaseSignatures()
      graft.operators.Relational.releaseCaches()
      graft.FsUtil.sweep()
    }
    spark.sparkContext.setJobDescription(null)
    // min of 3 timed runs per query + an explicit GC boundary: a stray
    // full-GC pause otherwise lands inside some unlucky query and reports
    // a 20× outlier for code that runs in a second (min-of-2 still let
    // GC/loop noise swap family orderings between runs). Cache (including
    // the memoized dedup signature frame) cleared between queries so each
    // timing stands alone. All three timed runs are count() (Catalyst
    // prunes to the cheapest execution — comparable with BENCH_HISTORY);
    // the plan/task metrics come from a SEPARATE, UNTIMED fourth
    // execution so the min-of-3 never mixes the full-projection shape in
    // (round 7 ran metrics as run 3, quietly making it min-of-2).
    var shuffleMb = Map.empty[String, Double]
    var spillMb = Map.empty[String, Double]
    var peakmemMb = Map.empty[String, Double]
    val taskMetrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(taskMetrics)
    def mb(bytes: Long): Double = math.round(bytes / 1e4) / 100.0
    val results = queries.map { case (name, fn) =>
      def release(): Unit = {
        spark.catalog.clearCache()
        graft.operators.Dedup.releaseSignatures()
        graft.operators.Relational.releaseCaches()
        // temp stores registered by the query body (d25) — deleted here,
        // OUTSIDE the timed window
        graft.FsUtil.sweep()
      }
      // guide §1.5: label the jobs so an event log / UI maps stages back
      // to queries (thread-local, driver-side — no measured cost)
      spark.sparkContext.setJobDescription(name)
      val runs = (1 to 3).map(_ => timed(try fn(spark, sfDir).count() finally release()))
      // untimed metrics execution: the frame's OWN QueryExecution with
      // the full output projection (count() builds a separate, pruned
      // QueryExecution whose metrics stay zero). Shuffle volume reads
      // off the plan's accumulator-backed SQLMetrics; spill and peak
      // execution memory come from task metrics via the listener —
      // snapshotted around the run so each query's delta stands alone.
      try {
        spark.sparkContext.setJobDescription(s"metrics: $name")
        taskMetrics.settle()
        val spill0 = taskMetrics.spilled.get()
        taskMetrics.peak.set(0L)
        val qe = fn(spark, sfDir).queryExecution
        qe.toRdd.count()
        taskMetrics.settle()
        shuffleMb += name -> mb(shuffleBytes(qe.executedPlan))
        spillMb += name -> mb(taskMetrics.spilled.get() - spill0)
        peakmemMb += name -> mb(taskMetrics.peak.get())
      } catch { case _: Throwable => () }
      release()
      System.gc()
      runs.collectFirst { case Left(e) => e }.foreach(e => errors += name -> e)
      name -> runs.collect { case Right(t) => t }
    }.collect { case (name, ts) if !errors.contains(name) => name -> ts.min }
    // The driver captures only the last ~2 KB of stdout: round 2's full
    // 80-query line (2.1 KB) overflowed that window and the driver parsed
    // nothing. The PRINTED line therefore carries a headline subset — the
    // slowest queries plus one per operator family — and stays well under
    // 1 KB; the complete per-query map goes to BENCH_LOCAL.json.
    def fmt(v: Double): String = "%.3f".format(v)
    def jsonMap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val errorsJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val headline = {
      val byFamily = results.groupBy(_._1.takeWhile(!_.isDigit))
        .values.map(_.maxBy(_._2)).map(_._1).toSet
      val slowest = results.sortBy(-_._2).take(12).map(_._1).toSet
      results.filter { case (k, _) => byFamily(k) || slowest(k) }
    }
    // "queries" returned to the printed line in round 16: the driver's
    // PERF comparison diffs per-query times from the ONE printed JSON
    // line (r15's PERF came back with per_query empty / geomean null
    // because the full map lived only in BENCH_LOCAL.json — a harness-
    // contract gap, VERDICT r15 item 2). 236 floats ≈ 7 KB; the
    // "headline_queries" subset stays too so older tooling keeps working.
    // Per-family subtotals (family = name prefix before the digits:
    // q/r/t/d/s/e/m/p): the unit scripts/check_bench.py budgets against —
    // family sums are stable where individual sub-second queries are
    // GC-noise, so regressions gate at the level that actually moves.
    val families = results.groupBy(_._1.takeWhile(!_.isDigit))
      .map { case (f, rs) => f -> rs.map(_._2).sum }.toSeq.sortBy(_._1)
    // Machine-load stamp: the round-6 artifact was committed from a run
    // ~35% hot and its per-query numbers read as regressions that were
    // noise. The 1-minute load average (total across the run window,
    // sampled at the end) lets a reader judge whether a run is
    // comparable BEFORE diffing per-query values.
    val loadAvg = try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    } catch { case _: Throwable => -1.0 }
    // "cpus" = physical cores (what the load average is judged against in
    // check_bench), independent of the local[N] thread count
    val cores = Runtime.getRuntime.availableProcessors
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"sigstore_build":${fmt(storeSec)},"layout_build":${fmt(layoutSec)},"families":${jsonMap(families)},"queries":${jsonMap(results)},"headline_queries":${jsonMap(headline)},"errors":$errorsJson,"all_queries_in":"BENCH_LOCAL.json","load_avg":${fmt(loadAvg)},"load_start":${fmt(loadStart)},"cpus":$cores,"sf":"$sfDir"}"""
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sigstore_build":${fmt(storeSec)},"layout_build":${fmt(layoutSec)},"families":${jsonMap(families)},"queries":${jsonMap(results)},"shuffle_mb":${jsonMap(shuffleMb.toSeq.sortBy(_._1))},"spill_mb":${jsonMap(spillMb.toSeq.sortBy(_._1))},"peakmem_mb":${jsonMap(peakmemMb.toSeq.sortBy(_._1))},"errors":$errorsJson,"load_avg":${fmt(loadAvg)},"load_start":${fmt(loadStart)},"cpus":$cores,"sf":"$sfDir"}"""
    println(line)
    // scoped debug runs (name-prefix args) must not clobber the committed
    // full-surface artifact — they land in BENCH_SCOPED.json instead
    val artifact = if (args.isEmpty) "BENCH_LOCAL.json" else "BENCH_SCOPED.json"
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), full)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
