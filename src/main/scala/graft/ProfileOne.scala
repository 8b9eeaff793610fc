package graft

/** Scratch per-job profiler for optimization work:
  * `runMain graft.ProfileOne <query> [runs]` — runs the query warm, then
  * prints every Spark job's wall time + call site, so a multi-job
  * lifecycle operator shows where its seconds actually go. The
  * pseudo-query `sigstore` profiles a signature store build
  * ([[graft.operators.SignatureStore.materialize]], the session's
  * signature family) into a temporary store directory.
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val runs = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Double, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
            .take(90).replace("\n", " ")
          jobs.put(j.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobs.remove(j.jobId)).foreach { case (t0, site) =>
            done.add((j.jobId, t0, (System.nanoTime() - t0) / 1e9, site))
          }
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val ms = (for {a <- i.submissionTime; b <- i.completionTime}
            yield b - a).getOrElse(-1L)
          if (ms > 300) println(f"[stage] ${i.stageId}%4d ${ms / 1e3}%6.2f s " +
            f"tasks=${i.numTasks} ${i.name.take(90).replace("\n", " ")}")
        }
      })
    val store = java.nio.file.Files.createTempDirectory("graft_profile_store")
    def sigstore(s: org.apache.spark.sql.SparkSession, d: String) = {
      s.conf.set(graft.operators.SignatureStore.ConfKey, store.toString)
      try graft.operators.SignatureStore.materialize(s, d)
      finally s.conf.unset(graft.operators.SignatureStore.ConfKey)
      s.emptyDataFrame
    }
    names.foreach { name =>
    val fn = if (name == "sigstore") sigstore _ else SparkEntry.queries(name)
    // warm
    fn(spark, sfDir).count()
    spark.catalog.clearCache()
    graft.operators.Dedup.releaseSignatures()
    graft.operators.Relational.releaseCaches()
    graft.FsUtil.sweep()
    Thread.sleep(500)
    done.clear()
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val rows = done.asScala.toVector.sortBy(_._2)
      println(f"[profile] $name run$i total ${dt}%.2f s, ${rows.size} jobs, " +
        f"job-sum ${rows.map(_._3).sum}%.2f s")
      var prevEnd = t0
      rows.foreach { case (id, jt0, sec, site) =>
        val gap = (jt0 - prevEnd) / 1e9
        prevEnd = math.max(prevEnd, jt0 + (sec * 1e9).toLong)
        println(f"[profile]   job $id%4d +${(jt0 - t0) / 1e9}%6.2f " +
          f"gap ${gap}%6.3f  run ${sec}%6.3f s  $site")
      }
      done.clear()
      spark.catalog.clearCache()
      graft.operators.Dedup.releaseSignatures()
      graft.operators.Relational.releaseCaches()
      graft.FsUtil.sweep()
      System.gc() // Bench's inter-query discipline — without it a multi-
                  // query profile session reads GC pressure as query time
    }
    }
    FsUtil.deleteRecursively(store)
    spark.stop()
  }
}
