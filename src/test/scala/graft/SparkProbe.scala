package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark ran while a block ran: every job's description, how many
  * file scans of one catalog table the executed plans held (a plan
  * executed twice counts twice — a re-read corpus is a second scan), and
  * every SQL execution's physical plan description as planned and as
  * each adaptive re-plan left it (nested executions, such as the write
  * under a `saveAsTable`, included).
  */
object SparkProbe {

  final case class Seen(jobDescriptions: Seq[String], tableScans: Int,
                        plans: Seq[String])

  private val Marker = "graft-probe-marker"

  def scansOf(p: SparkPlan, table: String): Int = {
    val here = p match {
      case s: FileSourceScanExec if s.tableIdentifier.exists(_.table == table) => 1
      case _ => 0
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here + kids.map(scansOf(_, table)).sum
  }

  def during(spark: SparkSession, table: String)(body: => Unit): Seen = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val qeMarker = new java.util.concurrent.CountDownLatch(1)
    val jobMarker = new java.util.concurrent.CountDownLatch(1)
    val jl = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val d = Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (d == Marker) jobMarker.countDown() else jobs.add(d)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == Marker)) qeMarker.countDown()
        else scans.addAndGet(scansOf(qe.executedPlan, table))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try {
      body
      // listener delivery is asynchronous and ordered: once the marker
      // query's events arrive, every event of `body` has been seen
      spark.sparkContext.setJobDescription(Marker)
      try spark.range(1).toDF(Marker).collect()
      finally spark.sparkContext.setJobDescription(null)
      assert(jobMarker.await(60, java.util.concurrent.TimeUnit.SECONDS) &&
        qeMarker.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener events did not arrive")
    } finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
    }
    Seen(jobs.toArray(Array.empty[String]).toSeq, scans.get,
      plans.toArray(Array.empty[String]).toSeq)
  }
}
