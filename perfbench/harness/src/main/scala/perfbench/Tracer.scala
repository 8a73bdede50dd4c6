package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * The `spark` layer of a traced run, from public listener APIs only: a
 * SparkListener for jobs, stages and task metrics, and a
 * QueryExecutionListener for the Exchange count of each executed plan.
 * Every Spark job is rolled up to the iteration and the call that ran it
 * through the local properties [[Recorder.tag]] sets on the calling thread.
 */
final class Tracer extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val perIter = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val stageIter = mutable.Map.empty[Int, Int]
  private var pendingExchanges = 0
  private val drainJobs = mutable.Map.empty[Int, CountDownLatch]
  private val drainPlans = mutable.Map.empty[String, CountDownLatch]

  private def bump(it: Int, k: String, v: Double): Unit = {
    val c = counters(it)
    c(k) = c.getOrElse(k, 0.0) + v
  }
  private def counters(it: Int): mutable.Map[String, Double] =
    perIter.getOrElseUpdate(it, mutable.Map.empty)

  /** Module of the code that submitted a job: the package under `graft.`
    * of the first frame in the call-site file, `mllib_io` for MLlib
    * model persistence (ReadWrite.scala), `other` for anything else. */
  private def module(stage: StageInfo): String = {
    val file = """([A-Za-z0-9_$]+\.scala):\d+""".r.findFirstMatchIn(stage.name).map(_.group(1))
    file match {
      case Some("ReadWrite.scala") => "mllib_io"
      case Some(f) =>
        stage.details.split("\n").find(_.contains(s"($f:")).flatMap { frame =>
          """^\s*graft\.([a-z]+)\.""".r.findFirstMatchIn(frame).map(_.group(1))
        } match {
          case Some(m @ ("operators" | "queries" | "workers")) => m
          case _ => "other"
        }
      case None => "other"
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop("perfbench.drain").foreach(_ => drainJobs.getOrElseUpdate(e.jobId, new CountDownLatch(1)))
    val it = prop(Recorder.IterProp).map(_.toInt).getOrElse(-1)
    e.stageInfos.foreach(s => stageIter(s.stageId) = it)
    bump(it, "spark.jobs", 1)
    val span = prop(Recorder.SpanProp).getOrElse("")
    if (span.startsWith("construct:")) {
      bump(it, "spark.construct_jobs", 1)
      bump(it, s"queries.${span.stripPrefix("construct:")}.construct_jobs", 1)
    }
    val cat = if (e.stageInfos.isEmpty) "other" else module(e.stageInfos.maxBy(_.stageId))
    bump(it, s"spark.jobs.$cat", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    drainJobs.get(e.jobId).foreach(_.countDown())
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val it = stageIter.getOrElse(e.stageInfo.stageId, -1)
    bump(it, "spark.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val it = stageIter.getOrElse(e.stageId, -1)
    bump(it, "spark.tasks", 1)
    if (e.taskInfo != null && e.taskInfo.failed) bump(it, "spark.tasks_failed", 1)
    val m = e.taskMetrics
    if (m != null) {
      val mb = 1024.0 * 1024.0
      bump(it, "spark.executor_cpu_s", m.executorCpuTime / 1e9)
      bump(it, "spark.executor_run_s", m.executorRunTime / 1e3)
      bump(it, "spark.gc_s", m.jvmGCTime / 1e3)
      bump(it, "spark.shuffle_read_mb",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / mb)
      bump(it, "spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
      bump(it, "spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
      bump(it, "spark.input_mb", m.inputMetrics.bytesRead / mb)
      bump(it, "spark.output_mb", m.outputMetrics.bytesWritten / mb)
      val peak = m.peakExecutionMemory / mb
      val c = counters(it)
      c("spark.peak_exec_mem_mb") = math.max(c.getOrElse("spark.peak_exec_mem_mb", 0.0), peak)
    }
  }

  private def exchanges(qe: QueryExecution): Int =
    try collectWithSubqueries(qe.executedPlan) { case x: Exchange => x }.size
    catch { case _: Throwable => 0 }

  private def onQuery(qe: QueryExecution): Unit = synchronized {
    pendingExchanges += exchanges(qe)
    val names = try qe.analyzed.output.map(_.name) catch { case _: Throwable => Nil }
    names.foreach(n => drainPlans.get(n).foreach(_.countDown()))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQuery(qe)

  /** Ends iteration `it`: waits until both listener paths have delivered
    * every event posted before this call (a marker query, then its job end
    * and its query-execution callback), then charges the Exchange count of
    * the plans executed since the previous call to `it`. Query-execution
    * callbacks carry no job properties, so iterations are separated in
    * time: the loop is closed, one iteration at a time. */
  def endIteration(spark: SparkSession, it: Int): Unit = {
    val marker = s"perfbench_drain_${it + 1}"
    val planLatch = synchronized(drainPlans.getOrElseUpdate(marker, new CountDownLatch(1)))
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.drain", marker)
    try spark.range(1).selectExpr(s"id AS $marker").collect()
    finally sc.setLocalProperty("perfbench.drain", null)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    def left = math.max(1L, deadline - System.nanoTime())
    planLatch.await(left, TimeUnit.NANOSECONDS)
    val jobLatches = synchronized(drainJobs.values.toSeq)
    jobLatches.foreach(_.await(left, TimeUnit.NANOSECONDS))
    synchronized {
      bump(it, "spark.exchanges", pendingExchanges)
      pendingExchanges = 0
    }
  }

  /** Per-layer numbers of iteration `it`, after [[endIteration]]. */
  def iteration(it: Int): Map[String, Double] = synchronized(counters(it).toMap)
}
