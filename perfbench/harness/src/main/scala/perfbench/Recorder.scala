package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{Dag, Spec}
import org.apache.spark.SparkContext

/** One timed call into a layer: a worker execution (one attempt of one DAG
  * task) or one query phase. */
final case class Span(kind: String, name: String, job: String, task: Long,
    startNs: Long, endNs: Long, ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and per-layer numbers of one workload iteration. `index` 0 is a
  * warm-up iteration; timed iterations count from 1. */
final class Iteration(val index: Int) {
  val spans = new ConcurrentLinkedQueue[Span]()
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var wallS = 0.0
  var cpuS = 0.0
  /** Task latencies: one DAG job run or one query's construct + execute. */
  val tasks = mutable.ArrayBuffer.empty[(Double, Boolean)]
  def add(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v
}

/** Process-wide recording state shared by the worker wrapper, the
  * workloads and the tracer. */
object Recorder {
  /** Hidden job parameter naming the pipeline job a worker runs for; the
    * workers read their parameters by key and ignore it. */
  val JobParam = "perfbench_job_id"
  val IterProp = "perfbench.iter"
  val SpanProp = "perfbench.span"

  @volatile var current: Iteration = new Iteration(0)
  @volatile var tracing = false
  @volatile var sc: SparkContext = _
  private val taskIds = new java.util.concurrent.atomic.AtomicLong()

  /** Spark local properties that let the tracer roll each Spark job up to
    * its iteration and the call that ran it (traced runs only). */
  def tag(span: String): Unit = if (tracing) {
    sc.setLocalProperty(IterProp, current.index.toString)
    sc.setLocalProperty(SpanProp, span)
  }
  def untag(): Unit = if (tracing) {
    sc.setLocalProperty(IterProp, null)
    sc.setLocalProperty(SpanProp, null)
  }

  /** Times `body` as one span of the current iteration. */
  def timed[T](kind: String, name: String, job: String = "", task: Long = 0L)(body: => T): T = {
    val it = current
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally it.spans.add(Span(kind, name, job, task, t0, System.nanoTime(), ok))
  }

  /** A worker that times each attempt of the worker it wraps. */
  private final class TimedWorker(cls: String, params: Map[String, Spec.WorkerValue],
      inner: Dag.Worker) extends Dag.Worker {
    private val task = taskIds.incrementAndGet()
    private val job = params.get(JobParam).collect { case Spec.WorkerValue.S(v) => v }.getOrElse("")
    override def maxAttempts: Int = inner.maxAttempts
    def execute(ctx: Dag.WorkerContext): Unit = {
      tag(s"worker:$cls")
      try timed("worker", cls, job, task)(inner.execute(ctx))
      finally untag()
    }
  }

  /** A registry with every worker of `base`, each wrapped in a timer. */
  def timedRegistry(base: Dag.Registry): Dag.Registry = {
    val r = new Dag.Registry
    base.names.foreach { n =>
      val build = base.lookup(n).get
      r.register(n)(p => new TimedWorker(n, p, build(p)))
    }
    r
  }

  /** The pipeline spec with each job's id passed to its worker. */
  def withJobIds(spec: Spec.PipelineSpec): Spec.PipelineSpec =
    spec.copy(jobs = spec.jobs.map(j =>
      j.copy(params = j.params :+ Spec.ParamSpec(JobParam, Spec.ParamType.PString, j.id))))

  /** Runs one pipeline through the Dag runtime and records its Dag-layer
    * numbers into the current iteration. Returns the final status. */
  def runPipeline(spec: Spec.PipelineSpec, registry: Dag.Registry,
      exec: java.util.concurrent.ScheduledExecutorService): Dag.PipelineStatus = {
    val it = current
    val run = new Dag.PipelineRun(withJobIds(spec), registry, exec)
    val t0 = System.nanoTime()
    val started = run.start()
    val status = if (started) run.awaitCompletion(170000L) else run.status
    val t1 = System.nanoTime()
    if (status != Dag.PipelineStatus.Succeeded)
      System.err.println(s"[perfbench] pipeline '${spec.name}' ended $status: ${run.failureMessages.mkString("; ")}")
    val ids = spec.jobs.map(_.id).toSet
    val spans = it.spans.asScala.filter(s => s.kind == "worker" && ids.contains(s.job)).toSeq
    dagLayer(it, spec, spans, t0, t1)
    spans.groupBy(_.task).values.foreach { attempts =>
      val ok = attempts.exists(_.ok)
      it.tasks += (((attempts.map(_.endNs).max - attempts.map(_.startNs).min) / 1e9, ok))
    }
    status
  }

  /** core (Dag) layer: busy time, critical path, dispatch waits. */
  private def dagLayer(it: Iteration, spec: Spec.PipelineSpec, spans: Seq[Span],
      t0: Long, t1: Long): Unit = {
    val byJob = spans.groupBy(_.job)
    val first = byJob.map { case (j, s) => j -> s.map(_.startNs).min }
    val last = byJob.map { case (j, s) => j -> s.map(_.endNs).max }
    val upstream = spec.jobs.map(j => j.id -> j.startConditions.map(_.precedingJobId)).toMap
    def critical(j: String): Double = {
      val own = if (first.contains(j)) (last(j) - first(j)) / 1e9 else 0.0
      own + upstream.getOrElse(j, Nil).map(critical).maxOption.getOrElse(0.0)
    }
    val wall = (t1 - t0) / 1e9
    val busy = spans.map(_.seconds).sum
    val critPath = spec.jobs.map(j => critical(j.id)).maxOption.getOrElse(0.0)
    val wait = spec.jobs.flatMap { j =>
      first.get(j.id).map { s =>
        val ready = upstream(j.id).flatMap(last.get).maxOption.getOrElse(t0)
        math.max(0L, s - ready) / 1e9
      }
    }.sum
    it.add("dag.tasks", spans.map(_.task).distinct.size.toDouble)
    it.add("dag.attempts", spans.size.toDouble)
    it.add("dag.busy_s", busy)
    it.add("dag.critical_path_s", critPath)
    it.add("dag.dispatch_wait_s", wait)
    it.add("dag.overhead_s", wall - critPath)
    it.add("dag.wall_s", wall)
  }
}
