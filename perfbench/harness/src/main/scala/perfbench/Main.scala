package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import graft.core.Dag
import graft.workers.Workers
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/**
 * The benchmark harness: one workload in one JVM on `local[threads]`.
 *
 * Set-up (timed as a whole): session start, three repetitions of input
 * staging and the events layout (median taken), the workload's warm-up
 * iterations. Then closed-loop iterations for `--seconds` (at least the
 * workload's fewest; another starts only if the last one's time still
 * fits), then output checks.
 * Writes every measurement to `--out` as JSON.
 *
 * Usage: Main --workload NAME --input DIR --work DIR --seconds N --seed N
 *             --trace 0|1 --threads N --out FILE
 */
object Main {
  private val MB = 1024.0 * 1024.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Peak heap use: the heap occupancy just before each collection, and
    * the occupancy now, whichever is higher. */
  private final class HeapPeak {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile var armed = false
    @volatile var peak = 0L
    private val listener: NotificationListener = (n, _) =>
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val before = info.getGcInfo.getMemoryUsageBeforeGc.asScala
          .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, before) }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
    def used: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    def arm(): Unit = synchronized { peak = used; armed = true }
    def disarm(): Long = synchronized { armed = false; math.max(peak, used) }
  }

  private def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val input = new File(opt("input")).getAbsolutePath
    val work = new File(opt("work")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val threads = opt("threads").toInt

    val setupT0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - setupT0) / 1e9

    Recorder.sc = spark.sparkContext
    Recorder.tracing = trace
    val tracer = new Tracer
    if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }

    val exec = Dag.newExecutor(math.min(8, threads))
    val workload: Workload = workloadName match {
      case "ml_pipeline" =>
        new MlPipeline(spark, input, work, Recorder.timedRegistry(Workers.registry(spark)), exec)
      case "operator_queries" => new OperatorQueries(spark, input, work, opt("seed").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: staging and layout three times into fresh directories
    val reps = (0 until 3).map(workload.stage)
    val stageS = median(reps.map { case (s, l) => s + l })
    Recorder.current = new Iteration(0)
    val (_, warmS) = Workload.seconds((1 to workload.warmUps).foreach(_ => workload.warmUp()))
    val setupS = sessionS + stageS + warmS
    if (trace) tracer.endIteration(spark, 0)

    // timed phase: closed loop, one iteration at a time
    System.gc()
    val heap = new HeapPeak
    val iterations = mutable.ArrayBuffer.empty[Iteration]
    heap.arm()
    val timedT0 = System.nanoTime()
    // the fewest iterations, then another only while it is expected to
    // end in time
    while (iterations.size < workload.minIterations ||
        (System.nanoTime() - timedT0) / 1e9 + iterations.last.wallS <= seconds) {
      val it = new Iteration(iterations.size + 1)
      Recorder.current = it
      val c0 = processCpuS
      val t0 = System.nanoTime()
      workload.iteration()
      it.wallS = (System.nanoTime() - t0) / 1e9
      it.cpuS = processCpuS - c0
      iterations += it
      if (trace) tracer.endIteration(spark, it.index)
      val sc = spark.sparkContext
      it.add("cache.rdds_after", sc.getPersistentRDDs.size.toDouble)
      it.add("cache.storage_mb_after",
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / MB)
    }
    val heapPeak = heap.disarm()
    // Spark's ContextCleaner drops broadcast and shuffle state on its own
    // thread, after a collection has found the owner unreachable: collect,
    // let it run, and collect again before reading the live heap.
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val heapLive = heap.used

    Recorder.current = new Iteration(-1)
    val checks =
      try workload.checks()
      catch { case e: Throwable => Seq(Check("checks_ran", ok = false, e.toString)) }

    // end-to-end numbers
    val tasks = iterations.flatMap(_.tasks)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "iter_s" -> median(iterations.map(_.wallS).toSeq),
      "task_s_p50" -> median(tasks.map(_._1).toSeq),
      "cpu_s" -> median(iterations.map(_.cpuS).toSeq),
      "heap_peak_mb" -> heapPeak / MB,
      "heap_live_mb" -> heapLive / MB)

    // per-layer numbers: the median over timed iterations of each
    // iteration's value
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      val rows = iterations.map { it =>
        val m = mutable.Map.empty[String, Double] ++ it.layer ++ tracer.iteration(it.index)
        it.spans.asScala.filter(_.kind == "worker").groupBy(_.name).foreach { case (cls, ss) =>
          m(s"workers.$cls.busy_s") = ss.map(_.seconds).sum
          m(s"workers.$cls.calls") = ss.size.toDouble
          m(s"workers.$cls.failed") = ss.count(!_.ok).toDouble
        }
        val wall = m.getOrElse("dag.wall_s", 0.0)
        m("dag.parallelism") = if (wall > 0) m.getOrElse("dag.busy_s", 0.0) / wall else 0.0
        m
      }
      rows.flatMap(_.keys).distinct.sorted.foreach { k =>
        perLayer(k) = median(rows.map(_.getOrElse(k, 0.0)).toSeq)
      }
      perLayer ++= workload.layerAfterChecks
      perLayer("sources.layout_s") = median(reps.map(_._2))
      perLayer("trace.iter_s") = endToEnd("iter_s")
    }

    val failedTasks = tasks.count(!_._2)
    val result = Map(
      "workload" -> workloadName,
      "threads" -> threads,
      "iterations" -> iterations.size,
      "iteration_s" -> iterations.map(_.wallS),
      "setup" -> Map("session_s" -> sessionS, "staging_layout_s" -> reps.map { case (s, l) => s + l },
        "warmup_s" -> warmS),
      "tasks" -> tasks.size,
      "failed_tasks" -> failedTasks,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))
    Files.write(Paths.get(opt("out")),
      Serialization.write(result)(DefaultFormats).getBytes(StandardCharsets.UTF_8))

    exec.shutdownNow()
    spark.stop()
  }
}
