package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate
import java.util.concurrent.ScheduledExecutorService

import graft.SparkEntry
import graft.core.Dag
import graft.core.Spec.{ParamType, PipelineSpec}
import graft.plans.{BqDialect, MlCompiler, MlModelPipelines}
import graft.sources.WildcardTable
import graft.workers.Sinks
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One output check, made outside the timed region. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload: staged inputs, one closed-loop iteration, and the
  * checks of its outputs. */
trait Workload {
  /** Warm-up iterations, charged to set-up. */
  def warmUps: Int
  /** The fewest timed iterations; more run while they fit in the time. */
  def minIterations: Int
  /** One repetition of input staging and the events layout into fresh
    * directories; the last repetition's copy feeds the iterations.
    * Returns (staging seconds, layout seconds). */
  def stage(rep: Int): (Double, Double)
  def iteration(): Unit
  def warmUp(): Unit = iteration()
  def checks(): Seq[Check]
  /** Per-layer numbers known only after [[checks]]. */
  def layerAfterChecks: Map[String, Double] = Map.empty
}

object Workload {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def copyTree(from: File, to: File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
        .foreach(f => copyTree(f, new File(to, f.getName)))
    } else {
      to.getParentFile.mkdirs()
      Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Times the BQ-dialect rewrite of every SQL parameter of `spec`. */
  def bqRewriteSeconds(spec: PipelineSpec): Double = {
    val sql = spec.jobs.flatMap(_.params).filter(p => p.ptype == ParamType.Sql)
    seconds(sql.foreach(p => BqDialect.splitStatements(p.value).foreach(BqDialect.rewrite)))._2
  }

  /** The events layout into a fresh temporary root: WildcardTable keys its
    * layout under `java.io.tmpdir`, so each repetition gets its own. */
  def layout(spark: SparkSession, srcDir: String, tmp: File): Double = {
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    seconds(WildcardTable.eventsPath(spark, srcDir))._2
  }
}

/** `ml_pipeline`: an MlModel compiled into its training and predictive
  * pipelines, both run through the Dag runtime on the GA4 events. */
final class MlPipeline(spark: SparkSession, input: String, work: String,
    registry: Dag.Registry, exec: ScheduledExecutorService) extends Workload {
  import MlModelPipelines._
  /** The one timed iteration is the cold one: a warm-up iteration would
    * add about 40 s to a run, which the benchmark's time budget does not
    * hold. */
  val warmUps = 0
  val minIterations = 1
  private val segments = 10
  private var srcDir = ""
  private var statuses = Vector.empty[Dag.PipelineStatus]
  private var lastRequests = 0
  private var outputRows = 0L

  private def cfg = MlModelSpec(
    name = "Bench Model",
    modelType = "LOGISTIC_REG",
    dataset = MlCompiler.MlModel(
      isClassification = true,
      uniqueId = "user_pseudo_id",
      features = Seq(
        MlCompiler.GaFeature("error"),
        MlCompiler.GaFeature("click"),
        MlCompiler.GaFeature("view", key = "k", cmp = MlCompiler.Greater, value = "50",
          description = "view_k50")),
      label = MlCompiler.GaLabel("purchase", "k"),
      suffixLo = "20240105", suffixHi = "20240125",
      classImbalance = 1, conversionRateSegments = segments,
      averageConversionValue = 25.0, hashSplit = false,
      engagementEvent = "view"),
    projectId = "bench-project",
    bqDatasetId = "mlb",
    bqDatasetLocation = "US",
    destination = GoogleAnalyticsMpEvent,
    ga4MeasurementId = "G-BENCH",
    ga4ApiSecret = "bench-secret",
    hyperParameters = Seq("MAX_ITERATIONS" -> "10"),
    clickEvent = "click",
    sourceDir = srcDir,
    workDir = s"$work/ml")

  def stage(rep: Int): (Double, Double) = {
    val dir = new File(s"$work/stage$rep/src")
    val (_, st) = Workload.seconds(
      Workload.copyTree(new File(s"$input/events.parquet"), new File(dir, "events.parquet")))
    srcDir = dir.getAbsolutePath
    (st, Workload.layout(spark, srcDir, new File(s"$work/stage$rep/tmp")))
  }

  def iteration(): Unit = {
    val it = Recorder.current
    Sinks.RecordingTransport.clear()
    val ((training, predictive), compileS) = Workload.seconds {
      val c = cfg
      (MlModelPipelines.training(c, LocalDate.of(2024, 4, 6)), MlModelPipelines.predictive(c))
    }
    it.add("plans.compile_s", compileS)
    if (Recorder.tracing) it.add("plans.bq_rewrite_s", Workload.bqRewriteSeconds(predictive))
    val t = Recorder.runPipeline(training, registry, exec)
    val p =
      if (t == Dag.PipelineStatus.Succeeded) Recorder.runPipeline(predictive, registry, exec)
      else Dag.PipelineStatus.Idle
    statuses ++= Seq(t, p)
    lastRequests = Sinks.RecordingTransport.size
    it.add("workers.sinks.requests", lastRequests)
  }

  def checks(): Seq[Check] = {
    val bad = statuses.count(_ != Dag.PipelineStatus.Succeeded)
    val cv = spark.table("mlb.conversion_values").count()
    outputRows = spark.table("mlb.output").count()
    Seq(
      Check("ml.pipelines_succeeded", bad == 0, s"${statuses.size - bad}/${statuses.size} runs succeeded"),
      Check("ml.conversion_values_rows", cv == segments, s"$cv rows, want $segments"),
      Check("ml.sink_posts_match_output", outputRows > 0 && lastRequests == outputRows,
        s"$lastRequests posts for $outputRows output rows"))
  }

  override def layerAfterChecks: Map[String, Double] = Map("workers.sinks.requests_per_row" ->
    (if (outputRows > 0) lastRequests.toDouble / outputRows else 0.0))
}

/** `operator_queries`: one pass over `SparkEntry.queries` builders in a
  * seeded order; each query is constructed (eager driver-side jobs run
  * here) and then executed into the `noop` sink. Each pass takes its own
  * order from the seed, so that the median over passes is not one
  * order's cache reuse between queries. */
final class OperatorQueries(spark: SparkSession, input: String, work: String,
    seed: Long) extends Workload {
  /** One construction-heavy builder and two execute-heavy ones. */
  private val queries = Seq("dedup_components", "q1_agg", "q_cohort_ltv")
  /** The first warm-up pass writes the results the checks read; the
    * second warms the `noop` write path the timed passes use. */
  val warmUps = 2
  val minIterations = 3
  private val builders = SparkEntry.queries
  private var tables = ""
  private var passes = 0L
  private def names: Seq[String] = {
    passes += 1
    new scala.util.Random(seed * 1000 + passes).shuffle(queries)
  }

  def stage(rep: Int): (Double, Double) = {
    val dir = new File(s"$work/stage$rep/tables")
    val (_, st) = Workload.seconds(Workload.copyTree(new File(input), dir))
    tables = dir.getAbsolutePath
    (st, 0.0)
  }

  private def run(write: (String, org.apache.spark.sql.DataFrame) => Unit): Unit = {
    val it = Recorder.current
    names.foreach { q =>
      val t0 = System.nanoTime()
      var ok = false
      try {
        Recorder.tag(s"construct:$q")
        val df = Recorder.timed("construct", q)(builders(q)(spark, tables))
        Recorder.tag(s"execute:$q")
        Recorder.timed("execute", q)(write(q, df))
        ok = true
      } catch {
        case e: Throwable => System.err.println(s"[perfbench] query $q failed: $e")
      } finally Recorder.untag()
      it.tasks += (((System.nanoTime() - t0) / 1e9, ok))
    }
    it.spans.forEach { s =>
      it.add(s"queries.${s.kind}_s", s.seconds)
      it.add(s"queries.${s.name}.${s.kind}_s", s.seconds)
    }
  }

  def iteration(): Unit = run((_, df) => df.write.format("noop").mode("overwrite").save())

  /** The first warm-up pass writes each result for the checks; any later
    * one runs like a timed pass. */
  override def warmUp(): Unit =
    if (passes > 0) iteration()
    else run((q, df) => df.write.mode("overwrite").parquet(s"$work/results/$q"))

  /** A failed query is a failed task. Writes each query's oracle SQL next
    * to its result, for the hash check in DuckDB. */
  def checks(): Seq[Check] = {
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(s"$work/results"))
    Files.write(Paths.get(s"$work/results/oracle_sql.json"),
      Serialization.write(queries.filter(oracle.contains).map(q => q -> oracle(q)).toMap)(DefaultFormats)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    queries.filterNot(oracle.contains).map(q => Check(s"queries.$q", ok = false, "no oracle SQL"))
  }
}
