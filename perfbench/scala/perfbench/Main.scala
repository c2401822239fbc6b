package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload; writes a result file.
  *
  * {{{
  * perfbench.Main --workload ingest|analytics --seed N --seconds S
  *                --trace 0|1 --work DIR --result FILE
  * perfbench.Main --selftest --work DIR
  * }}}
  *
  * The run starts one Spark session at `local[<cores>]`, sets up the
  * workload on `--seed`, warms up on a different seed, measures for
  * `--seconds` with one client thread, then checks the outputs. With
  * `--trace 1` the measurement is repeated with spans and a listener,
  * which give the per-layer metrics, and then once more untraced, which
  * with the first gives the tracing overhead.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = opts.getOrElse("work", sys.error("--work is required"))
    if (args.contains("--selftest")) {
      val spark = session(work)
      try SelfTest.run(spark, work) finally spark.stop()
      return
    }
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val result = opts("result")
    val load1Start = Env.load1()
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val w: Workload = workload match {
        case "ingest" => new IngestWorkload(spark, work)
        case "analytics" => new AnalyticsWorkload(spark, work)
        case other => sys.error(s"unknown workload: $other")
      }
      val out = w.run(seed, seconds, traced)
      val setupS = sessionS + out.warmupS + out.setupS
      val metrics = ListMap("setup_s" -> Metric(setupS, "s", 1)) ++ out.metrics ++ ListMap(
        "failed_ratio" -> Metric(out.failed.toDouble / math.max(1, out.attempted), "share",
          out.attempted),
        "peak_rss_mb" -> Metric(Env.peakRssMb(), "MB", 1),
        "live_heap_end_mb" -> Metric(Env.liveHeapMb(), "MB", 1))
      val doc = ListMap(
        "workload" -> workload,
        "stamps" -> (ListMap[String, Any](
          "nproc" -> Env.cores, "load1_start" -> load1Start, "load1_end" -> Env.load1(),
          "spark_version" -> spark.version, "jdk_version" -> System.getProperty("java.version"),
          "seed" -> seed, "warmup_seed" -> Workload.warmupSeed(seed), "seconds" -> seconds,
          "traced" -> traced) ++ out.inputs),
        "setup" -> ListMap("session_s" -> sessionS, "warmup_s" -> out.warmupS,
          "setups_s" -> out.setupsS),
        "metrics" -> metrics.map { case (k, m) => k -> m.json },
        "layers" -> out.layers.map { case (k, m) => k -> m.json },
        "attribution" -> out.attribution,
        "tracing_overhead" -> out.overhead,
        "checks" -> out.checks.map { case (name, r) =>
          ListMap("name" -> name, "ok" -> r.isEmpty, "detail" -> r.getOrElse("")) },
        "oracle" -> out.oracle,
        "attempted" -> out.attempted, "failed" -> out.failed, "errors" -> out.errors)
      Files.write(Paths.get(result), Json(doc).getBytes("UTF-8"))
      out.spans.foreach(lines =>
        Files.write(Paths.get(result + ".spans.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8")))
    } finally spark.stop()
  }

  def session(work: String): SparkSession = {
    val cores = Env.cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** A measured value with its unit and sample count; `value` is None
  * when too few samples exist to report it.
  */
final case class Metric(value: Option[Double], unit: String, n: Int) {
  def json: ListMap[String, Any] = ListMap("value" -> value, "unit" -> unit, "n" -> n)
}

object Metric {
  def apply(value: Double, unit: String, n: Int): Metric = Metric(Some(value), unit, n)
}

object Env {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def load1(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)

  /** Heap in use right after a full collection, MB: the data the run
    * still holds, apart from the heap the collector grew into.
    */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** What one workload run produced. */
final case class Outcome(
    setupS: Double, warmupS: Double, setupsS: Seq[Double],
    inputs: ListMap[String, Any],
    metrics: ListMap[String, Metric],
    layers: ListMap[String, Metric],
    attribution: ListMap[String, Any],
    overhead: ListMap[String, Any],
    checks: Seq[(String, Option[String])],
    oracle: Seq[ListMap[String, String]],
    attempted: Int, failed: Int, errors: Seq[String],
    spans: Option[Seq[String]])

object Workload {
  /** The warm-up seed: never equal to the measured one. */
  def warmupSeed(seed: Long): Long = seed ^ 0x57a9L

  /** Per-layer metrics that a workload does not exercise are reported
    * as 0 so every traced run carries the full set.
    */
  val LayerUnits: ListMap[String, String] = ListMap(
    "rollup.ingest_s" -> "s", "rollup.incremental_s" -> "s", "rollup.publish_s" -> "s",
    "rollup.jobs_per_batch" -> "count", "table.jobs_per_batch" -> "count",
    "table.metadata_bytes" -> "bytes", "table.data_bytes_per_turn" -> "bytes",
    "table.files_per_lookup" -> "count", "table.jobs_per_lookup" -> "count",
    "compress.chunk_bytes_per_point" -> "bytes",
    "plans.routed_share" -> "share", "plans.planning_ms" -> "ms",
    "operators.setsim_s" -> "s", "operators.components_s" -> "s",
    "operators.components_jobs" -> "count", "operators.tree_depth_s" -> "s",
    "operators.tree_depth_doubling_s" -> "s",
    "functions.ewma_s" -> "s", "functions.holt_s" -> "s", "functions.holtwinters_s" -> "s",
    "functions.cusum_s" -> "s", "functions.max_task_s" -> "s",
    "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.task_busy_s" -> "s",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.max_task_s" -> "s", "exec.median_task_s" -> "s")

  /** Modules that stages are attributed to, in report order. */
  val Modules: Seq[String] = Seq("rollup", "table", "compress", "plans", "operators",
    "functions", "SparkEntry", "datagen", "unattributed")
}

/** Shared run skeleton: set up, warm up, measure untraced, optionally
  * measure traced and then untraced once more, check, and summarise.
  */
abstract class Workload(val spark: SparkSession, val work: String) {
  import Workload._

  /** Prepared state of one seed, ready to measure. */
  type Prepared
  /** What one measurement produced. */
  type Measured

  def setup(seed: Long, dir: String): Prepared
  /** Untimed warm-up on another seed, after set-up and before timing. */
  def warmup(p: Prepared, seed: Long, dir: String): Unit
  def measure(p: Prepared, trace: Trace, seconds: Double, dir: String): Measured
  def metrics(p: Prepared, m: Measured): ListMap[String, Metric]
  /** The end-to-end metric compared between traced and untraced runs,
    * and whether higher is better.
    */
  def headline(m: ListMap[String, Metric]): (String, Option[Double], Boolean)
  def layers(p: Prepared, m: Measured, t: SpanTrace): ListMap[String, Metric]
  def check(p: Prepared, m: Measured): Seq[(String, Option[String])]
  def oracle(p: Prepared, m: Measured): Seq[ListMap[String, String]] = Nil
  def counts(m: Measured): (Int, Int, Seq[String])
  def inputs(p: Prepared): ListMap[String, Any]

  /** Set-ups of the measured seed made in one run; the median is reported. */
  def setupRepeats: Int = 1

  private var dirs = 0
  protected def freshDir(tag: String): String = {
    dirs += 1
    val d = s"$work/data/$tag-$dirs"
    Files.createDirectories(Paths.get(d))
    d
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def run(seed: Long, seconds: Double, traced: Boolean): Outcome = {
    val setups = (1 to setupRepeats).map(_ => timed(setup(seed, freshDir("setup"))))
    val p = setups.last._1
    val setupsS = setups.map(_._2)
    val (_, warmS) = timed(warmup(p, warmupSeed(seed), freshDir("warmup")))
    val m = measure(p, NoTrace, seconds, freshDir("measure"))
    val met = metrics(p, m)
    var tm: Option[Measured] = None
    var layerMetrics = ListMap.empty[String, Metric]
    var attribution = ListMap.empty[String, Any]
    var overhead = ListMap.empty[String, Any]
    var spans: Option[Seq[String]] = None
    if (traced) {
      val t = new SpanTrace(spark.sparkContext)
      val m2 = measure(p, t, seconds, freshDir("traced"))
      tm = Some(m2)
      t.finish()
      // untraced, traced, untraced again: the traced headline is compared
      // with the mean of the two untraced ones, so that warming up over the
      // run does not count as tracing overhead
      val after = headline(metrics(p, measure(p, NoTrace, seconds, freshDir("after"))))._2
      val (name, before, higher) = headline(met)
      val untracedV = for (a <- before; b <- after) yield (a + b) / 2
      val tracedV = headline(metrics(p, m2))._2
      // share by which tracing made the headline worse (negative: better)
      val share = for (a <- untracedV; b <- tracedV) yield if (higher) a / b - 1 else b / a - 1
      overhead = ListMap("metric" -> name, "untraced_before" -> before,
        "untraced_after" -> after, "untraced" -> untracedV, "traced" -> tracedV,
        "difference" -> (for (a <- untracedV; b <- tracedV) yield b - a), "share" -> share)
      val roots = t.all.filter(_.parent == 0)
      val byModule = t.stagesByModule(roots)
      attribution = ListMap(
        "stages_by_module" -> ListMap(byModule.toSeq.sortBy(-_._2): _*),
        "unattributed" -> byModule.getOrElse("unattributed", 0),
        "stages" -> byModule.values.sum)
      val own = layers(p, m2, t)
      val ex = t.exec(roots)
      val calls = math.max(1, roots.size)
      val execMetrics = ListMap(
        "exec.jobs" -> Metric(ex.jobs.toDouble / calls, "count", calls),
        "exec.tasks" -> Metric(ex.tasks.toDouble / calls, "count", calls),
        "exec.task_busy_s" -> Metric(ex.busyS / calls, "s", calls),
        "exec.shuffle_write_bytes" -> Metric(ex.shuffleWriteBytes.toDouble / calls, "bytes", calls),
        "exec.spill_bytes" -> Metric(ex.spillBytes.toDouble / calls, "bytes", calls),
        "exec.max_task_s" -> Metric(ex.maxTaskS, "s", ex.tasks),
        "exec.median_task_s" -> Metric(ex.medianTaskS, "s", ex.tasks))
      layerMetrics = ListMap(LayerUnits.toSeq.map { case (k, unit) =>
        k -> own.getOrElse(k, execMetrics.getOrElse(k, Metric(0.0, unit, 0)))
      }: _*) ++ ListMap(Modules.map(mod =>
        s"exec.stages_$mod" -> Metric(byModule.getOrElse(mod, 0).toDouble, "count",
          byModule.values.sum)): _*)
      spans = Some(t.spanLines())
    }
    // a traced run reports the traced measurement, so that one is checked
    val reported = if (traced) tm.get else m
    val (attempted, failed, errors) = counts(reported)
    Outcome(Stats.median(setupsS), warmS, setupsS, inputs(p), met,
      layerMetrics, attribution, overhead, check(p, reported), oracle(p, reported),
      attempted, failed, errors, spans)
  }
}
