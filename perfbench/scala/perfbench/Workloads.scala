package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Input sizes. Warm-ups run the same sizes on another seed. Ingest
  * batches hold 50k turns, as in a 500k-turn, 10-batch stream; the corpus
  * holds three, more than a 10 s run consumes. The hot conversation's
  * turns run on past the others' in `ts`, so only its first ~1k turns
  * fall inside the corpus.
  */
object Sizes {
  val ingest = Ingest.Size(nConvs = 5600, avgTurns = 20, hotTurns = 1500, batchRows = 50000)
  val analytics = Analytics.Size(nConvs = 200, avgTurns = 20, hotTurns = 6000, sf = 0.003)
}

private object Summary {
  def p(xs: Seq[Double], pct: Double, unit: String): Metric =
    Metric(Stats.percentile(xs, pct), unit, xs.size)

  def median(xs: Seq[Double], unit: String): Metric =
    if (xs.isEmpty) Metric(None, unit, 0) else Metric(Stats.median(xs), unit, xs.size)

  def spanMedian(t: SpanTrace, name: String, unit: String = "s"): Metric =
    median(t.named(name).map(_.seconds), unit)

  def corpusStamps(spark: SparkSession, c: Ingest.Corpus): ListMap[String, Any] = {
    import org.apache.spark.sql.functions._
    val r = spark.read.parquet(c.dir).groupBy("conv_id").count()
      .agg(sum("count"), max("count")).head()
    ListMap("turns" -> r.getLong(0), "batches" -> c.batches, "hot_key_points" -> r.getLong(1))
  }
}

final class IngestWorkload(spark: SparkSession, work: String) extends Workload(spark, work) {
  type Prepared = (Ingest.Corpus, Long)
  type Measured = Ingest.Stream

  private val MinBatches = 2

  override def setupRepeats = 3

  def setup(seed: Long, dir: String): Prepared =
    (Ingest.corpus(spark, Sizes.ingest, seed, s"$dir/corpus"), seed)

  /** One batch and its read-back, into a throwaway warehouse. */
  def warmup(p: Prepared, seed: Long, dir: String): Unit =
    Ingest.stream(spark, Ingest.corpus(spark, Sizes.ingest, seed, s"$dir/corpus"),
      s"$dir/warehouse", NoTrace, 0L, 1, seed, replay = false)

  def measure(p: Prepared, trace: Trace, seconds: Double, dir: String): Measured =
    Ingest.stream(spark, p._1, s"$dir/warehouse", trace,
      System.nanoTime() + (seconds * 1e9).toLong, MinBatches, p._2)

  def metrics(p: Prepared, m: Measured): ListMap[String, Metric] = {
    val late = m.freshnessS.drop(m.freshnessS.size - m.freshnessS.size / 4)
    val (bytes, _, _) = Ingest.storedBytes(m.warehouse)
    def readMs(kind: String) = m.reads.filter(_.kind == kind).map(_.ms)
    ListMap(
      "ingest.turns_per_s" -> Metric(m.turns / m.wallS, "1/s", m.batchesDone),
      "ingest.batch_p50_s" -> Summary.p(m.freshnessS, 50, "s"),
      "ingest.batch_median_s" -> Summary.median(m.freshnessS, "s"),
      "ingest.late_batch_p50_s" -> Summary.p(late, 50, "s"),
      "ingest.late_batch_median_s" -> Summary.median(late, "s"),
      "ingest.stored_bytes_per_turn" -> Metric(bytes.toDouble / m.turns, "bytes", 1),
      "ingest.lookup_median_ms" -> Summary.median(readMs("lookup"), "ms"),
      "ingest.routed_agg_median_ms" -> Summary.median(readMs("aggregate"), "ms"))
  }

  def headline(m: ListMap[String, Metric]) =
    ("ingest.turns_per_s", m("ingest.turns_per_s").value, true)

  def layers(p: Prepared, m: Measured, t: SpanTrace): ListMap[String, Metric] = {
    val batches = t.named("batch")
    val ex = t.exec(batches)
    val n = math.max(1, batches.size)
    val (_, data, meta) = Ingest.storedBytes(m.warehouse)
    val lookups = m.reads.filter(_.kind == "lookup")
    val aggs = m.reads.filter(_.kind == "aggregate")
    val nl = math.max(1, lookups.size)
    ListMap(
      "rollup.ingest_s" -> Summary.spanMedian(t, "ingest"),
      "rollup.incremental_s" -> Summary.spanMedian(t, "rollupIncremental"),
      "rollup.publish_s" -> Summary.spanMedian(t, "publishServing"),
      "rollup.jobs_per_batch" -> Metric(ex.jobsByModule.getOrElse("rollup", 0).toDouble / n, "count", n),
      "table.jobs_per_batch" -> Metric(ex.jobsByModule.getOrElse("table", 0).toDouble / n, "count", n),
      "table.metadata_bytes" -> Metric(meta.toDouble, "bytes", 1),
      "table.data_bytes_per_turn" -> Metric(data.toDouble / m.turns, "bytes", 1),
      "table.files_per_lookup" -> Metric(lookups.map(_.files).sum.toDouble / nl, "count", lookups.size),
      "table.jobs_per_lookup" -> Metric(t.exec(t.named("lookup")).jobs.toDouble / nl, "count",
        lookups.size),
      "compress.chunk_bytes_per_point" -> Metric(Ingest.chunkBytesPerPoint(m.store), "bytes", 1),
      "plans.routed_share" -> Metric(aggs.count(_.routed).toDouble / math.max(1, aggs.size),
        "share", aggs.size),
      "plans.planning_ms" -> Summary.median(m.reads.map(_.planningMs), "ms"))
  }

  def check(p: Prepared, m: Measured) = Ingest.check(spark, p._1, m)
  def counts(m: Measured) = (m.attempted, m.failed, m.errors)
  def inputs(p: Prepared) = Summary.corpusStamps(spark, p._1) ++
    ListMap("batch_rows" -> Sizes.ingest.batchRows)
}

final class AnalyticsWorkload(spark: SparkSession, work: String) extends Workload(spark, work) {
  type Prepared = Analytics.Data
  type Measured = (Analytics.Passes, String)

  override def setupRepeats = 3

  def setup(seed: Long, dir: String): Prepared =
    Analytics.prepare(spark, Sizes.analytics, seed, dir)

  /** One pass. */
  def warmup(p: Prepared, seed: Long, dir: String): Unit =
    Analytics.passes(spark, Analytics.prepare(spark, Sizes.analytics, seed, dir),
      s"$dir/out", NoTrace, 0L, 1)

  def measure(p: Prepared, trace: Trace, seconds: Double, dir: String): Measured =
    (Analytics.passes(spark, p, s"$dir/out", trace, System.nanoTime() + (seconds * 1e9).toLong, 1),
      s"$dir/out")

  def metrics(p: Prepared, m: Measured): ListMap[String, Metric] = {
    val ps = m._1
    val folds = Seq("ewma", "holt", "holtwinters", "cusum").flatMap(ps.callS.getOrElse(_, Nil))
    val calls = ps.callS.values.map(_.size).sum
    ListMap(
      "analytics.wall_s" -> Summary.median(ps.passS, "s"),
      "analytics.calls_per_s" -> Metric(calls / ps.passS.sum, "1/s", calls),
      "analytics.fold_points_per_s" -> Metric(p.points * folds.size / folds.sum, "1/s",
        folds.size)) ++
      ListMap(Analytics.calls(p).map(_._1).map(n =>
        s"analytics.${n}_s" -> Summary.median(ps.callS.getOrElse(n, Nil), "s")): _*)
  }

  def headline(m: ListMap[String, Metric]) =
    ("analytics.wall_s", m("analytics.wall_s").value, false)

  def layers(p: Prepared, m: Measured, t: SpanTrace): ListMap[String, Metric] = {
    val comps = t.named("q_neardup_components")
    val fns = Seq("ewma", "holt", "holtwinters", "cusum").flatMap(t.named)
    ListMap(
      "operators.setsim_s" -> Summary.spanMedian(t, "q_setsim_join"),
      "operators.components_s" -> Summary.spanMedian(t, "q_neardup_components"),
      "operators.components_jobs" -> Metric(t.exec(comps).jobs.toDouble / math.max(1, comps.size),
        "count", comps.size),
      "operators.tree_depth_s" -> Summary.spanMedian(t, "q_tree_depth"),
      "operators.tree_depth_doubling_s" -> Summary.spanMedian(t, "q_tree_depth_doubling"),
      "functions.ewma_s" -> Summary.spanMedian(t, "ewma"),
      "functions.holt_s" -> Summary.spanMedian(t, "holt"),
      "functions.holtwinters_s" -> Summary.spanMedian(t, "holtwinters"),
      "functions.cusum_s" -> Summary.spanMedian(t, "cusum"),
      "functions.max_task_s" -> Metric(t.exec(fns).maxTaskS, "s", t.exec(fns).tasks))
  }

  def check(p: Prepared, m: Measured) = Analytics.checkSeries(spark, p, m._2)

  override def oracle(p: Prepared, m: Measured): Seq[ListMap[String, String]] =
    Analytics.Queries.map(q => ListMap("name" -> q, "output" -> s"${m._2}/$q",
      "tables" -> p.tablesDir, "sql" -> graft.SparkEntry.oracleSql(q)))

  def counts(m: Measured) = (m._1.attempted, m._1.failed, m._1.errors)
  def inputs(p: Prepared) = ListMap[String, Any]("turns" -> p.points, "batches" -> 0,
    "hot_key_points" -> p.hotPoints, "events" -> p.events, "documents" -> p.docs)
}
