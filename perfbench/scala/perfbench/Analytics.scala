package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.SeriesFunctions

/** A fixed set of operator calls, repeated as whole passes: the four
  * series folds keyed by `conv_id` over a corpus with one long series,
  * and four declared graph and set-similarity queries.
  */
object Analytics {

  final case class Data(seriesDir: String, tablesDir: String, points: Long,
      hotPoints: Long, events: Long, docs: Long)

  final case class Size(nConvs: Int, avgTurns: Int, hotTurns: Int, sf: Double)

  def prepare(spark: SparkSession, size: Size, seed: Long, dir: String): Data = {
    val seriesDir = s"$dir/series"
    Inputs.turns(spark, size.nConvs, size.avgTurns, size.hotTurns, seed)
      .select(col("conv_id"), col("turn_idx"), col("ts"),
        length(col("text")).cast("double").as("value"))
      .write.mode("overwrite").parquet(seriesDir)
    val (events, docs) = Inputs.writeTables(spark, s"$dir/tables", size.sf, seed)
    val counts = spark.read.parquet(seriesDir).groupBy("conv_id").count()
      .agg(sum("count"), max("count")).head()
    Data(seriesDir, s"$dir/tables", counts.getLong(0), counts.getLong(1), events, docs)
  }

  // fold parameters; the replays in Checks use the same ones
  val Cusum = (50000L, 10000L, 200000L) // target, slack, threshold (millis)

  /** Operator calls in pass order: (name, layer, function making the plan). */
  def calls(in: Data): Seq[(String, String, SparkSession => DataFrame)] = {
    def series(s: SparkSession) = s.read.parquet(in.seriesDir)
    val keys = Seq("conv_id")
    val order = Seq("turn_idx")
    Seq(
      ("ewma", "functions", (s: SparkSession) =>
        SeriesFunctions.ewmaSmooth(series(s), keys, "ts", "value", 2, 10, order)),
      ("holt", "functions", (s: SparkSession) =>
        SeriesFunctions.holtSmooth(series(s), keys, "ts", "value", 2, 10, 3, 10, order)),
      ("holtwinters", "functions", (s: SparkSession) =>
        SeriesFunctions.holtWintersSmooth(series(s), keys, "ts", "value",
          2, 10, 3, 10, 4, 10, 4, order)),
      ("cusum", "functions", (s: SparkSession) =>
        SeriesFunctions.cusumDrift(series(s), keys, "ts", "value",
          Cusum._1, Cusum._2, Cusum._3, order))) ++
      Queries.map(q => (q, "operators", (s: SparkSession) => SparkEntry.queries(q)(s, in.tablesDir)))
  }

  val Queries: Seq[String] = Seq("q_setsim_join", "q_neardup_components",
    "q_tree_depth", "q_tree_depth_doubling")

  final case class Passes(callS: Map[String, Seq[Double]], passS: Seq[Double],
      attempted: Int, failed: Int, errors: Seq[String])

  /** Run whole passes until `deadlineNs` and at least `minPasses`; every
    * call writes its result under `outDir/<name>`.
    */
  def passes(spark: SparkSession, in: Data, outDir: String, trace: Trace,
      deadlineNs: Long, minPasses: Int): Passes = {
    val cs = calls(in)
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var n = 0
    while (n < minPasses || System.nanoTime() < deadlineNs) {
      var pass = 0.0
      cs.foreach { case (name, layer, build) =>
        attempted += 1
        val t0 = System.nanoTime()
        try {
          trace.span(layer, name, s"pass-$n") {
            build(spark).write.mode("overwrite").parquet(s"$outDir/$name")
          }
          val t = (System.nanoTime() - t0) / 1e9
          times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += t
          pass += t
        } catch {
          case scala.util.control.NonFatal(e) =>
            errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
        release(spark)
      }
      passTimes += pass
      n += 1
    }
    Passes(times.map { case (k, v) => k -> v.toList }.toMap, passTimes.toList,
      attempted, errors.size, errors.toList)
  }

  /** Iterative operators checkpoint per round; free what a call left. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** Replays each series recurrence in this process against the written
    * fold outputs. The declared queries are checked against their
    * oracle SQL outside the JVM.
    */
  def checkSeries(spark: SparkSession, in: Data, outDir: String): Seq[(String, Option[String])] = {
    val pts = spark.read.parquet(in.seriesDir)
      .select(col("conv_id"), col("turn_idx"), floor(col("value") * 1000.0).cast("long"))
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    def expect(f: Seq[Long] => Seq[Seq[Any]]): Seq[Row] = pts.toSeq.flatMap { case (k, vs) =>
      f(vs).zipWithIndex.map { case (cols, i) => Row.fromSeq(Seq(k, i) ++ cols) } }
    def got(name: String, cols: String*): Seq[Row] =
      spark.read.parquet(s"$outDir/$name").select(("conv_id" +: "turn_idx" +: cols).map(col): _*)
        .collect().toSeq
    val (target, slack, threshold) = Cusum
    Seq(
      "ewma replay" -> Checks.sameRows(got("ewma", "v_milli", "ewma_milli"),
        expect(vs => vs.zip(Checks.ewma(vs, 2, 10)).map { case (v, e) => Seq(v, e) })),
      "holt replay" -> Checks.sameRows(
        got("holt", "v_milli", "level_milli", "trend_milli", "forecast_milli"),
        expect(vs => vs.zip(Checks.holt(vs, 2, 10, 3, 10)).map { case (v, (l, b)) =>
          Seq(v, l, b, l + b) })),
      "holtwinters replay" -> Checks.sameRows(
        got("holtwinters", "v_milli", "level_milli", "trend_milli", "seasonal_milli",
          "forecast_milli"),
        expect(vs => vs.zip(Checks.holtWinters(vs, 2, 10, 3, 10, 4, 10, 4)).map {
          case (v, (l, b, s, f)) => Seq(v, l, b, s, f) })),
      "cusum replay" -> Checks.sameRows(
        got("cusum", "v_milli", "cusum_milli", "drifting"),
        expect(vs => vs.zip(Checks.cusum(vs, target + slack)).map { case (v, c) =>
          Seq(v, c, c >= threshold) })))
  }
}
