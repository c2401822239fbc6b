package graft.functions

import java.sql.Timestamp

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** The four streamed folds against [[FoldReplays]]: a long series
  * (the shape the old per-series array fold paid quadratically for)
  * beside short ones, and the null rule.
  */
class SeriesFoldSpec extends SparkSuite {
  import spark.implicits._

  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 1000L)

  /** `v_milli` exactly as the folds derive it from a value. */
  private def milli(v: Double): Long = math.floor(v * 1000.0).toLong

  /** (name, fold over columns k/t/v with tiebreak id, output columns,
    * replay of one series' v_milli values into those columns).
    */
  private val folds: Seq[(String, DataFrame => DataFrame, Seq[String],
      Seq[Long] => Seq[Seq[Long]])] = Seq(
    ("ewmaSmooth",
      SeriesFunctions.ewmaSmooth(_, Seq("k"), "t", "v", 2, 10, Seq("id")),
      Seq("ewma_milli"),
      FoldReplays.ewma(_, 2, 10).map(Seq(_))),
    ("holtSmooth",
      SeriesFunctions.holtSmooth(_, Seq("k"), "t", "v", 2, 10, 3, 10, Seq("id")),
      Seq("level_milli", "trend_milli", "forecast_milli"),
      FoldReplays.holt(_, 2, 10, 3, 10).map { case (l, b) => Seq(l, b, l + b) }),
    ("holtWintersSmooth",
      SeriesFunctions.holtWintersSmooth(_, Seq("k"), "t", "v",
        2, 10, 3, 10, 4, 10, 5, Seq("id")),
      Seq("level_milli", "trend_milli", "seasonal_milli", "forecast_milli"),
      FoldReplays.holtWinters(_, 2, 10, 3, 10, 4, 10, 5)
        .map { case (l, b, s, f) => Seq(l, b, s, f) }),
    ("cusumDrift",
      SeriesFunctions.cusumDrift(_, Seq("k"), "t", "v", 50000L, 10000L, 200000L,
        Seq("id")),
      Seq("cusum_milli"),
      FoldReplays.cusum(_, 50000L, 10000L).map(Seq(_))))

  /** (k, id) -> v_milli +: outputs, for the fold's output frame. */
  private def outputs(df: DataFrame, cols: Seq[String]): Map[(String, Long), Seq[Long]] =
    df.select(("k" +: "id" +: "v_milli" +: cols).map(df.col): _*).collect().map { r =>
      (r.getString(0), r.getLong(1)) -> (2 until r.size).map(r.getLong)
    }.toMap

  /** The same map replayed on the driver; `series` holds each key's
    * (id, value) pairs in fold order.
    */
  private def replayed(series: Map[String, Seq[(Long, Double)]],
      replay: Seq[Long] => Seq[Seq[Long]]): Map[(String, Long), Seq[Long]] =
    series.toSeq.flatMap { case (k, pts) =>
      val vs = pts.map(p => milli(p._2))
      pts.map(_._1).lazyZip(vs).lazyZip(replay(vs))
        .map { case (id, v, out) => (k, id) -> (v +: out) }
    }.toMap

  // one 50,000-point key beside short ones; every timestamp of the
  // long key is shared by three rows, so the id tiebreak decides the
  // fold order, and the input rows arrive shuffled
  private lazy val long: (DataFrame, Map[String, Seq[(Long, Double)]]) = {
    val rnd = new scala.util.Random(7)
    val lens = Seq("hot" -> 50000, "a" -> 1, "b" -> 2, "c" -> 9)
    var nextId = 0L
    val series = lens.map { case (k, n) =>
      k -> (0 until n).map { _ =>
        nextId += 1
        (nextId, (rnd.nextInt(13000) - 1000) / 100.0)
      }
    }.toMap
    val rows = series.toSeq.flatMap { case (k, pts) =>
      pts.zipWithIndex.map { case ((id, v), i) => (k, ts(i / 3), id, v) }
    }
    val df = rnd.shuffle(rows).toDF("k", "t", "id", "v").cache()
    (df, series)
  }

  folds.foreach { case (name, fold, cols, replay) =>
    test(s"$name over a 50,000-point series equals the driver replay of its recurrence") {
      val (df, series) = long
      val got = outputs(fold(df), cols)
      assert(got.size === 50012)
      assert(got === replayed(series, replay))
    }

    test(s"$name drops rows with a null ts or value before folding") {
      // the second value is null and one row has no ts: both are
      // skipped, and the chain continues from the last kept point
      val rows = Seq[(String, Option[Timestamp], Long, Option[Double])](
        ("a", Some(ts(0)), 0L, Some(10.0)), ("a", Some(ts(1)), 1L, None),
        ("a", Some(ts(2)), 2L, Some(30.0)), ("a", Some(ts(3)), 3L, Some(80.0)),
        ("a", None, 6L, Some(500.0)),
        ("a", Some(ts(4)), 4L, Some(70.0)), ("a", Some(ts(5)), 5L, Some(90.0)),
        ("b", Some(ts(0)), 7L, Some(40.0)))
      val df = rows.toDF("k", "t", "id", "v")
      val kept = Map(
        "a" -> Seq(0L -> 10.0, 2L -> 30.0, 3L -> 80.0, 4L -> 70.0, 5L -> 90.0),
        "b" -> Seq(7L -> 40.0))
      assert(outputs(fold(df), cols) === replayed(kept, replay))
    }
  }
}
