package graft.functions

import java.sql.Timestamp

import graft.SparkSuite

class HoltSpec extends SparkSuite {
  import spark.implicits._

  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

  test("holt chain matches the hand-computed recurrence") {
    // alpha = 2/10, beta = 3/10 over v = 100, 110, 120:
    //  t0: l = 100000, b = 0
    //  t1: l = floor((2*110000 + 8*100000)/10) = 102000
    //      b = floor((3*2000 + 7*0)/10) = 600
    //  t2: l = floor((2*120000 + 8*102600)/10) = 106080
    //      b = floor((3*4080 + 7*600)/10) = 1644
    val df = Seq(100.0, 110.0, 120.0).zipWithIndex
      .map { case (v, i) => ("m", ts(i), i.toLong, v) }
      .toDF("k", "t", "id", "v")
    val got = SeriesFunctions.holtSmooth(df, Seq("k"), "t", "v",
        aNum = 2, aDen = 10, bNum = 3, bDen = 10, orderCols = Seq("id"))
      .orderBy("id")
      .select("level_milli", "trend_milli", "forecast_milli")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((100000L, 0L, 100000L), (102000L, 600L, 102600L),
      (106080L, 1644L, 107724L)))
  }

  test("negative trends floor correctly (toward -inf, not zero)") {
    val df = Seq(100.0, 90.0).zipWithIndex
      .map { case (v, i) => ("m", ts(i), i.toLong, v) }
      .toDF("k", "t", "id", "v")
    val got = SeriesFunctions.holtSmooth(df, Seq("k"), "t", "v",
        2, 10, 3, 10, Seq("id"))
      .orderBy("id").select("level_milli", "trend_milli")
      .as[(Long, Long)].collect().toSeq
    // l1 = floor((2*90000 + 8*100000)/10) = 98000; b1 = floor(-6000/10) = -600
    assert(got === Seq((100000L, 0L), (98000L, -600L)))
  }

  test("series are independent and fold order is pinned") {
    val df = Seq(("a", ts(1), 1L, 110.0), ("a", ts(0), 0L, 100.0),
      ("b", ts(0), 2L, 50.0)).toDF("k", "t", "id", "v")
    val got = SeriesFunctions.holtSmooth(df, Seq("k"), "t", "v",
        2, 10, 3, 10, Seq("id"))
      .select("k", "id", "level_milli").as[(String, Long, Long)]
      .collect().toSet
    assert(got === Set(("a", 0L, 100000L), ("a", 1L, 102000L),
      ("b", 2L, 50000L)))
  }

  test("parameter rails") {
    val df = Seq(("a", ts(0), 0L, 1.0)).toDF("k", "t", "id", "v")
    assertThrows[IllegalArgumentException] {
      SeriesFunctions.holtSmooth(df, Seq("k"), "t", "v", 0, 10, 3, 10, Seq("id"))
    }
    assertThrows[IllegalArgumentException] {
      SeriesFunctions.holtSmooth(df, Seq("k"), "t", "v", 2, 10, 11, 10, Seq("id"))
    }
    assertThrows[IllegalArgumentException] {
      SeriesFunctions.holtSmooth(df, Seq("k"), "t", "v", 2, 1001, 3, 10, Seq("id"))
    }
  }

  test("holt-winters chain matches the driver-local reference on a seasonal series") {
    // strong period-3 sawtooth plus drift: exercises the seasonal
    // lookback both before (t <= m → 0) and after the first period
    val vals = Seq(100.0, 150.0, 80.0, 110.0, 160.0, 90.0, 120.0, 170.0,
      100.0, 130.0)
    val df = vals.zipWithIndex
      .map { case (v, i) => ("m", ts(i), i.toLong, v) }
      .toDF("k", "t", "id", "v")
    val got = SeriesFunctions.holtWintersSmooth(df, Seq("k"), "t", "v",
        aNum = 2, aDen = 10, bNum = 3, bDen = 10, gNum = 4, gDen = 10,
        m = 3, orderCols = Seq("id"))
      .orderBy("id")
      .select("level_milli", "trend_milli", "seasonal_milli", "forecast_milli")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val expected = FoldReplays.holtWinters(vals.map(v => (v * 1000).toLong),
      2, 10, 3, 10, 4, 10, m = 3)
    assert(got === expected)
  }

  test("holt-winters with period beyond the series length reduces to holt") {
    val vals = Seq(100.0, 110.0, 120.0, 95.0)
    val df = vals.zipWithIndex
      .map { case (v, i) => ("m", ts(i), i.toLong, v) }
      .toDF("k", "t", "id", "v")
    val hw = SeriesFunctions.holtWintersSmooth(df, Seq("k"), "t", "v",
        2, 10, 3, 10, 4, 10, m = 10, orderCols = Seq("id"))
      .orderBy("id")
      .select("level_milli", "trend_milli", "forecast_milli")
      .as[(Long, Long, Long)].collect().toSeq
    val holt = SeriesFunctions.holtSmooth(df, Seq("k"), "t", "v",
        2, 10, 3, 10, Seq("id"))
      .orderBy("id")
      .select("level_milli", "trend_milli", "forecast_milli")
      .as[(Long, Long, Long)].collect().toSeq
    assert(hw === holt)
  }

  test("holt-winters parameter rails") {
    val df = Seq(("a", ts(0), 0L, 1.0)).toDF("k", "t", "id", "v")
    assertThrows[IllegalArgumentException] {
      SeriesFunctions.holtWintersSmooth(df, Seq("k"), "t", "v",
        2, 10, 3, 10, 4, 10, m = 1, orderCols = Seq("id"))
    }
    assertThrows[IllegalArgumentException] {
      SeriesFunctions.holtWintersSmooth(df, Seq("k"), "t", "v",
        2, 10, 3, 10, 0, 10, m = 4, orderCols = Seq("id"))
    }
  }
}
