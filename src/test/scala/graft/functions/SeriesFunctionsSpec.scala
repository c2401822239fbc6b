package graft.functions

import java.sql.Timestamp

import graft.SparkSuite
import org.apache.spark.sql.functions.col

class SeriesFunctionsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("counterRate: increase, rate, and the Prometheus reset rule") {
    val df = Seq(
      ("m1", ts("2024-01-01 00:00:00"), 100.0, 1L),
      ("m1", ts("2024-01-01 00:00:10"), 160.0, 2L), // +60 over 10 s
      ("m1", ts("2024-01-01 00:00:30"), 40.0, 3L),  // reset: increase = 40
      ("m1", ts("2024-01-01 00:00:40"), 40.5, 4L),  // +0.5 over 10 s
      ("m2", ts("2024-01-01 00:00:00"), 7.0, 5L)    // lone sample: nulls
    ).toDF("series", "ts", "value", "sample_id")
    val out = SeriesFunctions
      .counterRate(df, "series", "ts", "value", Seq("sample_id"))
      .select("sample_id", "increase_millis", "rate_millis")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, None, None),
      (2L, Some(60000L), Some(6000L)),
      (3L, Some(40000L), Some(2000L)),
      (4L, Some(500L), Some(50L)),
      (5L, None, None)))
  }

  test("counterRate: zero time delta yields null rate but keeps the increase") {
    val df = Seq(
      ("m", ts("2024-01-01 00:00:00"), 1.0, 1L),
      ("m", ts("2024-01-01 00:00:00"), 3.0, 2L)
    ).toDF("series", "ts", "value", "sample_id")
    val out = SeriesFunctions
      .counterRate(df, "series", "ts", "value", Seq("sample_id"))
      .filter($"sample_id" === 2L)
      .select("increase_millis", "rate_millis").collect().head
    assert(out.getLong(0) === 2000L)
    assert(out.isNullAt(1))
  }

  test("rollingDistinctActives: trailing window, gap days, end-of-range cutoff") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), "a"),
      (ts("2024-01-01 11:00:00"), "a"), // same (day, id): dedup'd
      (ts("2024-01-01 12:00:00"), "b"),
      (ts("2024-01-03 09:00:00"), "a") // Jan 2 has no activity of its own
    ).toDF("ts", "conv_id")
    val out = SeriesFunctions.rollingDistinctActives(df, "ts", "conv_id", 3)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    // Jan 1 window = {Jan 1} → {a,b}; Jan 3 window = {Jan 1..3} → {a,b};
    // Jan 2 is not an OBSERVED day → dropped; Jan 4/5 past range → dropped
    assert(out === Map("2024-01-01" -> 2L, "2024-01-03" -> 2L))
  }

  test("downsampleMaxDev: keeps the extreme per bucket, ties pin on earliest ts") {
    val df = Seq(
      // one 1h bucket: values 0, 10, 5 → devs 15, 15, 0 → tie between
      // the 0-sample and the 10-sample; earliest ts must win
      ("u1", ts("2024-01-01 10:00:00"), 0.0, 1L),
      ("u1", ts("2024-01-01 10:10:00"), 10.0, 2L),
      ("u1", ts("2024-01-01 10:20:00"), 5.0, 3L),
      // single-sample bucket passes through
      ("u1", ts("2024-01-01 11:30:00"), 7.25, 4L),
      // other series, same hour: independent pick
      ("u2", ts("2024-01-01 10:05:00"), 1.0, 5L),
      ("u2", ts("2024-01-01 10:06:00"), 9.0, 6L)
    ).toDF("series", "ts", "value", "sample_id")
    val out = SeriesFunctions
      .downsampleMaxDev(df, "series", "ts", "value", "1h", Seq("sample_id"))
      .select("sample_id", "v_milli").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // u2: mean 5 → devs 8, 8 → tie → earlier (sample 5) wins
    assert(out.toSeq === Seq((1L, 0L), (4L, 7250L), (5L, 1000L)))
  }

  test("rollingDistinctActives: windowDays=1 equals plain daily distinct") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), "a"),
      (ts("2024-01-01 12:00:00"), "b"),
      (ts("2024-01-02 10:00:00"), "b")
    ).toDF("ts", "conv_id")
    val out = SeriesFunctions.rollingDistinctActives(df, "ts", "conv_id", 1)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(out === Map("2024-01-01" -> 2L, "2024-01-02" -> 1L))
  }

  test("counterRateBucketed: last-per-bucket, reset across buckets, real Δt") {
    val df = Seq(
      // hour 10: samples 5 then 9 (last = 9 @ 10:40)
      ("u1", ts("2024-01-01 10:10:00"), 5.0, 1L),
      ("u1", ts("2024-01-01 10:40:00"), 9.0, 2L),
      // hour 11: last = 3609 @ 11:40 → increase 3600 over Δt = 1h real
      ("u1", ts("2024-01-01 11:05:00"), 10.0, 3L),
      ("u1", ts("2024-01-01 11:40:00"), 3609.0, 4L),
      // hour 13 (gap hour 12): counter RESET to 2 → increase = 2,
      // Δt = 2h real → 2000/7200 floors to 0
      ("u1", ts("2024-01-01 13:40:00"), 2.0, 5L)
    ).toDF("series", "ts", "value", "sample_id")
    val out = SeriesFunctions
      .counterRateBucketed(df, "series", "ts", "value", "1h", Seq("sample_id"))
      .collect().map(r => (r.getTimestamp(1).toString,
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sortBy(_._1)
    assert(out.toSeq === Seq(
      ("2024-01-01 10:00:00.0", -1L, -1L),        // first bucket: no prior
      ("2024-01-01 11:00:00.0", 3600000L, 1000L), // 3600 over 3600 s
      ("2024-01-01 13:00:00.0", 2000L, 0L)))      // reset; Δt = 2h real
  }

  test("counterRateBucketed: tie on a bucket's last ts, a null-ts row, a reset on a last") {
    val df = Seq(
      // a null ts forms its own bucket, ordered before every other
      ("u1", null, 1.0, 9L),
      // hour 10: two samples tie on the last ts; orderCols picks id 3
      ("u1", ts("2024-01-01 10:10:00"), 5.0, 1L),
      ("u1", ts("2024-01-01 10:40:00"), 700.0, 3L),
      ("u1", ts("2024-01-01 10:40:00"), 900.0, 2L),
      // hour 11: the bucket's last sample is the reset (36 < 700)
      ("u1", ts("2024-01-01 11:20:00"), 800.0, 4L),
      ("u1", ts("2024-01-01 11:40:00"), 36.0, 5L)
    ).toDF("series", "ts", "value", "sample_id")
    val out = SeriesFunctions
      .counterRateBucketed(df, "series", "ts", "value", "1h", Seq("sample_id"))
      .collect().map(r => (Option(r.getTimestamp(1)).map(_.toString),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sortBy(_._1)
    assert(out.toSeq === Seq(
      (None, -1L, -1L),                            // first: no prior
      (Some("2024-01-01 10:00:00.0"), 699000L, -1L), // 700 − 1; prior ts null
      (Some("2024-01-01 11:00:00.0"), 36000L, 10L))) // reset; Δt = 1h real
  }

  test("sketch rolling actives within 5% of exact at a 30-day window") {
    // the >~2-week scale path: per-day HLL partials merge across the
    // window, so the shuffle never multiplies by windowDays. Realistic
    // cardinalities from the transcript fixture (events → conv/day
    // pairs over a month of activity).
    val events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    val df = events.select($"ts", $"user_id")
    val exact = SeriesFunctions.rollingDistinctActives(df, "ts", "user_id", 30)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    val approx = SeriesFunctions
      .rollingDistinctActivesSketch(df, "ts", "user_id", 30)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(approx.keySet === exact.keySet,
      "sketch path must report exactly the observed days")
    exact.foreach { case (day, n) =>
      val a = approx(day)
      assert(math.abs(a - n) <= math.max(1L, (0.05 * n).toLong),
        s"day $day: sketch $a vs exact $n drifts past 5%")
    }
  }

  test("sketch rolling actives agrees on the toy window fixture semantics") {
    // tiny cardinalities: HLL is exact; the windowing semantics
    // (trailing window, unobserved-day drop) must match the exact op
    val df = Seq(
      (ts("2024-01-01 10:00:00"), "a"),
      (ts("2024-01-01 11:00:00"), "a"),
      (ts("2024-01-01 12:00:00"), "b"),
      (ts("2024-01-03 09:00:00"), "a")
    ).toDF("ts", "conv_id")
    val out = SeriesFunctions.rollingDistinctActivesSketch(df, "ts", "conv_id", 3)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(out === Map("2024-01-01" -> 2L, "2024-01-03" -> 2L))
  }

  test("laggedCorrelation: perfect lead/lag coupling, dropped degenerates") {
    // k1: y at t+1h is exactly 2x(t) → corr = +1; k2: y at t+1h is
    // -x(t) shifted → corr = -1; k3: constant y → zero variance,
    // dropped; k4: only 2 aligned pairs → below minPairs, dropped
    def row(k: String, h: Int, x: Long, y: Long) =
      (k, ts(f"2024-01-01 $h%02d:00:00"), x, y)
    val series = Seq(
      row("k1", 10, 1, 99), row("k1", 11, 2, 2), row("k1", 12, 3, 4),
      row("k1", 13, 4, 6), row("k1", 14, 9, 8),
      row("k2", 10, 1, 99), row("k2", 11, 2, 9), row("k2", 12, 3, 8),
      row("k2", 13, 4, 7), row("k2", 14, 9, 6),
      row("k3", 10, 1, 5), row("k3", 11, 2, 5), row("k3", 12, 3, 5),
      row("k3", 13, 4, 5),
      row("k4", 10, 1, 1), row("k4", 11, 2, 2), row("k4", 12, 3, 3)
    ).toDF("k", "bucket_ts", "x", "y")
    val got = SeriesFunctions
      .laggedCorrelation(series, Seq("k"), "bucket_ts", "x", "y",
        lagBuckets = 1, bucketSecs = 3600, minPairs = 3)
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // floor semantics at the ±1 poles: sqrt(varx)·sqrt(vary) rounds a
    // hair ABOVE the exact product, so +1 floors to 999999 while -1
    // floors to -1000000 — deterministic IEEE behavior the SQL oracle
    // reproduces bit-for-bit (the hash check is over this very value)
    assert(got == Map("k1" -> ((4L, 999999L)), "k2" -> ((4L, -1000000L))))
  }

  test("burnRate: hourly + trailing window rates, gap-aware RANGE frame") {
    // svc hour 0: 4/4 bad; hour 1: 1/10 bad; hour 7 after a 5h gap:
    // 1/2 bad — the 6h RANGE frame at hour 7 covers hidx 2..7, so the
    // gap hours are simply absent and the long window sees only hour 7
    def ev(h: Int, m: Int, bad: Boolean) =
      ("svc", ts(f"2024-01-01 $h%02d:$m%02d:00"), if (bad) 300.0 else 10.0)
    val events = (
      (0 until 4).map(m => ev(0, m, bad = true)) ++
      (0 until 10).map(m => ev(1, m, bad = m == 0)) ++
      Seq(ev(7, 0, bad = true), ev(7, 1, bad = false))
    ).toDF("svc", "ts", "value")
    val got = SeriesFunctions.burnRate(events, Seq("svc"), "ts",
        col("value") >= 200.0, longHours = 6,
        budgetNum = 1, budgetDen = 10, burnFactor = 2)
      .select("bucket_ts", "total", "bad", "total_6h", "bad_6h",
        "burn_short_milli", "burn_long_milli", "alert")
      .collect().map(r => (r.getTimestamp(0).toString,
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getBoolean(7)))).toMap
    assert(got("2024-01-01 00:00:00.0") ==
      ((4L, 4L, 4L, 4L, 1000L, 1000L, true)))
    // hour 1: short rate 10% < 20% threshold → no alert even though
    // the long window (5/14 ≈ 35.7%) still burns
    assert(got("2024-01-01 01:00:00.0") ==
      ((10L, 1L, 14L, 5L, 100L, 357L, false)))
    // hour 7: the gap evicts hours 0-1 from the RANGE frame
    assert(got("2024-01-01 07:00:00.0") ==
      ((2L, 1L, 2L, 1L, 500L, 500L, true)))
  }
}
