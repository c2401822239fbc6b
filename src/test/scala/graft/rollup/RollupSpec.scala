package graft.rollup

import org.apache.spark.sql.DataFrame

import graft.SparkSuite
import graft.datagen.TranscriptGen
import graft.model.{Tier, TierRow, Turn}
import graft.oracle.Oracle

class RollupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val turnsDs =
    TranscriptGen.generate(spark, nConvs = 60, avgTurns = 30, seed = 42L,
      hotShare = 0.0, gapEvery = 7).cache()

  private lazy val turnsLocal: Seq[Turn] = turnsDs.collect().toSeq

  private def collectTier(df: DataFrame): Seq[TierRow] =
    df.as[TierRow].collect().toSeq.sortBy(r => (r.conv_id, r.bucket_ts.getTime))

  test("datagen is deterministic") {
    val a = TranscriptGen.generate(spark, 10, 20, seed = 7L).collect()
      .sortBy(t => (t.conv_id, t.turn_idx))
    val b = TranscriptGen.generate(spark, 10, 20, seed = 7L).collect()
      .sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
  }

  test("raw→tier matches the naive oracle exactly, every tier") {
    Tier.cascade.foreach { tier =>
      val engine = collectTier(Rollup.rollupRaw(turnsDs.toDF(), tier))
      val oracle = Oracle.rollup(turnsLocal, tier)
      assert(engine.size == oracle.size, s"row count mismatch at ${tier.name}")
      engine.zip(oracle).foreach { case (e, o) =>
        assert(e == o, s"tier ${tier.name}: $e != $o")
      }
    }
  }

  test("cascade consistency: fold(1m)→1h→1d equals raw→1h / raw→1d") {
    val m1 = Rollup.rollupRaw(turnsDs.toDF(), Tier.Minute)
    val h1folded = collectTier(Rollup.foldTier(m1, Tier.Hour))
    val h1direct = collectTier(Rollup.rollupRaw(turnsDs.toDF(), Tier.Hour))
    assert(h1folded == h1direct)
    val d1folded = collectTier(Rollup.foldTier(Rollup.foldTier(m1, Tier.Hour), Tier.Day))
    val d1direct = collectTier(Rollup.rollupRaw(turnsDs.toDF(), Tier.Day))
    assert(d1folded == d1direct)
  }

  test("salted two-phase agg is exact under heavy skew") {
    val skewed = TranscriptGen.generate(spark, nConvs = 20, avgTurns = 30,
      seed = 99L, hotShare = 0.5).cache()
    // verify the skew actually exists: conv 0 holds ≥40% of rows
    val total = skewed.count()
    val hot = skewed.filter(_.conv_id == "conv-000000").count()
    assert(hot.toDouble / total >= 0.4, s"fixture not skewed: $hot/$total")
    val plain = collectTier(Rollup.rollupRaw(skewed.toDF(), Tier.Minute))
    val salted = collectTier(Rollup.rollupRawSalted(skewed.toDF(), Tier.Minute, 16))
    assert(plain == salted)
    skewed.unpersist()
  }

  test("parseWidthUs accepts the s/m/h/d/w grammar and rejects the rest") {
    assert(Rollup.parseWidthUs("30s") == 30L * 1000000L)
    assert(Rollup.parseWidthUs("5m") == 300L * 1000000L)
    assert(Rollup.parseWidthUs("2h") == 7200L * 1000000L)
    assert(Rollup.parseWidthUs("1d") == 86400L * 1000000L)
    assert(Rollup.parseWidthUs("1w") == 7L * 86400L * 1000000L)
    intercept[IllegalArgumentException](Rollup.parseWidthUs("1y"))
    intercept[IllegalArgumentException](Rollup.parseWidthUs("abc"))
    intercept[IllegalArgumentException](Rollup.parseWidthUs("0s"))
  }

  test("bucketWidth floor vs nearest (half-up ties, Polars dt.round parity)") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      "2024-01-01 00:00:44", // 14s past the 30s boundary → nearest DOWN
      "2024-01-01 00:00:45", // exactly half of 30s → tie rounds UP
      "2024-01-01 00:02:29", // <half of 5m
      "2024-01-01 00:02:30"  // exactly half of 5m → UP
    ).toDF("s").select(to_timestamp($"s").as("ts"))
    def fmt(c: org.apache.spark.sql.Column) = date_format(c, "HH:mm:ss")
    val got = df.select(
      fmt(Rollup.bucketWidth($"ts", "30s")).as("f30"),
      fmt(Rollup.bucketWidth($"ts", "30s", nearest = true)).as("n30"),
      fmt(Rollup.bucketWidth($"ts", "5m", nearest = true)).as("n5m"))
      .as[(String, String, String)].collect().toSeq
    assert(got == Seq(
      ("00:00:30", "00:00:30", "00:00:00"),
      ("00:00:30", "00:01:00", "00:00:00"),
      ("00:02:00", "00:02:30", "00:00:00"),
      ("00:02:30", "00:02:30", "00:05:00")))
  }

  test("calendar widths: month/year flooring across 28/30/31-day and leap boundaries") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      "2024-01-31 23:59:59", // 31-day month end
      "2024-02-01 00:00:00", // month start boundary
      "2024-02-29 12:00:00", // leap day
      "2024-04-30 23:59:59", // 30-day month end
      "2023-02-28 23:59:59", // non-leap Feb end
      "2024-12-31 23:59:59", // year end
      "2025-01-01 00:00:00"  // year start
    ).toDF("s").select(to_timestamp($"s").as("ts"))
    def fmt(c: org.apache.spark.sql.Column) = date_format(c, "yyyy-MM-dd HH:mm:ss")
    val got = df.select(
      fmt(Rollup.bucketWidth($"ts", "1mo")).as("mo"),
      fmt(Rollup.bucketWidth($"ts", "3mo")).as("q"),
      fmt(Rollup.bucketWidth($"ts", "1y")).as("y"))
      .as[(String, String, String)].collect().toSeq
    assert(got == Seq(
      ("2024-01-01 00:00:00", "2024-01-01 00:00:00", "2024-01-01 00:00:00"),
      ("2024-02-01 00:00:00", "2024-01-01 00:00:00", "2024-01-01 00:00:00"),
      ("2024-02-01 00:00:00", "2024-01-01 00:00:00", "2024-01-01 00:00:00"),
      ("2024-04-01 00:00:00", "2024-04-01 00:00:00", "2024-01-01 00:00:00"),
      ("2023-02-01 00:00:00", "2023-01-01 00:00:00", "2023-01-01 00:00:00"),
      ("2024-12-01 00:00:00", "2024-10-01 00:00:00", "2024-01-01 00:00:00"),
      ("2025-01-01 00:00:00", "2025-01-01 00:00:00", "2025-01-01 00:00:00")))
  }

  test("calendar widths equal date_trunc") {
    import org.apache.spark.sql.functions._
    val ts = turnsDs.toDF().select($"ts")
    val mism = ts.select(
      Rollup.bucketWidth($"ts", "1mo").as("a"),
      date_trunc("month", $"ts".cast("timestamp")).as("b"))
      .filter($"a" =!= $"b").count()
    assert(mism == 0, "1mo diverges from date_trunc('month')")
    val mismY = ts.select(
      Rollup.bucketWidth($"ts", "1y").as("a"),
      date_trunc("year", $"ts".cast("timestamp")).as("b"))
      .filter($"a" =!= $"b").count()
    assert(mismY == 0, "1y diverges from date_trunc('year')")
  }

  test("calendar NEAREST: real boundaries, midpoint up, month-length asymmetry") {
    import org.apache.spark.sql.functions._
    // midpoints differ per month length: Jan(31d)→16th 12:00,
    // Feb-leap(29d)→15th 12:00, Feb-nonleap(28d)→15th 00:00,
    // leap year(366d)→Jul 2 00:00 — a fixed "half width" cannot
    // reproduce these; boundary comparison does
    val df = Seq(
      "2024-01-16 11:59:59", // just before 31-day midpoint → Jan
      "2024-01-16 12:00:00", // exact midpoint → ties UP → Feb
      "2024-02-15 11:59:59", // leap Feb, before midpoint → Feb
      "2024-02-15 12:00:00", // leap Feb midpoint → Mar
      "2023-02-14 23:59:59", // non-leap Feb, before midpoint → Feb
      "2023-02-15 00:00:00", // non-leap Feb midpoint → Mar
      "2024-12-31 23:00:00"  // late Dec → next YEAR's Jan 1
    ).toDF("s").select(to_timestamp($"s").as("ts"))
    def fmt(c: org.apache.spark.sql.Column) = date_format(c, "yyyy-MM-dd")
    val got = df.select(
      fmt(Rollup.bucketWidth($"ts", "1mo", nearest = true)).as("mo"))
      .as[String].collect().toSeq
    assert(got == Seq(
      "2024-01-01", "2024-02-01", "2024-02-01", "2024-03-01",
      "2023-02-01", "2023-03-01", "2025-01-01"))
    // leap-year midpoint: 2024 has 366 days → boundary at Jul 2 00:00
    val y = Seq("2024-07-01 23:59:59", "2024-07-02 00:00:00")
      .toDF("s").select(to_timestamp($"s").as("ts"))
      .select(fmt(Rollup.bucketWidth($"ts", "1y", nearest = true)).as("y"))
      .as[String].collect().toSeq
    assert(y == Seq("2024-01-01", "2025-01-01"))
  }

  test("tier-width bucketWidth agrees with the Tier bucket") {
    import org.apache.spark.sql.functions._
    val ts = turnsDs.toDF().select($"ts")
    Seq(Tier.Minute -> "1m", Tier.Hour -> "1h", Tier.Day -> "1d").foreach {
      case (tier, spec) =>
        val mism = ts.select(
          Rollup.bucket($"ts", tier).as("a"),
          Rollup.bucketWidth($"ts", spec).as("b"))
          .filter($"a" =!= $"b").count()
        assert(mism == 0, s"$spec diverges from tier ${tier.name}")
    }
  }

  /** Five turns over two days, with null texts (one bucket's only
    * text is null) and null tools.
    */
  private lazy val nullsFixture: DataFrame = {
    def at(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    Seq(
      Turn("a", 0, "user", "hi", None, at("2024-01-01T00:00:10Z")),
      Turn("a", 1, "assistant", null, Some("x"), at("2024-01-01T00:00:50Z")),
      Turn("a", 2, "tool", "abcd", Some("y"), at("2024-01-01T00:01:20Z")),
      Turn("a", 3, "user", null, None, at("2024-01-01T01:00:00Z")),
      Turn("b", 0, "assistant", "hello", None, at("2024-01-02T00:00:00Z"))).toDF()
  }

  /** (conv_id, bucket start, the nine metrics) per row, sorted. */
  private def metricRows(df: DataFrame): Seq[Seq[Any]] = {
    import org.apache.spark.sql.functions._
    df.select(col("conv_id") +: date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss") +:
        Rollup.metricCols.map(col): _*)
      .collect().map(_.toSeq).toSeq.sortBy(r => (r(0).toString, r(1).toString))
  }

  test("rollupRaw, rollupRawWidth and rollupRawSalted equal hand-computed rows, nulls included") {
    // turn, tool, text counts, text length sum/min/max, user/assistant/tool
    val a0 = Seq("a", "2024-01-01 00:00:00")
    val a1h = a0 ++ Seq(3L, 2L, 2L, 6L, 2L, 4L, 1L, 1L, 1L)
    val aNull = Seq("a", "2024-01-01 01:00:00", 1L, 0L, 0L, null, null, null, 1L, 0L, 0L)
    val b = Seq(1L, 0L, 1L, 5L, 5L, 5L, 0L, 1L, 0L)
    val b0 = Seq("b", "2024-01-02 00:00:00") ++ b
    val want1m = Seq(a0 ++ Seq(2L, 1L, 1L, 2L, 2L, 2L, 1L, 1L, 0L),
      Seq("a", "2024-01-01 00:01:00", 1L, 1L, 1L, 4L, 4L, 4L, 0L, 0L, 1L), aNull, b0)
    val want1d = Seq(a0 ++ Seq(4L, 2L, 2L, 6L, 2L, 4L, 2L, 1L, 1L), b0)
    val wants = Map[Tier, Seq[Seq[Any]]](Tier.Minute -> want1m, Tier.Hour -> Seq(a1h, aNull, b0), Tier.Day -> want1d)
    Tier.cascade.foreach { t =>
      assert(metricRows(Rollup.rollupRaw(nullsFixture, t)) == wants(t), t.name)
      assert(metricRows(Rollup.rollupRawSalted(nullsFixture, t, 3)) == wants(t), s"salted ${t.name}")
    }
    val want30s = Seq(a0 ++ Seq(1L, 0L, 1L, 2L, 2L, 2L, 1L, 0L, 0L),
      Seq("a", "2024-01-01 00:00:30", 1L, 1L, 0L, null, null, null, 0L, 1L, 0L),
      want1m(1), aNull, b0)
    assert(metricRows(Rollup.rollupRawWidth(nullsFixture, "30s")) == want30s)
    // nearest 5m: every turn of conv a's first minutes is < 2m30s past 00:00
    assert(metricRows(Rollup.rollupRawWidth(nullsFixture, "5m", nearest = true)) ==
      Seq(a1h, aNull, b0))
    assert(metricRows(Rollup.rollupRawWidth(nullsFixture, "1mo")) ==
      Seq(want1d.head, Seq("b", "2024-01-01 00:00:00") ++ b))
  }

  test("turnRows folded with existing tier rows equals one rollup of all turns") {
    import org.apache.spark.sql.functions._
    val all = turnsDs.toDF()
    val (older, newer) = (all.filter(pmod(col("turn_idx"), lit(3)) =!= 0),
      all.filter(pmod(col("turn_idx"), lit(3)) === 0))
    val merged = Rollup.foldTier(Rollup.rollupRaw(older, Tier.Minute)
      .unionByName(Rollup.turnRows(newer, Rollup.bucket(col("ts"), Tier.Minute))), Tier.Minute)
    assert(collectTier(merged) == collectTier(Rollup.rollupRaw(all, Tier.Minute)))
  }

  test("rollup plan has one shuffle and partial aggregation") {
    val plan = Rollup.rollupRaw(turnsDs.toDF(), Tier.Minute)
      .queryExecution.executedPlan.toString
    // exactly one exchange (the groupBy shuffle); partial agg map-side
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("partial_"), plan)
  }
}
