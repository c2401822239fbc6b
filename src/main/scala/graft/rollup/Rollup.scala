package graft.rollup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Tier

/** Continuous-aggregate tier cascade: raw → 1m → 1h → 1d.
  *
  * Replaces the reference's time-bucketed rollup core (`dt.round` at
  * /root/reference/jaeger_prometheus_joining/transformationscripts/
  * MetricsParser.py:118 + grouped aggregation at featureengineering/
  * TraceInOneRowExploder.py:58-123, systemwide rollup Joiner.py:345-354)
  * with floor bucketing (`date_trunc`) and an algebraic metric set so
  * that fold(1m)→1h and fold(1h)→1d equal raw→1h / raw→1d exactly:
  * only sums / counts / min / max are stored, means are derived.
  *
  * The metric set has one definition, [[foldAggs]]: a raw turn enters
  * as a one-turn tier row ([[turnRows]]), so raw→tier and tier→tier
  * are the same fold, and the incremental 1m merge folds new turns and
  * existing 1m rows in one aggregate.
  *
  * Scale notes (100 TB / 10^12-turn design point):
  *   - raw→1m is a single hash aggregate keyed (conv_id, bucket):
  *     map-side partial aggregation bounds shuffle volume by the
  *     number of *distinct* (conv, minute) pairs, not turn count.
  *   - tier→tier folds shuffle only tier rows (≤ |convs| × buckets).
  *   - hot conversations (a (conv,bucket) pair with millions of rows)
  *     are handled by [[rollupRawSalted]]: a two-phase salted
  *     aggregate whose partials are the same algebraic metrics, so
  *     the result is bit-identical to the unsalted plan.
  */
object Rollup {

  val metricCols: Seq[String] = Seq("turn_cnt", "tool_cnt", "text_cnt",
    "text_len_sum", "text_len_min", "text_len_max", "role_user_cnt",
    "role_assistant_cnt", "role_tool_cnt")

  /** Each turn as a one-turn tier row keyed (conv_id, `bucketCol` as
    * `bucket_ts`): `turn_cnt` 1, `tool_cnt`/`text_cnt` and the role
    * counts 0 or 1, the three length columns `length(text)` (null for a
    * null text, which sum/min/max skip). [[foldAggs]] over these rows is
    * the raw rollup. `text_cnt` (count of NON-NULL texts) exists so a
    * routed avg(length(text)) divides by the same count the raw Average
    * would — turn_cnt would silently diverge on any table with null text
    * (ADVICE r3).
    */
  def turnRows(turns: DataFrame, bucketCol: Column): DataFrame =
    turns.select(Seq(col("conv_id"), bucketCol.as("bucket_ts")) ++ unitMetrics: _*)

  private def unitMetrics: Seq[Column] = {
    def flag(c: Column) = when(c, 1L).otherwise(0L)
    val len = length(col("text")).cast("long")
    Seq(lit(1L).as("turn_cnt"),
      flag(col("tool").isNotNull).as("tool_cnt"),
      flag(col("text").isNotNull).as("text_cnt"),
      len.as("text_len_sum"), len.as("text_len_min"), len.as("text_len_max"),
      flag(col("role") === "user").as("role_user_cnt"),
      flag(col("role") === "assistant").as("role_assistant_cnt"),
      flag(col("role") === "tool").as("role_tool_cnt"))
  }

  /** The metric set: re-aggregations that fold finer tier rows (or
    * [[turnRows]]) into coarser ones. Exact because all metrics are
    * algebraic (sum/min/max compose).
    */
  def foldAggs: Seq[Column] = Seq(
    sum(col("turn_cnt")).as("turn_cnt"),
    sum(col("tool_cnt")).as("tool_cnt"),
    sum(col("text_cnt")).as("text_cnt"),
    sum(col("text_len_sum")).as("text_len_sum"),
    min(col("text_len_min")).as("text_len_min"),
    max(col("text_len_max")).as("text_len_max"),
    sum(col("role_user_cnt")).as("role_user_cnt"),
    sum(col("role_assistant_cnt")).as("role_assistant_cnt"),
    sum(col("role_tool_cnt")).as("role_tool_cnt"))

  /** Floor a timestamp to the tier bucket. Arithmetic truncation
    * (`us - pmod(us, width)`), NOT `date_trunc`: profiling at
    * local[32] showed date_trunc's per-row zone logic contending
    * under 32 threads (~30-50% slower aggregates), while the
    * arithmetic form is pure codegen'd Long math. Identical to
    * `date_trunc` for minute/hour/day in a UTC session (asserted by
    * the DuckDB oracle gate, whose SQL uses date_trunc); pmod keeps
    * floor semantics for pre-epoch timestamps too.
    */
  def bucket(tsCol: Column, tier: Tier): Column = {
    val width = lit(tier.millis * 1000L)
    // NTZ parquet columns cast value-preserving under the pinned UTC
    // session; unix_micros accepts only TIMESTAMP (ltz)
    val us = unix_micros(tsCol.cast("timestamp"))
    timestamp_micros(us - pmod(us, width))
  }

  /** raw turns → tier rows. One shuffle, map-side combined. */
  def rollupRaw(turns: DataFrame, tier: Tier): DataFrame =
    foldRows(turnRows(turns, bucket(col("ts"), tier)))

  /** [[foldAggs]] per (conv_id, bucket_ts) and `keys`. */
  private def foldRows(rows: DataFrame, keys: Column*): DataFrame =
    rows.groupBy(col("conv_id") +: col("bucket_ts") +: keys: _*)
      .agg(foldAggs.head, foldAggs.tail: _*)

  // ------------------------------------------------------------------
  // arbitrary-width bucketing (reference ParseSettings.py:17-19: a
  // "1s…1y" rounding grammar; default "30s") + round-to-NEAREST mode
  // (Polars dt.round is nearest-boundary, half away from zero —
  // reference meta/wiki/old/rounding-identifiers.md) — the fixed
  // 1m/1h/1d Tier enum covers the cascade, this covers the knob.
  // ------------------------------------------------------------------

  private val widthRe = "^([0-9]+)(s|m|h|d|w)$".r
  private val calRe = "^([0-9]+)(mo|y)$".r

  /** Months per bucket when `spec` is a calendar width, None for
    * fixed widths — THE grammar authority (TierRouting delegates
    * here; a second copy of the regex would drift). Zero-width specs
    * are rejected like the fixed-width path.
    */
  def calendarMonths(spec: String): Option[Int] = spec match {
    case calRe(n, u) =>
      val months = n.toInt * (if (u == "y") 12 else 1)
      require(months > 0, s"zero-width bucket: $spec")
      Some(months)
    case _ => None
  }

  /** Parse a FIXED width spec ("30s", "5m", "2h", "1d", "1w") to
    * micros. Calendar widths (month/year) are not fixed-length and
    * take the calendar branch of [[bucketWidth]] instead — rejected
    * here by design (callers that need a constant width, e.g. the
    * as-of tolerance, cannot use a calendar spec).
    */
  def parseWidthUs(spec: String): Long = spec match {
    case widthRe(n, u) =>
      val unit = u match {
        case "s" => 1000000L
        case "m" => 60L * 1000000L
        case "h" => 3600L * 1000000L
        case "d" => 86400L * 1000000L
        case "w" => 7L * 86400L * 1000000L
      }
      val v = n.toLong * unit
      require(v > 0, s"zero-width bucket: $spec")
      v
    case other if calendarMonths(other).isDefined =>
      throw new IllegalArgumentException(
        s"calendar width '$other' is not fixed-length — " +
          "use bucketWidth's calendar branch, not parseWidthUs")
    case other => throw new IllegalArgumentException(
      s"bad bucket width '$other' (expected <n><s|m|h|d|w>)")
  }

  /** Floor (default) or round-half-up `ts` to an arbitrary bucket.
    *
    * Fixed widths (s/m/h/d/w) use the same pure-Long codegen
    * arithmetic as [[bucket]]; `nearest = true` reproduces the
    * reference's `dt.round` semantics: ties (exactly half a width)
    * round UP.
    *
    * CALENDAR widths (`<n>mo`, `<n>y` — the rest of the reference's
    * "1s…1y" grammar, ParseSettings.py:17-19) are not fixed-length:
    * they floor in months-since-epoch space (`1mo` ≡ DuckDB/Spark
    * `date_trunc('month')`, `3mo` ≡ quarter, `1y` ≡ year — proven by
    * the q_rollup_1mo oracle). `nearest = true` on a calendar width
    * uses the actual BOUNDARIES, not a fictional "half a month":
    * pick whichever of (bucket start, next bucket start) is closer,
    * the exact midpoint mapping UP — Polars `dt.round`'s documented
    * first-half/second-half rule, correct across 28/29/30/31-day
    * months by construction (completes the reference's grammar
    * matrix, rounding-identifiers.md:1-32).
    */
  def bucketWidth(tsCol: Column, spec: String, nearest: Boolean = false): Column =
    calendarMonths(spec) match {
      case Some(perBucket) =>
        val ts = tsCol.cast("timestamp")
        // months since epoch, floored to the bucket; pmod keeps floor
        // semantics pre-1970. Integer division via floor(x/12) on the
        // already-floored month count (always a multiple of perBucket).
        val mos = (year(ts) - lit(1970)) * lit(12) + (month(ts) - lit(1))
        val floored = mos - pmod(mos, lit(perBucket))
        def monthStart(m: Column): Column =
          to_timestamp(make_date(
            lit(1970) + floor(m.cast("double") / 12.0).cast("int"),
            pmod(m, lit(12)).cast("int") + lit(1),
            lit(1)))
        val t0 = monthStart(floored)
        if (!nearest) t0
        else {
          val t1 = monthStart(floored + lit(perBucket))
          // ts − t0 ≥ t1 − ts (no division, ties round UP). Kept in
          // difference form: unix_micros spans nearly the full Long
          // range, so the doubled form 2·us overflows for far-future
          // timestamps (ANSI: runtime ARITHMETIC_OVERFLOW); each
          // difference is bounded by one bucket span and never can.
          val us = unix_micros(ts)
          when(us - unix_micros(t0) >= unix_micros(t1) - us, t1).otherwise(t0)
        }
      case _ =>
        val w = parseWidthUs(spec)
        val us0 = unix_micros(tsCol.cast("timestamp"))
        val us = if (nearest) us0 + lit(w / 2) else us0
        timestamp_micros(us - pmod(us, lit(w)))
    }

  /** [[rollupRaw]] at an arbitrary width/mode. */
  def rollupRawWidth(turns: DataFrame, spec: String, nearest: Boolean = false): DataFrame =
    foldRows(turnRows(turns, bucketWidth(col("ts"), spec, nearest)))

  /** Salted two-phase variant for skewed inputs: phase 1 aggregates
    * (conv, bucket, salt) partials — spreading a hot key over
    * `saltBuckets` reducers — phase 2 merges partials. Result is
    * exactly [[rollupRaw]] because the metric set is algebraic.
    */
  def rollupRawSalted(turns: DataFrame, tier: Tier, saltBuckets: Int = 16): DataFrame = {
    val salted = turns.select(Seq(col("conv_id"), bucket(col("ts"), tier).as("bucket_ts"),
      pmod(hash(col("turn_idx"), col("ts")), lit(saltBuckets)).as("_salt")) ++ unitMetrics: _*)
    foldRows(foldRows(salted, col("_salt")))
  }

  /** finer tier rows → coarser tier rows (e.g. 1m → 1h). */
  def foldTier(finer: DataFrame, to: Tier): DataFrame =
    foldRows(finer.withColumn("bucket_ts", bucket(col("bucket_ts"), to)))

  /** The full cascade from raw turns: returns tier name → rows.
    * 1m is computed from raw; 1h folds 1m; 1d folds 1h.
    */
  def cascade(turns: DataFrame): Map[String, DataFrame] = {
    val m1 = rollupRaw(turns, Tier.Minute)
    val h1 = foldTier(m1, Tier.Hour)
    val d1 = foldTier(h1, Tier.Day)
    Map("1m" -> m1, "1h" -> h1, "1d" -> d1)
  }

  /** SQL body for the DuckDB oracle of a raw→tier rollup (expects a
    * `turns` relation in scope). Kept textually tiny so every tier
    * query shares one source of truth.
    */
  def oracleSql(tier: Tier): String =
    oracleSqlExpr(s"date_trunc('${tier.truncUnit}', ts)")

  /** Same rollup oracle with an arbitrary SQL bucket expression —
    * the width-parameterized queries pass epoch-micros arithmetic
    * (`make_timestamp(...)`) equivalent to [[bucketWidth]].
    */
  def oracleSqlExpr(bucketExpr: String): String =
    s"""SELECT conv_id, $bucketExpr AS bucket_ts,
       |  count(*) AS turn_cnt,
       |  count(tool) AS tool_cnt,
       |  count(text) AS text_cnt,
       |  CAST(sum(length(text)) AS BIGINT) AS text_len_sum,
       |  CAST(min(length(text)) AS BIGINT) AS text_len_min,
       |  CAST(max(length(text)) AS BIGINT) AS text_len_max,
       |  count(CASE WHEN role = 'user' THEN 1 END) AS role_user_cnt,
       |  count(CASE WHEN role = 'assistant' THEN 1 END) AS role_assistant_cnt,
       |  count(CASE WHEN role = 'tool' THEN 1 END) AS role_tool_cnt
       |FROM turns
       |GROUP BY 1, 2""".stripMargin
}
