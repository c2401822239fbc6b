package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Per-series derivative operators — the PromQL-shaped half of a
  * time-series engine the rollup tiers don't cover: counter
  * increase/rate with reset handling, and rolling-window distinct
  * actives. The reference consumes Prometheus counters but only
  * aligns raw samples (/root/reference/jaeger_prometheus_joining/
  * transformationscripts/MetricsParser.py:115-122); `rate()` is the
  * canonical query over such feeds, so the engine provides it.
  *
  * Scale/shape notes: both operators are single-shuffle plans — the
  * lag window shuffles on the series key, the rolling distinct on
  * the day — with no self-joins on data volume. Outputs are integral
  * (floor·1000 fixed-point) so they hash-compare against a SQL
  * oracle bit-exactly.
  */
object SeriesFunctions {

  /** Counter increase and rate per series, Prometheus reset rule:
    * a sample BELOW its predecessor means the counter restarted, and
    * the increase since the reset is the sample value itself (the
    * pre-reset remainder is unobservable). First sample per series,
    * and zero/negative time deltas, yield null (no interval).
    *
    * Emits fixed-point columns: `increase_millis` = floor(1000·Δv),
    * `rate_millis` = floor(1000·Δv/Δt_seconds).
    *
    * @param orderCols ordering WITHIN the (ts-first) series walk —
    *        pass a unique tiebreak (e.g. an id column) so lag() is
    *        deterministic under equal timestamps
    */
  def counterRate(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy((tsCol +: orderCols).map(col): _*)
    // cast: sources may carry TIMESTAMP_NTZ (driver parquet does) and
    // unix_micros accepts only TIMESTAMP; session TZ is pinned UTC so
    // the cast is value-stable (same pattern as Rollup.bucketWidth)
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val prevV = lag(col(valCol), 1).over(w)
    val prevUs = lag(us, 1).over(w)
    val secs = (us - prevUs).cast("double") / lit(1e6)
    val increase = when(prevV.isNull, lit(null).cast("double"))
      .when(col(valCol) < prevV, col(valCol)) // reset: restart from 0
      .otherwise(col(valCol) - prevV)
    df.withColumn("increase_millis",
        floor(increase * lit(1000.0)).cast("long"))
      .withColumn("rate_millis",
        when(secs > 0, floor(increase * lit(1000.0) / secs).cast("long"))
          .otherwise(lit(null).cast("long")))
  }

  /** Shape-preserving point-select downsampling (the "downsample"
    * verb of the north rule that tier ROLLUPS don't cover: rollups
    * aggregate, this picks representative SAMPLES for serving /
    * visualization). Per (series, bucket) the survivor is the sample
    * deviating most from the bucket mean — the LTTB family's
    * "keep the extremes, drop the middle" shape without LTTB's
    * sequential previous-selected-point dependency (which cannot
    * parallelize per bucket).
    *
    * Determinism/oracle design: values go fixed-point FIRST
    * (`v_milli` = floor(1000·v)), so the deviation |n·v − Σv| is
    * exact integer arithmetic — no float summation-order dependence
    * between engines — and ties pin on (ts, orderCols). One window
    * shuffle on (series, bucket).
    */
  def downsampleMaxDev(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, widthSpec: String, orderCols: Seq[String]): DataFrame = {
    val vm = floor(col(valCol) * lit(1000.0)).cast("long")
    val withB = df
      .withColumn("bucket_ts", graft.rollup.Rollup.bucketWidth(col(tsCol), widthSpec))
      .withColumn("v_milli", vm)
    val part = Seq(col(keyCol), col("bucket_ts"))
    val wAgg = Window.partitionBy(part: _*)
    val dev = abs(count(lit(1)).over(wAgg) * col("v_milli") -
      sum(col("v_milli")).over(wAgg))
    val wPick = Window.partitionBy(part: _*)
      .orderBy(dev.desc +: col(tsCol).asc +: orderCols.map(col(_).asc): _*)
    // EXPLICIT session-width repartition (see Dedup.shuffleWidth):
    // the windows' own exchange is byte-coalesced by AQE, serializing
    // both per-(key, bucket) window passes.
    withB
      .repartition(graft.operators.Dedup.shuffleWidth(df), part: _*)
      .withColumn("_rn", row_number().over(wPick))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Distinct actives per day over a trailing `windowDays` window
    * (retention-style "rolling 7-day actives"). Exact, not sketched:
    * (day, id) pairs are dedup'd once, then each pair votes for the
    * `windowDays` report days it falls into — a generator explode,
    * shuffle keyed on the report day, one distinct count per day.
    * Report days with no activity of their own still appear if the
    * trailing window reaches them ONLY when some day in range exists;
    * days past the last observed day are dropped (semi join against
    * observed days) so the output range is data-defined on both the
    * engine and the oracle side.
    */
  def rollingDistinctActives(df: DataFrame, tsCol: String, idCol: String,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val dayId = df
      .select(to_date(col(tsCol)).as("_d"), col(idCol).as("_id"))
      .distinct()
    val observed = dayId.select(col("_d").as("day")).distinct()
    dayId
      .select(col("_id"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("_off"), col("_d"))
      .select(col("_id"), date_add(col("_d"), col("_off")).as("day"))
      .join(observed, Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("_id")).as(s"active_${windowDays}d"))
  }

  /** Per-(key, bucket) turn/event RATE — the tier-ROUTABLE series
    * derivative (r4 verdict ask #8). For a cumulative occurrence
    * counter, the increase within a bucket IS `count(*)`, so this
    * emits exactly the aggregate shape
    * [[graft.plans.TierRouting.RouteToTier]] rewrites: grouped on
    * (key, tier_bucket(ts)) with a Count(1) aggregate. With a
    * registered fresh warehouse and `keyCol = "conv_id"`, a 1h turn-
    * rate over a month therefore scans the pinned 1h tier's partials
    * instead of 10¹² raw turns (TierRoutingSpec pins the routed scan
    * AND equality with the raw plan); without one it still computes
    * correctly from raw. The rate projection sits ABOVE the
    * aggregate, so routing sees the bare rollup shape.
    *
    * Fixed widths only: the rate denominator is the bucket width
    * (calendar buckets have none). By contrast [[downsampleMaxDev]]
    * intentionally does NOT route: point-SELECTION needs the raw
    * samples by definition — no aggregate partial can answer it.
    */
  def turnRate(turns: DataFrame, keyCol: String, tsCol: String,
      widthSpec: String): DataFrame = {
    val widthSecs = graft.rollup.Rollup.parseWidthUs(widthSpec).toDouble / 1e6
    turns
      .groupBy(col(keyCol),
        graft.plans.TierRouting.tierBucket(col(tsCol), widthSpec).as("bucket_ts"))
      .agg(count(lit(1)).as("increase"))
      .withColumn("rate_millis",
        floor(col("increase") * lit(1000.0) / lit(widthSecs)).cast("long"))
  }

  /** Downsampled PromQL-style counter rate: [[counterRate]] at bucket
    * resolution — per (key, bucket) keep the LAST sample (by ts, then
    * `orderCols`), then apply the reset-aware diff ACROSS consecutive
    * bucket lasts. The serving-resolution form of a rate query over a
    * long range: output rows ∝ buckets, not samples, and the shuffle
    * carries one row per (key, bucket) into the across-bucket window.
    * A reset that both happens AND recovers past the previous
    * bucket's last inside one bucket is invisible at this resolution
    * — inherent to downsampled rates, same trade Prometheus makes at
    * wide steps. Δt is the REAL elapsed time between the two last
    * samples (not the nominal bucket width), matching counterRate.
    */
  def counterRateBucketed(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, widthSpec: String, orderCols: Seq[String]): DataFrame = {
    val wBucket = Window
      .partitionBy(col(keyCol), col("bucket_ts"))
      .orderBy((col(tsCol).desc +: orderCols.map(col(_).desc)): _*)
    val lastPerBucket = df
      .withColumn("bucket_ts",
        graft.rollup.Rollup.bucketWidth(col(tsCol), widthSpec))
      .withColumn("_rn", row_number().over(wBucket))
      .filter(col("_rn") === 1)
      .select(col(keyCol), col("bucket_ts"),
        col(tsCol).as("_ts_last"), col(valCol).as("_v_last"))
    // within a key the lasts of distinct buckets strictly increase and
    // the null-ts rows form one bucket, so `_ts_last` orders the lasts
    // as `bucket_ts` does, without ties
    counterRate(lastPerBucket, keyCol, "_ts_last", "_v_last", Seq.empty)
      .select(col(keyCol), col("bucket_ts"),
        col("increase_millis"), col("rate_millis"))
  }

  /** Sketch-based rolling actives — the LARGE-window scale path
    * (r4 verdict ask #5). The exact operator explodes every
    * (day, id) pair `windowDays`× before the distinct count: fine at
    * 7 days, but a 90-day retention window multiplies the shuffle by
    * 90× the active-pair count — a silent scale-killer. Here the
    * explode moves ABOVE the aggregation: one Datasketches HLL
    * partial per day first (shuffle = raw pairs ONCE, map-side
    * combined), then only the per-day SKETCH rows (≤ a few KB × day
    * count) fan out `windowDays`× and merge per report day. Total
    * shuffle is independent of the window length.
    *
    * Accuracy is the HLL bound (~1.6%/√2^(lgK-4); ≈0.8% at the
    * default lgConfigK=14) — spec-pinned within 5% of exact. Use the
    * exact operator below ~2 weeks, this one beyond; same output
    * shape and column names so callers swap freely (approximate ⇒
    * intentionally NOT an oracle-hashed query).
    */
  def rollingDistinctActivesSketch(df: DataFrame, tsCol: String, idCol: String,
      windowDays: Int, lgConfigK: Int = 14): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val perDay = df
      .select(to_date(col(tsCol)).as("_d"), col(idCol).as("_id"))
      .groupBy(col("_d")) // duplicate inserts are free in HLL: no pre-distinct
      .agg(hll_sketch_agg(col("_id"), lit(lgConfigK)).as("_sk"))
    val observed = perDay.select(col("_d").as("day"))
    perDay
      .select(col("_sk"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("_off"), col("_d"))
      .select(col("_sk"), date_add(col("_d"), col("_off")).as("day"))
      .join(observed, Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("_sk")))
        .as(s"active_${windowDays}d"))
  }

  /** The streamed kernel behind the four sequential folds
    * ([[ewmaSmooth]], [[holtSmooth]], [[holtWintersSmooth]],
    * [[cusumDrift]]). Rows whose `tsCol` or `valCol` is null are
    * dropped; the rest are hash-partitioned on the series key at the
    * session width (an explicit exchange AQE does not coalesce, see
    * [[graft.operators.Dedup.shuffleWidth]]), sorted within each
    * partition by (key, ts, orderCols, v_milli) ascending, nulls first,
    * and walked once. A fresh fold starts at every key change, so a
    * series costs O(n) time and only its fold's state in memory; no
    * series is ever materialised whole.
    *
    * Output: the key, `tsCol` and `orderCols` columns, `v_milli`
    * (= floor(1000·value)), then one long column per `outCols` name,
    * filled in order from the array the fold returns for each row.
    */
  private def streamFold(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, orderCols: Seq[String], outCols: Seq[String])(
      newFold: () => Long => Array[Long]): DataFrame = {
    val in = df
      .filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select((keyCols ++ (tsCol +: orderCols)).map(col) :+
        floor(col(valCol) * lit(1000.0)).cast("long").as("v_milli"): _*)
      .repartition(graft.operators.Dedup.shuffleWidth(df), keyCols.map(col): _*)
    val schema = StructType(in.schema.fields ++
      outCols.map(StructField(_, LongType, nullable = false)))
    val nKeys = keyCols.size
    val vIdx = in.schema.size - 1
    in.sortWithinPartitions(in.columns.toSeq.map(col): _*)
      .mapPartitions { rows =>
        var prev: Row = null
        var fold: Long => Array[Long] = null
        rows.map { r =>
          if (prev == null || (0 until nKeys).exists(i => r.get(i) != prev.get(i)))
            fold = newFold()
          prev = r
          Row.fromSeq(r.toSeq ++ fold(r.getLong(vIdx)))
        }
      }(Encoders.row(schema))
  }

  /** floor(num / den) through doubles, the division every fold step
    * uses; exact while |num| < 2⁵², so any IEEE engine floors alike.
    */
  private def fdiv(num: Long, den: Int): Long =
    math.floor(num.toDouble / den.toDouble).toLong

  /** Exact exponentially-weighted moving average per series — the
    * standard monitoring smoother (`avg_over_time`'s recency-weighted
    * sibling). EWMA is inherently sequential (each value depends on
    * the previous smoothed value), which no window frame expresses;
    * each series is walked once in order by the streamed kernel
    * (O(n) time, O(1) state per series, parallel across series).
    * Rows with a null `tsCol` or `valCol` are dropped before the fold.
    *
    * Determinism/oracle design: α = aNum/aDen rational, the
    * recurrence is
    *
    * {{{ s₀ = v₀;  sₜ = floor((aNum·vₜ + (aDen−aNum)·sₜ₋₁) / aDen) }}}
    *
    * over `v_milli` fixed point. Every intermediate < 2⁵² so the
    * double division is exact-then-floored identically in any IEEE
    * engine — a DuckDB recursive CTE replays the identical chain.
    *
    * @param orderCols unique tiebreaks after `tsCol` (fold order must
    *        be total or the chain itself is nondeterministic)
    */
  def ewmaSmooth(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, aNum: Int, aDen: Int,
      orderCols: Seq[String]): DataFrame = {
    require(aNum >= 1 && aNum <= aDen, s"alpha must be in (0, 1]: $aNum/$aDen")
    require(aDen <= 1000, s"aDen above 1000 risks the 2^52 exactness bound: $aDen")
    streamFold(df, keyCols, tsCol, valCol, orderCols, Seq("ewma_milli")) { () =>
      var s = 0L
      var first = true
      v => {
        s = if (first) v else fdiv(aNum * v + (aDen - aNum) * s, aDen)
        first = false
        Array(s)
      }
    }
  }

  /** Exact Holt linear-trend smoothing (double exponential) per
    * series — [[ewmaSmooth]]'s sibling that also tracks a TREND term,
    * giving a one-step-ahead forecast (`forecast_milli` = level +
    * trend): the standard capacity-planning smoother for counters
    * and rates. Same streamed fold as [[ewmaSmooth]], with the same
    * null rule.
    *
    * Recurrence over `v_milli` fixed point, α = aNum/aDen and
    * β = bNum/bDen rational:
    *
    * {{{
    * l₀ = v₀;  b₀ = 0
    * lₜ = floor((aNum·vₜ + (aDen−aNum)·(lₜ₋₁+bₜ₋₁)) / aDen)
    * bₜ = floor((bNum·(lₜ−lₜ₋₁) + (bDen−bNum)·bₜ₋₁) / bDen)
    * }}}
    *
    * Every intermediate < 2⁵² so the double divisions floor
    * identically in any IEEE engine — a DuckDB recursive CTE replays
    * the identical chain.
    */
  def holtSmooth(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, aNum: Int, aDen: Int, bNum: Int, bDen: Int,
      orderCols: Seq[String]): DataFrame = {
    require(aNum >= 1 && aNum <= aDen, s"alpha must be in (0, 1]: $aNum/$aDen")
    require(bNum >= 1 && bNum <= bDen, s"beta must be in (0, 1]: $bNum/$bDen")
    require(aDen <= 1000 && bDen <= 1000,
      s"denominators above 1000 risk the 2^52 exactness bound: $aDen/$bDen")
    streamFold(df, keyCols, tsCol, valCol, orderCols,
        Seq("level_milli", "trend_milli")) { () =>
      var l = 0L
      var b = 0L
      var first = true
      v => {
        if (first) { l = v; first = false }
        else {
          val ln = fdiv(aNum * v + (aDen - aNum) * (l + b), aDen)
          b = fdiv(bNum * (ln - l) + (bDen - bNum) * b, bDen)
          l = ln
        }
        Array(l, b)
      }
    }.withColumn("forecast_milli", col("level_milli") + col("trend_milli"))
  }

  /** Exact Holt-Winters additive-seasonal smoothing (triple
    * exponential) per series — [[holtSmooth]] plus a seasonal
    * component of period `m`: the standard smoother for daily/weekly-
    * cycled series (hour-of-day load, day-of-week traffic), where
    * Holt alone lags every cycle. Same streamed fold and null rule as
    * [[ewmaSmooth]]; the state is (level, trend) plus a ring of the
    * last `m` seasonals.
    *
    * Recurrence over `v_milli` fixed point (α = aNum/aDen,
    * β = bNum/bDen, γ = gNum/gDen rational; seasonal s indexes m
    * steps back, 0 until one full period has passed):
    *
    * {{{
    * l₁ = v₁;  b₁ = 0;  s₁ = 0
    * sₚ = (t ≤ m) ? 0 : s_{t−m}
    * lₜ = floor((aNum·(vₜ − sₚ) + (aDen−aNum)·(lₜ₋₁+bₜ₋₁)) / aDen)
    * bₜ = floor((bNum·(lₜ−lₜ₋₁) + (bDen−bNum)·bₜ₋₁) / bDen)
    * sₜ = floor((gNum·(vₜ−lₜ) + (gDen−gNum)·sₚ) / gDen)
    * forecastₜ = lₜ + bₜ + s_{t+1−m}  (0 while t+1 ≤ m)
    * }}}
    *
    * Every intermediate < 2⁵² so the double divisions floor
    * identically in any IEEE engine — the DuckDB oracle replays the
    * chain recursively, carrying the last m seasonals as a list.
    */
  def holtWintersSmooth(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, aNum: Int, aDen: Int, bNum: Int, bDen: Int,
      gNum: Int, gDen: Int, m: Int, orderCols: Seq[String]): DataFrame = {
    require(aNum >= 1 && aNum <= aDen, s"alpha must be in (0, 1]: $aNum/$aDen")
    require(bNum >= 1 && bNum <= bDen, s"beta must be in (0, 1]: $bNum/$bDen")
    require(gNum >= 1 && gNum <= gDen, s"gamma must be in (0, 1]: $gNum/$gDen")
    require(m >= 2, s"seasonal period must be >= 2: $m")
    require(aDen <= 1000 && bDen <= 1000 && gDen <= 1000,
      s"denominators above 1000 risk the 2^52 exactness bound: $aDen/$bDen/$gDen")
    streamFold(df, keyCols, tsCol, valCol, orderCols,
        Seq("level_milli", "trend_milli", "seasonal_milli", "forecast_milli")) { () =>
      // ring(t % m) holds s_{t−m} while step t runs; slots not yet
      // written are the 0 the recurrence asks for while t ≤ m
      val ring = new Array[Long](m)
      var l = 0L
      var b = 0L
      var t = 0
      v => {
        t += 1
        if (t == 1) l = v
        else {
          val sp = ring(t % m)
          val ln = fdiv(aNum * (v - sp) + (aDen - aNum) * (l + b), aDen)
          b = fdiv(bNum * (ln - l) + (bDen - bNum) * b, bDen)
          l = ln
          ring(t % m) = fdiv(gNum * (v - l) + (gDen - gNum) * sp, gDen)
        }
        // ring((t + 1) % m) is now s_{t+1−m}, or 0 while t + 1 ≤ m
        Array(l, b, ring(t % m), l + b + ring((t + 1) % m))
      }
    }
  }

  /** Time-weighted average per (series, bucket) for IRREGULAR
    * samples — the LOCF integral (TimescaleDB `time_weight`,
    * InfluxDB `integral`): each value holds until the next sample,
    * and the bucket average weights by HELD TIME, not sample count
    * (a plain `avg` over-counts chatty periods). A sample's hold
    * segment `[ts, next_ts)` is clipped to the staleness horizon and
    * exploded onto the covered buckets (fan-out = segment span /
    * bucket width, bounded by `maxGapBuckets` — the same span-guard
    * discipline as GapFill); one lead window per series + one grouped
    * sum, both keyed on the series.
    *
    * Exactness: all clipping arithmetic is epoch-micros integers;
    * Σ(v_milli·overlap_µs) per bucket ≤ max_v_milli × bucket_µs
    * (< 2⁵² for milli values under ~1.2M at 1h buckets), so the
    * final floor(double-division) is bit-identical across engines.
    * Emits `bucket_ts`, `twa_milli`, `covered_us` (held time actually
    * observed in the bucket — callers can threshold on coverage).
    *
    * The LAST sample of each series holds nothing (no next sample)
    * and contributes no segment, matching the half-open integral.
    */
  def timeWeightedAvg(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, bucketSecs: Long, maxGapBuckets: Int,
      orderCols: Seq[String]): DataFrame = {
    require(bucketSecs >= 1, s"bucketSecs must be >= 1: $bucketSecs")
    require(maxGapBuckets >= 1, s"maxGapBuckets must be >= 1: $maxGapBuckets")
    val wUs = bucketSecs * 1000000L
    def bdiv(c: Column): Column = floor(c / lit(wUs.toDouble)).cast("long")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col("_s") +: orderCols.map(col)).map(_.asc): _*)
    // EXPLICIT-width repartition on the series key, NOT the window's
    // own ENSURE_REQUIREMENTS exchange: AQE coalesces exchanges by
    // COMPRESSED SHUFFLE BYTES (measured: 2 post-shuffle tasks at
    // sf0.1 — and a column-only repartition() is coalesced the same
    // way), blind to the up-to-maxGapBuckets× bucket explode +
    // partial agg that run on those same tasks downstream (guide
    // §2.5 — amplified work must not inherit a byte-sized partition
    // count). The window reuses this partitioning, so the exchange
    // count is unchanged; width = spark.sql.shuffle.partitions read
    // from the SESSION (the cluster's tuned value in production, no
    // local constant).
    val nShuffle = graft.operators.Dedup.shuffleWidth(df)
    val base = df
      .filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(keyCols.map(col) ++ orderCols.map(col) :+
        unix_micros(col(tsCol).cast("timestamp")).as("_s") :+
        floor(col(valCol) * lit(1000.0)).cast("long").as("v_milli"): _*)
      .repartition(nShuffle, keyCols.map(col): _*)
      .withColumn("_next", lead(col("_s"), 1).over(w))
    val clipped = base
      .filter(col("_next").isNotNull && col("_next") > col("_s"))
      // staleness horizon: a value stops counting maxGapBuckets
      // bucket-widths after its own bucket's start
      .withColumn("_end",
        least(col("_next"), (bdiv(col("_s")) + lit(maxGapBuckets.toLong)) * lit(wUs)))
      .filter(col("_end") > col("_s"))
    val segs = clipped
      .withColumn("_b", explode(sequence(bdiv(col("_s")), bdiv(col("_end") - 1))))
      .withColumn("_ov",
        least(col("_end"), (col("_b") + 1) * lit(wUs)) -
          greatest(col("_s"), col("_b") * lit(wUs)))
    segs
      .groupBy(keyCols.map(col) :+ col("_b"): _*)
      .agg(sum(col("v_milli") * col("_ov")).as("_vdt"),
        sum(col("_ov")).as("covered_us"))
      .select(keyCols.map(col) :+
        timestamp_micros(col("_b") * lit(wUs)).as("bucket_ts") :+
        floor(col("_vdt").cast("double") / col("covered_us")).cast("long")
          .as("twa_milli") :+
        col("covered_us"): _*)
  }

  /** Seasonal hour-of-week baseline + deviation: each sample compared
    * against the mean of ITS OWN (series, hour-of-week) slot — the
    * seasonality-aware complement of the trailing-window flaggers
    * (Monday-9am traffic judged against Monday-9am history, not
    * against 3am). Two passes over the same grouped frame: one
    * grouped mean into a (series × 168)-row baseline, one equi join
    * back; both shuffles are keyed on (series, how), the baseline
    * side is dimension-sized.
    *
    * Exactness: baseline = floor(Σv_milli / n) via non-negative-
    * remainder integer division (exact for negative sums too), so
    * `dev_milli` hash-matches SQL bit-for-bit.
    */
  def seasonalBaseline(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String): DataFrame = {
    val ts = col(tsCol).cast("timestamp")
    val how = ((dayofweek(ts) - 1) * 24 + hour(ts)).cast("long")
    val withHow = df
      .withColumn("how", how)
      .withColumn("v_milli", floor(col(valCol) * lit(1000.0)).cast("long"))
    val sumc = col("_s") - pmod(col("_s"), col("_n"))
    val baseline = withHow
      .groupBy((keyCols :+ "how").map(col): _*)
      .agg(sum(col("v_milli")).as("_s"), count(col("v_milli")).as("_n"))
      .select((keyCols :+ "how").map(col) :+
        (sumc / col("_n")).cast("long").as("baseline_milli"): _*)
    withHow
      .join(baseline, keyCols :+ "how")
      .withColumn("dev_milli", col("v_milli") - col("baseline_milli"))
  }

  /** One-sided CUSUM drift detection per series: the classic
    * change-point statistic
    *
    * {{{ c₀ = 0;  cₜ = max(0, cₜ₋₁ + (vₜ − target − slack)) }}}
    *
    * accumulating only SUSTAINED excursions above `target + slack`
    * (isolated spikes decay immediately — the complement of the
    * z-score flagger, which sees spikes but not slow drifts). A
    * series drifts when the statistic crosses `threshold`.
    *
    * Same streamed fold and null rule as [[ewmaSmooth]]; all
    * arithmetic is exact `v_milli` fixed-point integers (target/
    * slack/threshold given in millis), so a DuckDB recursive CTE
    * replays the identical chain and the query hash-matches. Emits
    * per-sample `cusum_milli` and `drifting` (statistic ≥ threshold).
    */
  def cusumDrift(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, targetMilli: Long, slackMilli: Long,
      thresholdMilli: Long, orderCols: Seq[String]): DataFrame = {
    require(slackMilli >= 0, s"slack must be >= 0: $slackMilli")
    require(thresholdMilli > 0, s"threshold must be > 0: $thresholdMilli")
    streamFold(df, keyCols, tsCol, valCol, orderCols, Seq("cusum_milli")) { () =>
      var c = 0L
      v => {
        c = math.max(0L, c + v - targetMilli - slackMilli)
        Array(c)
      }
    }.withColumn("drifting", col("cusum_milli") >= thresholdMilli)
  }

  /** Pearson correlation between series `x` at bucket t and series
    * `y` at bucket t + lag — the standard lead/lag coupling question
    * over two metrics of the same key ("do tool calls follow user
    * bursts an hour later?"). Input is an ALREADY-BUCKETED series
    * frame (one row per (key, bucket) with both columns, e.g. a
    * rollup tier or [[turnRate]] output), so the join and the grouped
    * sums are bucket-count-sized, never sample-sized; both shuffles
    * key on the series.
    *
    * Exactness: x and y must be integral (counts or fixed-point
    * millis — cast enforced). All six sufficient statistics are exact
    * integer sums; the final
    * `corr = num / (sqrt(varx) · sqrt(vary))` is evaluated in doubles
    * where every step (int→double casts below 2⁵³, one multiply by
    * 10⁶, correctly-rounded sqrt/mul/div) is IEEE-deterministic, so
    * `corr_micro` hash-matches a SQL oracle computing the identical
    * expression tree. Pairs form by INNER join (both buckets
    * observed); keys need `minPairs` aligned pairs and nonzero
    * variance on both sides or they are dropped (correlation of a
    * constant is undefined, not zero).
    *
    * MAGNITUDE RAIL (documented contract, mirroring the 2⁵² rails of
    * the smoother family): the sufficient statistics are Spark LONGs,
    * so `n·Σx²` must stay below 2⁶³ — with n_pairs ≤ 10⁶ aligned
    * buckets per key that bounds |x|,|y| at ~3·10⁶ (counts /
    * fixed-point millis of metric-sized values, which is what the
    * bucketed-series contract feeds). Larger magnitudes silently wrap
    * in the engine while a DuckDB oracle promotes to HUGEINT —
    * pre-scale the inputs rather than widening the rail.
    */
  def laggedCorrelation(series: DataFrame, keyCols: Seq[String],
      bucketCol: String, xCol: String, yCol: String, lagBuckets: Int,
      bucketSecs: Long, minPairs: Int = 3): DataFrame = {
    require(bucketSecs >= 1, s"bucketSecs must be >= 1: $bucketSecs")
    require(minPairs >= 2, s"minPairs must be >= 2: $minPairs")
    val shiftUs = lagBuckets.toLong * bucketSecs * 1000000L
    val a = series.select(keyCols.map(col) :+
      col(bucketCol).as("_b") :+ col(xCol).cast("long").as("_x"): _*)
    // y at t + lag, re-stamped to t so the alignment is an equi join
    val b = series.select(keyCols.map(col) :+
      timestamp_micros(unix_micros(col(bucketCol).cast("timestamp")) -
        lit(shiftUs)).as("_b") :+ col(yCol).cast("long").as("_y"): _*)
    val g = a.join(b, keyCols :+ "_b")
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"))
    val num = col("n_pairs") * col("_sxy") - col("_sx") * col("_sy")
    val varx = col("n_pairs") * col("_sxx") - col("_sx") * col("_sx")
    val vary = col("n_pairs") * col("_syy") - col("_sy") * col("_sy")
    g.filter(col("n_pairs") >= minPairs && varx > 0 && vary > 0)
      .select(keyCols.map(col) :+ col("n_pairs") :+
        floor(num.cast("double") * lit(1000000.0) /
          (sqrt(varx.cast("double")) * sqrt(vary.cast("double"))))
          .cast("long").as("corr_micro"): _*)
  }

  /** Multi-window SLO burn-rate alerting (the Google SRE workbook
    * rule): per (key, hour) the short-window bad-event rate and the
    * trailing `longHours` rate, alerting only when BOTH exceed
    * `burn × budget` — the short window catches fast burn, the long
    * window suppresses blips. `isBad` is any boolean column
    * expression (e.g. `col("value") >= 200`).
    *
    * Plan shape: ONE aggregation shuffles raw events down to
    * (key, hour) counts; the trailing window then runs over
    * bucket-count-sized data (RANGE frame on the integer hour index,
    * so unobserved hours inside the window are correctly absent
    * rather than re-densified). Rates are integral millis via
    * floor(1000·bad/total); the alert predicate is the integer
    * cross-multiply `bad·budgetDen ≥ burn·budgetNum·total` — exact,
    * hash-comparable.
    */
  def burnRate(df: DataFrame, keyCols: Seq[String], tsCol: String,
      isBad: Column, longHours: Int, budgetNum: Int, budgetDen: Int,
      burnFactor: Int): DataFrame = {
    require(longHours >= 1, s"longHours must be >= 1: $longHours")
    require(budgetNum >= 1 && budgetNum <= budgetDen,
      s"budget must be in (0, 1]: $budgetNum/$budgetDen")
    require(burnFactor >= 1, s"burnFactor must be >= 1: $burnFactor")
    val hourly = df
      .groupBy(keyCols.map(col) :+
        floor(unix_micros(col(tsCol).cast("timestamp")).cast("double") /
          lit(3600000000.0)).cast("long").as("_hidx"): _*)
      .agg(count(lit(1)).as("total"),
        sum(when(isBad, 1L).otherwise(0L)).as("bad"))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_hidx"))
      .rangeBetween(-(longHours - 1).toLong, 0L)
    val burns = hourly
      .withColumn(s"total_${longHours}h", sum(col("total")).over(w))
      .withColumn(s"bad_${longHours}h", sum(col("bad")).over(w))
    val breach = (bad: Column, total: Column) =>
      bad * lit(budgetDen.toLong) >=
        lit(burnFactor.toLong * budgetNum) * total
    burns.select(keyCols.map(col) :+
      timestamp_micros(col("_hidx") * lit(3600000000L)).as("bucket_ts") :+
      col("total") :+ col("bad") :+
      col(s"total_${longHours}h") :+ col(s"bad_${longHours}h") :+
      floor(col("bad") * lit(1000.0) / col("total")).cast("long")
        .as("burn_short_milli") :+
      floor(col(s"bad_${longHours}h") * lit(1000.0) /
        col(s"total_${longHours}h")).cast("long").as("burn_long_milli") :+
      (breach(col("bad"), col("total")) &&
        breach(col(s"bad_${longHours}h"), col(s"total_${longHours}h")))
        .as("alert"): _*)
  }

  /** Rolling z-score anomaly flags: mark samples deviating more than
    * k·σ from the mean of their own trailing window — the standard
    * streaming-metrics outlier rule (the reference only renders
    * series; flagging them is the first question an operator asks of
    * such feeds). Trailing-only (the current sample never enters its
    * own baseline), so a level-shifted sample cannot mask itself.
    *
    * Determinism/oracle design: `|x − μ| > (kNum/kDen)·σ` is
    * evaluated as the cross-multiplied INTEGER inequality
    *
    * {{{ kDen²·(n·x − S1)² > kNum²·(n·S2 − S1²) }}}
    *
    * over `v_milli` fixed-point values (S1 = Σv, S2 = Σv² across the
    * window) — no sqrt, no float accumulation, so flags hash-match a
    * SQL oracle bit-exactly. Bounds: |v_milli| ≤ V keeps every term
    * under 2⁶³ while n·V² · kNum² < 2⁶³ — at n=50, k=3 that allows
    * |v| up to ~4.5·10⁶ (engine values are ≤ 5·10⁵).
    *
    * Windows with fewer than `minPoints` baseline samples yield a
    * null flag (no baseline, not "normal"). One shuffle on the
    * series key; emits `v_milli`, `n_baseline`, `is_anomaly`.
    *
    * @param orderCols unique tiebreak columns after `tsCol`, so the
    *        walk is deterministic under equal timestamps
    */
  def rollingZScoreFlags(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, lookback: Int, kNum: Int, kDen: Int,
      minPoints: Int, orderCols: Seq[String]): DataFrame = {
    require(lookback >= 1, s"lookback must be >= 1, got $lookback")
    require(kNum >= 1 && kDen >= 1, s"k must be positive: $kNum/$kDen")
    require(minPoints >= 2 && minPoints <= lookback,
      s"minPoints must be in [2, lookback]: $minPoints")
    val w = Window.partitionBy(col(keyCol))
      .orderBy((tsCol +: orderCols).map(col): _*)
      .rowsBetween(-lookback, -1)
    val dev = col("_n") * col("v_milli") - col("_s1")
    val varTerm = col("_n") * col("_s2") - col("_s1") * col("_s1")
    // EXPLICIT session-width repartition (see Dedup.shuffleWidth):
    // the window's own exchange is byte-coalesced by AQE, serializing
    // the three rolling-sum passes. Parallelism is bounded by the key
    // cardinality either way (hash on keyCol) — still strictly better
    // than the measured single task.
    df.repartition(graft.operators.Dedup.shuffleWidth(df), col(keyCol))
      .withColumn("v_milli", floor(col(valCol) * lit(1000.0)).cast("long"))
      .withColumn("_n", count(col("v_milli")).over(w))
      .withColumn("_s1", sum(col("v_milli")).over(w))
      .withColumn("_s2", sum(col("v_milli") * col("v_milli")).over(w))
      .withColumn("n_baseline", col("_n"))
      .withColumn("is_anomaly",
        when(col("_n") < minPoints, lit(null).cast("boolean"))
          .otherwise(lit(kDen.toLong * kDen) * dev * dev >
            lit(kNum.toLong * kNum) * varTerm))
      .drop("_n", "_s1", "_s2")
  }
}
