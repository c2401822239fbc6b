package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.datagen.TranscriptGen
import graft.model.Tier
import graft.rollup.TranscriptStore

class TierRoutingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val setup: (String, String) = {
    val wh = Files.createTempDirectory("graft-route-").toString
    val rawDir = Files.createTempDirectory("graft-route-raw-").toString + "/turns"
    val turns = TranscriptGen.generate(spark, 15, 30, seed = 61L).toDF()
    turns.write.mode("overwrite").parquet(rawDir)
    val store = new TranscriptStore(spark, wh, convBuckets = 2)
    store.ingest(turns)
    store.rollupIncremental()
    store.publishServing()
    TierRouting.install(spark)
    TierRouting.registerWarehouse(rawDir, wh)
    (rawDir, wh)
  }

  private def rawQuery(tier: Tier) = {
    val (rawDir, _) = setup
    spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", tier).as("bucket_ts"))
      .agg(
        count(lit(1)).as("turn_cnt"),
        count($"tool").as("tool_cnt"),
        sum(length($"text").cast("long")).as("text_len_sum"),
        min(length($"text").cast("long")).as("text_len_min"),
        max(length($"text").cast("long")).as("text_len_max"))
  }

  test("tier_bucket expression alone is correct (rule-independent arithmetic)") {
    val (rawDir, _) = setup
    val direct = spark.read.parquet(rawDir)
      .select(TierRouting.tierBucket($"ts", Tier.Hour).as("b"))
    val viaRollup = spark.read.parquet(rawDir)
      .select(graft.rollup.Rollup.bucket($"ts", Tier.Hour).as("b"))
    assert(direct.exceptAll(viaRollup).isEmpty && viaRollup.exceptAll(direct).isEmpty)
  }

  test("aggregate over raw turns is routed to the tier table scan") {
    val df = rawQuery(Tier.Hour)
    val optimized = df.queryExecution.optimizedPlan.toString
    // routed: aggregates fold tier partials, raw text/length gone
    assert(optimized.contains("sum(turn_cnt"),
      s"plan not routed to tier table:\n$optimized")
    assert(!optimized.contains("length("),
      s"raw-side expressions still present:\n$optimized")
    assert(scansTier(df, "1h"), scannedPaths(df).toString)
  }

  test("bucket-aligned turn-rate query routes to the tier scan, results equal raw") {
    // the series-derivative routing case (r4 verdict ask #8): the
    // cumulative turn counter's per-bucket increase is count(*), so
    // turnRate emits the routable rollup shape — under the registered
    // warehouse it must scan the tier_1h table, not raw turns
    val (rawDir, _) = setup
    def rate() = graft.functions.SeriesFunctions.turnRate(
      spark.read.parquet(rawDir), "conv_id", "ts", "1h")
    val df = rate()
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("sum(turn_cnt"),
      s"turn-rate plan not routed to tier partials:\n$optimized")
    assert(scansTier(df, "1h"), s"expected a tier_1h scan, got ${scannedPaths(df)}")
    val routed = df.as[(String, java.sql.Timestamp, Long, Long)].collect().toSet
    TierRouting.clearRegistry()
    val unrouted = rate().as[(String, java.sql.Timestamp, Long, Long)]
      .collect().toSet
    TierRouting.registerWarehouse(setup._1, setup._2)
    assert(routed == unrouted && routed.nonEmpty,
      "routed turn-rate diverged from the raw computation")
  }

  test("routed results equal the unrouted computation, every tier") {
    Tier.cascade.foreach { tier =>
      val routed = rawQuery(tier)
        .as[(String, java.sql.Timestamp, Long, Long, Long, Long, Long)]
        .collect().toSet
      // force the unrouted plan by clearing the registry
      TierRouting.clearRegistry()
      val unrouted = rawQuery(tier)
        .as[(String, java.sql.Timestamp, Long, Long, Long, Long, Long)]
        .collect().toSet
      TierRouting.registerWarehouse(setup._1, setup._2)
      assert(routed == unrouted, s"tier ${tier.name} routed != raw")
      assert(routed.nonEmpty)
    }
  }

  // ---------------------------------------------------------------
  // safety rails (round-2 ADVICE): Filter bail-out, freshness guard,
  // unpublished fall-through, fold-from-finer
  // ---------------------------------------------------------------

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten

  /** Does the plan scan tier `name`'s table, i.e. files of a pinned
    * tier snapshot under `tier_<name>/data/`?
    */
  private def scansTier(df: org.apache.spark.sql.DataFrame, name: String): Boolean =
    scannedPaths(df).exists(_.contains(s"/tier_$name/data/"))

  private def scansAnyTier(df: org.apache.spark.sql.DataFrame): Boolean =
    Tier.cascade.exists(t => scansTier(df, t.name))

  /** Fresh warehouse + raw parquet dir for an isolated routing test. */
  private def mkStore(turns: org.apache.spark.sql.DataFrame, publish: Boolean)
      : (String, String, TranscriptStore) = {
    val wh = Files.createTempDirectory("graft-route2-").toString
    val rawDir = Files.createTempDirectory("graft-route2-raw-").toString + "/turns"
    turns.write.mode("overwrite").parquet(rawDir)
    val store = new TranscriptStore(spark, wh, convBuckets = 2)
    store.ingest(turns)
    store.rollupIncremental()
    if (publish) store.publishServing()
    TierRouting.install(spark)
    TierRouting.registerWarehouse(rawDir, wh)
    (rawDir, wh, store)
  }

  test("production path: builder.withExtensions(GraftExtensions) routes, no install()") {
    import org.apache.spark.sql.SparkSession
    val turns = TranscriptGen.generate(spark, 6, 15, seed = 86L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    // a fresh session built the way a real deployment does it:
    // withExtensions must provide BOTH the SQL surface (tier_bucket)
    // and the optimizer rule — TierRouting.install is never called on
    // it. getOrCreate returns the existing session when one is
    // default/active (ignoring new extensions), so clear + restore.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val fresh = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate() // shares the SparkContext, new session state
      assert(fresh ne spark, "expected a NEW session over the shared context")
      fresh.read.parquet(rawDir).createOrReplaceTempView("turns_ext")
      val q = fresh.sql(
        "SELECT conv_id, tier_bucket(ts, '1h') AS bucket_ts, " +
          "count(*) AS turn_cnt FROM turns_ext GROUP BY 1, 2")
      assert(scansTier(q, "1h"),
        "extensions-injected rule did not route:\n" +
          q.queryExecution.optimizedPlan.toString)
      val got = q.as[(String, java.sql.Timestamp, Long)](
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.TIMESTAMP, org.apache.spark.sql.Encoders.scalaLong))
        .collect().toSet
      val expected = turns
        .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
        .agg(count(lit(1)).as("turn_cnt"))
        .as[(String, java.sql.Timestamp, Long)].collect().toSet
      assert(got == expected)
      // do NOT fresh.stop(): the SparkContext is shared with every suite
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("a Filter between aggregate and scan blocks routing (no unfiltered totals)") {
    val turns = TranscriptGen.generate(spark, 8, 20, seed = 71L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    def q = spark.read.parquet(rawDir)
      .filter($"role" === "user")
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
    assert(!scansAnyTier(q),
      q.queryExecution.optimizedPlan.toString)
    // ground truth from the in-memory turns (never routable)
    val expected = turns
      .filter($"role" === "user")
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
      .as[(String, java.sql.Timestamp, Long)].collect().toSet
    assert(q.as[(String, java.sql.Timestamp, Long)].collect().toSet == expected)
    // sanity: the same query WITHOUT the filter does route
    def qAll = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
    assert(scansTier(qAll, "1h"))
  }

  test("a conv_id-only Filter is TRANSLATED onto the tier scan, not bailed") {
    val turns = TranscriptGen.generate(spark, 8, 20, seed = 76L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    def q = spark.read.parquet(rawDir)
      .filter($"conv_id" =!= "conv-000003")
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"),
        sum(length($"text").cast("long")).as("text_len_sum"))
    assert(scansTier(q, "1h"),
      q.queryExecution.optimizedPlan.toString)
    val expected = turns
      .filter($"conv_id" =!= "conv-000003")
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"),
        sum(length($"text").cast("long")).as("text_len_sum"))
      .as[(String, java.sql.Timestamp, Long, Long)].collect().toSet
    val got = q.as[(String, java.sql.Timestamp, Long, Long)].collect().toSet
    assert(got == expected)
    assert(!got.exists(_._1 == "conv-000003"), "filter was dropped")
  }

  test("bucket-aligned ts ranges translate onto the tier scan; unaligned bail") {
    val turns = TranscriptGen.generate(spark, 8, 30, seed = 78L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    // an hour-aligned bound in the middle of the data
    val mid = turns.agg(min($"ts")).as[java.sql.Timestamp].head()
    val aligned = new java.sql.Timestamp((mid.getTime / 3600000L + 1) * 3600000L)
    def q(bound: java.sql.Timestamp) = spark.read.parquet(rawDir)
      .filter($"ts" >= lit(bound) && $"conv_id" =!= "conv-000001")
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
    assert(scansTier(q(aligned), "1h"),
      q(aligned).queryExecution.optimizedPlan.toString)
    val expected = turns
      .filter($"ts" >= lit(aligned) && $"conv_id" =!= "conv-000001")
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
      .as[(String, java.sql.Timestamp, Long)].collect().toSet
    assert(q(aligned).as[(String, java.sql.Timestamp, Long)].collect().toSet
      == expected)
    // 1 µs off the boundary → must NOT route
    val unaligned = new java.sql.Timestamp(aligned.getTime + 1)
    assert(!scansAnyTier(q(unaligned)),
      "unaligned time bound must bail to the raw plan")
  }

  test("unpublished warehouse falls through to the raw scan (no optimizer crash)") {
    val turns = TranscriptGen.generate(spark, 6, 15, seed = 72L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = false)
    val q = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
    assert(!scansAnyTier(q))
    assert(q.count() > 0)
  }

  test("stale serving data is not routed; re-publish restores routing") {
    val turns = TranscriptGen.generate(spark, 8, 20, seed = 73L).toDF()
    val (rawDir, _, store) = mkStore(turns, publish = true)
    def q = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
    assert(scansTier(q, "1h"))
    // second ingest advances raw CURRENT past the published watermark
    val more = TranscriptGen.generate(spark, 4, 10, seed = 74L).toDF()
    more.write.mode("append").parquet(rawDir)
    store.ingest(more)
    assert(!scansAnyTier(q),
      "stale serving data must not be routed")
    store.rollupIncremental()
    store.publishServing()
    assert(scansTier(q, "1h"))
  }

  test("a pure-SQL query using tier_bucket() routes to the tier table") {
    val turns = TranscriptGen.generate(spark, 6, 15, seed = 77L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet(rawDir).createOrReplaceTempView("raw_turns_sql")
    def q = spark.sql(
      """SELECT conv_id, tier_bucket(ts, '1h') AS bucket_ts,
        |  count(*) AS turn_cnt, count(tool) AS tool_cnt
        |FROM raw_turns_sql GROUP BY 1, 2""".stripMargin)
    assert(scansTier(q, "1h"),
      q.queryExecution.optimizedPlan.toString)
    val expected = turns
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"), count($"tool").as("tool_cnt"))
      .as[(String, java.sql.Timestamp, Long, Long)].collect().toSet
    assert(q.as[(String, java.sql.Timestamp, Long, Long)].collect().toSet == expected)
  }

  test("pure-SQL monthly dashboard routes to the 1d tier") {
    val turns = TranscriptGen.generate(spark, 6, 15, seed = 93L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet(rawDir).createOrReplaceTempView("raw_monthly_sql")
    def q = spark.sql(
      """SELECT tier_bucket(ts, '1mo') AS month,
        |  count(*) AS turn_cnt, count(DISTINCT conv_id) AS active_convs
        |FROM raw_monthly_sql GROUP BY 1""".stripMargin)
    assert(scansTier(q, "1d"),
      q.queryExecution.optimizedPlan.toString)
    val expected = turns
      .groupBy(TierRouting.tierBucket($"ts", "1mo").as("month"))
      .agg(count(lit(1)).as("turn_cnt"),
        count_distinct($"conv_id").as("active_convs"))
      .as[(java.sql.Timestamp, Long, Long)].collect().toSet
    assert(q.as[(java.sql.Timestamp, Long, Long)].collect().toSet == expected)
    assert(expected.nonEmpty)
  }

  test("1d request with no 1d pin folds the 1h tier") {
    val turns = TranscriptGen.generate(spark, 10, 25, seed = 75L).toDF()
    val (rawDir, wh, _) = mkStore(turns, publish = true)
    val pins = TierRouting.pinsPath(wh)
    Files.writeString(pins, Files.readString(pins).linesIterator
      .filterNot(_.startsWith("1d ")).mkString("", "\n", "\n"))
    assert(TierRouting.servingPins(wh).keySet == Set("1m", "1h"))
    def q = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Day).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"),
        sum(length($"text").cast("long")).as("text_len_sum"))
    assert(scansTier(q, "1h"),
      q.queryExecution.optimizedPlan.toString)
    val expected = turns
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Day).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"),
        sum(length($"text").cast("long")).as("text_len_sum"))
      .as[(String, java.sql.Timestamp, Long, Long)].collect().toSet
    assert(q.as[(String, java.sql.Timestamp, Long, Long)].collect().toSet == expected)
  }

  test("non-routable aggregates fall through to the raw scan unchanged") {
    val (rawDir, _) = setup
    // sum(turn_idx) has no tier partial → must NOT route
    val df = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("b"))
      .agg(sum($"turn_idx").as("idx_sum"))
    assert(!scansAnyTier(df), df.queryExecution.optimizedPlan.toString)
    assert(df.count() > 0)
  }

  test("GLOBAL (bucket-only) rollup routes — the dashboard shape") {
    val turns = TranscriptGen.generate(spark, 8, 20, seed = 83L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    def q = spark.read.parquet(rawDir)
      .groupBy(TierRouting.tierBucket($"ts", Tier.Day).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"),
        count_distinct($"conv_id").as("active_convs"),
        sum(length($"text").cast("long")).as("text_len_sum"))
    assert(scansTier(q, "1d"),
      q.queryExecution.optimizedPlan.toString)
    val expected = turns
      .groupBy(TierRouting.tierBucket($"ts", Tier.Day).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"),
        count_distinct($"conv_id").as("active_convs"),
        sum(length($"text").cast("long")).as("text_len_sum"))
      .as[(java.sql.Timestamp, Long, Long, Long)].collect().toSet
    assert(q.as[(java.sql.Timestamp, Long, Long, Long)].collect().toSet == expected)
    assert(expected.nonEmpty)
  }

  test("avg(length(text)) routes via the sum/count-derived form") {
    val turns = TranscriptGen.generate(spark, 8, 20, seed = 84L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    def q = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(avg(length($"text")).as("avg_len"))
    assert(scansTier(q, "1h"),
      q.queryExecution.optimizedPlan.toString)
    val expected = turns
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(avg(length($"text")).as("avg_len"))
      .as[(String, java.sql.Timestamp, Double)].collect().toSet
    assert(q.as[(String, java.sql.Timestamp, Double)].collect().toSet == expected)
  }

  test("avg(length(text)) stays exact when text has NULLs (text_cnt divisor)") {
    // raw Average divides by the NON-NULL count; a turn_cnt divisor
    // would silently dilute the average on this table (ADVICE r3)
    val base = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val rows = (0 until 40).map { i =>
      val text: String = if (i % 4 == 0) null else "x" * (10 + i % 7)
      ("c" + (i % 2), i / 2, "user", text, null: String,
        new java.sql.Timestamp(base.getTime + i * 60000L))
    }
    val turns = rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val (rawDir, _, _) = mkStore(turns, publish = true)
    def q = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(avg(length($"text")).as("avg_len"))
    assert(scansTier(q, "1h"),
      q.queryExecution.optimizedPlan.toString)
    val expected = turns
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(avg(length($"text")).as("avg_len"))
      .as[(String, java.sql.Timestamp, Double)].collect().toSet
    assert(q.as[(String, java.sql.Timestamp, Double)].collect().toSet == expected)
  }

  test("routed avg over an ALL-null-text bucket is null, never DIVIDE_BY_ZERO (ANSI)") {
    // Sum(text_cnt) = 0 there: the rewrite must divide in LEGACY mode
    // (mirroring Average) — a session-default ANSI Divide would throw
    // exactly where the unrouted plan returns null
    val base = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val rows = (0 until 20).map { i =>
      val conv = "c" + (i % 2)
      val text: String = if (i % 2 == 0) null else "y" * (10 + i % 3)
      (conv, i / 2, "user", text, null: String,
        new java.sql.Timestamp(base.getTime + i * 60000L))
    }
    val turns = rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val (rawDir, _, _) = mkStore(turns, publish = true)
    def q = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(avg(length($"text")).as("avg_len"))
    assert(scansTier(q, "1h"),
      q.queryExecution.optimizedPlan.toString)
    val routed = q.collect().map(r =>
      (r.getString(0), Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    val raw = turns
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(avg(length($"text")).as("avg_len"))
      .collect().map(r =>
        (r.getString(0), Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    assert(routed == raw)
    assert(routed.exists(_._2.isEmpty), "fixture lost its all-null bucket")
  }

  test("a column ALIASED as ts/conv_id must not route (exprId binding)") {
    val turns = TranscriptGen.generate(spark, 8, 20, seed = 85L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    // turn_idx masquerading as conv_id: name matches, exprId does not —
    // routing would translate the grouping onto the WRONG tier column
    def q = spark.read.parquet(rawDir)
      .select($"ts", $"turn_idx".cast("string").as("conv_id"))
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
    assert(!scansAnyTier(q),
      "aliased conv_id routed: " + q.queryExecution.optimizedPlan.toString)
    // and a wrong-ts alias must bail too
    def q2 = spark.read.parquet(rawDir)
      .select($"conv_id", ($"ts" + expr("INTERVAL 1 HOUR")).as("ts"))
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
    assert(!scansAnyTier(q2),
      "shifted-ts alias routed: " + q2.queryExecution.optimizedPlan.toString)
    // values stay correct (computed from raw)
    val expected = turns
      .select($"ts", $"turn_idx".cast("string").as("conv_id"))
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
      .as[(String, java.sql.Timestamp, Long)].collect().toSet
    assert(q.as[(String, java.sql.Timestamp, Long)].collect().toSet == expected)
  }

  test("a sibling table sharing a name PREFIX never routes onto a foreign warehouse") {
    val turns = TranscriptGen.generate(spark, 6, 15, seed = 87L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    // rawDir ends in /turns — write a DIFFERENT table at /turns_other:
    // substring matching would claim it for the registered warehouse
    val foreign = rawDir + "_other"
    TranscriptGen.generate(spark, 3, 10, seed = 88L).toDF()
      .write.mode("overwrite").parquet(foreign)
    def q = spark.read.parquet(foreign)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
    assert(!scansAnyTier(q),
      "foreign table routed onto another warehouse's tiers: " +
        q.queryExecution.optimizedPlan.toString)
    // the registered table itself still routes
    def qOwn = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
    assert(scansTier(qOwn, "1h"))
  }

  test("calendar and arbitrary widths route: 1mo/1y/2h fold tiers, 90s bails") {
    val turns = TranscriptGen.generate(spark, 8, 25, seed = 89L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    def q(spec: String) = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", spec).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"),
        sum(length($"text").cast("long")).as("text_len_sum"))
    def expected(spec: String) = turns
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", spec).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"),
        sum(length($"text").cast("long")).as("text_len_sum"))
      .as[(String, java.sql.Timestamp, Long, Long)].collect().toSet
    // monthly report: serves from the 1d tier, never raw
    assert(scansTier(q("1mo"), "1d"),
      q("1mo").queryExecution.optimizedPlan.toString)
    assert(q("1mo").as[(String, java.sql.Timestamp, Long, Long)]
      .collect().toSet == expected("1mo"))
    // yearly: also from 1d
    assert(scansTier(q("1y"), "1d"))
    assert(q("1y").as[(String, java.sql.Timestamp, Long, Long)]
      .collect().toSet == expected("1y"))
    // 2h: folds the 1h tier
    assert(scansTier(q("2h"), "1h"))
    assert(q("2h").as[(String, java.sql.Timestamp, Long, Long)]
      .collect().toSet == expected("2h"))
    // 90s: no tier divides it → must bail to raw (values still right)
    assert(!scansAnyTier(q("90s")),
      "90s has no serving tier and must not route")
    assert(q("90s").as[(String, java.sql.Timestamp, Long, Long)]
      .collect().toSet == expected("90s"))
    // the calendar marker itself equals Rollup's calendar bucketing
    val mism = turns.select(
      TierRouting.tierBucket($"ts", "1mo").as("a"),
      graft.rollup.Rollup.bucketWidth($"ts", "1mo").as("b"))
      .filter($"a" =!= $"b").count()
    assert(mism == 0, "tier_bucket('1mo') diverges from Rollup.bucketWidth")
  }

  test("TWO tier_bucket groupings of different widths must bail (not collapse)") {
    val turns = TranscriptGen.generate(spark, 6, 15, seed = 91L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    // routing would pick ONE width and rewrite both columns to it —
    // the 'hour' column would silently contain day buckets
    def q = spark.read.parquet(rawDir)
      .groupBy(TierRouting.tierBucket($"ts", Tier.Day).as("day"),
        TierRouting.tierBucket($"ts", Tier.Hour).as("hour"))
      .agg(count(lit(1)).as("turn_cnt"))
    assert(!scansAnyTier(q),
      "double-bucket grouping routed: " + q.queryExecution.optimizedPlan.toString)
    val expected = turns
      .groupBy(TierRouting.tierBucket($"ts", Tier.Day).as("day"),
        TierRouting.tierBucket($"ts", Tier.Hour).as("hour"))
      .agg(count(lit(1)).as("turn_cnt"))
      .as[(java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(q.as[(java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet == expected)
    // distinct day vs hour buckets really exist in the result
    assert(expected.exists(r => r._1 != r._2))
  }

  test("HAVING / sort above the aggregate still routes (exprIds preserved)") {
    val turns = TranscriptGen.generate(spark, 8, 20, seed = 90L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    def q = spark.read.parquet(rawDir)
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
      .filter($"turn_cnt" >= 3) // HAVING: applies to the routed output
      .orderBy($"conv_id", $"bucket_ts")
    assert(scansTier(q, "1h"),
      q.queryExecution.optimizedPlan.toString)
    val expected = turns
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"))
      .filter($"turn_cnt" >= 3)
      .as[(String, java.sql.Timestamp, Long)].collect().toSet
    assert(q.as[(String, java.sql.Timestamp, Long)].collect().toSet == expected)
    assert(expected.nonEmpty)
  }

  test("non-UTC session: tier_bucket matches bucketWidth, calendar routing bails") {
    val turns = TranscriptGen.generate(spark, 6, 15, seed = 92L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      // the marker floors in the SESSION zone, same as Rollup's
      // year()/month() path — they must agree in any zone
      val mism = spark.read.parquet(rawDir).select(
        TierRouting.tierBucket($"ts", "1mo").as("a"),
        graft.rollup.Rollup.bucketWidth($"ts", "1mo").as("b"))
        .filter($"a" =!= $"b").count()
      assert(mism == 0, "tier_bucket('1mo') diverges from bucketWidth off-UTC")
      // calendar ROUTING is unsound off-UTC (month starts are not UTC
      // day starts) → must bail to raw; fixed widths still route
      def q(spec: String) = spark.read.parquet(rawDir)
        .groupBy($"conv_id", TierRouting.tierBucket($"ts", spec).as("bucket_ts"))
        .agg(count(lit(1)).as("turn_cnt"))
      assert(!scansAnyTier(q("1mo")),
        "calendar request routed in a non-UTC session")
      assert(scansTier(q("1h"), "1h"),
        "fixed-width routing must be unaffected by the session zone")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("an aggregate FILTER clause blocks routing (partials cannot re-filter)") {
    val turns = TranscriptGen.generate(spark, 6, 15, seed = 86L).toDF()
    val (rawDir, _, _) = mkStore(turns, publish = true)
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet(rawDir).createOrReplaceTempView("raw_filter_sql")
    def q = spark.sql(
      """SELECT conv_id, tier_bucket(ts, '1h') AS bucket_ts,
        |  count(*) FILTER (WHERE role = 'user') AS user_cnt
        |FROM raw_filter_sql GROUP BY 1, 2""".stripMargin)
    assert(!scansAnyTier(q),
      q.queryExecution.optimizedPlan.toString)
    val expected = turns
      .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
      .agg(count(when($"role" === "user", 1)).as("user_cnt"))
      .as[(String, java.sql.Timestamp, Long)].collect().toSet
    assert(q.as[(String, java.sql.Timestamp, Long)].collect().toSet == expected)
  }

  // ---------------------------------------------------------------
  // the publish pin: routed reads scan the tier snapshot pinned at
  // publish, and nothing newer or older
  // ---------------------------------------------------------------

  private def hourly(df: org.apache.spark.sql.DataFrame) = df
    .groupBy($"conv_id", TierRouting.tierBucket($"ts", Tier.Hour).as("bucket_ts"))
    .agg(count(lit(1)).as("turn_cnt"), sum(length($"text").cast("long")).as("text_len_sum"))

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, java.sql.Timestamp, Long, Long)].collect().toSet

  /** One more batch into both the raw parquet dir and the store. */
  private def deliver(rawDir: String, store: TranscriptStore, nConvs: Int, seed: Long): Unit = {
    val more = TranscriptGen.generate(spark, nConvs, 12, seed = seed).toDF()
    more.write.mode("append").parquet(rawDir)
    store.ingest(more)
  }

  test("after several batches the routed answer equals raw and reads the pinned snapshot") {
    val (rawDir, wh, store) =
      mkStore(TranscriptGen.generate(spark, 6, 12, seed = 94L).toDF(), publish = true)
    (95L to 97L).foreach { seed =>
      deliver(rawDir, store, 8, seed)
      store.rollupIncremental()
      store.publishServing()
      val q = hourly(spark.read.parquet(rawDir))
      val pin = TierRouting.servingPins(wh)("1h")
      assert(pin.snapshotId == store.tier1h.currentSnapshotId)
      assert(pin.rawSnapshotId == store.raw.currentSnapshotId)
      val scanned = scannedPaths(q).map(p => p.substring(p.indexOf("/tier_1h/data/") + 14))
      assert(scanned.toSet == store.tier1h.liveFiles(pin.snapshotId).map(_.path).toSet,
        s"seed $seed: not the pinned snapshot's files: $scanned")
      // a checkpointed frame is no parquet scan: never routed
      assert(rowsOf(q) == rowsOf(hourly(spark.read.parquet(rawDir).localCheckpoint())),
        s"seed $seed: routed != raw")
    }
  }

  test("a rollup after publish is not served until the next publish") {
    val (rawDir, wh, store) =
      mkStore(TranscriptGen.generate(spark, 6, 12, seed = 98L).toDF(), publish = true)
    def q = hourly(spark.read.parquet(rawDir))
    assert(scansTier(q, "1h"))
    val pinned = TierRouting.servingPins(wh)
    deliver(rawDir, store, 8, 99L)
    store.rollupIncremental()
    // the tiers are current, but the pin still names the old snapshots,
    // which miss the new batch: the stale pin falls back to raw
    assert(TierRouting.servingPins(wh) == pinned)
    assert(!scansAnyTier(q), q.queryExecution.optimizedPlan.toString)
    val raw = rowsOf(q)
    store.publishServing()
    assert(scansTier(q, "1h"))
    assert(rowsOf(q) == raw)
  }

  test("after a raw-plus-tiers retention, a publish alone restores routing") {
    import org.apache.spark.sql.functions.expr
    // the raw parquet dir holds what the retention keeps; the store
    // also holds a copy 60 days older, which the retention expires
    val turns = TranscriptGen.generate(spark, 6, 12, seed = 103L).toDF()
    val (rawDir, _, store) = mkStore(turns, publish = false)
    store.ingest(turns.withColumn("ts", expr("ts - INTERVAL 60 DAYS"))
      .withColumn("turn_idx", $"turn_idx" + 2000))
    store.rollupIncremental()
    store.publishServing()
    def q = hourly(spark.read.parquet(rawDir))
    assert(scansTier(q, "1h"))
    val dropped = store.retain(Map("raw" -> 30, "1m" -> 30, "1h" -> 30, "1d" -> 30),
      java.time.LocalDate.parse("2024-01-01"))
    assert(dropped.values.forall(_ > 0), dropped.toString)
    // the drop moved raw CURRENT past the pins
    assert(!scansAnyTier(q))
    store.publishServing()
    assert(scansTier(q, "1h"), q.queryExecution.optimizedPlan.toString)
    assert(rowsOf(q) == rowsOf(hourly(spark.read.parquet(rawDir).localCheckpoint())))
  }

  test("vacuum(1) after an unpublished rollup keeps the published snapshot readable") {
    val (rawDir, wh, store) =
      mkStore(TranscriptGen.generate(spark, 6, 12, seed = 100L).toDF(), publish = true)
    // planned now: the routed scan's file list is fixed at the pin
    val q = hourly(spark.read.parquet(rawDir))
    assert(scansTier(q, "1h"))
    val published = rowsOf(hourly(spark.read.parquet(rawDir).localCheckpoint()))
    val pin = TierRouting.servingPins(wh)("1h")
    deliver(rawDir, store, 8, 101L)
    store.rollupIncremental()
    // the rollup rewrote day partitions of the pinned snapshot
    assert((store.tier1h.liveFiles(pin.snapshotId).map(_.path).toSet --
      store.tier1h.liveFiles().map(_.path)).nonEmpty)
    store.vacuum(1)
    assert(store.tier1h.snapshot(pin.snapshotId).isDefined, "pinned snapshot vacuumed")
    assert(rowsOf(q) == published, "routed answer changed after vacuum")
  }

  test("a missing or old-format pin falls back to the raw plan") {
    val turns = TranscriptGen.generate(spark, 6, 12, seed = 102L).toDF()
    val (rawDir, wh, store) = mkStore(turns, publish = false)
    def q = hourly(spark.read.parquet(rawDir))
    val sid = store.raw.currentSnapshotId
    // the serving files of the copy-based publish: a WATERMARKS stamp
    // and a parquet copy, but no pin
    Files.createDirectories(TierRouting.pinsPath(wh).getParent)
    Files.writeString(java.nio.file.Paths.get(wh, "serve", "WATERMARKS"),
      s"1m=$sid\n1h=$sid\n1d=$sid\n")
    store.readTier(Tier.Hour).write.parquet(s"$wh/serve/tier_1h")
    assert(TierRouting.servingPins(wh).isEmpty)
    assert(!scansAnyTier(q) && !scannedPaths(q).exists(_.contains("/serve/")))
    // a pin file in the old line format pins nothing
    Files.writeString(TierRouting.pinsPath(wh), s"1m=$sid\n1h=$sid\n1d=$sid\n")
    assert(TierRouting.servingPins(wh).isEmpty)
    assert(!scansAnyTier(q))
    assert(rowsOf(q) == rowsOf(hourly(turns)))
    store.publishServing()
    assert(scansTier(q, "1h"))
  }
}
