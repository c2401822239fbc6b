package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.datagen.TranscriptGen
import graft.model.Tier
import graft.rollup.Rollup

/** Per-round benchmark: one JSON line (printed, and written to
  * `BENCH/LAST_BENCH.json`) with per-query wall
  * times on SPARK_GRAFT_SF_DIR plus the headline BASELINE metric —
  * rolled-up turns/sec through the production-shaped 1m→1h→1d
  * cascade on a deterministic generated input (seed 42, salted
  * (conv, hour) file layout like real ingest). Full two-parallelism
  * scaling evidence lives in graft.ScalingBench / BENCH/BASELINE.md.
  */
object Bench {

  /** `/proc/loadavg` snapshot — (1m, 5m, 15m, running/total procs).
    * Stamped into the JSON so a reader can tell box load from code
    * regression without rerunning; "?" when unreadable (non-Linux).
    */
  private def loadStamp(): String =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim.split("\\s+")
      s""""load1":${f(0)},"load5":${f(1)},"load15":${f(2)},"procs":"${f(3)}""""
    } catch { case scala.util.control.NonFatal(_) =>
      """"load1":-1,"load5":-1,"load15":-1,"procs":"?"""" }

  def main(args: Array[String]): Unit = {
    val loadStart = loadStamp()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    // Untimed warm-up BEFORE the per-query loop: the first timed query
    // otherwise absorbs ~3-5 s of one-off JIT/codegen/parquet-reader
    // warm-up, manufacturing phantom regressions for whichever query
    // happens to run first (r2: q_text_stats; r3: q_rollup_30s). One
    // throwaway pass through a read→hash-agg→window shape warms the
    // scan, codegen, and exchange machinery the real queries use.
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      ev.groupBy(col("event_type")).count().count()
      ev.select(row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("event_id"))).as("rn"))
        .filter(col("rn") === 1).count()
      // NonFatal only: a fatal error (OOM) leaves the JVM heap-
      // thrashed and every timing after it would be laundered into
      // the artifact — let it kill the run loudly instead
    } catch { case scala.util.control.NonFatal(_) => () }

    // a crashed query must not look fast: its time is reported as -1
    // AND its error surfaces in the "errors" object of the JSON line.
    //
    // MIN-OF-2 per query (r4 verdict ask): three rounds running, a
    // transient co-tenant/box-load spike read as a phantom code
    // regression in this artifact. The min of two interleaved-in-time
    // runs discards a spike that hit only one of them; the loadavg
    // stamps below let a reader see residual whole-run load.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          errors(name) = (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("")).take(160)
            .replaceAll("""[\\"\n\r\t]""", " ")
          false
      }
      val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // untimed: release cached/localCheckpointed blocks the finished
      // query left behind — iterative operators checkpoint per round,
      // and leaked blocks steal execution memory from LATER queries
      // (measured: the 10x ScaleSpot pass distorted ~5x without this)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      t
    }
    val results = SparkEntry.queries.map { case (name, fn) =>
      val t1 = runOnce(name, fn)
      // a failed first run is final (-1); retrying would hide flaky
      // failures behind a passing second attempt
      val t = if (t1 < 0) t1 else {
        val t2 = runOnce(name, fn)
        if (t2 < 0) -1.0 else math.min(t1, t2)
      }
      name -> t
    }

    // headline: rolled-up turns/sec across the cascade (write-path
    // shape, matching the pipeline's tier commits)
    val throughput = try {
      import org.apache.spark.sql.functions.col
      val base = Files.createTempDirectory("graft-bench-").toString
      val input = s"$base/turns"
      // ~9M turns: large enough that the cascade measures engine
      // throughput, not fixed job overhead (the 93M-turn evidence
      // lives in ScalingBench / BENCH/BASELINE.md)
      TranscriptGen.generate(spark, 8000, 800, seed = 42L, hotShare = 0.1,
          maxDeltaSecs = 15, partitions = 64)
        .toDF()
        .repartition(64, col("conv_id"), Rollup.bucket(col("ts"), Tier.Hour))
        .write.mode("overwrite").parquet(input)
      val turns = spark.read.parquet(input)
      val n = turns.count()
      def cascade(): Double = {
        val t0 = System.nanoTime()
        Rollup.rollupRaw(turns, Tier.Minute)
          .write.mode("overwrite").parquet(s"$base/m1")
        Rollup.foldTier(spark.read.parquet(s"$base/m1"), Tier.Hour)
          .write.mode("overwrite").parquet(s"$base/h1")
        Rollup.foldTier(spark.read.parquet(s"$base/h1"), Tier.Day)
          .write.mode("overwrite").parquet(s"$base/d1")
        (System.nanoTime() - t0) / 1e9
      }
      cascade() // warm-up
      n / math.min(cascade(), cascade()) // min-of-2: same rationale as queries
    } catch {
      case e: Throwable =>
        errors("rollup_throughput") = (e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("")).take(160)
          .replaceAll("""[\\"\n\r\t]""", " ")
        -1.0
    }

    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // the round-2 query set, frozen: round-over-round comparisons read
    // common_total so newly added queries stop confounding the trend.
    // common_errored flags broken common queries — their omitted wall
    // time must not read as a speedup.
    val commonTotal = results.collect {
      case (k, v) if r2Queries.contains(k) && v >= 0 => v }.sum
    // errored OR missing (renamed/removed) — either way the omitted
    // wall time must not read as a speedup
    val commonErrored = results.count {
      case (k, v) => r2Queries.contains(k) && v < 0 } +
      r2Queries.diff(results.keySet).size
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""errors":$errs,"error_count":${errors.size},""" +
      s""""common_total":$commonTotal,"common_n":${r2Queries.size},""" +
      s""""common_errored":$commonErrored,""" +
      s""""rollup_throughput_turns_per_sec":$throughput,""" +
      s""""per_query_runs":2,"timing":"min_of_runs",""" +
      s""""load_start":{$loadStart},"load_end":{${loadStamp()}},""" +
      s""""sf":"$sfDir"}"""
    println(line)
    // persisted after every timed region: the same line, same keys
    try {
      val out = java.nio.file.Paths.get("BENCH", "LAST_BENCH.json")
      Files.createDirectories(out.getParent)
      Files.writeString(out, line + "\n")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write BENCH/LAST_BENCH.json: $e") }
    spark.stop()
  }

  /** The 47 queries benched in round 2 (BENCH_r02.json) — the stable
    * basis for cross-round wall-time comparison.
    */
  private val r2Queries: Set[String] = Set(
    "q1_agg", "q_align_join", "q_anti_join", "q_asof_align",
    "q_asof_prev_user", "q_chunk_roundtrip", "q_collect_tools",
    "q_conv_wide", "q_cumulative_1d", "q_cumulative_distinct_tools",
    "q_daily_active", "q_dedup_drop_all", "q_dedup_exact",
    "q_embed_cosine_topk", "q_embed_lsh_topk", "q_embed_neardup",
    "q_embed_neardup_lsh", "q_frame_sample", "q_gapfill_1h",
    "q_gapfill_locf_1h", "q_gapfill_zero_1h", "q_head_per_conv",
    "q_lang_id", "q_median_text_len", "q_minhash_lsh", "q_mode_tool",
    "q_multimodal_meta", "q_ngram_jaccard", "q_ngram_jaccard_lsh",
    "q_region_rollup", "q_role_pivot", "q_rollup_1d", "q_rollup_1h",
    "q_rollup_1m", "q_rollup_30s", "q_rollup_cascade_1d",
    "q_rollup_round_5m", "q_rollup_salted_1m", "q_semi_join",
    "q_sessionize", "q_simhash", "q_text_stats", "q_tokenize",
    "q_tree_depth", "q_tree_depth_doubling", "q_turns", "q_window_lag")
}
