package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale spot-check (r3 verdict ask #10): run the headline query
  * set at the bench SF and at 10× that SF, and report the per-query
  * time ratio — a superlinear surprise sf0.1 cannot show reads as a
  * ratio well above the replication factor.
  *
  * The 10× corpus is built the way the real corpus grows: 10 id-
  * shifted copies of events (new user ranges → 10× conversations of
  * unchanged length), documents, and embeddings. Brute-force O(n²)
  * oracle-baseline queries (q_embed_cosine_topk, q_embed_neardup,
  * q_ngram_jaccard's sampled all-pairs) are superlinear BY DESIGN and
  * excluded — their LSH/IVF scale twins are what's measured.
  *
  * Output: one JSON line {"sf_dir":…, "factor":10, "queries":
  * {name: {"t1":s, "t10":s, "ratio":r}}} recorded in BENCH/BASELINE.md.
  */
object ScaleSpot {

  /** Queries measured at both scales — every family's scale path. */
  private val headline = Seq(
    "q_rollup_1m", "q_rollup_1h", "q_rollup_1d", "q_rollup_cascade_1d",
    "q_rollup_30s", "q_align_join", "q_gapfill_1h", "q_cumulative_1d",
    "q_sessionize", "q_window_lag", "q_tree_depth", "q_tree_depth_doubling",
    "q_head_per_conv", "q_chunk_roundtrip", "q_dedup_exact",
    "q_counter_rate", "q_counter_rate_1h", "q_turn_rate_1h",
    "q_rolling_actives_7d", "q_downsample_1h",
    "q_semi_join", "q_anti_join", "q_mode_tool",
    "q_text_stats", "q_lang_id", "q_tokenize", "q_log_templates",
    "q_minhash_lsh", "q_ngram_jaccard_lsh", "q_simhash",
    "q_neardup_components", "q_stratified_sample", "q_pack_shards",
    "q_decontaminate",
    "q_embed_lsh_topk", "q_embed_ivf_topk", "q_embed_neardup_lsh",
    "q_embed_lsh_topk_auto", "q_embed_ivf_topk_auto", "q_embed_neardup_lsh_auto",
    "q_embed_neardup_lsh_auto_4x",
    // r5 additions: interval joins, sketch, anomaly, text scrubs, EWMA
    "q_interval_join", "q_interval_overlap", "q_cms_heavy_hitters",
    "q_anomaly_zscore", "q_pii_redact", "q_repetition_stats", "q_ewma",
    "q_histogram_p90", "q_cohort_retention",
    "q_seasonal_baseline", "q_cusum_drift",
    "q_funnel", "q_transition_matrix", "q_holt_forecast", "q_twa_1h",
    "q_snapshot_diff", "q_profile",
    // r5 late additions: exact set-sim join, edit-distance near-dup,
    // Holt-Winters, lag correlation, burn rate
    "q_setsim_join", "q_editdist_neardup", "q_holtwinters",
    "q_lag_corr", "q_burn_rate", "q_keywords", "q_search")

  /** The ANN scale path proper: parameters sized from the corpus
    * ([[graft.operators.Similarity.autoPlanes]]/`autoNlist`), keeping
    * per-query candidate work ~constant as n grows. The pinned-
    * parameter queries above stay measured as the documented contrast
    * (their plane literals are what the DuckDB oracle mirrors; their
    * cost is O(n²/2^planes) BY CONSTRUCTION).
    */
  private val extra: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.operators.Similarity
    def emb(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(s"$dir/embeddings.parquet")
    Map(
      "q_embed_ivf_topk_auto" -> ((s, dir) =>
        Similarity.ivfTopKAuto(emb(s, dir), "vec_id", "embedding", k = 5)))
    // q_embed_neardup_lsh_auto and (since r5) q_embed_lsh_topk_auto
    // are NOT defined here: they are real SparkEntry queries
    // (hash-checked), and SparkEntry.queries resolves FIRST — an
    // entry here would be dead code that silently diverged from what
    // is measured.
  }

  private def replicate(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    def copies(df: DataFrame, f: DataFrame => Int => DataFrame): DataFrame =
      (0 until factor).map(f(df)).reduce(_ unionByName _)

    // events: shift user_id (new conversations) and event_id (keeps
    // id-derived tool assignment distributions identical per copy).
    // Strides are DERIVED FROM THE DATA (maxId + 1), not hardcoded:
    // the datagen's id ranges scale with SF, and a fixed stride
    // narrower than the real range silently merges users/events
    // across copies — distorting exactly the per-conversation ratios
    // this harness measures.
    // CAUTION: fromEvents derives conv_id with lpad(user_id, 6, '0'),
    // which TRUNCATES ids past 6 digits — ids past 10^6 silently
    // merge ~100 users per conversation and fabricate quadratic
    // "regressions" in every per-conversation join (found the hard
    // way: tree-depth at "51x"). Enforced on the DERIVED stride.
    val Array(maxUser, maxEvent) = spark.read.parquet(s"$src/events.parquet")
      .agg(max(col("user_id")), max(col("event_id"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val userStride = maxUser + 1
    val eventStride = maxEvent + 1
    require(maxUser + (factor - 1) * userStride < 1000000L,
      s"replication would push user ids past lpad(6)'s domain " +
        s"(max=$maxUser, stride=$userStride, factor=$factor): conv ids " +
        "would collide and every per-conversation join would read superlinear")
    copies(spark.read.parquet(s"$src/events.parquet"), ev => i =>
      ev.withColumn("user_id", col("user_id") + lit(i * userStride))
        .withColumn("event_id", col("event_id") + lit(i * eventStride)))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    // doc/vec strides leave headroom for the +10^6 planted-duplicate
    // shift the dupedDocs/dupedVecs fixtures apply on top.
    //
    // CONTENT must be perturbed per copy, not replicated verbatim: a
    // verbatim copy makes every document/vector a member of a
    // factor-sized exact-duplicate clique, so every near-dup family's
    // OUTPUT (candidate pairs, components edges) grows QUADRATICALLY
    // in the factor — at 100x that is 5000 cliques × C(100,2) ≈ 25M
    // forced pairs, which measures output blowup, not engine scaling
    // (found the hard way: q_minhash_lsh read "33x" and components
    // GC-killed the JVM). Real corpora grow with NEW content; the
    // perturbations below are deterministic, distribution-preserving
    // (text length/structure, vector norm), identity for copy 0, and
    // make cross-copy content dissimilar.
    val maxDoc = spark.read.parquet(s"$src/documents.parquet")
      .agg(max(col("doc_id"))).head().getLong(0)
    copies(spark.read.parquet(s"$src/documents.parquet"), d => i =>
      d.withColumn("doc_id", col("doc_id") + lit(i * (maxDoc + 1000001L)))
        .withColumn("text", permuted(col("text"), i)))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val maxVec = spark.read.parquet(s"$src/embeddings.parquet")
      .agg(max(col("vec_id"))).head().getLong(0)
    copies(spark.read.parquet(s"$src/embeddings.parquet"), e => i =>
      e.withColumn("vec_id", col("vec_id") + lit(i * (maxVec + 1000001L)))
        .withColumn("embedding", rotatedVec(col("embedding"), i)))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // provenance marker: a reused big dir is only valid for the
    // (source, factor) it was built from — see main()
    Files.write(java.nio.file.Paths.get(s"$dst/REPLICA_MARKER"),
      markerText(src, factor).getBytes("UTF-8"))
  }

  private def markerText(src: String, factor: Int): String =
    s"src=$src factor=$factor content=perturbed-v2-permuted"

  /** Per-copy character substitution (seeded random PERMUTATION of
    * each character class): copy 0 is the identity; other copies
    * share length, whitespace structure, and token shape with the
    * base text but have disjoint shingle sets — new documents, not
    * clones.
    *
    * A permutation, NOT a Caesar rotation — learned the hard way: the
    * engine's Fingerprint is a character polynomial, so a constant
    * character shift becomes a constant MODULAR SHIFT of every
    * same-length shingle's fingerprint, which rotates the whole
    * minhash order-statistic circle per copy and inflates LSH band
    * collisions copy-wide (q_editdist_neardup read 21x at factor 10
    * from 27x candidate volume — pure harness artifact; per-candidate
    * cost was sublinear). A seeded shuffle has no such linear
    * structure.
    */
  private def permuted(text: Column, i: Int): Column =
    if (i == 0) text else {
      def shuf(s: String, salt: Int) = {
        val rnd = new scala.util.Random(i * 131 + salt)
        new String(rnd.shuffle(s.toList).toArray)
      }
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      val digits = "0123456789"
      translate(text, lower + upper + digits,
        shuf(lower, 1) + shuf(upper, 2) + shuf(digits, 3))
    }

  /** Per-copy cyclic rotation of the embedding array: copy 0 is the
    * identity; rotations preserve the norm and component distribution
    * while making cross-copy cosines ≈ 0 for generic vectors — new
    * vectors, not clones.
    */
  private def rotatedVec(vec: Column, i: Int): Column = {
    val d = size(vec)
    val k = lit(i) % d
    when(k === 0, vec)
      .otherwise(concat(slice(vec, k + 1, d - k), slice(vec, lit(1), k)))
  }

  /** Optional comma-separated subset for iterating on one query. */
  private def selected: Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(s) if s.trim.nonEmpty => headline.filter(s.split(',').map(_.trim).toSet)
      case _ => headline
    }

  private def timeAll(spark: SparkSession, dir: String): Map[String, Double] = {
    // untimed warm-up (same hygiene as Bench). NonFatal ONLY — a
    // fatal error (OOM) here leaves the JVM heap-thrashed, and
    // timings taken after it would launder into the artifact (the
    // same rationale as the main loop's catch below).
    try {
      spark.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type")).count().count()
    } catch { case scala.util.control.NonFatal(_) => () }
    selected.flatMap { name =>
      SparkEntry.queries.get(name).orElse(extra.get(name)).map { fn =>
        val t0 = System.nanoTime()
        // a query blowing up at 10x (codegen limit, analysis error) is
        // a RESULT this harness exists to record — report it as -1,
        // never abort a 30-minute two-scale run with nothing written.
        // NonFatal ONLY: after an OOM this single-JVM SparkContext is
        // heap-thrashed, and continuing would launder post-OOM timings
        // into the evidence artifact as if they were clean — let fatal
        // errors kill the run loudly instead.
        val t = try { fn(spark, dir).count(); (System.nanoTime() - t0) / 1e9 }
          catch {
            case scala.util.control.NonFatal(e) =>
              Console.err.println(s"[scalespot] $name failed at $dir: " +
                e.getClass.getSimpleName + ": " +
                Option(e.getMessage).getOrElse("").take(200))
              -1.0
          }
        // untimed: drop blocks the finished query cached/checkpointed,
        // so query N+1 (and the whole 10x pass) never pays for query
        // N's leftovers — without this the second pass runs against
        // GBs of leaked cache and reports phantom superlinearity
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
        name -> t
      }
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    // single-JVM at a 100x corpus: a long full-GC pause (the
    // iterative 10⁷-edge components rounds) can outlast the default
    // 10s heartbeat × 60 tolerance and kill the local "executor" —
    // the run then dies of TIMEOUT, not memory. Widen both; a real
    // cluster spreads the same heap across machines and keeps the
    // defaults.
    val spark = GraftSession(extra = Map(
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.network.timeout" -> "600s"))

    // reusable big dir (env) so iterating on one slow query does not
    // pay the replication write each run. The marker pins the corpus
    // to its (source, factor): a stale replica from a previous run
    // with different settings must be rebuilt, not silently measured
    // under the current run's labels.
    val big = sys.env.getOrElse("SPARK_GRAFT_BIG_DIR",
      Files.createTempDirectory("graft-scalespot-").toString)
    val marker = java.nio.file.Paths.get(s"$big/REPLICA_MARKER")
    val markerOk = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") == markerText(sfDir, factor)
    if (!Files.exists(java.nio.file.Paths.get(s"$big/events.parquet")) || !markerOk)
      replicate(spark, sfDir, big, factor)

    val t1 = timeAll(spark, sfDir)
    val tN = timeAll(spark, big)
    val entries = selected.filter(t1.contains).map { q =>
      // a -1 (failed) side makes the ratio meaningless: propagate -1
      val ratio = if (t1(q) < 0 || tN(q) < 0) -1.0 else tN(q) / math.max(t1(q), 1e-9)
      f""""$q":{"t1":${t1(q)}%.2f,"t10":${tN(q)}%.2f,"ratio":$ratio%.1f}"""
    }
    println(s"""{"sf_dir":"$sfDir","factor":$factor,"queries":{${entries.mkString(",")}}}""")
    spark.stop()
  }
}
