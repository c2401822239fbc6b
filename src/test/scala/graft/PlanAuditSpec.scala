package graft

/** Physical-plan hygiene audit: the properties that decide whether
  * these plans survive a 100× scale-up — column pruning at the scan,
  * broadcast for small dims, map-side partial aggregation, no
  * accidental cartesian products. `.explain`-driven development,
  * pinned as tests so regressions fail loudly.
  */
class PlanAuditSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  /** Flatten a physical plan across the AQE boundaries that hide
    * subtrees from TreeNode traversal (AdaptiveSparkPlanExec holds
    * its current plan in a field, QueryStageExec wraps its stage).
    */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: flatten(q.plan)
    case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
      p +: w.children.flatMap(flatten)
    case other => p +: other.children.flatMap(flatten)
  }

  test("q_lang_id scan prunes documents to (doc_id, text)") {
    // another suite may have cache()'d this parquet — the cache
    // manager would swap the scan for InMemoryTableScan
    spark.catalog.clearCache()
    val scans = flatten(SparkEntry.queries("q_lang_id")(spark, sfDir)
      .queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.requiredSchema.fieldNames.toSet
      }
    assert(scans.nonEmpty)
    assert(scans.head == Set("doc_id", "text"),
      s"unpruned scan columns: ${scans.head}")
  }

  test("q_region_rollup broadcasts the dimension tables") {
    val p = plan("q_region_rollup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_brand_revenue broadcasts both dims and keeps partial aggregation") {
    val p = plan("q_brand_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), s"star agg lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"dim join degraded to a shuffle join:\n$p")
  }

  test("rollup queries keep map-side partial aggregation") {
    Seq("q_rollup_1m", "q_rollup_1d").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_"), s"$q lost partial aggregation:\n$p")
    }
  }

  test("q_align_join is an equi join (hash or sort-merge), never nested-loop") {
    val p = plan("q_align_join")
    assert(p.contains("Join"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"align join degraded to nested loop:\n$p")
  }

  test("LSH candidate join is an equi join on the band key, not all-pairs") {
    val p = plan("q_minhash_lsh")
    assert(!p.contains("CartesianProduct"),
      s"LSH degraded to cartesian:\n$p")
  }

  test("q_ngram_jaccard_lsh (the scale path) never degrades to an all-pairs join") {
    val p = plan("q_ngram_jaccard_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ngram scale path has an O(n²) join:\n$p")
  }

  test("q_embed_lsh_topk hyperplanes are literals, not per-row HOF recomputes") {
    val p = plan("q_embed_lsh_topk")
    assert(!p.contains("transform(sequence"),
      s"hyperplane components recomputed per row:\n$p")
    // the norm is computed before the bucket join, not per candidate
    // pair: the scored projection divides by pre-joined qn·nn columns
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("only the brute-force cosine baseline is allowed a nested-loop pair join") {
    val p = plan("q_embed_cosine_topk")
    // expected: qid =!= nid is a non-equi condition → BNLJ; the SCALE
    // path (q_embed_lsh_topk) must stay equi-join on (rot, bucket)
    val scale = plan("q_embed_lsh_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
    assert(scale.contains("Join"), scale)
  }

  test("q_conv_wide pivot stays one map-side-combined aggregate (no hidden distinct job in the plan)") {
    val p = plan("q_conv_wide")
    assert(p.contains("partial_"), s"pivot lost partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_asof_align is a window over a union, never a range join") {
    val p = plan("q_asof_align")
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of degraded to nested loop:\n$p")
  }

  test("q_embed_neardup_lsh candidate generation is equi-join only") {
    val p = plan("q_embed_neardup_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup scale path has an all-pairs join:\n$p")
  }

  test("IVF paths: assignment is a pure expression (no join), candidates equi-join on cid") {
    Seq("q_embed_neardup_ivf", "q_embed_ivf_topk").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to an all-pairs join:\n$p")
    }
  }

  test("whole-stage codegen spans the rollup aggregate") {
    // AQE shows only the stub pre-execution; run the query so the
    // final plan (with codegen spans) materializes
    val df = SparkEntry.queries("q_rollup_1m")(spark, sfDir)
    df.collect() // count() would execute a DERIVED plan, not df's own
    val hasCodegen = flatten(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegen, df.queryExecution.executedPlan.toString)
  }

  test("pointer-doubling round join carries both equi keys (_tree AND _anc)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when, lit}
    // a join keyed on _tree alone streams |state|² pairs per tree per
    // round — the exact O(n²) that defeats the operator's O(log h)
    // claim on its own motivating case (one chain-deep tree)
    val state = Seq(("c", 0, None), ("c", 1, Some(0)), ("c", 2, Some(1)))
      .toDF("_tree", "_node", "_parent")
      .select(col("_tree"), col("_node"), col("_parent").as("_anc"),
        when(col("_anc").isNull, 0L).otherwise(1L).as("_d"))
    val round = graft.operators.TreeDepth.doublingRound(state)
    val joinKeys = flatten(round.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
    }
    assert(joinKeys.nonEmpty, round.queryExecution.executedPlan.toString)
    assert(joinKeys.forall(_.size == 2),
      s"round join lost an equi key (per-tree quadratic!): " +
        s"keys=${joinKeys.map(_.map(_.sql))}\n" +
        round.queryExecution.executedPlan.toString)
    val p = round.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_decontaminate broadcasts the eval n-gram set and joins on the n-gram key") {
    val p = plan("q_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination degraded to an all-pairs join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"eval n-gram set not broadcast (hint lost under the distinct?):\n$p")
  }

  test("q_pack_shards keeps the range-bucketed two-level prefix sum (no group-wide data-path window)") {
    val p = plan("q_pack_shards")
    // the intra-bucket window must partition by the bucket column —
    // losing _bkt collapses each group into one window partition
    assert(p.contains("_bkt"), s"scale path lost the range bucketing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_stratified_sample plans as per-stratum running top-k (WindowGroupLimit)") {
    // the rank<=k filter must push into the window as a group limit —
    // otherwise every stratum fully sorts before the filter
    val p = plan("q_stratified_sample")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed into the window:\n$p")
  }

  test("series derivatives are single-window plans, never self-joins") {
    // counterRate = one lag window on the series key; downsample =
    // one window on (series, bucket): any join in these plans means
    // an accidental O(n·buckets) self-pairing crept in
    Seq("q_counter_rate", "q_downsample_1h").foreach { q =>
      val p = plan(q)
      assert(p.contains("Window"), s"$q lost its window plan:\n$p")
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
    }
  }

  test("q_neardup_components assembles via equi joins only") {
    // building the plan runs the propagation rounds (one count per
    // round) — sf0.001 converges in a handful of rounds
    val p = plan("q_neardup_components")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"components assembly has an all-pairs join:\n$p")
  }

  test("interval joins stay equi joins on the bucket grid, never nested loops") {
    // a raw range predicate (p.ts BETWEEN i.start AND i.end) has no
    // equi key and plans as BNLJ — the bucket grid exists to prevent
    // exactly that
    Seq("q_interval_join", "q_interval_overlap").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to a range/nested-loop join:\n$p")
      assert(p.contains("Join"), p)
    }
  }

  test("q_cms_heavy_hitters probes the sketch via broadcast with partial aggregation") {
    val p = plan("q_cms_heavy_hitters")
    // the sketch side is <= depth x width rows; probing must never
    // shuffle the key stream against it
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"sketch probe not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), s"sketch build lost map-side combine:\n$p")
  }

  test("q_anomaly_zscore is one window pass, never a self-join") {
    val p = plan("q_anomaly_zscore")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), s"z-score grew a join:\n$p")
  }

  /** The streamed series-fold shape: one exchange on the series key
    * feeding a sorted in-partition walk — no join, no window, and no
    * per-series array (`collect_list` or an array `aggregate`).
    */
  private def assertStreamedFold(q: String): Unit = {
    val p = plan(q)
    assert("Exchange".r.findAllIn(p).size == 1, s"$q should shuffle exactly once:\n$p")
    Seq("Join", "Window", "collect_list", "aggregate(").foreach { op =>
      assert(!p.contains(op), s"$q plan contains $op:\n$p")
    }
  }

  test("q_ewma is one grouped fold (single shuffle), never a self-join or window ping-pong") {
    assertStreamedFold("q_ewma")
  }

  test("q_funnel is equi-joins on the user id only, with map-side-combined step mins") {
    val p = plan("q_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"funnel join degraded:\n$p")
    assert(p.contains("partial_"), s"step mins lost map-side combine:\n$p")
  }

  test("q_transition_matrix is one lag window + grouped count, never a self-join") {
    val p = plan("q_transition_matrix")
    assert(!p.contains("Join"), s"transition matrix grew a join:\n$p")
    assert(p.contains("Window"), p)
    assert(p.contains("partial_"), s"pair counts lost map-side combine:\n$p")
  }

  test("q_profile is one aggregate pass (Expand for exact distincts), never a join or self-union scan") {
    val p = plan("q_profile")
    assert(!p.contains("Join"), s"profile grew a join:\n$p")
    assert(p.contains("Expand"), s"exact distincts should plan via Expand:\n$p")
    // one scan: the UNION-per-column shape would show multiple file scans
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"profile re-scans the table:\n$p")
  }

  test("q_snapshot_diff is one full-outer equi join (shuffled or AQE-broadcast), never nested-loop") {
    val p = plan("q_snapshot_diff")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"CDC join degraded:\n$p")
    assert(p.contains("FullOuter"), s"lost full-outer semantics:\n$p")
  }

  test("q_twa_1h is one lead window + grouped sum, never a self-join") {
    val p = plan("q_twa_1h")
    assert(!p.contains("Join"), s"TWA grew a join:\n$p")
    assert(p.contains("Window"), p)
    assert(p.contains("partial_"), s"TWA lost map-side combine:\n$p")
  }

  test("q_holt_forecast is one grouped fold like ewma, never a self-join") {
    assertStreamedFold("q_holt_forecast")
  }

  test("q_cusum_drift is one grouped fold like ewma, never a self-join") {
    assertStreamedFold("q_cusum_drift")
  }

  test("q_seasonal_baseline joins the dimension-sized slot table as equi (never nested-loop)") {
    val p = plan("q_seasonal_baseline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"baseline join degraded:\n$p")
    assert(p.contains("partial_"), s"slot mean lost map-side combine:\n$p")
  }

  test("q_histogram_p90 maps samples to rungs with a literal when-chain, never a ladder join") {
    val p = plan("q_histogram_p90")
    assert(!p.contains("Join"), s"ladder assignment grew a join:\n$p")
    assert(p.contains("partial_"), s"bucket counts lost map-side combine:\n$p")
  }

  test("q_cohort_retention is equi-join only with combined distinct pairs") {
    val p = plan("q_cohort_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cohort join degraded:\n$p")
    assert(p.contains("partial_"), s"activity dedup lost map-side combine:\n$p")
  }

  test("per-row text ops (PII scrub, repetition stats) plan with zero shuffles") {
    Seq("q_pii_redact", "q_repetition_stats").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"),
        s"$q should be embarrassingly parallel but shuffles:\n$p")
    }
  }

  test("q_setsim_join / q_editdist_neardup candidates stay equi joins, never cartesian") {
    Seq("q_setsim_join", "q_editdist_neardup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q candidate generation degraded to all-pairs:\n$p")
    }
  }

  test("q_holtwinters is one grouped fold like ewma, never a self-join") {
    assertStreamedFold("q_holtwinters")
  }

  test("q_lag_corr joins bucket-sized series frames as equi with map-side-combined stats") {
    val p = plan("q_lag_corr")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"lag alignment degraded to a range/nested-loop join:\n$p")
    assert(p.contains("partial_"), s"sufficient statistics lost map-side combine:\n$p")
  }

  test("q_burn_rate aggregates to hourly counts before its trailing window") {
    val p = plan("q_burn_rate")
    assert(!p.contains("Join"), s"burn rate grew a join:\n$p")
    assert(p.contains("partial_"), s"hourly counts lost map-side combine:\n$p")
    // the window must consume the AGGREGATED frame: exactly one Window
    // node, keyed on the series
    assert("(?s)Window".r.findAllIn(p).size >= 1 && p.contains("Window"),
      s"burn rate lost its trailing window:\n$p")
  }

  test("q_keywords / q_search never degrade to nested-loop joins") {
    Seq("q_keywords", "q_search").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q degraded:\n$p")
      assert(p.contains("partial_"), s"$q lost map-side combine:\n$p")
    }
  }

  test("tier reads through ChronoTable push filters to parquet") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("graft-audit-").toString
    val store = new graft.rollup.TranscriptStore(spark, wh, convBuckets = 2)
    store.ingest(graft.datagen.TranscriptGen.generate(spark, 5, 10, seed = 81L).toDF())
    store.rollupIncremental()
    val p = store.readTier(graft.model.Tier.Minute)
      .filter(col("conv_id") === "conv-000001")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id,conv-000001)]"),
      s"filter not pushed to parquet scan:\n$p")
  }
}
