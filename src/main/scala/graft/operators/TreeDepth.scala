package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tree / hierarchy depth features over an edge table — the engine
  * counterpart of the reference's per-trace span-tree stage
  * (/root/reference/jaeger_prometheus_joining/featureengineering/
  * TreeBuilder.py:29-64: build a tree per trace from
  * (spanID, childSpanID) edges, then join min/mean/max node depth
  * back per span). Branching / sub-agent conversations are
  * tree-shaped, so transcripts need the same capability.
  *
  * Implementation is an iterative BFS self-join (depth propagation to
  * fixpoint) run by the shared [[FixPoint]] driver, NOT a recursive
  * UDF or a driver-side walk:
  *
  *  - iteration k joins the edge table, checkpointed once and
  *    hash-partitioned on (tree, parent), against the depth-k frontier
  *    on (tree, parent) — a plain equi-join that moves only the
  *    frontier (a broadcast while it is small);
  *  - the number of rounds equals the tree HEIGHT (log-ish for
  *    balanced trees), not the node count — at 10^12 edges the loop
  *    runs ~dozens of joins, each touching only frontier rows.
  *
  * Results are exact for forests (each node one parent, no cycles);
  * rows on a cycle are unreachable from any root and are simply never
  * emitted, which matches the recursive-CTE semantics of the DuckDB
  * oracle. Both algorithms throw, never truncate, when `maxIter`
  * rounds leave work undone.
  */
object TreeDepth {

  /** Per-node depth: (treeCol, nodeCol, depth) — depth 0 at roots
    * (rows whose `parentCol` is null), parent depth + 1 below. Throws
    * if the frontier is still non-empty after `maxIter` rounds (a
    * forest taller than `maxIter`).
    *
    * @param edges one row per node: (tree, node, parent|null)
    */
  def depths(edges: DataFrame, treeCol: String, nodeCol: String,
      parentCol: String, maxIter: Int = 64): DataFrame = {
    // state: the edges and the frontiers — the roots and every
    // non-empty frontier since, latest last; the answer is their
    // union, so all of them stay kept. The edges are checkpointed
    // hash-partitioned on the join keys, so a round moves only its
    // frontier: a broadcast of it, or a shuffle onto the edges'
    // partitioning once it outgrows the broadcast size. The roots are
    // a bare projection of the checkpointed edges, which therefore stay
    // kept too; progress 1 = not yet expanded.
    FixPoint.run("TreeDepth.depths", maxIter) { cp =>
      val e = cp(edges.select(col(treeCol).as("_tree"), col(nodeCol).as("_node"),
        col(parentCol).as("_parent")), Seq("_tree", "_parent"))
      val roots = e.filter(col("_parent").isNull)
        .select(col("_tree"), col("_node"), lit(0L).as("depth"))
      FixPoint.Step((e, Seq(roots)), 1L, Seq(e))
    } { case (cp, (e, frontiers)) =>
      val (next, n) = cp.counted(e
        .join(frontiers.last.select(col("_tree"), col("_node").as("_p"), col("depth")),
          Seq("_tree"))
        .filter(col("_parent") === col("_p"))
        .select(col("_tree"), col("_node"), (col("depth") + 1L).as("depth")), lit(true))
      val kept = if (n > 0) frontiers :+ next else frontiers
      FixPoint.Step((e, kept), n, e +: kept)
    }._2.reduce(_ unionByName _)
      .select(col("_tree").as(treeCol), col("_node").as(nodeCol), col("depth"))
  }

  /** Per-node depth via POINTER DOUBLING (path halving): round k
    * rewrites each node's tracked ancestor to its 2^k-th ancestor,
    * accumulating walked-edge counts, until every surviving walk has
    * reached a root. O(log2(height)) rounds of full self-joins —
    * the complement of [[depths]]:
    *
    *  - BFS: `height` rounds, each joining only the frontier —
    *    cheapest for the wide-and-shallow forests traces usually are
    *    (Σ frontier sizes = n total rows joined);
    *  - doubling: `log2(height)` rounds, each a full n-row self-join
    *    (n·log2(height) rows joined) — the ONLY viable shape when
    *    height is data-proportional (a 10^6-turn chained
    *    conversation: 20 rounds instead of 10^6).
    *
    * Same output and same cycle semantics as [[depths]] (nodes whose
    * ancestor walk never reaches a root are not emitted). Throws if
    * live walks still shrink after `maxIter` rounds.
    */
  def depthsByDoubling(edges: DataFrame, treeCol: String, nodeCol: String,
      parentCol: String, maxIter: Int = 40): DataFrame = {
    // state: (frame, live count); frame rows are (tree, node, anc, d)
    // — anc = the current 2^k-ancestor (null once the walk reached a
    // root), d = edges walked so far. Only the latest frame is kept.
    val live = col("_anc").isNotNull
    FixPoint.run("TreeDepth.depthsByDoubling", maxIter) { cp =>
      val (s, n) = cp.counted(edges.select(
        col(treeCol).as("_tree"), col(nodeCol).as("_node"),
        col(parentCol).as("_anc"),
        when(col(parentCol).isNull, 0L).otherwise(1L).as("_d")), live)
      FixPoint.Step((s, n), n, Seq(s))
    } { case (cp, (state, prev)) =>
      // coalesced: the union of done and advanced rows has the
      // partitions of both, so without it a round whose join needs no
      // shuffle (a broadcast) would double the partition count
      val (next, n) = cp.counted(doublingRound(state).coalesce(
        state.sparkSession.sessionState.conf.numShufflePartitions), live)
      // Convergence + cycle cut in one counter: in an ACYCLIC forest
      // every doubling round strictly shrinks the live (anc != null)
      // set — a node at depth ≥ 2^(k+1) has an ancestor at some depth
      // in [2^k, 2^(k+1)) that resolves this round. A round that fails
      // to shrink it therefore proves the remaining walks are cyclic:
      // report no progress and drop them (recursive-CTE semantics).
      FixPoint.Step((next, n), if (n < prev) n else 0L, Seq(next))
    }._1.filter(col("_anc").isNull)
      .select(col("_tree").as(treeCol), col("_node").as(nodeCol),
        col("_d").as("depth"))
  }

  /** One pointer-doubling round. The round join must carry BOTH equi
    * keys (_tree, _anc = node): splitting state into done (anc null —
    * passes through untouched) and live rows keeps `_anc` non-null on
    * the probe side, so the hash join hashes each live row to exactly
    * its ancestor's row. A single OR-filtered join keyed on _tree
    * alone would stream |state|² pairs PER TREE each round — O(n²)
    * for the chain-deep hierarchies this operator exists for.
    * Package-visible so PlanAuditSpec pins the two-key join shape.
    */
  private[graft] def doublingRound(state: DataFrame): DataFrame = {
    val done = state.filter(col("_anc").isNull)
    val lookup = state.select(col("_tree"), col("_node").as("_anc"),
      col("_anc").as("_kanc"), col("_d").as("_kd"))
    val advanced = state.filter(col("_anc").isNotNull)
      .join(lookup, Seq("_tree", "_anc"))
      .select(col("_tree"), col("_node"),
        col("_kanc").as("_anc"),
        (col("_d") + col("_kd")).as("_d"))
    done.unionByName(advanced)
  }

  /** Join per-tree depth stats back onto every node (reference
    * TreeBuilder.py:58-64 / contest_tree get_depth_stat_of_node):
    * depth_max, depth_sum, node_cnt per tree — integral, mean is
    * derived as depth_sum / node_cnt downstream.
    *
    * ONE tree-keyed window pass, not groupBy + join-back: the join
    * formulation scans the (BFS: union-of-frontiers) input twice and
    * pays two exchanges + an SMJ; the unbounded window computes the
    * same row-preserving (max, sum, count) per tree with a single
    * exchange on the tree key (guide §2.1 — remove shuffles outright).
    * Identical output: window agg over the whole partition ≡ joined
    * group agg, and appended column order matches the old join's.
    */
  def withDepthStats(depths: DataFrame, treeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(treeCol))
    depths
      .withColumn("depth_max", max(col("depth")).over(w))
      .withColumn("depth_sum", sum(col("depth")).over(w))
      .withColumn("node_cnt", count(lit(1)).over(w))
  }
}
