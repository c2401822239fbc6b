package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

class ComponentsSpec extends SparkSuite {
  import spark.implicits._

  private def comps(ids: Seq[Long], pairs: Seq[(Long, Long)],
      maxIter: Int = 50): Map[Long, Long] = {
    val idsDf = ids.toDF("doc_id")
    val pairsDf = pairs.toDF("id1", "id2")
    Components.connectedComponents(idsDf, "doc_id", pairsDf, maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two clusters, a singleton, and a transitive chain") {
    // {1,2,3} via chain 1-2, 2-3 (1≈2, 2≈3, but no 1-3 pair: the
    // closure is exactly what pairwise dedup misses); {10,11}; {20}
    val out = comps(Seq(1L, 2L, 3L, 10L, 11L, 20L),
      Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("cycles and reversed/duplicated pairs are harmless") {
    val out = comps(Seq(1L, 2L, 3L, 4L),
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 2L), (3L, 4L)))
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("64-link chain converges within pointer-jump round budget") {
    // worst-case diameter: a path 0-1-...-64. Pure edge relaxation
    // needs 64 rounds; relax+jump needs ~log2(64). maxIter=10 proves
    // the jump is doing its job.
    val ids = (0L to 64L)
    val pairs = (0L until 64L).map(i => (i, i + 1))
    val out = comps(ids, pairs, maxIter = 10)
    assert(out.values.toSet === Set(0L))
    assert(out.size === 65)
  }

  test("non-convergence past maxIter fails loudly, never silently") {
    val ids = (0L to 64L)
    val pairs = (0L until 64L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException] {
      comps(ids, pairs, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("non-convergence releases every checkpoint it made") {
    val ids = (0L to 64L).toDF("doc_id")
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val left = FixPointSpec.leftBehind(spark) {
      intercept[IllegalArgumentException] {
        Components.connectedComponents(ids, "doc_id", pairs, maxIter = 2)
      }
    }
    assert(left.isEmpty, s"checkpoints left behind: $left")
  }

  test("random graph matches a driver-side union-find oracle") {
    val rnd = new scala.util.Random(42)
    val n = 300
    val ids = (0L until n.toLong)
    val pairs = Seq.fill(250)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(p => p._1 != p._2)
    // union-find, always rooting the smaller id: the final root of
    // every tree IS the component minimum (roots are only ever
    // replaced by smaller roots)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i.toInt).toLong).toMap
    assert(comps(ids, pairs) === expected)
  }

  test("withClusterStats: sizes and canonical flags") {
    val components = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L))
      .toDF("doc_id", "component")
    val out = Components.withClusterStats(components, "doc_id")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq === Seq(
      (1L, 1L, 3L, 1), (2L, 1L, 3L, 0), (3L, 1L, 3L, 0), (10L, 10L, 1L, 1)))
  }

  test("ids absent from every pair stay singletons; pair ids missing from ids are ignored") {
    // contract: `ids` is the node universe — a pair mentioning an id
    // outside it contributes no node rows
    val out = comps(Seq(1L, 2L, 5L), Seq((1L, 2L), (2L, 99L)))
    assert(out.keySet === Set(1L, 2L, 5L))
    assert(out(1L) === 1L && out(2L) === 1L && out(5L) === 5L)
  }

  test("duplicated ids in the universe do not duplicate output rows") {
    val idsDf = Seq(1L, 2L, 2L, 3L).toDF("doc_id")
    val pairsDf = Seq((1L, 2L)).toDF("id1", "id2")
    val out = Components.connectedComponents(idsDf, "doc_id", pairsDf)
      .collect()
    assert(out.length === 3, "one row per distinct id")
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  private def incr(prev: Map[Long, Long], deltaIds: Seq[Long],
      deltaEdges: Seq[(Long, Long)], maxIter: Int = 50): Map[Long, Long] = {
    val prevDf = prev.toSeq.toDF("doc_id", "component")
    Components.incrementalComponents(prevDf, "doc_id",
      deltaIds.toDF("doc_id"), deltaEdges.toDF("id1", "id2"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("incremental ≡ full: growth, old↔new links, and cluster MERGE across the delta") {
    // batch 1: {1,2,3} (chain), {10,11}, singleton {20}
    val edges1 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val full1 = comps(Seq(1L, 2L, 3L, 10L, 11L, 20L), edges1)
    // delta: new nodes 30,31 forming their own cluster; 31 also links
    // to old 20 (old↔new); and 3-10 MERGES two old clusters
    val deltaIds = Seq(30L, 31L)
    val deltaEdges = Seq((30L, 31L), (31L, 20L), (3L, 10L))
    val viaIncremental = incr(full1, deltaIds, deltaEdges)
    val viaFull = comps(Seq(1L, 2L, 3L, 10L, 11L, 20L, 30L, 31L),
      edges1 ++ deltaEdges)
    assert(viaIncremental === viaFull)
    // the merged cluster carries the global min label
    assert(viaIncremental(11L) === 1L && viaIncremental(30L) === 20L)
  }

  test("incremental round budget depends on the DELTA, not the old diameter") {
    // batch 1: a 64-link chain — full labels computed once; the
    // incremental pass sees it as a depth-1 star, so even maxIter=4
    // (which full recompute on a chain would FAIL, see the
    // non-convergence test) suffices for a delta merging two stars
    val ids = (0L to 64L)
    val chain = (0L until 64L).map(i => (i, i + 1))
    val full1 = comps(ids, chain, maxIter = 10)
    val viaIncremental = incr(full1, Seq(100L), Seq((64L, 100L)), maxIter = 4)
    val viaFull = comps(ids :+ 100L, chain :+ ((64L, 100L)), maxIter = 10)
    assert(viaIncremental === viaFull)
  }

  test("incremental over snapshot deltas: ChronoTable readIncremental feeds the pass") {
    import graft.table.ChronoTable
    val root = java.nio.file.Files
      .createTempDirectory("graft-inc-comp-").toString
    val t = ChronoTable(spark, root, partitionCols = Seq.empty)
    val s1 = t.append(Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"))
    val universe1 = (1L to 3L).toDF("doc_id")
    val labels1 = Components.connectedComponents(
      universe1, "doc_id", t.read(s1))
    val s2 = t.append(Seq((3L, 4L), (5L, 6L)).toDF("id1", "id2"))
    // the delta feed is exactly the incremental scan between the
    // checkpointed and current snapshots
    val delta = t.readIncremental(s1, s2).select("id1", "id2")
    val got = Components.incrementalComponents(labels1, "doc_id",
        (4L to 6L).toDF("doc_id"), delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = comps(1L to 6L, Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)))
    assert(got === want)
  }
}
