package graft.operators

import graft.SparkSuite

class TreeDepthSpec extends SparkSuite {
  import spark.implicits._

  // two trees in one frame:
  //   t1:        r              t2:   x
  //            /   \                  |
  //           b     c                 y
  //           |
  //           d
  private val edges = Seq(
    ("t1", "r", None), ("t1", "b", Some("r")), ("t1", "c", Some("r")),
    ("t1", "d", Some("b")),
    ("t2", "x", None), ("t2", "y", Some("x"))
  ).toDF("tree", "node", "parent")

  test("BFS depths on a hand-built 3-level forest") {
    val got = TreeDepth.depths(edges, "tree", "node", "parent")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("t1", "r", 0L), ("t1", "b", 1L), ("t1", "c", 1L), ("t1", "d", 2L),
      ("t2", "x", 0L), ("t2", "y", 1L)))
  }

  test("per-tree depth stats joined back onto every node") {
    val d = TreeDepth.depths(edges, "tree", "node", "parent")
    val got = TreeDepth.withDepthStats(d, "tree")
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    // t1: max 2, sum 0+1+1+2=4, cnt 4; t2: max 1, sum 1, cnt 2
    assert(got.filter(_._1 == "t1").map(r => (r._4, r._5, r._6)) == Set((2L, 4L, 4L)))
    assert(got.filter(_._1 == "t2").map(r => (r._4, r._5, r._6)) == Set((1L, 1L, 2L)))
    assert(got.size == 6)
  }

  test("nodes on a cycle are never emitted (recursive-CTE semantics)") {
    val cyclic = edges.unionByName(
      Seq(("t3", "p", Some("q")), ("t3", "q", Some("p"))).toDF("tree", "node", "parent"))
    val got = TreeDepth.depths(cyclic, "tree", "node", "parent", maxIter = 16)
    assert(got.filter($"tree" === "t3").isEmpty)
    assert(got.count() == 6)
  }

  test("pointer doubling equals BFS on the forest (and drops the cycle)") {
    val cyclic = edges.unionByName(
      Seq(("t3", "p", Some("q")), ("t3", "q", Some("p"))).toDF("tree", "node", "parent"))
    val bfs = TreeDepth.depths(cyclic, "tree", "node", "parent")
      .as[(String, String, Long)].collect().toSet
    val dbl = TreeDepth.depthsByDoubling(cyclic, "tree", "node", "parent")
      .as[(String, String, Long)].collect().toSet
    assert(dbl == bfs)
  }

  test("doubling resolves a 200-deep chain within log2 rounds (maxIter 10)") {
    val chain = (0 until 200).map(i =>
      ("c", f"n$i%03d", if (i == 0) None else Some(f"n${i - 1}%03d")))
      .toDF("tree", "node", "parent")
    // 10 rounds cover height 2^10 = 1024 ≥ 200; BFS would need 200
    val got = TreeDepth.depthsByDoubling(chain, "tree", "node", "parent",
      maxIter = 10).as[(String, String, Long)].collect()
    assert(got.length == 200)
    assert(got.map(r => r._2 -> r._3).toMap == (0 until 200)
      .map(i => f"n$i%03d" -> i.toLong).toMap)
  }

  test("doubling handles one 50k-node chain in seconds (the design point)") {
    // ONE tree of height 50k: BFS would need 50k rounds; a round join
    // keyed on the tree alone would stream 2.5e9 pairs per round. The
    // two-key equi-join shape completes ~16 rounds over 50k rows.
    val n = 50000
    val chain = spark.range(n.toLong).selectExpr(
      "'c' AS tree", "CAST(id AS INT) AS node",
      "CASE WHEN id = 0 THEN NULL ELSE CAST(id - 1 AS INT) END AS parent")
    val t0 = System.nanoTime()
    val got = TreeDepth.depthsByDoubling(chain, "tree", "node", "parent")
    assert(got.count() == n.toLong)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120.0, s"50k chain took ${secs}s — round join degraded?")
    // spot-check the deepest node
    import org.apache.spark.sql.functions.max
    assert(got.agg(max("depth")).head().getLong(0) == (n - 1).toLong)
  }

  test("deep chain terminates at the tree height, not maxIter") {
    val chain = (0 until 20).map(i =>
      ("c", i.toString, if (i == 0) None else Some((i - 1).toString)))
      .toDF("tree", "node", "parent")
    val got = TreeDepth.depths(chain, "tree", "node", "parent")
      .as[(String, String, Long)].collect()
    assert(got.length == 20)
    assert(got.map(_._3).max == 19L)
  }

  private def chain(n: Int) = (0 until n).map(i =>
    ("c", f"n$i%03d", if (i == 0) None else Some(f"n${i - 1}%03d")))
    .toDF("tree", "node", "parent")

  test("BFS past maxIter throws instead of returning a truncated answer") {
    // 100 levels need 100 rounds: the default 64 must fail loudly (a
    // recursive CTE has no depth limit), 128 must return every row
    val e = intercept[IllegalArgumentException] {
      TreeDepth.depths(chain(100), "tree", "node", "parent").collect()
    }
    assert(e.getMessage.contains("TreeDepth.depths") && e.getMessage.contains("maxIter=64"))
    val got = TreeDepth.depths(chain(100), "tree", "node", "parent", maxIter = 128)
      .as[(String, String, Long)].collect()
    assert(got.map(r => r._2 -> r._3).toMap == (0 until 100)
      .map(i => f"n$i%03d" -> i.toLong).toMap)
  }

  test("doubling past maxIter throws instead of returning a truncated answer") {
    // 5 rounds resolve walks up to 2^5 = 32 deep, not 200
    val e = intercept[IllegalArgumentException] {
      TreeDepth.depthsByDoubling(chain(200), "tree", "node", "parent", maxIter = 5)
        .collect()
    }
    assert(e.getMessage.contains("TreeDepth.depthsByDoubling") &&
      e.getMessage.contains("maxIter=5"))
  }

  test("non-convergence releases every checkpoint and the persisted edges") {
    val left = FixPointSpec.leftBehind(spark) {
      intercept[IllegalArgumentException] {
        TreeDepth.depths(chain(20), "tree", "node", "parent", maxIter = 5)
      }
      intercept[IllegalArgumentException] {
        TreeDepth.depthsByDoubling(chain(200), "tree", "node", "parent", maxIter = 3)
      }
    }
    assert(left.isEmpty)
  }
}
