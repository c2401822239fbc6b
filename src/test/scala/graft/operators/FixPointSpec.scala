package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.functions._

import graft.SparkSuite

class FixPointSpec extends SparkSuite {
  import spark.implicits._

  private def leftBehind(body: => Any): Set[Int] =
    FixPointSpec.leftBehind(spark)(body)

  /** A toy loop: round r checkpoints `range(r + 1)` and reports
    * progress `limit - r`; round `failAt` throws after its checkpoint
    * was made.
    */
  private def countdown(limit: Int, maxIter: Int, failAt: Int = -1): DataFrame =
    FixPoint.run("countdown", maxIter) { cp =>
      val s = cp(spark.range(1).toDF("k"))
      FixPoint.Step((s, 0), limit.toLong, Seq(s))
    } { case (cp, (_, prev)) =>
      val r = prev + 1
      val s = cp(spark.range(r + 1).toDF("k"))
      if (r == failAt) throw new IllegalStateException(s"round $r failed")
      FixPoint.Step((s, r), (limit - r).toLong, Seq(s))
    }._1

  test("converged loop hands the caller only the last step's kept frames") {
    var out: DataFrame = null
    val kept = leftBehind { out = countdown(limit = 5, maxIter = 10) }
    assert(out.count() === 6L)
    assert(kept === GraftShims.checkpointedRdd(out).map(_.id).toSet,
      "superseded rounds must be released")
    assert(leftBehind(GraftShims.releaseCheckpoint(out)).isEmpty)
  }

  test("a round body that throws in round 3 leaves no checkpoint behind") {
    var e: IllegalStateException = null
    val left = leftBehind {
      e = intercept[IllegalStateException](countdown(limit = 10, maxIter = 10, failAt = 3))
    }
    assert(e.getMessage === "round 3 failed")
    assert(left.isEmpty)
  }

  test("running out of rounds with progress left throws, naming op and maxIter") {
    var e: IllegalArgumentException = null
    val left = leftBehind {
      e = intercept[IllegalArgumentException](countdown(limit = 10, maxIter = 4))
    }
    assert(e.getMessage.contains("countdown") && e.getMessage.contains("maxIter=4"))
    assert(left.isEmpty)
  }

  private def chain(n: Int): DataFrame = (0 until n).map(i =>
    ("c", i.toLong, if (i == 0) None else Some(i - 1L)))
    .toDF("tree", "node", "parent")

  test("a round that checkpoints a frame and counts its progress rows runs one job") {
    val df = spark.range(0, 100, 1, 4).toDF("k")
    var progress = -1L
    val jobs = jobsOf {
      FixPoint.run("one-job", maxIter = 1) { _ => FixPoint.Step((), 1L, Nil) } { (cp, _) =>
        progress = cp.counted(df, col("k") % 2 === 0)._2
        FixPoint.Step((), 0L, Nil)
      }
    }
    assert(progress === 50L)
    assert(jobs.size === 1, jobs)
  }

  test("a checkpoint carries its row count, and with keys its hash partitioning") {
    FixPoint.run("keys", maxIter = 1) { cp =>
      val c = cp(spark.range(0, 100).toDF("k").withColumn("v", col("k") % 3), Seq("v"))
      assert(c.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(100)))
      // an aggregate on the keys reuses the declared partitioning
      val byV = c.groupBy("v").count()
      assert(!byV.queryExecution.executedPlan.toString.contains("Exchange"),
        byV.queryExecution.executedPlan)
      assert(byV.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(0L -> 34L, 1L -> 33L, 2L -> 33L))
      FixPoint.Step((), 0L, Nil)
    } { (_, s) => FixPoint.Step(s, 0L, Nil) }
  }

  test("job budget per call: the driver adds no job to any of the three loops") {
    // ceilings are the per-call job counts measured on these fixtures
    // in this suite's local[4] session (before the counted checkpoint:
    // BFS 123, doubling 29, components 56)
    val edges = chain(30)
    val bfs = jobsOf(TreeDepth.depths(edges, "tree", "node", "parent")).size
    val dbl = jobsOf(TreeDepth.depthsByDoubling(edges, "tree", "node", "parent")).size
    val ids = (0L to 64L).toDF("doc_id")
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val cc = jobsOf(Components.connectedComponents(ids, "doc_id", pairs)).size
    info(s"jobs per call: BFS $bfs, doubling $dbl, components $cc")
    assert(bfs <= 62, s"BFS on a 30-deep chain ran $bfs jobs")
    assert(dbl <= 11, s"doubling on a 30-deep chain ran $dbl jobs")
    assert(cc <= 30, s"components on a 64-link chain ran $cc jobs")
  }
}

object FixPointSpec {
  /** Ids of the persisted RDDs that `body` created and left behind.
    * Set difference, not a size compare: the ContextCleaner may drop
    * unreachable RDDs of earlier tests while `body` runs.
    */
  def leftBehind(spark: org.apache.spark.sql.SparkSession)(body: => Any): Set[Int] = {
    def ids = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = ids
    body
    ids -- before
  }
}
