package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators.FixPointSpec

class BenchSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("timeQuery reports -1 and the error for a failing query, and releases its blocks") {
    val errors = mutable.LinkedHashMap.empty[String, String]
    var t = 0.0
    val left = FixPointSpec.leftBehind(spark) {
      t = Bench.timeQuery(spark, errors, "q_boom") {
        spark.range(100).localCheckpoint().count()
        spark.range(100).toDF("x").cache().count()
        throw new IllegalStateException("boom")
      }
    }
    assert(t == -1.0)
    assert(errors.get("q_boom").exists(_.contains("IllegalStateException: boom")), errors)
    assert(left.isEmpty, s"persisted RDDs left behind: $left")

    val ok = Bench.timeQuery(spark, errors, "q_ok")(spark.range(10).count())
    assert(ok >= 0 && !errors.contains("q_ok"))
  }

  test("scale corpus: factor 2 doubles events, documents and embeddings with disjoint ids") {
    val dir = Files.createTempDirectory("graft-benchspec-").toString
    assert(Bench.scaleCorpus(spark, sf, dir, factor = 2))
    val marker = Files.readString(Paths.get(dir, "REPLICA_MARKER"))
    assert(marker.contains("mode=scale") && marker.contains(s"src=$sf") &&
      marker.contains("factor=2"), marker)
    Seq("events" -> Seq("event_id", "user_id"), "documents" -> Seq("doc_id"),
        "embeddings" -> Seq("vec_id")).foreach { case (table, ids) =>
      val src = spark.read.parquet(s"$sf/$table.parquet")
      val big = spark.read.parquet(s"$dir/$table.parquet")
      assert(big.count() == 2 * src.count(), table)
      ids.foreach { id =>
        // disjoint: each copy's ids are new, so the distinct count doubles
        assert(big.select(countDistinct(col(id))).head().getLong(0) ==
          2 * src.select(countDistinct(col(id))).head().getLong(0), s"$table.$id")
      }
    }
    // the same inputs reuse the corpus
    assert(!Bench.scaleCorpus(spark, sf, dir, factor = 2))
  }

  test("a stale or missing corpus marker forces a rebuild") {
    val dir = Files.createTempDirectory("graft-benchspec-").toString
    var builds = 0
    def build(marker: String) = Bench.corpus(dir, marker) { builds += 1 }
    assert(build("mode=scale factor=2") && builds == 1)
    assert(!build("mode=scale factor=2") && builds == 1)
    // another mode's or other inputs' corpus is stale
    assert(build("mode=scaling convs=60000") && builds == 2)
    assert(Files.readString(Paths.get(dir, "REPLICA_MARKER")) == "mode=scaling convs=60000")
    // a build that throws leaves no marker, so the next run rebuilds
    intercept[IllegalStateException](Bench.corpus(dir, "mode=scale factor=3") {
      throw new IllegalStateException("disk full") })
    assert(!Files.exists(Paths.get(dir, "REPLICA_MARKER")))
    assert(build("mode=scaling convs=60000") && builds == 3)
  }

  test("scaling measures only the levels nproc can run, and needs an N→4N pair") {
    assert(Bench.scalingLevels(4) == Seq(2))
    assert(Bench.scalingPairs(Bench.scalingLevels(4)).isEmpty)
    assert(Bench.scalingLevels(8) == Seq(2, 8))
    assert(Bench.scalingPairs(Bench.scalingLevels(8)) == Seq(2 -> 8))
    assert(Bench.scalingLevels(32) == Seq(2, 8, 32))
    assert(Bench.scalingPairs(Bench.scalingLevels(32)) == Seq(2 -> 8, 8 -> 32))
  }

  test("SPARK_GRAFT_ONLY selects declared queries and rejects unknown names") {
    assert(SparkEntry.selected(None).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.selected(Some(" ")).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.selected(Some(" q1_agg , q_turns ")).keySet == Set("q1_agg", "q_turns"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q1_agg,q_nope,q_trun")))
    assert(e.getMessage.contains("q_nope, q_trun") && !e.getMessage.contains("q1_agg"),
      e.getMessage)
  }

  test("scale leaves out only declared queries") {
    assert(Bench.notScaled.subsetOf(SparkEntry.queries.keySet))
  }
}
