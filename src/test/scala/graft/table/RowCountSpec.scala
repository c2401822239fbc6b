package graft.table

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Similarity

/** Manifest row counts (r4 verdict ask #6): parameter-sizing
  * consumers must be able to learn the corpus size from table
  * metadata instead of paying a full count() scan.
  */
class RowCountSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(tag: String): ChronoTable =
    ChronoTable(spark, Files.createTempDirectory(s"graft-$tag-").toString,
      partitionCols = Seq.empty)

  test("rowCount tracks appends from footer metadata, no scan") {
    val t = freshTable("rowcount")
    assert(t.rowCount.isEmpty) // no snapshot yet
    t.append((1L to 100L).toDF("x"))
    assert(t.rowCount.contains(100L))
    t.append((1L to 40L).toDF("x"))
    assert(t.rowCount.contains(140L))
    // and it agrees with an actual scan
    assert(t.read().count() === 140L)
  }

  test("pre-r5 manifests without per-file rows degrade to None, not a wrong sum") {
    val t = freshTable("rowcount-legacy")
    t.append((1L to 10L).toDF("x"))
    // simulate a legacy manifest: strip the rows fields from the json
    val snap = java.nio.file.Paths.get(t.root, "snapshots", "v1.json")
    val txt = Files.readString(snap)
    Files.writeString(snap,
      txt.replaceAll(""",\s*"rows"\s*:\s*\d+""", "")
        .replaceAll(""""rows"\s*:\s*\d+\s*,""", ""))
    assert(t.rowCount.isEmpty,
      "a manifest missing any file's count must not report a partial sum")
  }

  test("auto-ANN sizing via nHint skips the full-corpus count job") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    def auto(nHint: Option[Long]) =
      Similarity.lshTopKAuto(emb, "vec_id", "embedding", k = 3, nHint = nHint)
    // plan construction still pays the O(1) dim peek (head(1) on
    // one file — size-independent by design); the assertion is that
    // the hint removes the FULL-CORPUS sizing count: exactly one
    // fewer job than the hint-less path, which must pay it
    val hintJobs = jobsOf(auto(Some(n))).size
    val noHintJobs = jobsOf(auto(None)).size
    assert(hintJobs <= 2,
      s"hint path should only pay the O(1) dim peek, ran $hintJobs jobs")
    assert(noHintJobs > hintJobs,
      s"expected extra sizing-count job(s) without the hint: " +
        s"with=$hintJobs without=$noHintJobs")
    // same n → same planes → identical results
    assert(auto(Some(n)).as[(Long, Long, Long)].collect().toSet ===
      auto(None).as[(Long, Long, Long)].collect().toSet)
  }

  test("table-backed sizing: ChronoTable.rowCount feeds nHint with no data scan") {
    val t = freshTable("rowcount-ann")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    t.append(emb)
    val hint = t.rowCount
    assert(hint.contains(emb.count()))
    val viaTable = Similarity.lshPairsAuto(
      t.read().select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", nHint = hint)
      .as[(Long, Long)].collect().toSet
    val direct = Similarity.lshPairsAuto(emb, "vec_id", "embedding")
      .as[(Long, Long)].collect().toSet
    assert(viaTable === direct)
  }
}
