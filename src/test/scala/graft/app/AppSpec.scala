package graft.app

import java.nio.file.Files

import graft.SparkSuite
import graft.datagen.TranscriptGen
import graft.model.Tier
import graft.rollup.{Rollup, TranscriptStore}
import graft.streaming.StreamingRollup

class AppSpec extends SparkSuite {
  import spark.implicits._

  test("streaming foreachBatch path equals the batch cascade") {
    val wh = Files.createTempDirectory("graft-stream-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val srcDir = Files.createTempDirectory("graft-src-").toString
    val turns = TranscriptGen.generate(spark, 10, 20, seed = 51L).toDF().cache()
    // two file drops — two micro-batches under AvailableNow
    turns.filter($"turn_idx" % 2 === 0).write.parquet(s"$srcDir/drop1")
    turns.filter($"turn_idx" % 2 === 1).write.parquet(s"$srcDir/drop2")

    val store = new TranscriptStore(spark, wh, convBuckets = 2)
    val stream = spark.readStream
      .schema(graft.model.Schemas.turns)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$srcDir/drop*")
    StreamingRollup.runOnce(stream, store, ckpt)

    Tier.cascade.foreach { t =>
      val got = store.readTier(t).as[graft.model.TierRow].collect().toSet
      val want = Rollup.rollupRaw(turns, t).as[graft.model.TierRow].collect().toSet
      assert(got == want, s"streaming tier ${t.name} != batch")
    }
    turns.unpersist()
  }

  test("GraftApp subcommands run end-to-end on a temp warehouse") {
    val wh = Files.createTempDirectory("graft-app-").toString
    // gen → rollup → status → retain; run() must not throw
    GraftApp.run(spark, Array("gen", wh, "8", "12"))
    GraftApp.run(spark, Array("rollup", wh))
    GraftApp.run(spark, Array("status", wh))
    val store = new TranscriptStore(spark, wh)
    assert(store.readTier(Tier.Minute).count() > 0)
    GraftApp.run(spark, Array("retain", wh, "2024-06-01", "raw=365", "1m=365"))
    assert(store.readTier(Tier.Minute).count() > 0, "nothing should expire")
    // publish → every tier pinned at its CURRENT; vacuum → rows
    // unchanged, and the pinned snapshots outlive the compaction
    GraftApp.run(spark, Array("publish", wh))
    val pins = graft.plans.TierRouting.servingPins(wh)
    assert(pins.map { case (t, p) => t -> p.snapshotId } ==
      Tier.cascade.map(t => t.name -> store.tier(t).currentSnapshotId).toMap, pins.toString)
    // retention kept the 1m watermark: the pin still names the raw
    // snapshot the tier reflects
    assert(pins("1m").rawSnapshotId != 0L, pins.toString)
    val rowsBefore = store.readTurns().count()
    GraftApp.run(spark, Array("compact", wh))
    GraftApp.run(spark, Array("vacuum", wh, "1"))
    assert(store.readTurns().count() == rowsBefore)
    Tier.cascade.foreach { t =>
      assert(store.tier(t).read(pins(t.name).snapshotId).count() ==
        store.readTier(t).count(), s"pinned ${t.name} snapshot lost rows")
    }
    // cluster (sort-order rewrite): rows unchanged, key bounds recorded
    GraftApp.run(spark, Array("cluster", wh, "2"))
    assert(store.readTurns().count() == rowsBefore)
    assert(store.raw.currentSnapshot.get.files.forall(f =>
      f.minKey.isDefined && f.maxKey.isDefined),
      "clustered rewrite must record per-file conv_id bounds")
    // export (S10 debug CSV sink): header + every raw row round-trips
    val csvDir = Files.createTempDirectory("graft-export-").toString + "/raw_csv"
    GraftApp.run(spark, Array("export", wh, "raw", csvDir, "csv"))
    val back = spark.read.option("header", "true").csv(csvDir)
    assert(back.count() == rowsBefore)
    assert(back.columns.toSet == store.readTurns().columns.toSet)
  }

  test("streaming dedup drops in-stream duplicates before the windowed rollup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val turns = TranscriptGen.generate(spark, 5, 12, seed = 58L).collect().toSeq
    val ms = MemoryStream[graft.model.Turn]
    val out = StreamingRollup.windowedRollup(
      StreamingRollup.dedupedTurns(ms.toDF()), Tier.Minute)
    val q = out.writeStream.format("memory").queryName("dedup_rollup")
      .outputMode("append").start()
    // the same batch delivered TWICE (at-least-once replay inside the
    // watermark horizon) must count once
    ms.addData(turns ++ turns)
    q.processAllAvailable()
    val maxTs = turns.map(_.ts.getTime).max
    ms.addData(Seq(graft.model.Turn("zz-flush", 0, "user", "x", None,
      new java.sql.Timestamp(maxTs + 86400000L))))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_rollup")
      .filter($"conv_id" =!= "zz-flush")
      .as[graft.model.TierRow].collect().toSet
    val want = Rollup.rollupRaw(turns.toDF(), Tier.Minute)
      .as[graft.model.TierRow].collect().toSet
    assert(got == want, "replayed rows double-counted through the stream")
    assert(got.nonEmpty)
  }

  test("windowed streaming rollup equals the batch tier for closed windows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val turns = TranscriptGen.generate(spark, 6, 15, seed = 52L).collect().toSeq
    val ms = MemoryStream[graft.model.Turn]
    val out = StreamingRollup.windowedRollup(ms.toDF(), Tier.Minute)
    val q = out.writeStream.format("memory").queryName("win_rollup")
      .outputMode("append").start()
    ms.addData(turns)
    q.processAllAvailable()
    // a far-future flush row pushes the watermark past every real
    // window so append mode emits them all
    val maxTs = turns.map(_.ts.getTime).max
    ms.addData(Seq(graft.model.Turn("zz-flush", 0, "user", "x", None,
      new java.sql.Timestamp(maxTs + 86400000L))))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("win_rollup")
      .filter($"conv_id" =!= "zz-flush")
      .as[graft.model.TierRow].collect().toSet
    val want = Rollup.rollupRaw(turns.toDF(), Tier.Minute)
      .as[graft.model.TierRow].collect().toSet
    assert(got == want, s"streaming windows diverge: ${got.size} vs ${want.size}")
    assert(got.nonEmpty)
  }

  test("windowed streaming rollup folds null-text turns as the batch tier does") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = TranscriptGen.generate(spark, 3, 10, seed = 53L).collect().toSeq
    val t0 = base.head
    // one null text beside texts in a bucket, one bucket of only a null text
    val turns = base ++ Seq(t0.copy(turn_idx = 900, text = null),
      t0.copy(conv_id = "null-only", text = null))
    val ms = MemoryStream[graft.model.Turn]
    val q = StreamingRollup.windowedRollup(ms.toDF(), Tier.Minute)
      .writeStream.format("memory").queryName("null_text_rollup")
      .outputMode("append").start()
    ms.addData(turns)
    ms.addData(Seq(graft.model.Turn("zz-flush", 0, "user", "x", None,
      new java.sql.Timestamp(turns.map(_.ts.getTime).max + 86400000L))))
    q.processAllAvailable()
    q.stop()
    val cols = graft.model.Schemas.tier.fieldNames.toSeq.map(org.apache.spark.sql.functions.col)
    val got = spark.table("null_text_rollup").filter($"conv_id" =!= "zz-flush")
      .select(cols: _*).collect().toSet
    val want = Rollup.rollupRaw(turns.toDF(), Tier.Minute).select(cols: _*).collect().toSet
    assert(got == want)
    assert(got.exists(r => r.getString(0) == "null-only" && r.isNullAt(5)))
  }
}
