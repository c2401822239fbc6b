package graft.table

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import graft.SparkSuite
import graft.datagen.TranscriptGen
import graft.model.{Schemas, Tier, TierRow}
import graft.rollup.{Rollup, TranscriptStore}

class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private def tmpWarehouse(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-$tag-")
    p.toString
  }

  private val tierCols = Schemas.tier.fieldNames.toSeq

  private def tierRows(df: org.apache.spark.sql.DataFrame): Seq[TierRow] =
    df.as[TierRow].collect().toSeq.sortBy(r => (r.conv_id, r.bucket_ts.getTime))

  test("ingest → rollup produces tiers equal to a direct raw cascade") {
    val store = new TranscriptStore(spark, tmpWarehouse("e2e"), convBuckets = 4)
    val turns = TranscriptGen.generate(spark, 30, 25, seed = 5L).toDF().cache()
    store.ingest(turns)
    val report = store.rollupIncremental()
    assert(report.keySet == Set("1m", "1h", "1d"))
    Tier.cascade.foreach { t =>
      val got = tierRows(store.readTier(t))
      val want = tierRows(Rollup.rollupRaw(turns, t))
      assert(got == want, s"tier ${t.name} mismatch")
    }
    // per-turn text equality under stable (conv_id, turn_idx) order
    val back = store.readTurns().orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
    val orig = turns.orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
    assert(back.sameElements(orig))
    turns.unpersist()
  }

  test("second batch merges into existing buckets; equals one-shot cascade") {
    val store = new TranscriptStore(spark, tmpWarehouse("inc"), convBuckets = 4)
    val all = TranscriptGen.generate(spark, 24, 25, seed = 9L).toDF().cache()
    val b1 = all.filter("pmod(turn_idx, 2) = 0")
    val b2 = all.filter("pmod(turn_idx, 2) = 1")
    store.ingest(b1)
    store.rollupIncremental()
    store.ingest(b2)
    store.rollupIncremental()
    Tier.cascade.foreach { t =>
      assert(tierRows(store.readTier(t)) == tierRows(Rollup.rollupRaw(all, t)),
        s"incremental merge broke tier ${t.name}")
    }
    all.unpersist()
  }

  test("three batches over overlapping days, each rolled up, equal one-shot cascade") {
    val store = new TranscriptStore(spark, tmpWarehouse("three"), convBuckets = 4)
    val all = TranscriptGen.generate(spark, 18, 30, seed = 13L).toDF().cache()
    // every batch spans the fixture's days, so each 1m merge folds into
    // buckets the earlier batches already filled
    (0 until 3).foreach { i =>
      store.ingest(all.filter(s"pmod(turn_idx, 3) = $i"))
      store.rollupIncremental()
    }
    Tier.cascade.foreach { t =>
      assert(tierRows(store.readTier(t)) == tierRows(Rollup.rollupRaw(all, t)),
        s"three-batch merge broke tier ${t.name}")
    }
    all.unpersist()
  }

  /** Ingest and roll up two batches with `maintain` run on the store in
    * between; every tier must still equal one rollup of both batches.
    * With `expired`, a copy of the first batch 60 days older is ingested
    * with it, and `maintain` must drop it from raw and from every tier.
    */
  private def maintainedBetweenBatches(tag: String, expired: Boolean = false)(
      maintain: TranscriptStore => Unit): Unit = {
    import org.apache.spark.sql.functions.expr
    val store = new TranscriptStore(spark, tmpWarehouse(tag), convBuckets = 2)
    val b1 = TranscriptGen.generate(spark, 6, 12, seed = 17L).toDF()
    val b2 = TranscriptGen.generate(spark, 6, 12, seed = 18L).toDF()
      .withColumn("turn_idx", $"turn_idx" + 1000)
    val old = b1.withColumn("ts", expr("ts - INTERVAL 60 DAYS"))
      .withColumn("turn_idx", $"turn_idx" + 2000)
    store.ingest(if (expired) b1.unionByName(old) else b1)
    store.rollupIncremental()
    val watermarks = Tier.cascade.map(t => store.tier(t).currentSnapshot.get.summary("consumed_src"))
    maintain(store)
    // the maintenance commit keeps each tier's watermark
    assert(Tier.cascade.map(t => store.tier(t).currentSnapshot.get.summary("consumed_src")) ==
      watermarks)
    store.ingest(b2)
    store.rollupIncremental()
    val all = b1.unionByName(b2)
    Tier.cascade.foreach { t =>
      assert(tierRows(store.readTier(t)) == tierRows(Rollup.rollupRaw(all, t)),
        s"$tag: tier ${t.name} re-folded raw")
    }
  }

  test("retention keeps each tier's watermark: the next rollup folds only new turns") {
    maintainedBetweenBatches("retainwm", expired = true) { store =>
      val before = Tier.cascade.map(store.tier(_).currentSnapshotId)
      val metricsBefore = store.metrics.currentSnapshotId
      // the old copy's days lie past a 30-day TTL, the first batch's not
      val dropped = store.retain(Map("raw" -> 30, "1m" -> 30, "1h" -> 30, "1d" -> 30),
        LocalDate.parse("2024-01-01"))
      assert(dropped.keySet == Set("raw", "1m", "1h", "1d") && dropped.values.forall(_ > 0),
        dropped.toString)
      assert(Tier.cascade.map(store.tier(_).currentSnapshotId) == before.map(_ + 1))
      // one lineage append for every table that dropped
      assert(store.metrics.currentSnapshotId == metricsBefore + 1)
    }
  }

  test("a retain that expires nothing leaves every table's CURRENT and metrics unchanged") {
    val store = new TranscriptStore(spark, tmpWarehouse("retainnone"), convBuckets = 2)
    store.ingest(TranscriptGen.generate(spark, 6, 12, seed = 17L).toDF())
    store.rollupIncremental()
    val tables = Seq(store.raw, store.metrics) ++ Tier.cascade.map(store.tier)
    val before = tables.map(_.currentSnapshotId)
    val dropped = store.retain(Map("raw" -> 3650, "1m" -> 3650, "1h" -> 3650, "1d" -> 3650),
      LocalDate.parse("2024-06-01"))
    assert(dropped == Map("raw" -> 0L, "1m" -> 0L, "1h" -> 0L, "1d" -> 0L))
    assert(tables.map(_.currentSnapshotId) == before)
  }

  test("tier compaction keeps each tier's watermark: the next rollup folds only new turns") {
    maintainedBetweenBatches("compactwm") { store =>
      Tier.cascade.foreach { t =>
        val before = store.tier(t).currentSnapshotId
        assert(store.tier(t).compact(minFiles = 1) == before + 1, t.name)
      }
    }
  }

  test("rollup is a no-op when caught up (idempotent re-run)") {
    val store = new TranscriptStore(spark, tmpWarehouse("noop"), convBuckets = 2)
    store.ingest(TranscriptGen.generate(spark, 8, 10, seed = 3L).toDF())
    assert(store.rollupIncremental().nonEmpty)
    val before = tierRows(store.readTier(Tier.Minute))
    assert(store.rollupIncremental().isEmpty)
    assert(tierRows(store.readTier(Tier.Minute)) == before)
  }

  test("resume: crash between 1m and 1h commits re-runs without double counting") {
    val wh = tmpWarehouse("resume")
    val store = new TranscriptStore(spark, wh, convBuckets = 2)
    val turns = TranscriptGen.generate(spark, 12, 15, seed = 21L).toDF().cache()
    store.ingest(turns)
    store.rollupIncremental()
    // second batch; simulate crash AFTER the 1m merge commit by rolling
    // the 1h/1d tables back is not possible (they committed too), so
    // instead: ingest, run ONLY the 1m step by rolling 1h/1d back after
    // a full run — their next run must recompute from 1m idempotently.
    val b2 = TranscriptGen.generate(spark, 12, 15, seed = 22L).toDF().cache()
    store.ingest(b2)
    store.rollupIncremental()
    val h1Snap = store.tier1h.currentSnapshotId
    val d1Snap = store.tier1d.currentSnapshotId
    // "crash": lose the 1h/1d commits (rollback = CURRENT repoint)
    store.tier1h.rollback(h1Snap - 1)
    store.tier1d.rollback(d1Snap - 1)
    // re-run from checkpoint: only 1h/1d steps fire, results identical
    val report = store.rollupIncremental()
    assert(report.keySet == Set("1h", "1d"), s"unexpected steps: $report")
    val combined = turns.unionByName(b2)
    Tier.cascade.foreach { t =>
      assert(tierRows(store.readTier(t)) == tierRows(Rollup.rollupRaw(combined, t)),
        s"resume broke tier ${t.name}")
    }
    turns.unpersist(); b2.unpersist()
  }

  test("retention drops expired day partitions, keeps survivors byte-identical") {
    val store = new TranscriptStore(spark, tmpWarehouse("ttl"), convBuckets = 2)
    val day1 = TranscriptGen.generate(spark, 20, 40, seed = 31L).toDF()
    // guarantee a multi-day table: same conversations continue 3 days later
    val day4 = day1
      .withColumn("ts", org.apache.spark.sql.functions.expr("ts + INTERVAL 3 DAYS"))
      .withColumn("turn_idx", $"turn_idx" + org.apache.spark.sql.functions.lit(10000))
    val turns = day1.unionByName(day4).cache()
    store.ingest(turns)
    store.rollupIncremental()
    val allDays = store.tier1m.livePartitions.flatMap(_.get("ts_day")).distinct.sorted
    assert(allDays.size >= 2, s"fixture spans too few days: $allDays")
    val cutoffDay = allDays.last // keep only the last day in 1m
    val today = LocalDate.parse(cutoffDay)
    val survivorsBefore = tierRows(
      store.readTier(Tier.Minute).filter($"bucket_ts" >= lit(cutoffDay)))
    store.retain(Map("1m" -> 0), today)
    val after = store.tier1m.livePartitions.flatMap(_.get("ts_day")).distinct
    assert(after.forall(_ >= cutoffDay), s"expired partitions survived: $after")
    val survivorsAfter = tierRows(store.readTier(Tier.Minute))
    assert(survivorsAfter == survivorsBefore)
    // other tiers untouched
    assert(tierRows(store.readTier(Tier.Day)) ==
      tierRows(Rollup.rollupRaw(turns, Tier.Day)))
    turns.unpersist()
  }

  test("idempotent re-ingest: replaying a batch with dedupe adds nothing") {
    val store = new TranscriptStore(spark, tmpWarehouse("reingest"), convBuckets = 2)
    val batch = TranscriptGen.generate(spark, 8, 15, seed = 91L).toDF().cache()
    store.ingest(batch, dedupe = true)
    store.rollupIncremental()
    val before = tierRows(store.readTier(Tier.Minute))
    val rawBefore = store.readTurns().count()
    // at-least-once upstream: the same batch arrives again, plus a few
    // genuinely new rows
    val newRows = TranscriptGen.generate(spark, 8, 15, seed = 91L).toDF()
      .filter($"turn_idx" === 0)
      .withColumn("turn_idx", $"turn_idx" + org.apache.spark.sql.functions.lit(5000))
    store.ingest(batch.unionByName(newRows), dedupe = true)
    store.rollupIncremental()
    assert(store.readTurns().count() == rawBefore + newRows.count(),
      "replayed rows must be dropped, new rows kept")
    // tiers equal the dedup'd union, not the double-counted one
    val want = tierRows(Rollup.rollupRaw(batch.unionByName(newRows), Tier.Minute))
    assert(tierRows(store.readTier(Tier.Minute)) == want)
    assert(before.nonEmpty)
    batch.unpersist()
  }

  test("dedupe screens a key against every day the delivery touches") {
    val store = new TranscriptStore(spark, tmpWarehouse("dedupedays"), convBuckets = 2)
    def at(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val d1 = at("2024-03-01T10:00:00Z")
    val d2 = at("2024-03-02T10:00:00Z")
    def turn(conv: String, ts: java.sql.Timestamp) =
      graft.model.Turn(conv, 0, "user", "t", None, ts)
    // raw holds k only on day 2, and another key on day 1
    val first = store.ingest(Seq(turn("k", d2), turn("other", d1)).toDF(), dedupe = true)
    // the delivery repeats k on day 1 (earlier: the window keeps it) and
    // on day 2 (dropped by the window); its other row is on day 1. It
    // adds no row, so it commits no snapshot
    val sid = store.ingest(Seq(turn("k", d1), turn("k", d2), turn("other", d1)).toDF(),
      dedupe = true)
    assert(sid == first)
    assert(store.readTurns().count() == 2L)
  }

  test("intra-batch duplicates (retried producer) count once with dedupe") {
    val store = new TranscriptStore(spark, tmpWarehouse("inbatch"), convBuckets = 2)
    val batch = TranscriptGen.generate(spark, 6, 12, seed = 77L).toDF().cache()
    // one delivery containing every turn TWICE — the at-least-once
    // upstream's retried-batch shape; the anti join alone only screens
    // against rows already committed, not within the batch
    store.ingest(batch.unionByName(batch), dedupe = true)
    store.rollupIncremental()
    assert(store.readTurns().count() == batch.count(),
      "intra-batch duplicates survived ingest(dedupe=true)")
    val want = tierRows(Rollup.rollupRaw(batch, Tier.Minute))
    assert(tierRows(store.readTier(Tier.Minute)) == want,
      "tiers double-counted an intra-batch duplicate")
    batch.unpersist()
  }

  test("1h tier chunk columns decode to exactly the 1m series per coarse bucket") {
    val store = new TranscriptStore(spark, tmpWarehouse("chunk"), convBuckets = 2)
    val turns = TranscriptGen.generate(spark, 10, 40, seed = 71L).toDF().cache()
    store.ingest(turns)
    store.rollupIncremental()
    val m1 = store.readTier(Tier.Minute)
      .select($"conv_id", org.apache.spark.sql.functions.unix_micros($"bucket_ts"),
        $"text_len_sum".cast("double"))
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(x => (x._2, x._3)).sortBy(_._1).toSeq).toMap
    val chunks = store.readTierWithChunks(Tier.Hour)
      .select($"conv_id", $"bucket_ts", $"chunk")
      .as[(String, java.sql.Timestamp, Array[Byte])].collect()
    assert(chunks.nonEmpty)
    val decodedByConv = chunks.groupBy(_._1).view.mapValues(
      _.flatMap(c => graft.compress.Gorilla.decode(c._3)).sortBy(_._1).toSeq).toMap
    decodedByConv.foreach { case (conv, pts) =>
      assert(pts == m1(conv), s"chunk decode mismatch for $conv")
    }
    // incremental second batch: chunks recomputed, still exact
    val b2 = TranscriptGen.generate(spark, 10, 40, seed = 72L).toDF()
      .withColumn("turn_idx", $"turn_idx" + org.apache.spark.sql.functions.lit(50000))
    store.ingest(b2)
    store.rollupIncremental()
    val m1b = store.readTier(Tier.Minute)
      .select($"conv_id", org.apache.spark.sql.functions.unix_micros($"bucket_ts"),
        $"text_len_sum".cast("double"))
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(x => (x._2, x._3)).sortBy(_._1).toSeq).toMap
    val decoded2 = store.readTierWithChunks(Tier.Hour)
      .select($"conv_id", $"chunk").as[(String, Array[Byte])].collect()
      .groupBy(_._1).view.mapValues(
        _.flatMap(c => graft.compress.Gorilla.decode(c._2)).sortBy(_._1).toSeq).toMap
    decoded2.foreach { case (conv, pts) =>
      assert(pts == m1b(conv), s"post-merge chunk mismatch for $conv")
    }
    // the distributed serving view decodes to the same point set
    val served = store.readDecodedPoints(Tier.Hour)
      .select($"conv_id", org.apache.spark.sql.functions.unix_micros($"bucket_ts"),
        $"value")
      .as[(String, Long, Double)].collect().toSet
    val want = m1b.toSeq.flatMap { case (c, pts) => pts.map(p => (c, p._1, p._2)) }.toSet
    assert(served == want, "readDecodedPoints != finer tier")
    turns.unpersist()
  }

  test("readConversation serves pruned-and-exact turns before and after clusterAll") {
    val store = new TranscriptStore(spark, tmpWarehouse("serve"), convBuckets = 2)
    // several appends so conversations scatter across files
    (0 until 3).foreach { i =>
      store.ingest(TranscriptGen.generate(spark, 12, 15, seed = 40L + i).toDF())
    }
    val conv = store.readTurns().select("conv_id").orderBy("conv_id")
      .head().getString(0)
    def turnsOf = store.readConversation(conv)
      .orderBy("turn_idx").select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().toSeq
    val expected = store.readTurns().filter($"conv_id" === conv)
      .orderBy("turn_idx").select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().toSeq
    assert(expected.nonEmpty)
    assert(turnsOf == expected, "pre-clustering serve must already be exact")
    val filesBefore = store.raw.scanFilesByKey(conv, conv).size
    store.clusterAll(filesPerPartition = 1)
    assert(turnsOf == expected, "clustering must not change contents")
    val live = store.raw.currentSnapshot.get.files.size
    val filesAfter = store.raw.scanFilesByKey(conv, conv).size
    assert(filesAfter < math.max(filesBefore, live),
      s"clustering should shrink the key read: $filesAfter vs live $live " +
        s"(pre-cluster hit $filesBefore)")
  }

  test("readConversation of an id no live file covers is empty, with the turn columns") {
    val store = new TranscriptStore(spark, tmpWarehouse("miss"), convBuckets = 2)
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val before = store.readConversation("conv-000001")
    assert(before.columns.toSeq == cols && before.isEmpty)
    store.ingest(TranscriptGen.generate(spark, 5, 4, seed = 3L).toDF())
    // sorts after every generated id, so no file's key bounds cover it
    val missing = store.readConversation("zzz")
    assert(missing.columns.toSeq == cols)
    assert(missing.isEmpty)
  }

  test("an empty tier reads as an empty frame with the tier columns") {
    val store = new TranscriptStore(spark, tmpWarehouse("emptytier"), convBuckets = 2)
    Tier.cascade.foreach { t =>
      val df = store.readTier(t)
      assert(df.columns.toSeq == tierCols, t.name)
      assert(df.isEmpty, t.name)
    }
    val chunks = store.readTierWithChunks(Tier.Hour)
    assert(chunks.columns.toSeq == tierCols :+ "chunk")
    assert(chunks.isEmpty)
  }

  test("readDecodedPoints of an empty tier is empty, with its point columns") {
    val store = new TranscriptStore(spark, tmpWarehouse("emptypoints"), convBuckets = 2)
    val points = store.readDecodedPoints(Tier.Hour)
    assert(points.columns.toSeq == Seq("conv_id", "bucket_ts", "value"))
    assert(points.isEmpty)
  }

  test("publishServing of an empty store pins every tier at snapshot 0") {
    val wh = tmpWarehouse("emptypublish")
    val store = new TranscriptStore(spark, wh, convBuckets = 2)
    store.publishServing()
    assert(Files.readString(graft.plans.TierRouting.pinsPath(wh)) ==
      "1m 0 0\n1h 0 0\n1d 0 0\n")
    // a pin copies nothing
    assert(Files.list(graft.plans.TierRouting.pinsPath(wh).getParent).count() == 1L)
  }

  test("laggedCorrelation served from the 1h tier equals the raw computation") {
    import org.apache.spark.sql.functions._
    val store = new TranscriptStore(spark, tmpWarehouse("lagcorr"), convBuckets = 2)
    val turns = TranscriptGen.generate(spark, 20, 40, seed = 77L).toDF().cache()
    store.ingest(turns)
    store.rollupIncremental()
    def corrOf(series: org.apache.spark.sql.DataFrame, x: String, y: String) =
      graft.functions.SeriesFunctions.laggedCorrelation(
          series, Seq("conv_id"), "bucket_ts", x, y,
          lagBuckets = 1, bucketSecs = 3600, minPairs = 3)
        .as[(String, Long, Long)].collect().toSet
    val raw = turns.groupBy($"conv_id",
        Rollup.bucketWidth($"ts", "1h").as("bucket_ts"))
      .agg(sum(when($"role" === "user", 1L).otherwise(0L)).as("u"),
        sum(when($"role" === "assistant", 1L).otherwise(0L)).as("a"))
    // the 1h tier already materializes per-role counts: correlation is
    // served from bucket-count-sized partials, zero raw-turn reads
    val tier = store.readTier(Tier.Hour)
      .select($"conv_id", $"bucket_ts", $"role_user_cnt", $"role_assistant_cnt")
    val got = corrOf(tier, "role_user_cnt", "role_assistant_cnt")
    val want = corrOf(raw, "u", "a")
    assert(want.nonEmpty, "fixture must yield correlatable series")
    assert(got == want)
    turns.unpersist()
  }

  test("snapshot isolation: reader pinned to an old snapshot sees old data; rollback works") {
    val wh = tmpWarehouse("snap")
    val t = ChronoTable(spark, s"$wh/t", Seq("ts_day"))
    val df1 = Seq(("a", "2024-01-01"), ("b", "2024-01-02")).toDF("k", "ts_day")
    val df2 = Seq(("c", "2024-01-03")).toDF("k", "ts_day")
    val s1 = t.append(df1)
    val s2 = t.append(df2)
    assert(t.read(s1).count() == 2)
    assert(t.read(s2).count() == 3)
    assert(t.readIncremental(s1, s2).select("k").as[String].collect().toSet == Set("c"))
    t.rollback(s1)
    assert(t.read().count() == 2)
    assert(t.currentSnapshotId == s1)
  }

  test("lineage metrics: per-partition rows for every job") {
    val store = new TranscriptStore(spark, tmpWarehouse("metrics"), convBuckets = 2)
    store.ingest(TranscriptGen.generate(spark, 6, 10, seed = 41L).toDF())
    store.rollupIncremental()
    val m = store.readMetrics()
    val jobs = m.select("job").distinct().as[String].collect().toSet
    assert(jobs == Set("ingest", "rollup_1m", "rollup_1h", "rollup_1d"), jobs.toString)
    // every metrics row carries a partition day and non-negative counts
    assert(m.filter($"partition_day".isNull || $"row_cnt" < 0).count() == 0)
    // rolled turn counts are conserved across tiers
    val perTier = m.filter($"job".startsWith("rollup"))
      .groupBy("job").sum("rolled_turn_cnt")
      .as[(String, Long)].collect().toMap
    assert(perTier.values.toSet.size == 1, s"turn counts not conserved: $perTier")
  }

  test("publishServing writes the pins atomically: old-or-new, never partial") {
    val wh = tmpWarehouse("atomicpin")
    val store = new TranscriptStore(spark, wh, convBuckets = 2)
    store.ingest(TranscriptGen.generate(spark, 4, 8, seed = 43L).toDF())
    store.rollupIncremental()
    val p = graft.plans.TierRouting.pinsPath(wh)
    // a stale pin file AND a leftover tmp from a crashed publish
    Files.createDirectories(p.getParent)
    Files.writeString(p, "1m 0 0\n1h 0 0\n1d 0 0\n")
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, "1m 999") // truncated crash debris
    store.publishServing()
    // the publish replaced the pins via rename: tmp is consumed, and
    // the visible file is the complete NEW content (a reader at any
    // point saw either the old pins or these — the rename is atomic,
    // there is no intermediate truncated state on disk)
    assert(!Files.exists(tmp), "tmp file must be consumed by the rename")
    // every tier pinned at its CURRENT, reflecting raw CURRENT
    val want = Tier.cascade.map(t => t.name -> graft.plans.TierRouting.ServingPin(
      store.tier(t).currentSnapshotId, store.raw.currentSnapshotId)).toMap
    assert(graft.plans.TierRouting.servingPins(wh) == want, Files.readString(p))
    assert(want.values.forall(_.snapshotId > 0L))
  }

  test("a pin reflects raw only through a caught-up cascade chain") {
    val wh = tmpWarehouse("pinchain")
    val store = new TranscriptStore(spark, wh, convBuckets = 2)
    store.ingest(TranscriptGen.generate(spark, 4, 8, seed = 45L).toDF())
    store.rollupIncremental()
    store.ingest(TranscriptGen.generate(spark, 4, 8, seed = 44L).toDF()
      .withColumn("turn_idx", $"turn_idx" + 100))
    store.rollupIncremental()
    // 1m moves on alone (a crash before the 1h fold): 1h and 1d
    // reflect no raw snapshot until the cascade catches up
    Seq(store.tier1h, store.tier1d).foreach(t => t.rollback(t.currentSnapshotId - 1))
    store.publishServing()
    val pins = graft.plans.TierRouting.servingPins(wh)
    assert(pins("1m").rawSnapshotId == store.raw.currentSnapshotId)
    assert(pins("1h").rawSnapshotId == 0L && pins("1d").rawSnapshotId == 0L, pins.toString)
    // caught up again, a 1m commit that adds no file keeps it so
    store.rollupIncremental()
    store.tier1m.dropPartitions(_ => false)
    store.publishServing()
    assert(graft.plans.TierRouting.servingPins(wh).values.map(_.rawSnapshotId).toSet ==
      Set(store.raw.currentSnapshotId))
  }

  test("a 1m-only retention that drops a day keeps 1h and 1d pinned at raw CURRENT") {
    import org.apache.spark.sql.functions.expr
    val wh = tmpWarehouse("pinretain")
    val store = new TranscriptStore(spark, wh, convBuckets = 2)
    val b = TranscriptGen.generate(spark, 4, 8, seed = 47L).toDF()
    store.ingest(b.unionByName(b.withColumn("ts", expr("ts - INTERVAL 60 DAYS"))
      .withColumn("turn_idx", $"turn_idx" + 2000)))
    store.rollupIncremental()
    assert(store.retain(Map("1m" -> 30), LocalDate.parse("2024-01-01"))("1m") > 0)
    store.publishServing()
    val pins = graft.plans.TierRouting.servingPins(wh)
    assert(pins.keySet == Set("1m", "1h", "1d"))
    assert(pins.values.forall(_.rawSnapshotId == store.raw.currentSnapshotId), pins.toString)
    assert(pins("1m").snapshotId == store.tier1m.currentSnapshotId)
  }

  test("a 0-row deduped replay commits no tier snapshot, and the pins reach raw CURRENT") {
    val wh = tmpWarehouse("replay")
    val store = new TranscriptStore(spark, wh, convBuckets = 2)
    val b = TranscriptGen.generate(spark, 4, 8, seed = 48L).toDF().cache()
    store.ingest(b)
    store.rollupIncremental()
    val tiers = Tier.cascade.map(store.tier)
    val before = tiers.map(_.currentSnapshotId)
    val rawBefore = store.raw.currentSnapshotId
    val metricsBefore = store.metrics.currentSnapshotId
    // a replay that adds no row commits no raw snapshot and no lineage
    assert(store.ingest(b, dedupe = true) == rawBefore)
    assert(store.raw.currentSnapshotId == rawBefore)
    assert(store.metrics.currentSnapshotId == metricsBefore)
    assert(store.rollupIncremental().isEmpty)
    assert(tiers.map(_.currentSnapshotId) == before)
    store.publishServing()
    assert(graft.plans.TierRouting.servingPins(wh).values.map(_.rawSnapshotId).toSet ==
      Set(store.raw.currentSnapshotId))
    b.unpersist()
  }

  test("a non-UTC session is refused by ingest and rollupIncremental, naming the zone") {
    val store = new TranscriptStore(spark, tmpWarehouse("tz"), convBuckets = 2)
    def batch(seed: Long) = TranscriptGen.generate(spark, 2, 12, seed = seed).toDF()
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    def inZone[A](zone: String)(body: => A): A = {
      spark.conf.set("spark.sql.session.timeZone", zone)
      try body finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    }
    // off UTC the day partitions and the 1d buckets disagree, so the
    // tiers would double count: refused before anything is written
    inZone("America/New_York") {
      val e = intercept[IllegalStateException](store.ingest(batch(46L)))
      assert(e.getMessage.contains("America/New_York"), e.getMessage)
    }
    assert(store.raw.currentSnapshotId == 0L)
    store.ingest(batch(46L))
    inZone("America/New_York") {
      val e = intercept[IllegalStateException](store.rollupIncremental())
      assert(e.getMessage.contains("America/New_York"), e.getMessage)
    }
    assert(store.tier1m.currentSnapshotId == 0L)
    // a UTC-equivalent zone by another name is accepted
    inZone("Etc/UTC") {
      store.ingest(batch(47L).withColumn("turn_idx", $"turn_idx" + 100))
      store.rollupIncremental()
    }
    val all = batch(46L).unionByName(batch(47L).withColumn("turn_idx", $"turn_idx" + 100))
    assert(store.readTier(Tier.Day).as[graft.model.TierRow].collect().toSet ==
      Rollup.rollupRaw(all, Tier.Day).as[graft.model.TierRow].collect().toSet)
  }

  private def lit(s: String) = org.apache.spark.sql.functions.lit(s)
}
