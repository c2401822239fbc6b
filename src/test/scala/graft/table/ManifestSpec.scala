package graft.table

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType}

import graft.SparkSuite
import graft.datagen.TranscriptGen
import graft.model.Tier
import graft.rollup.TranscriptStore

/** Bookkeeping from the manifest: a snapshot records the schema its
  * reads return, and the pipeline learns emptiness, affected days and
  * row counts from the snapshot's file entries instead of Spark jobs.
  */
class ManifestSpec extends SparkSuite {
  import spark.implicits._

  private def tmpWarehouse(tag: String): String =
    Files.createTempDirectory(s"graft-$tag-").toString

  /** Ten conversations' turns spread over two days (the
    * second copy three days on), so partition inference sees several
    * `ts_day` values.
    */
  private def twoDays(seed: Long): DataFrame = {
    val d1 = TranscriptGen.generate(spark, 10, 12, seed = seed).toDF()
    val d4 = d1.withColumn("ts", expr("ts + INTERVAL 3 DAYS"))
      .withColumn("turn_idx", $"turn_idx" + lit(10000))
    d1.unionByName(d4)
  }

  /** Rewrite snapshot `id` of `t` as a manifest written before read
    * schemas were recorded.
    */
  private def stripSchema(t: ChronoTable, id: Long): Unit = {
    val snap = Paths.get(t.root, "snapshots", s"v$id.json")
    val node = new ObjectMapper().readTree(Files.readString(snap)).asInstanceOf[ObjectNode]
    node.remove("schema")
    Files.writeString(snap, node.toString)
  }

  /** What a `basePath`-anchored read infers for snapshot `id`. */
  private def inferred(t: ChronoTable, id: Long) =
    spark.read.option("basePath", s"${t.root}/data")
      .parquet(t.liveFiles(id).map(f => s"${t.root}/data/${f.path}"): _*).schema

  test("the recorded schema equals the inferred one: every table, now, earlier, reopened") {
    val store = new TranscriptStore(spark, tmpWarehouse("schema"), convBuckets = 2)
    store.ingest(twoDays(61L), dedupe = true)
    store.rollupIncremental()
    store.ingest(twoDays(62L).withColumn("turn_idx", $"turn_idx" + lit(50000)),
      dedupe = true)
    store.rollupIncremental()
    Seq("raw" -> store.raw, "1m" -> store.tier1m, "1h" -> store.tier1h,
        "1d" -> store.tier1d, "metrics" -> store.metrics).foreach { case (name, t) =>
      val ids = Seq(t.currentSnapshotId, t.currentSnapshotId - 1)
      assert(ids.last >= 1L, s"$name has one snapshot only")
      val reopened = ChronoTable(spark, t.root, t.partitionCols, t.statsTsCol, t.clusterCol)
      ids.foreach { id =>
        val want = inferred(t, id)
        assert(t.snapshot(id).get.schema.contains(want), s"$name@$id")
        assert(reopened.snapshot(id).get.schema.contains(want), s"$name@$id reopened")
        assert(t.read(id).schema == want, s"$name@$id read")
      }
    }
    // the inferred partition types are kept, not strings
    val raw = store.raw.currentSnapshot.get.schema.get
    assert(raw("ts_day").dataType == DateType)
    assert(raw("batch_id").dataType == IntegerType)
    assert(raw("conv_bucket").dataType == IntegerType)
    assert(raw.fieldNames.takeRight(3).toSeq == Seq("batch_id", "ts_day", "conv_bucket"))
  }

  test("a manifest written without a schema still reads correctly, by inference") {
    val t = ChronoTable(spark, s"${tmpWarehouse("legacy")}/t", Seq("ts_day"),
      Some("ts"), clusterCol = Some("k"))
    val df = Seq(("a", "2024-01-01 10:00:00"), ("b", "2024-01-02 11:00:00"))
      .toDF("k", "ts").withColumn("ts", to_timestamp($"ts"))
      .withColumn("ts_day", date_format($"ts", "yyyy-MM-dd"))
    t.append(df)
    t.append(df.withColumn("k", concat($"k", lit("2"))))
    val before = t.read().orderBy("k").collect().toSeq
    val schemaBefore = t.read().schema
    (1 to 2).foreach(id => stripSchema(t, id.toLong))
    assert(t.currentSnapshot.get.schema.isEmpty)
    assert(t.read().schema == schemaBefore)
    assert(t.read().orderBy("k").collect().toSeq == before)
    assert(t.readIncremental(1L, 2L).count() == 2L)
    assert(t.readKeyRange("a", "a").filter($"k" === "a").count() == 1L)
    // the next commit records a schema again, equal to the inferred one
    t.append(df.withColumn("k", concat($"k", lit("3"))))
    assert(t.currentSnapshot.get.schema.contains(schemaBefore))
    assert(t.read().count() == 6L)
  }

  test("rollupIncremental's report and the lineage rows equal the Spark-computed values") {
    val store = new TranscriptStore(spark, tmpWarehouse("report"), convBuckets = 2)
    val b1 = twoDays(71L).cache()
    val b2 = twoDays(72L).withColumn("turn_idx", $"turn_idx" + lit(50000)).cache()
    def metricRows(job: String, sid: Long) = store.readMetrics()
      .filter($"job" === job && $"snapshot_id" === sid)
      .select("partition_day", "row_cnt", "rolled_turn_cnt")
      .as[(String, Long, Long)].collect().toSet
    def perDay(df: DataFrame, day: org.apache.spark.sql.Column,
        rolled: org.apache.spark.sql.Column) =
      df.groupBy(day.cast("string").as("d"))
        .agg(count(lit(1)), rolled)
        .as[(String, Long, Long)].collect().toSet
    Seq(b1, b1.unionByName(b2)).foreach { batch =>
      val rawSid = store.ingest(batch, dedupe = true)
      // the replay of b1 inside the second batch is dropped by dedupe
      val landed = store.raw.readIncremental(rawSid - 1, rawSid)
      assert(metricRows("ingest", rawSid) ==
        perDay(landed, $"ts_day", lit(0L)), "ingest lineage")
      val report = store.rollupIncremental()
      Tier.cascade.foreach { t =>
        val tbl = store.tier(t)
        val added = tbl.readIncremental(tbl.currentSnapshotId - 1, tbl.currentSnapshotId)
        assert(report(t.name) == added.count(), s"report ${t.name}")
        assert(metricRows(s"rollup_${t.name}", tbl.currentSnapshotId) ==
          perDay(added, $"ts_day", sum("turn_cnt")), s"lineage ${t.name}")
      }
    }
    b1.unpersist(); b2.unpersist()
  }

  /** A parquet schema-inference job: issued by a ChronoTable read while
    * it resolves the relation, so outside any SQL execution (file
    * listing jobs carry their own description).
    */
  private def inference(j: SparkSuite.Job) =
    j.site.startsWith("parquet at ChronoTable") && !j.inSql &&
      !j.description.startsWith("Listing leaf files")

  private def probe(j: SparkSuite.Job) =
    j.site.matches("(isEmpty|count|collect|distinct) at Pipeline\\.scala.*")

  test("job budget: rollupIncremental runs no schema-inference job and no Pipeline probe") {
    val store = new TranscriptStore(spark, tmpWarehouse("budget"), convBuckets = 2)
    store.ingest(twoDays(81L), dedupe = true)
    store.rollupIncremental()
    store.ingest(twoDays(82L).withColumn("turn_idx", $"turn_idx" + lit(50000)),
      dedupe = true)
    val jobs = jobsOf(store.rollupIncremental())
    assert(jobs.nonEmpty)
    assert(!jobs.exists(inference), s"schema inference: ${jobs.filter(inference)}")
    assert(!jobs.exists(probe), s"Pipeline probes: ${jobs.filter(probe)}")
    val publish = jobsOf(store.publishServing())
    assert(!publish.exists(j => inference(j) || probe(j)), publish.toString)
    // control: the detector does see inference when a read must infer
    val raw = store.raw
    stripSchema(raw, raw.currentSnapshotId)
    assert(raw.currentSnapshot.get.schema.isEmpty)
    assert(jobsOf(raw.read()).exists(inference), "a legacy read must infer")
  }

  test("job budget: rollupIncremental writes lineage without a job of its own; publish starts none") {
    val store = new TranscriptStore(spark, tmpWarehouse("pinbudget"), convBuckets = 2)
    store.ingest(twoDays(81L), dedupe = true)
    store.rollupIncremental()
    store.publishServing()
    val b2 = twoDays(82L).withColumn("turn_idx", $"turn_idx" + lit(50000)).cache()
    // the deduped ingest: the day probe, the write and one lineage append
    val ingestJobs = jobsOf(store.ingest(b2, dedupe = true))
    assert(ingestJobs.size <= 7, ingestJobs.mkString("\n"))
    // per tier the merge write, plus what the reads plan, and one
    // lineage append for the whole cascade; no job reads a merged frame
    // a second time for lineage
    val metricsBefore = store.metrics.currentSnapshotId
    val jobs = jobsOf(store.rollupIncremental())
    assert(jobs.size <= 7, jobs.mkString("\n"))
    assert(store.metrics.currentSnapshotId == metricsBefore + 1)
    assert(jobsOf(store.publishServing()).isEmpty)
    // a replay adds 0 rows: neither it nor the cascade commits,
    // and the publish after it starts no job either
    val rawBefore = store.raw.currentSnapshotId
    store.ingest(b2, dedupe = true)
    assert(store.raw.currentSnapshotId == rawBefore)
    store.rollupIncremental()
    assert(jobsOf(store.publishServing()).isEmpty)
    b2.unpersist()
  }
}
