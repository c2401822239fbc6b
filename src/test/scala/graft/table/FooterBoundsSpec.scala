package graft.table

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.datagen.TranscriptGen
import graft.model.Tier
import graft.rollup.TranscriptStore

/** Per-file bounds come from each new file's parquet footer: they must
  * equal what a Spark scan of the file computes, never be narrower, and
  * a commit must start no Spark job besides its write.
  */
class FooterBoundsSpec extends SparkSuite {
  import spark.implicits._

  private val TsType = "spark.sql.parquet.outputTimestampType"

  private val Prefixes = Seq("Conv-", "CONV-", "conv-", "Ärger-", "日本-", "😀-", "Zz-")

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-$tag-").toString

  private def footerOf(t: ChronoTable, f: ChronoTable.FileEntry) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(Paths.get(t.root, "data", f.path).toUri),
      spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** (minTsUs, maxTsUs, minKey, maxKey) of every live file of `t`, as
    * Spark computes them from the file's rows.
    */
  private def scanned(t: ChronoTable, tsCol: String) = {
    val got = t.read()
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col(tsCol))), max(unix_micros(col(tsCol))),
        min("conv_id"), max("conv_id"))
      .as[(String, Option[Long], Option[Long], Option[String], Option[String])]
      .collect()
    t.liveFiles().map { f =>
      val hits = got.filter(_._1.endsWith("/" + f.path))
      assert(hits.length == 1, s"${f.path}: ${got.map(_._1).toSeq}")
      f.path -> hits.head.copy(_1 = f.path)
    }.toMap
  }

  private def recorded(t: ChronoTable) = t.liveFiles().map(f =>
    f.path -> (f.path, f.minTsUs, f.maxTsUs, f.minKey, f.maxKey)).toMap

  /** Turns whose conversation ids mix case and leave ASCII, so byte
    * order and UTF-16 order of the ids differ.
    */
  private def turns(seed: Long, nConvs: Int = 14): DataFrame = {
    val base = TranscriptGen.generate(spark, nConvs, 6, seed = seed).toDF()
    // conv ids are "conv-" plus a zero-padded user id
    val nth = pmod(substring(col("conv_id"), 6, 6).cast("int"), lit(Prefixes.size)) + 1
    base.withColumn("conv_id",
      concat(element_at(array(Prefixes.map(lit): _*), nth), col("conv_id")))
  }

  test("raw and every tier record each file's Spark-computed ts and conv_id bounds") {
    val store = new TranscriptStore(spark, tmp("bounds"), convBuckets = 2)
    val b1 = turns(11L)
    val b2 = turns(12L).withColumn("turn_idx", $"turn_idx" + lit(50000))
      .withColumn("ts", $"ts" + expr("INTERVAL 2 DAYS"))
    store.ingest(b1, dedupe = true)
    store.rollupIncremental()
    // the second batch replays the first; dedupe drops the replay
    store.ingest(b1.unionByName(b2), dedupe = true)
    store.rollupIncremental()
    assert(store.raw.read().count() < 2 * b1.count() + b2.count())
    val ids = store.raw.read().select("conv_id").as[String].collect().toSet
    assert(Prefixes.forall(p => ids.exists(_.startsWith(p))), ids)
    val tables = ("raw", store.raw, "ts") +:
      Tier.cascade.map(t => (t.name, store.tier(t), "bucket_ts"))
    tables.foreach { case (name, t, tsCol) =>
      val want = scanned(t, tsCol)
      assert(want.values.forall(v => v._2.isDefined && v._4.isDefined), name)
      assert(recorded(t) == want, name)
    }
  }

  test("bounds span every row group of a file") {
    val t = ChronoTable(spark, s"${tmp("rowgroups")}/t", Seq.empty, Some("ts"),
      clusterCol = Some("conv_id"))
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 4096)
    try t.append(turns(21L, nConvs = 120).repartition(1))
    finally prev.fold(hc.unset("parquet.block.size"))(hc.set("parquet.block.size", _))
    assert(t.liveFiles().size == 1)
    assert(footerOf(t, t.liveFiles().head).getBlocks.size > 1,
      "fixture must span several row groups")
    assert(recorded(t) == scanned(t, "ts"))
  }

  test("key lookups compare in the bounds' UTF-8 byte order, not UTF-16 order") {
    val t = ChronoTable(spark, s"${tmp("keyorder")}/t", Seq.empty, None,
      clusterCol = Some("conv_id"))
    // U+FFFD sorts below U+1F600 in UTF-8 bytes but above its UTF-16
    // surrogates, so a UTF-16 compare would prune the file holding both
    t.append(Seq("\uFFFD", "😀").toDF("conv_id").coalesce(1))
    val f = t.liveFiles().head
    assert(f.minKey.contains("\uFFFD") && f.maxKey.contains("😀"))
    Seq("\uFFFD", "😀").foreach { k =>
      assert(t.scanFilesByKey(k, k) == Seq(f), k)
      assert(t.readKeyRange(k, k).filter($"conv_id" === k).count() == 1L, k)
    }
    assert(t.scanFilesByKey("a", "b").isEmpty)
  }

  test("an all-null stats column records no ts bounds and is never pruned") {
    val t = ChronoTable(spark, s"${tmp("nulls")}/t", Seq("p"), Some("ts"),
      clusterCol = Some("conv_id"))
    val df = Seq(("a", "k1", None), ("a", "k2", None),
        ("b", "k3", Some("2024-01-01 10:00:00")), ("b", "k4", None),
        ("b", "k5", Some("2024-01-03 10:00:00")))
      .toDF("p", "conv_id", "ts").withColumn("ts", to_timestamp($"ts"))
    t.append(df.coalesce(1))
    val byPart = t.liveFiles().map(f => t.parsePartition(f.partition)("p") -> f).toMap
    val a = byPart("a")
    assert(a.minTsUs.isEmpty && a.maxTsUs.isEmpty)
    assert(a.minKey.contains("k1") && a.maxKey.contains("k2"))
    // nulls do not widen or void the bounds of a file with values
    val b = byPart("b")
    assert(b.minTsUs.contains(1704103200000000L) && b.maxTsUs.contains(1704276000000000L))
    assert(t.scanFiles(0L, 1L).map(_.path) == Seq(a.path))
    assert(t.readRange(0L, 1L).count() == 2L)
  }

  test("commits write ts as INT64 micros and leave the session's timestamp type as it was") {
    val t = ChronoTable(spark, s"${tmp("conf")}/t", Seq.empty, Some("ts"))
    val df = Seq(("x", "2024-01-01 10:00:00")).toDF("k", "ts")
      .withColumn("ts", to_timestamp($"ts"))
    def setting = spark.conf.getAll.get(TsType)
    def tsTypes = t.liveFiles().map { f =>
      val ts = footerOf(t, f).getFileMetaData.getSchema
        .getColumnDescription(Array("ts")).getPrimitiveType
      (ts.getPrimitiveTypeName, ts.getLogicalTypeAnnotation)
    }.toSet
    assert(setting.isEmpty, "the suite session must not set the timestamp type")
    t.append(df)
    assert(setting.isEmpty)
    spark.conf.set(TsType, "INT96")
    try {
      t.append(df)
      assert(setting.contains("INT96"))
      assert(tsTypes == Set((PrimitiveTypeName.INT64,
        LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))))
      val boom = df.withColumn("k",
        when($"k" === "x", raise_error(lit("boom"))).otherwise($"k"))
      val before = t.currentSnapshotId
      intercept[Exception](t.append(boom))
      assert(setting.contains("INT96"), "a failed write must restore the setting")
      assert(t.currentSnapshotId == before)
    } finally spark.conf.unset(TsType)
    intercept[Exception](t.append(df.withColumn("k", raise_error(lit("boom")).cast("string"))))
    assert(setting.isEmpty)
    assert(t.read().count() == 2L)
  }

  test("a non-timestamp stats column and a non-string cluster column are rejected") {
    val asString = ChronoTable(spark, s"${tmp("badts")}/t", Seq.empty, Some("ts"))
    val e1 = intercept[IllegalArgumentException](
      asString.append(Seq(("k", "2024-01-01")).toDF("conv_id", "ts")))
    assert(e1.getMessage.contains("statsTsCol `ts` must be timestamp"))
    val intKey = ChronoTable(spark, s"${tmp("badkey")}/t", Seq.empty, None,
      clusterCol = Some("conv_id"))
    val e2 = intercept[IllegalArgumentException](
      intKey.append(Seq((1, "a")).toDF("conv_id", "v")))
    assert(e2.getMessage.contains("clusterCol `conv_id` must be string"))
    val e3 = intercept[IllegalArgumentException](
      intKey.append(Seq((1, "a")).toDF("id", "v")))
    assert(e3.getMessage.contains("no such column"))
    assert(asString.currentSnapshotId == 0L && intKey.currentSnapshotId == 0L)
  }

  test("commit job budget: append and overwritePartitions run only their write") {
    val t = ChronoTable(spark, s"${tmp("budget")}/t", Seq("ts_day"), Some("ts"),
      clusterCol = Some("conv_id"))
    def batch(seed: Long) = turns(seed)
      .withColumn("ts_day", date_format($"ts", "yyyy-MM-dd"))
      .repartition(3, $"conv_id")
    Seq[(String, () => Long)](
      "append" -> (() => t.append(batch(31L))),
      "overwritePartitions" -> (() => t.overwritePartitions(_ => true, Some(batch(32L))))
    ).foreach { case (name, commit) =>
      val jobs = jobsOf(commit())
      assert(jobs.nonEmpty, name)
      assert(jobs.forall(_.inSql) && jobs.map(_.executionId).distinct.size == 1,
        s"$name ran jobs outside its write: $jobs")
      assert(!jobs.exists(_.site.startsWith("collect at ChronoTable")), s"$name: $jobs")
    }
    assert(t.liveFiles().forall(f => f.minTsUs.isDefined && f.minKey.isDefined))
  }
}
