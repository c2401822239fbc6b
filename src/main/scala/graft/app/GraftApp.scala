package graft.app

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.datagen.TranscriptGen
import graft.model.Tier
import graft.rollup.TranscriptStore

/** `spark-submit` entry point — the operational surface of the engine
  * (SURVEY.md §7 step 9). Runs identically under `local[*]` and a
  * cluster master; no code change between the sandbox and a
  * 1000-executor deployment (only `--master` / executor conf).
  *
  * Subcommands:
  * {{{
  *   ingest  <warehouse> <parquetPath>         append a batch of turns
  *   gen     <warehouse> <nConvs> <avgTurns>   ingest synthetic turns
  *   rollup  <warehouse>                       incremental 1m/1h/1d cascade
  *   retain  <warehouse> <today> raw=N 1m=N 1h=N 1d=N
  *   compact <warehouse> [minFiles]            rewrite multi-file partitions
  *   cluster <warehouse> [filesPerPartition]   sort-cluster on conv_id
  *   vacuum  <warehouse> [retainSnapshots]     reclaim unreferenced bytes
  *   publish <warehouse>                       pin tier snapshots for routed reads
  *   status  <warehouse>                       snapshots + tier row counts
  *   export  <warehouse> <table> <outDir> [csv|parquet]
  *                                             debug export (S10: the
  *                                             reference's CSV sink)
  * }}}
  */
object GraftApp {

  private def session(): SparkSession = {
    val b = SparkSession.builder()
      .appName("graft-engine")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // spark-submit provides the master on a cluster; default for dev
    val withMaster = if (sys.props.contains("spark.master")) b
      else b.master("local[*]").config("spark.sql.shuffle.partitions", "32")
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    try run(spark, args) finally spark.stop()
  }

  /** Testable core: never stops the session it is handed. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GraftApp <cmd> <warehouse> [...]")
    val cmd = args(0)
    val warehouse = args(1)
    val store = new TranscriptStore(spark, warehouse)
    cmd match {
      case "ingest" =>
        val sid = store.ingest(spark.read.parquet(args(2)))
        println(s"""{"op":"ingest","snapshot":$sid}""")
      case "gen" =>
        val sid = store.ingest(
          TranscriptGen.generate(spark, args(2).toLong, args(3).toInt).toDF())
        println(s"""{"op":"gen","snapshot":$sid}""")
      case "rollup" =>
        val report = store.rollupIncremental()
        val body = report.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        println(s"""{"op":"rollup","merged":{$body}}""")
      case "retain" =>
        val today = LocalDate.parse(args(2))
        val ttls = args.drop(3).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v.toInt
        }.toMap
        val dropped = store.retain(ttls, today)
        val body = dropped.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        println(s"""{"op":"retain","dropped_partitions":{$body}}""")
      case "compact" =>
        val minFiles = if (args.length > 2) args(2).toInt else 2
        val sids = store.compactAll(minFiles)
        val body = sids.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        println(s"""{"op":"compact","snapshots":{$body}}""")
      case "cluster" =>
        val files = if (args.length > 2) args(2).toInt else 1
        val sids = store.clusterAll(files)
        val body = sids.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        println(s"""{"op":"cluster","snapshots":{$body}}""")
      case "vacuum" =>
        val retain = if (args.length > 2) args(2).toInt else 1
        val freed = store.vacuum(retain)
        val body = freed.map { case (k, (f, b)) =>
          s""""$k":{"files":$f,"bytes":$b}""" }.mkString(",")
        println(s"""{"op":"vacuum","freed":{$body}}""")
      case "publish" =>
        store.publishServing()
        println(s"""{"op":"publish","warehouse":"$warehouse"}""")
      case "export" =>
        // S10 analog: the reference writes debug CSV next to each
        // parquet output (FileConcat.py / `test_mode`); here it is an
        // explicit verb so the debug sink never rides the hot path
        val table = args(2)
        val outDir = args(3)
        val format = if (args.length > 4) args(4) else "csv"
        val df = table match {
          case "raw" => store.readTurns()
          case "metrics" => store.readMetrics()
          case t => store.readTier(Tier(t))
        }
        val writer = df.write.mode("overwrite")
        format match {
          case "csv" => writer.option("header", "true").csv(outDir)
          case "parquet" => writer.parquet(outDir)
          case f => sys.error(s"unknown export format $f")
        }
        // no row count in the receipt: it would re-scan the whole
        // source table a second time just to print a number
        println(s"""{"op":"export","table":"$table","format":"$format","dir":"$outDir"}""")
      case "status" =>
        val tiers = Tier.cascade.map(t =>
          s""""${t.name}":${store.readTier(t).count()}""").mkString(",")
        println(s"""{"op":"status","raw_snapshot":${store.raw.currentSnapshotId},""" +
          s""""raw_rows":${store.readTurns().count()},"tier_rows":{$tiers}}""")
      case other =>
        sys.error(s"unknown subcommand $other")
    }
  }
}
