package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.datagen.TranscriptGen

/** Seeded inputs. The same seed and size give the same rows. */
object Inputs {

  /** A transcript corpus: `nConvs` conversations of about `avgTurns`
    * turns, plus conversation 0 holding about `hotTurns` turns.
    */
  def turns(spark: SparkSession, nConvs: Int, avgTurns: Int, hotTurns: Int,
      seed: Long): DataFrame = {
    // TranscriptGen sizes the hot conversation as a share of all rows:
    // hot = others * share / (1 - share), others ~ nConvs * avg * 1.3
    val others = nConvs.toDouble * avgTurns * 1.3
    val share = hotTurns / (hotTurns + others)
    TranscriptGen.generate(spark, nConvs, avgTurns, seed = seed,
      hotShare = share, partitions = 8).toDF()
  }

  /** Write `corpus` to `dir` cut into batches of `batchRows` rows in
    * `ts` order (`dir/_batch=<i>`); the rows that do not fill a whole
    * batch are left out. Returns the number of batches.
    */
  def writeBatches(corpus: DataFrame, dir: String, batchRows: Int): Int = {
    val n = (corpus.count() / batchRows).toInt
    require(n > 0, s"corpus holds fewer than $batchRows rows")
    val w = Window.orderBy(col("ts"), col("conv_id"), col("turn_idx"))
    corpus.withColumn("_batch",
        ((row_number().over(w) - 1) / lit(batchRows)).cast("int"))
      .filter(col("_batch") < n)
      .write.mode("overwrite").partitionBy("_batch").parquet(dir)
    n
  }

  def batch(spark: SparkSession, dir: String, i: Int): DataFrame =
    spark.read.parquet(s"$dir/_batch=$i")

  def batchesBefore(spark: SparkSession, dir: String, n: Int): DataFrame =
    spark.read.parquet(dir).filter(col("_batch") < n).drop("_batch")

  private val eventTypes = Array("click", "view", "purchase", "signup", "error")
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val vocab = Array("a", "the", "spark", "batch", "part", "line", "column",
    "order", "small", "big", "sort", "fast", "slow", "value", "scan", "hash",
    "group", "agg", "filter", "query", "key", "window", "row", "table", "stream",
    "merge", "data", "vector", "customer", "join")

  private def mix(seed: Long, k: Long): Long = {
    var h = seed ^ (k * 0x9E3779B97F4A7C15L)
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  /** `events.parquet` and `documents.parquet` in the schema the declared
    * queries read, at scale factor `sf` (sf 1 = 1M events over 15k users
    * and 50k documents, over 30 days from 2024-01-01).
    */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long): (Long, Long) = {
    import spark.implicits._
    val nEvents = math.max(1000L, (1e6 * sf).toLong)
    val nUsers = math.max(10L, (15000 * sf).toLong)
    val nDocs = math.max(100L, (50000 * sf).toLong)
    val spanUs = 30L * 86400L * 1000000L
    val stepUs = spanUs / nEvents
    val sd = seed
    val types = eventTypes
    spark.range(0, nEvents, 1, 8).as[Long].map { i =>
      val r = new scala.util.Random(mix(sd, i))
      // event ids follow ts order: one event per step, jittered inside it
      val us = TranscriptGen.BaseMicros + i * stepUs + (r.nextDouble() * stepUs).toLong
      (i, us, (r.nextDouble() * nUsers).toLong, types(r.nextInt(types.length)),
        math.round(r.nextDouble() * 15000.0) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ls = langs
    val vs = vocab
    spark.range(0, nDocs, 1, 8).as[Long].map { i =>
      val r = new scala.util.Random(mix(sd + 7, i))
      val text = Seq.fill(2 + r.nextInt(99))(vs(r.nextInt(vs.length))).mkString(" ")
      (i, text, ls(r.nextInt(ls.length)), s"src${r.nextInt(20)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (nEvents, nDocs)
  }
}
