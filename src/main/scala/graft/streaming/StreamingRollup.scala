package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.rollup.TranscriptStore

/** Structured Streaming wrapper around the batch pipeline (SURVEY.md
  * §2.8): `foreachBatch` funnels each micro-batch through the SAME
  * `ingest → rollupIncremental` path the batch jobs use, so streaming
  * and batch share one exactly-once implementation — the snapshot
  * watermark in each tier commit makes a replayed micro-batch (after
  * a sink-side crash) converge to the same tiers rather than
  * double-count.
  *
  * The engine remains batch-incremental by design (snapshot id ==
  * watermark analog); this wrapper is for sources that arrive as
  * streams (file drops, Kafka) without changing rollup semantics.
  */
object StreamingRollup {

  /** Attach the pipeline to any streaming Dataset of turn-shaped rows.
    * Caller starts/stops the query (or uses [[runOnce]]).
    */
  def writer(stream: DataFrame, store: TranscriptStore): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          store.ingest(batch)
          store.rollupIncremental()
          ()
        }
      }

  /** Drain everything currently available, then stop — the batch-like
    * invocation used by tests and catch-up jobs.
    */
  def runOnce(stream: DataFrame, store: TranscriptStore, checkpointDir: String): Unit = {
    val q: StreamingQuery = writer(stream, store)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming exact dedup on the transcript key: state-backed
    * `dropDuplicatesWithinWatermark` on (conv_id, turn_idx) — the
    * streaming face of `ingest(dedupe=true)`'s exactly-once promise
    * for at-least-once sources that replay WITHIN the watermark
    * horizon (state is bounded by it; replays older than the horizon
    * are the batch path's anti-join's job). Feed this in front of
    * [[writer]] or [[windowedRollup]].
    */
  def dedupedTurns(stream: DataFrame, lateness: String = "10 minutes"): DataFrame =
    stream
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")

  /** The native Structured-Streaming rollup: event-time watermark +
    * tumbling window over the SAME algebraic metric set as the batch
    * tiers (`Rollup.rollupRaw` shape), state bounded by the watermark.
    * Use when a continuously-running query (not the batch-incremental
    * store) should serve the finest tier; its output rows fold with
    * `Rollup.foldAggs` exactly like any tier.
    *
    * Late data beyond `lateness` is dropped by the watermark — the
    * streaming-world analog of the batch pipeline's snapshot
    * watermark, trading the batch path's perfect replay for bounded
    * state. Output mode append: a window emits once, when the
    * watermark passes its end.
    */
  /** Add an event-time watermark on `ts` unless the plan already has
    * one (Spark disallows redefinition — composing [[dedupedTurns]]
    * in front of [[windowedRollup]] must not set it twice).
    */
  private def ensureWatermark(df: DataFrame, lateness: String): DataFrame =
    if (df.queryExecution.analyzed.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => e
    }.isDefined) df
    else df.withWatermark("ts", lateness)

  def windowedRollup(stream: DataFrame, tier: graft.model.Tier,
      lateness: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions._
    val winSpec = s"${tier.millis / 1000L} seconds"
    ensureWatermark(stream, lateness)
      .groupBy(col("conv_id"), window(col("ts"), winSpec).as("w"))
      .agg(
        count(lit(1)).as("turn_cnt"),
        count(col("tool")).as("tool_cnt"),
        count(col("text")).as("text_cnt"),
        sum(length(col("text")).cast("long")).as("text_len_sum"),
        min(length(col("text")).cast("long")).as("text_len_min"),
        max(length(col("text")).cast("long")).as("text_len_max"),
        count(when(col("role") === "user", 1)).as("role_user_cnt"),
        count(when(col("role") === "assistant", 1)).as("role_assistant_cnt"),
        count(when(col("role") === "tool", 1)).as("role_tool_cnt"))
      .select((col("conv_id") +: col("w.start").as("bucket_ts") +:
        graft.rollup.Rollup.metricCols.map(col)): _*)
  }
}
