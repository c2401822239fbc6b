package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.rollup.{Rollup, TranscriptStore}

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
  def runOnce(stream: DataFrame, store: TranscriptStore, checkpointDir: String): Unit =
    drain(writer(stream, store), checkpointDir)

  /** Run `w` over everything currently available, checkpointed in
    * `checkpointDir`, and wait for it to stop.
    */
  private[streaming] def drain(w: DataStreamWriter[Row], checkpointDir: String): Unit =
    w.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

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

  /** Add an event-time watermark on `ts` unless the plan already has
    * one (Spark disallows redefinition — composing [[dedupedTurns]]
    * in front of [[windowedRollup]] must not set it twice).
    */
  private def ensureWatermark(df: DataFrame, lateness: String): DataFrame =
    if (df.queryExecution.analyzed.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => e
    }.isDefined) df
    else df.withWatermark("ts", lateness)

  /** The native Structured-Streaming rollup: event-time watermark +
    * tumbling window over the batch tiers' one metric set
    * (`Rollup.turnRows` folded by `Rollup.foldAggs`, as
    * `Rollup.rollupRaw` does), state bounded by the watermark.
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
  def windowedRollup(stream: DataFrame, tier: graft.model.Tier,
      lateness: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions.{col, window}
    // turnRows aliases `ts` as `bucket_ts`, and the alias keeps the
    // watermark, so it sits on the grouped column
    val aggs = Rollup.foldAggs
    Rollup.turnRows(ensureWatermark(stream, lateness), col("ts"))
      .groupBy(col("conv_id"), window(col("bucket_ts"), s"${tier.millis / 1000L} seconds").as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .select((col("conv_id") +: col("w.start").as("bucket_ts") +:
        Rollup.metricCols.map(col)): _*)
  }
}
