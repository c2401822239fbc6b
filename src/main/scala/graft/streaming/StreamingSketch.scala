package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Sketches
import graft.table.ChronoTable

/** Incremental count-min sketch maintenance over a stream — the
  * capability the sketch exists FOR: frequency state over an
  * unbounded key stream in O(depth × width) space, updated without
  * ever rescanning history (exact `groupBy(key)` streaming state
  * grows with key cardinality; the sketch's is constant).
  *
  * Shape: each micro-batch builds its own bounded PARTIAL sketch
  * ([[Sketches.cmsBuild]], ≤ depth×width rows) and appends it to a
  * [[ChronoTable]] in one atomic snapshot — blind append, no
  * read-modify-write, so a batch commit costs O(depth × width)
  * regardless of how much history exists. Counters are additive, so
  * the merged view ([[merged]]) is a groupBy-sum over the partials;
  * [[compact]] folds accumulated partials back to ≤ depth×width rows
  * in one copy-on-write commit (the same maintenance discipline as
  * tier compaction). Snapshot isolation gives replayed micro-batches
  * a rollback point and readers a consistent sketch mid-stream.
  */
object StreamingSketch {

  /** Open (or create) the sketch table at `root`. One partition —
    * the table IS metadata-scale (≤ depth×width rows per batch).
    */
  def table(spark: SparkSession, root: String): ChronoTable =
    ChronoTable(spark, root, partitionCols = Seq.empty, statsTsCol = None)

  /** Attach to a streaming DataFrame: per micro-batch, append the
    * batch's partial sketch. `fpCol` must evaluate on the stream's
    * columns to a MirrorHash-domain fingerprint.
    */
  def writer(stream: DataFrame, fpCol: Column, depth: Int, width: Int,
      sketchTable: ChronoTable): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          sketchTable.append(
            Sketches.cmsBuild(batch, fpCol, depth, width),
            Map("cms_batch" -> batchId.toString))
          ()
        }
      }

  /** Drain all currently-available input, then stop. */
  def runOnce(stream: DataFrame, fpCol: Column, depth: Int, width: Int,
      sketchTable: ChronoTable, checkpointDir: String): Unit =
    StreamingRollup.drain(writer(stream, fpCol, depth, width, sketchTable), checkpointDir)

  /** The current full-stream sketch: sum of all committed partials.
    * Read cost is (batches × depth × width) rows until [[compact]]
    * folds them — bounded by commit count, never by stream volume.
    */
  def merged(sketchTable: ChronoTable): DataFrame =
    sketchTable.read()
      .groupBy("cms_row", "cms_bucket")
      .agg(sum("cnt").as("cnt"))

  /** Fold accumulated partials to one canonical partial (≤
    * depth×width rows) in a single copy-on-write snapshot.
    */
  def compact(sketchTable: ChronoTable): Long =
    sketchTable.overwritePartitions(
      _ => true,
      Some(merged(sketchTable).select("cms_row", "cms_bucket", "cnt")),
      op = "cms-compact")
}
