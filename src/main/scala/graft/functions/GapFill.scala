package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tier

/** Linear-interpolation gap-fill over tier series (north_star:
  * "linear-interpolation gap-fill via lag/lead window functions").
  *
  * The reference's own wiki names as-of/gap alignment as the design it
  * wished it had (/root/reference/meta/wiki/old/insights-experience.md:5);
  * at fixed tier granularity, window frames are cheaper than an as-of
  * join: one `sequence()` explode densifies each conversation's bucket
  * grid, then two frame-bounded window passes recover the previous and
  * next observed points. No shuffle beyond the two window sorts on
  * (conv_id) — both reuse one hash partitioning of conv_id.
  *
  * Semantics (matches graft.oracle.Oracle.gapFillLinear):
  *   - observed buckets keep their value, `filled=false`
  *   - interior gaps get linear interpolation between nearest observed
  *     neighbors, `filled=true`
  *   - leading/trailing positions cannot exist (the grid spans
  *     min..max observed bucket per conversation), so no nulls remain.
  */
object GapFill {

  /** Hard ceiling on the densified grid size per conversation
    * (overridable per call): densifying a years-long conversation at
    * a 1m tier would explode one group to millions of rows — a wrong
    * TIER choice, which must fail loudly at the offending key instead
    * of OOMing an executor mid-shuffle.
    */
  val defaultMaxBucketsPerConv: Long = 100000L

  /** Dense per-conversation bucket grid: sequence() is codegen'd, no
    * UDF. The span guard is woven into `lo` (not a standalone column
    * Catalyst would prune away): any conversation whose span exceeds
    * `maxBucketsPerConv` buckets raises with the conv_id in the
    * message.
    */
  private def grid(tierRows: DataFrame, tier: Tier, maxBucketsPerConv: Long): DataFrame = {
    val step = expr(s"INTERVAL ${tier.millis / 1000} SECONDS")
    val widthUs = lit(tier.millis * 1000L)
    val spanBuckets =
      (unix_micros(col("hi")) - unix_micros(col("lo"))) / widthUs + lit(1L)
    val loChecked = when(spanBuckets > lit(maxBucketsPerConv),
      raise_error(concat(
        lit(s"gap-fill grid exceeds $maxBucketsPerConv buckets/conv at tier "),
        lit(tier.name), lit(" for conv_id="), col("conv_id"),
        lit(" — use a coarser tier or raise maxBucketsPerConv")))
        .cast("timestamp"))
      .otherwise(col("lo"))
    tierRows
      .groupBy(col("conv_id"))
      .agg(min(col("bucket_ts")).as("lo"), max(col("bucket_ts")).as("hi"))
      .select(col("conv_id"),
        explode(sequence(loChecked, col("hi"), step)).as("bucket_ts"))
  }

  /** The [[grid]] left-joined with the observed `valueCol`, read as
    * double `_v` (null on a gap).
    */
  private def gridded(tierRows: DataFrame, valueCol: String, tier: Tier,
      maxBucketsPerConv: Long): DataFrame =
    grid(tierRows, tier, maxBucketsPerConv).join(
      tierRows.select(col("conv_id"), col("bucket_ts"),
        col(valueCol).cast("double").as("_v")),
      Seq("conv_id", "bucket_ts"), "left")

  /** Densify + interpolate one metric column of a tier table.
    *
    * @param tierRows (conv_id, bucket_ts, <valueCol>, ...) rows
    * @param valueCol  numeric column to interpolate (read as double)
    * @return (conv_id, bucket_ts, value double, filled boolean)
    */
  def linear(tierRows: DataFrame, valueCol: String, tier: Tier,
      maxBucketsPerConv: Long = defaultMaxBucketsPerConv): DataFrame = {
    val joined = gridded(tierRows, valueCol, tier, maxBucketsPerConv)
    val byConv = Window.partitionBy(col("conv_id")).orderBy(col("bucket_ts"))
    val back = byConv.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = byConv.rowsBetween(Window.currentRow, Window.unboundedFollowing)

    val prevV = last(col("_v"), ignoreNulls = true).over(back)
    val nextV = first(col("_v"), ignoreNulls = true).over(fwd)
    val obsTs = when(col("_v").isNotNull, col("bucket_ts"))
    val prevT = last(obsTs, ignoreNulls = true).over(back).cast("long")
    val nextT = first(obsTs, ignoreNulls = true).over(fwd).cast("long")

    joined.select(
      col("conv_id"), col("bucket_ts"),
      when(col("_v").isNotNull, col("_v"))
        .otherwise(prevV + (nextV - prevV) *
          ((col("bucket_ts").cast("long") - prevT) / (nextT - prevT)))
        .as("value"),
      col("_v").isNull.as("filled"))
  }

  /** Last-observation-carried-forward fill: gaps take the previous
    * observed value (the standard monitoring-dashboard mode). Same
    * grid/window machinery as [[linear]], one window pass.
    */
  def locf(tierRows: DataFrame, valueCol: String, tier: Tier,
      maxBucketsPerConv: Long = defaultMaxBucketsPerConv): DataFrame = {
    val back = Window.partitionBy(col("conv_id")).orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gridded(tierRows, valueCol, tier, maxBucketsPerConv).select(
      col("conv_id"), col("bucket_ts"),
      last(col("_v"), ignoreNulls = true).over(back).as("value"),
      col("_v").isNull.as("filled"))
  }

  /** Zero fill: gaps become 0 — correct for additive count metrics
    * (a bucket with no turns has zero turns, not "unknown turns").
    */
  def zero(tierRows: DataFrame, valueCol: String, tier: Tier,
      maxBucketsPerConv: Long = defaultMaxBucketsPerConv): DataFrame =
    gridded(tierRows, valueCol, tier, maxBucketsPerConv)
      .select(
        col("conv_id"), col("bucket_ts"),
        coalesce(col("_v"), lit(0.0d)).as("value"),
        col("_v").isNull.as("filled"))
}
