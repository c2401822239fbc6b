package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.model.Tier
import graft.plans.TierRouting

/** Reads issued against a published warehouse: tier-bucketed aggregates
  * of the shape `TierRouting` can answer from a tier, and what their
  * plans show.
  */
object Reads {

  /** One tier-bucketed aggregate, optionally of one conversation. */
  final case class Agg(name: String, tier: Tier, conv: Option[String])

  /** The routable shape: grouped by conversation and `tierBucket`, with
    * the aggregates the tiers hold, under translatable filters only.
    */
  def aggregate(raw: DataFrame, a: Agg): DataFrame = {
    val conds: Seq[Column] = a.conv.map(col("conv_id") === _).toSeq
    conds.foldLeft(raw)(_ filter _)
      .groupBy(col("conv_id"), TierRouting.tierBucket(col("ts"), a.tier).as("bucket_ts"))
      .agg(count(lit(1)).as("turn_cnt"), count(col("tool")).as("tool_cnt"),
        sum(length(col("text")).cast("long")).as("text_len_sum"),
        min(length(col("text")).cast("long")).as("text_len_min"),
        max(length(col("text")).cast("long")).as("text_len_max"))
  }

  /** The optimized plan scans a published tier, not the raw directory. */
  def routed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths.map(_.toString)
    }.flatten.exists(_.contains("/serve/tier_"))

  /** Analysis + optimization + planning time of an executed Dataset. */
  def planningMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
}
