package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

/** Bridge into `private[sql]` Column↔Expression conversions for
  * custom Catalyst expressions (Spark 4 wraps Column around
  * ColumnNode; `classic.ExpressionUtils` is the supported classic-API
  * path but is package-private). Standard extension-library pattern.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The cached RDD behind a `localCheckpoint()`ed Dataset (its plan
    * is a LogicalRDD over the persisted blocks). Iterative operators
    * use this to release a SUPERSEDED round's blocks as soon as the
    * next round is materialized — without it, a k-round loop pins
    * O(k·|state|) storage until SparkContext death, and that leak is
    * the caller's memory, not the operator's. Returns None for plans
    * that are not checkpoint scans (never unpersist what you did not
    * checkpoint).
    */
  def checkpointedRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      // the isLocallyCheckpointed guard makes the contract real:
      // LogicalRDD also backs createDataFrame(rdd, schema) frames,
      // and releasing a CALLER-persisted rdd there would drop a cache
      // this code does not own
      case lr: execution.LogicalRDD
          if org.apache.spark.rdd.GraftRddShims.isLocallyCheckpointed(lr.rdd) =>
        Some(lr.rdd)
      case _ => None
    }

  /** Unpersist the checkpoint blocks behind `df` (no-op otherwise). */
  def releaseCheckpoint(df: Dataset[_]): Unit =
    checkpointedRdd(df).foreach(_.unpersist(blocking = false))

  /** `df` locally checkpointed, and the number of its rows where `where`
    * holds, both from ONE job over the checkpoint's partitions: the
    * job that stores the blocks also counts them. (An adaptive plan
    * still runs its shuffle and broadcast stages as jobs of their own
    * first.) A job that fails releases the blocks it stored.
    *
    * The returned frame plans as a scan of the blocks and carries:
    *  - statistics: the measured row count, and that count times the
    *    schema's estimated row width as its size, so joins over it are
    *    planned for its real size (a frame derived through joins would
    *    otherwise be estimated at the product of their inputs);
    *  - with `keys`: hash partitioning on them into the session's
    *    shuffle partition count. `df` is first `repartition(n, keys)`ed
    *    (an exchange Spark drops when `df` is already so partitioned),
    *    and the output of a root `repartition(n, keys)` is exactly that
    *    partitioning, adaptive execution included. A plain
    *    `localCheckpoint` cannot carry it: under adaptive execution its
    *    frame reports `UnknownPartitioning(0)`, so every join on the
    *    keys would shuffle it again.
    */
  def countedCheckpoint(df: DataFrame, where: Column, keys: Seq[String]): (DataFrame, Long) = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val n = session.sessionState.conf.numShufflePartitions
    val lazyCp = (if (keys.isEmpty) df else df.repartition(n, keys.map(functions.col): _*))
      .localCheckpoint(eager = false).asInstanceOf[classic.Dataset[Row]]
    val lr = lazyCp.queryExecution.analyzed.asInstanceOf[execution.LogicalRDD]
    val cond = lazyCp.filter(where).queryExecution.analyzed.asInstanceOf[Filter].condition
    val bound = BindReferences.bindReference(cond, lr.output)
    val counts = try session.sparkContext.runJob(lr.rdd, (it: Iterator[InternalRow]) => {
      val p = Predicate.create(bound)
      p.initialize(TaskContext.getPartitionId())
      var rows, hits = 0L
      it.foreach { r => rows += 1; if (p.eval(r)) hits += 1 }
      (rows, hits)
    }) catch { case e: Throwable => lr.rdd.unpersist(blocking = false); throw e }
    val rows = counts.map(_._1).sum
    val partitioning =
      if (keys.nonEmpty && lr.rdd.getNumPartitions == n)
        HashPartitioning(keys.map(lazyCp.resolve), n)
      else lr.outputPartitioning
    val stats = Statistics(EstimationUtils.getSizePerRow(lr.output) * rows, Some(BigInt(rows)))
    val plan = execution.LogicalRDD(lr.output, lr.rdd, partitioning, Nil, isStreaming = false)(
      session, Some(stats), None)
    (classic.Dataset.ofRows(session, plan), counts.map(_._2).sum)
  }

  /** Drain the listener bus (`private[spark]`) — lets specs that
    * count jobs via a SparkListener assert deterministically instead
    * of sleeping.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
