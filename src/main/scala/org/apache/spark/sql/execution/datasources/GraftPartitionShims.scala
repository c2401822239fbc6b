package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into `private[datasources]` partition discovery. A table
  * layer that already knows its files' data schema can then work out
  * the full schema a `basePath`-anchored read of those files returns,
  * locally and with no Spark job: the same `parsePartitions` call
  * and the same data/partition merge a file index and its relation
  * perform.
  */
object GraftPartitionShims {

  /** Read schema of data files under `leafDirs` (qualified directories
    * below the qualified `basePath`) whose footers carry `dataSchema`:
    * the data columns made nullable, then the partition columns of the
    * directory names with their inferred types, in directory order.
    */
  def readSchema(spark: SparkSession, dataSchema: StructType, basePath: Path,
      leafDirs: Seq[Path]): StructType = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    val partitionSchema = PartitioningUtils.parsePartitions(
      leafDirs,
      typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = Set(basePath),
      userSpecifiedSchema = None,
      caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = conf.ignoreInvalidPartitionPaths).partitionColumns
    PartitioningUtils.mergeDataAndPartitionSchema(
      dataSchema.asNullable, partitionSchema, conf.caseSensitiveAnalysis)._1
  }
}
