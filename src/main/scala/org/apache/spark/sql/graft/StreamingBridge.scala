package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** The one Spark-private surface the streaming source needs, isolated in
  * an `org.apache.spark.sql` sub-package (the standard connector trick —
  * delta-spark ships the same bridge): `MicroBatchExecution` REQUIRES the
  * `DataFrame` a V1 `Source.getBatch` returns to have `isStreaming=true`
  * ("DataFrame returned by getBatch … did not have isStreaming=true"),
  * but `isStreaming` lives on plan nodes only reachable through
  * `private[sql]` constructors.
  *
  * Everything else in the streaming source is public-API Spark; keep it
  * that way — this file should never grow beyond plan re-tagging.
  */
object StreamingBridge {

  /** Re-tag `df`'s FILE relations (HadoopFsRelation leaves — the Delta
    * data scan) as streaming and rebuild the frame. Auxiliary leaves
    * (row-id maps, partition-value maps) stay
    * batch relations, so the micro-batch planner sees stream-batch
    * joins — which it supports — rather than spurious stream-stream
    * ones.
    */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[ClassicSparkSession]
    val tagged = df.queryExecution.analyzed.transform {
      case lr @ LogicalRelation(_: HadoopFsRelation, _, _, false, _) =>
        lr.copy(isStreaming = true)
    }
    ClassicDataset.ofRows(spark, tagged)
  }

  /** An empty streaming-tagged frame in exactly `schema` — the batch for
    * an offset range that contains no files (restart edge).
    */
  def emptyStreaming(spark: SparkSession, schema: StructType): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), Nil, isStreaming = true))

  /** The inverse direction, for the streaming SINK: the frame
    * `Sink.addBatch` receives is streaming-tagged and refuses batch
    * writes; rebuild it as a batch frame over the SAME executed plan
    * (no materialization — the standard V1 sink move).
    */
  def asBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[ClassicSparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
