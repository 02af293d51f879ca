package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StructType

/** The `private[sql]` frames a v1 streaming `Source.getBatch` must return:
  * `MicroBatchExecution` asserts they are flagged streaming. */
object StreamingFrames {
  /** A batch file scan re-flagged streaming, as `FileStreamSource` does. */
  def asStreaming(batch: DataFrame): DataFrame = classic.Dataset.ofRows(
    batch.queryExecution.sparkSession, batch.queryExecution.analyzed
      .transform { case r: LogicalRelation => r.copy(isStreaming = true) })
  /** An empty streaming frame of `schema`. */
  def emptyStreaming(s: SparkSession, schema: StructType): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), isStreaming = true))
}
