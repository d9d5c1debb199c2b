package org.apache.spark.sql.graft

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The two Spark internals [[graft.Pipeline]] needs, which are private
  * to the `spark` and `spark.sql` packages: binding a task's context to
  * a helper thread (as the Python runner does for its writer thread) and
  * building a DataFrame over an `RDD[InternalRow]` without a round trip
  * through external `Row`s.
  */
object PipelineShim {
  def setTaskContext(tc: TaskContext): Unit = TaskContext.setTaskContext(tc)

  def createDataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
