package org.apache.spark.sql.graftshim

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** A source that builds its own rows needs two internal hooks: a
  * DataFrame over an RDD of `InternalRow`s (no per-row conversion from
  * external `Row`s) and the task's input metrics, where a file scan
  * reports the bytes it read. Both are `private[sql]`/`private[spark]`. */
object RowsBridge {

  /** `rows`, each laid out as `schema`, as a DataFrame. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Adds `bytes` read and `records` read to the running task's input
    * metrics; a no-op outside a task. */
  def addInput(bytes: Long, records: Long): Unit = {
    val tc = TaskContext.get()
    if (tc != null) {
      val m = tc.taskMetrics().inputMetrics
      m.incBytesRead(bytes)
      m.incRecordsRead(records)
    }
  }
}
