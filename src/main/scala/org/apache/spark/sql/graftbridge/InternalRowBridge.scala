package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` InternalRow plumbing: lets an operator
  * run a per-partition pass over a DataFrame's Tungsten rows and rebuild a
  * DataFrame WITHOUT deserializing to external `Row`s (`df.rdd` +
  * `Row.fromSeq` boxes every field of every row — round 2 measured the
  * round-trip at 6× the cost of the underlying shuffle). The RDD handle
  * also pins one physical plan, so two jobs over it share the same shuffle
  * output (range-exchange boundary sampling is seeded per RDD id and would
  * differ between separately-planned executions). */
object InternalRowBridge {
  def toRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd

  /** Wrap an InternalRow RDD as a DataFrame. Rows may be any InternalRow
    * implementation (the scan node applies an UnsafeProjection). */
  def fromRdd(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Loop materialization WITHOUT eager execution: persist `df`'s rows
    * (MEMORY_AND_DISK) and wrap them back as a `Scan ExistingRDD` — the
    * plan is truncated like `localCheckpoint`, but nothing computes until
    * the first action over the returned frame, and the blocks are
    * reclaimed by the ContextCleaner once the frame is dropped (or
    * earlier through the returned RDD's `unpersist`). */
  def persisted(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val rdd = toRdd(df).map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (fromRdd(df.sparkSession, rdd, df.schema), rdd)
  }
}
