package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** Builds a batch the way `ForeachBatchSink.addBatch` does, through the
  * same `private[sql]` calls: a `LogicalRDD` over `rdd`, whose rows are
  * laid out as `like`'s output, wrapped in a fresh DataFrame. */
object ForeachBatchShim {
  def batch(rdd: RDD[InternalRow], like: DataFrame): (LogicalRDD, DataFrame) = {
    val scan = LogicalRDD.fromDataset(rdd, like.asInstanceOf[classic.Dataset[_]], isStreaming = false)
    (scan, GraftShims.ofRows(like.sparkSession, scan))
  }
}
