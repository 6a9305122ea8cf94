package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Waits until Spark's listener bus has delivered every queued event, so
  * listener totals are complete when read.
  */
object PerfbenchBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
