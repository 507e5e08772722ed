package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Listener delivery is asynchronous: a spec that counts jobs with a
  * `SparkListener` waits for the bus to drain before reading its count. */
object GraftSpecBridge {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
