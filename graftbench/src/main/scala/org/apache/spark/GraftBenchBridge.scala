package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one Spark-internal call the benchmark makes: listener delivery is
  * asynchronous, and a traced run must wait for it before it reads the
  * totals its listeners kept. */
object GraftBenchBridge {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
