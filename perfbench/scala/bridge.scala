package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The listener bus's drain is `private[spark]`; this one-method shim lives
  * in Spark's package so the benchmark can read listener counters only
  * after every event of a timed region was delivered. */
object PerfbenchBridge {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
