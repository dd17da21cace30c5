package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Reaches the `private[spark]` listener bus so the benchmark can read
  * complete listener totals at the end of a traced op set. */
object graftbenchshim {
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
