package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * listener's record is complete before a test reads it. The bus is
  * private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
