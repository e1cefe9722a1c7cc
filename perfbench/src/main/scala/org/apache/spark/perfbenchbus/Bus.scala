package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** The listener bus's drain barrier is package-private to Spark; the
  * benchmark needs it to read listener totals only after every event of a
  * finished phase has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
