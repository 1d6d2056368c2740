package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * counters read after a timed section include all of its tasks. The
  * listener bus is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
