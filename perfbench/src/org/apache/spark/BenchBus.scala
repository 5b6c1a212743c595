package org.apache.spark

/** Waits until every event posted to the listener bus has been delivered.
  * `SparkContext.listenerBus` is `private[spark]`, so the one call the
  * benchmark needs from it lives in Spark's own package. Counters read
  * right after an action are complete only once the bus has drained. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
