package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * trace read right after an action sees all of that action's jobs.
  * `listenerBus` is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
