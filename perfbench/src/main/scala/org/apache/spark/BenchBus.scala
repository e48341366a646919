package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so
  * counters read after an action include that action's jobs and tasks.
  * The listener bus drain is Spark-internal; this is its only use. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
