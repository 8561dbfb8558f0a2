package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * counter snapshot taken after an op includes that op's jobs and tasks.
  * Lives in this package because the listener bus is package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
