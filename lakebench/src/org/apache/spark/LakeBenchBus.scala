package org.apache.spark

/** The listener bus is private to Spark; the benchmark's probe drains it
  * between operations so every job, task and query event is attributed
  * to the operation that caused it.
  */
object LakeBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
