package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced op's jobs and stages are all seen before its totals are read.
  * The bus is private to Spark; this is the one call the benchmark needs. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
