package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event posted so
  * far. The listener bus is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
