package org.apache.spark

/** Drains Spark's listener bus, so that every event of the work done so
  * far has reached the benchmark's listeners before they are read or
  * removed. `listenerBus` is package-private to Spark, hence this file's
  * package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
