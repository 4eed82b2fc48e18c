package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can read listener counters only after every event posted so
  * far has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
