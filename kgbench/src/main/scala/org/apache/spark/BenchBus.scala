package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads its listeners' counters only after every event posted so
  * far has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
