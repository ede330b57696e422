package org.apache.spark

/** Reaches the context's listener bus, which Spark keeps package-private:
  * the traced run must see every event of an operation before it reads
  * its counters, and listener delivery is asynchronous. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
