package org.apache.spark

/** The listener bus's own drain, which Spark keeps package-private: the
  * traced run waits on it before reading its listeners' records. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
