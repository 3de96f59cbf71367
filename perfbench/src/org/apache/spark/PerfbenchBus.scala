package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run drains it after every step so the step's Spark and
  * QueryExecution events are all delivered before the step is closed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
