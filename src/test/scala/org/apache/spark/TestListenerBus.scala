package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: specs
  * that count jobs drain it so every event posted so far has reached its
  * listeners before they read the count.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
