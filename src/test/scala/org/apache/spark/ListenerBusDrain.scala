package org.apache.spark

/** Test access to the listener-bus drain, which Spark keeps
  * package-private: listener callbacks run asynchronously, so a spec
  * that reads what a listener saw drains the bus first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
