package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps
  * package-private: blocks until every event posted so far has reached
  * every listener, so a count taken afterwards is complete. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
