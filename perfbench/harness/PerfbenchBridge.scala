package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run reads its listeners' counters only after every event posted
  * so far has been delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
