package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps private. */
object ListenerBusDrain {

  /** Block until every event posted so far has reached every listener. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
