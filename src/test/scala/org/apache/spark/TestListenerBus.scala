package org.apache.spark

/** Specs' access to the listener bus, which Spark keeps package-private. */
object TestListenerBus {

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
