package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private. */
object ListenerBusDrain {
  /** Blocks until every event posted so far has reached its listeners. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
