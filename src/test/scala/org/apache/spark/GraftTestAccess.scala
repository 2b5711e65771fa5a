package org.apache.spark

/** Test access to Spark internals that tests need to observe the engine. */
object GraftTestAccess {
  /** Block until every event posted so far reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
