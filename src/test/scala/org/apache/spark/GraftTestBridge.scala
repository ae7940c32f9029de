package org.apache.spark

/** Test access to Spark internals that are `private[spark]`. */
object GraftTestBridge {

  /** Block until every event posted so far has reached its listeners
    * (QueryExecutionListener callbacks run on the listener bus).
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
