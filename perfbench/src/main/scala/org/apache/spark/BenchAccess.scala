package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every event
  * already posted to the listener bus has been delivered, so a ledger read
  * right after an action sees all of that action's task metrics. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
