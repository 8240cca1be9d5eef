package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which is private to Spark:
  * listener events are delivered asynchronously, so a test that counts
  * them first waits until every posted event has been delivered. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
