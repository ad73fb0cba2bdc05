package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge into Spark's `private[spark]` listener bus for callers that count
  * listener events (`graft.Dev profile`, tests): block until every event
  * posted so far has been delivered, so a count read afterwards is
  * complete. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
