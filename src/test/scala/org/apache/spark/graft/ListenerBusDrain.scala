package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, which is `private[spark]`: a spec that
  * counts jobs or stage metrics with a SparkListener drains the bus before
  * reading its counters, since events are delivered asynchronously. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
