package org.apache.spark.perfbenchsync

import org.apache.spark.SparkContext

/** Reaches the listener bus's drain barrier, which Spark keeps package
  * private: the traced run reads its counters only after every job, task
  * and streaming-progress event posted so far has been delivered. */
object ListenerSync {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
