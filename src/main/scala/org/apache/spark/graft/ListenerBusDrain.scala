package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the async listener bus has delivered every posted event;
  * `listenerBus` is package-private to `org.apache.spark`, hence this
  * shim's package. A listener read after [[drain]] has seen every event
  * of the jobs already finished.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
