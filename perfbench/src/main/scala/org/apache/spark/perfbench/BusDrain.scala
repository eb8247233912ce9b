package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the async listener bus has delivered every posted event.
  * `listenerBus` is package-private to `org.apache.spark`, hence this
  * shim's package. Listener counts read after [[drain]] include every
  * JobEnd, StageCompleted and TaskEnd of the jobs already finished.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
