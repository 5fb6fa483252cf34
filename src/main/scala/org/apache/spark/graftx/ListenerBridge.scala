package org.apache.spark.graftx

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; code that counts them
  * (`Verify`'s jobs per key, the specs' `jobsStartedBy`) must wait for
  * the bus to drain, which only Spark's own packages may ask for. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
