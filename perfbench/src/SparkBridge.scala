package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the harness needs: listener events are
  * delivered asynchronously, so per-key attribution must wait for the
  * bus to drain before the next key starts. */
object SparkBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
