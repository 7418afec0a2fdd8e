package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously; counters read right
  * after an action may still miss its last tasks. This waits for the
  * bus to drain (the hook is package-private to Spark). */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
