package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. A span boundary waits
  * for it to drain, so every event of a finished action is counted inside
  * the span that ran it. `listenerBus` is private to the spark package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
