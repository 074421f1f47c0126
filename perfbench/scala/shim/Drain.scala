package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a span boundary
  * drains it so every event of the work inside the span has reached
  * the benchmark's listeners before the span closes.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
