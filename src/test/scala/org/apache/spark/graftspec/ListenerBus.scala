package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Specs that count listener events must wait until the asynchronous
  * listener bus has delivered them; the wait is `private[spark]`.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
