package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * spec or a probe can read what its `SparkListener` saw without sleeping.
  * The bus is `private[spark]`; this object only forwards to it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
