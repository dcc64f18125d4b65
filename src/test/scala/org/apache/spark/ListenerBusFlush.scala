package org.apache.spark

/** Blocks until every scheduler event posted so far has reached the
  * listeners, so a test can count jobs right after a call returns. The
  * listener bus is `private[spark]`, hence the package.
  */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
