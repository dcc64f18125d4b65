package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it once, after its last timed operation, so every job, stage and task
  * event has reached the tracer before the counters are written out.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
