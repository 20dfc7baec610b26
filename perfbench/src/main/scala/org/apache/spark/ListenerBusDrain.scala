package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run reads complete job, stage and task records. The bus is
  * private to Spark; this accessor lives in Spark's package to reach it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
