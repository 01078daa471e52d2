package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the async listener bus has delivered every posted event,
  * so the benchmark's counts include the last stages of a run. The bus
  * is `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
