package org.apache.spark

/** The live listener bus is package-private; the traced run drains it
  * after each operation so the probe's counters cover that operation
  * and nothing later. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
