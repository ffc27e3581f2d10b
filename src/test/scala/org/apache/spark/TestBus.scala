package org.apache.spark

/** The live listener bus is package-private; specs drain it before
  * reading a listener's counts so every event of the actions they ran
  * has been delivered. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
