package org.apache.spark

/** Lets the benchmark wait until Spark has delivered every listener
  * event of an operation before it reads the per-operation job counts
  * (the listener bus is package-private). */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
