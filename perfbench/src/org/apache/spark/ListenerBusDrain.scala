package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far, so listener counts read after a query include all of its jobs.
  * The bus is package-private to Spark; this is the one call through it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
