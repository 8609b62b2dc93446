package org.apache.spark

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs started on `sc` while it is registered. `jobs`
  * first drains the listener bus, which delivers events asynchronously,
  * so a count read after an action includes every job the action ran.
  * It lives in this package because the bus is package-private to Spark.
  */
final class GraftJobCounter(sc: SparkContext) extends SparkListener {
  private val started = new AtomicLong
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet(): Unit

  def jobs: Long = {
    sc.listenerBus.waitUntilEmpty()
    started.get
  }

  def close(): Unit = sc.removeSparkListener(this)
}
