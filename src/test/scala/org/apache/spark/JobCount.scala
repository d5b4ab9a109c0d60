package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge

/** Jobs started while `body` runs. Draining the listener bus before and
  * after (`GraftSqlBridge.drainListenerBus`, no sleeps) keeps every job
  * event in the count it belongs to. */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    GraftSqlBridge.drainListenerBus(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftSqlBridge.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
