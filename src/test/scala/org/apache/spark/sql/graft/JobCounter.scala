package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs started while a block runs. Listener events are
  * delivered asynchronously, so the bus is drained before and after the
  * block (`waitUntilEmpty` is package-private to Spark).
  */
object JobCounter {
  def counted[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
