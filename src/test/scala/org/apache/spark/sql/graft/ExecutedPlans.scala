package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The executed (for AQE, final) physical plans of the actions a block
  * runs, in completion order. Listener events are delivered
  * asynchronously, so the bus is drained before and after the block, as
  * in [[JobCounter]].
  */
object ExecutedPlans {
  def during[A](spark: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
