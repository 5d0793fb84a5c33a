package org.apache.spark.grafttest

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed plans of the queries `body` runs, writes included, in
  * the order they finish. The listener bus is drained before and after,
  * so every query that finished during `body` has been seen.
  */
object ExecutedPlans {
  def apply(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try body
    finally {
      bus.waitUntilEmpty()
      spark.listenerManager.unregister(listener)
    }
    plans.asScala.toSeq
  }
}
