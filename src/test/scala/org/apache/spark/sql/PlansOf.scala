package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed plans of every action `body` runs in `spark`, in the
  * order they finished — for operators that run their query-scale
  * stages as actions at call time and return a local relation, so
  * the returned plan no longer shows them. Lives in Spark's package to
  * drain the listener bus before reading. */
object PlansOf {
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
