package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed plans of every query a block fires, in completion order:
  * a `QueryExecutionListener` sees the queries behind localCheckpoints,
  * collects and commits inside an operator, not just the returned
  * frame's. Walk them with [[Adaptive]], which enters adaptive plans and
  * their query stages.
  */
object ExecutedPlans {
  object Adaptive extends AdaptiveSparkPlanHelper

  def of[A](spark: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.SparkTestHooks.drainListeners(spark.sparkContext)
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
