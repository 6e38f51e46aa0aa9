package org.apache.spark

/** Test-side window onto `private[spark]` hooks: the codegen compile
  * counter, the listener-bus drain and the app status store.
  */
object SparkTestHooks {

  /** Generated classes janino has compiled in this JVM so far. */
  def codegenCompiles: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Blocks until every event posted so far reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Jobs and stages the app status store holds. */
  def statusJobsAndStages(sc: SparkContext): (Int, Int) =
    (sc.statusStore.jobsList(null).size, sc.statusStore.stageList(null).size)
}
