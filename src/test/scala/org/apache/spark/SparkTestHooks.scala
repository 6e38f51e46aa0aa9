package org.apache.spark

/** Test-side window onto two `private[spark]` hooks: the codegen
  * compile counter and the listener-bus drain.
  */
object SparkTestHooks {

  /** Generated classes janino has compiled in this JVM so far. */
  def codegenCompiles: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Blocks until every event posted so far reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
