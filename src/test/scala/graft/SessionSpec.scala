package graft

import org.apache.spark.SparkTestHooks
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape costs are paid once per session: a warm session re-running
  * a pipeline finds its generated classes in the codegen cache.
  */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("warm re-runs of the release pipeline find their generated classes cached") {
    def compiles(): Long = {
      val c0 = SparkTestHooks.codegenCompiles
      graft.ops.Llm.q_pipeline_release(spark, TestSpark.sf0001).collect()
      SparkTestHooks.codegenCompiles - c0
    }
    val runs = Seq.fill(3)(compiles())
    // The cache key is (source text, thread context class loader). A
    // stage first run from a not-yet-seen pool thread (broadcast and
    // AQE stage threads inherit their creator's loader) compiles once
    // more: measured 4 classes on the second OR the third run, then none
    // for 25 runs. A thrashing cache instead recompiles nearly the whole
    // working set (~170 classes) on every run.
    assert(runs(2) <= 8, s"third run compiled ${runs(2)} classes (all runs: $runs)")
  }

  test("a warm release-pipeline run fires one job per small decision, not per derivation") {
    // The sampler and the card decide on small collected results: the
    // Neyman allocation, the sampler's quota table and miss check, and
    // the card are one Spark action each. Measured over sf0.001 in the
    // TestSpark session: 52 jobs when they ran as checkpointed SQL
    // relations, 30 now.
    graft.ops.Llm.q_pipeline_release(spark, TestSpark.sf0001).collect()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    SparkTestHooks.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      graft.ops.Llm.q_pipeline_release(spark, TestSpark.sf0001).collect()
      SparkTestHooks.drainListeners(sc)
    } finally sc.removeSparkListener(l)
    assert(jobs.get <= 32, s"warm release run fired ${jobs.get} jobs")
  }
}
