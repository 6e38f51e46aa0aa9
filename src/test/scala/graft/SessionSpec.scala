package graft

import org.apache.spark.SparkTestHooks
import org.scalatest.funsuite.AnyFunSuite

/** One session serves many pipelines: a warm session re-running a
  * pipeline finds its generated classes in the codegen cache, and
  * pipelines running concurrently in it do not disturb each other.
  */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the status store keeps only the newest finished SQL executions, jobs and stages") {
    val sc = spark.sparkContext
    val sql = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore
    for (_ <- 1 to 5) {
      graft.ops.Tables.documents(spark, TestSpark.sf0001).groupBy("lang").count().collect()
      spark.range(100).repartition(4).collect()
    }
    SparkTestHooks.drainListeners(sc)
    // the store trims on its own worker thread after each write
    val r = GraftSession.UiRetained
    def counts = {
      val (jobs, stages) = SparkTestHooks.statusJobsAndStages(sc)
      Seq(sql.executionsCount(), jobs.toLong, stages.toLong)
    }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (counts.exists(_ > r) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(counts.forall(_ <= r), s"status store holds (executions, jobs, stages) $counts, retained $r")
  }

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
    // the card are one Spark action each; the exact-dedup step is one
    // action (the survivor-text checkpoint) and the near-dup step one more
    // (the survivor-id checkpoint), with the LSH pairs computed inside
    // it. Measured over sf0.001 in the TestSpark session: 52 jobs when
    // the sampler and the card ran as checkpointed SQL relations, 30
    // with the near-dup step's candidate cache and lazy shingle
    // checkpoint, 25 with a survivor-text checkpoint after the exact
    // dedup, 26 now.
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
    assert(jobs.get <= 27, s"warm release run fired ${jobs.get} jobs")
  }

  test("warm release-pipeline runs leave no checkpoint behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val left = Seq.fill(3) {
      graft.ops.Llm.q_pipeline_release(spark, TestSpark.sf0001).collect()
      (sc.getPersistentRDDs.keySet -- before).size
    }
    assert(left.forall(_ == 0), s"blocks held after each of three runs: $left")
  }

  test("concurrent release and near-dup pipelines in one session match the serial results") {
    // the release and near-dup pipelines, the iterative operators that
    // make and free their own scratch blocks mid-call, and the samplers
    // that share Scale.prefixCut's driver-side collects and survivor
    // checkpoint
    val pipelines: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "q_pipeline_release" -> graft.ops.Llm.q_pipeline_release,
      "q_budget_trim" -> graft.ops.Llm.q_budget_trim,
      "q_temperature_sample" -> graft.ops.Llm.q_temperature_sample,
      "q_sample_neyman" -> graft.ops.Relational.q_sample_neyman,
      "q_dedup_minhash" -> graft.ops.Llm.q_dedup_minhash,
      "q_dedup_clusters" -> graft.ops.Llm.q_dedup_clusters,
      "q_select_cover" -> graft.ops.Llm.q_select_cover,
      "q_bpe_train" -> graft.ops.Llm.q_bpe_train)
    def run(i: Int) = pipelines(i)._2(spark, TestSpark.sf0001).collect().toSeq
    val refs = pipelines.indices.map(run)
    assert(refs.forall(_.nonEmpty))
    // two threads, each running every pipeline in opposite order, so in
    // every round each pipeline overlaps the others
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val threads = Seq(0, 1).map { t =>
      new Thread(() => {
        val order = if (t == 0) pipelines.indices else pipelines.indices.reverse
        for (round <- 1 to 3; i <- order) {
          val what = pipelines(i)._1
          try {
            if (run(i) != refs(i)) errors.add(s"thread $t round $round: $what differs from the serial run")
          } catch {
            case e: Exception => errors.add(s"thread $t round $round: $what failed: $e")
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.mkString("\n"))
  }
}
