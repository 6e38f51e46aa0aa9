package org.apache.spark.sql

import org.scalatest.funsuite.AnyFunSuite

/** The spark-submit deployment path
  * (`--conf spark.sql.extensions=graft.functions.GraftExtensions`) is
  * not exercisable end-to-end in-JVM (one SparkContext, and
  * `getOrCreate` on an existing session skips extension application),
  * so this spec verifies the wiring at the `SparkSessionExtensions`
  * layer: applying the extensions class must register the native SQL
  * functions, the as-of planner strategy, and both optimizer rules.
  * Lives in the org.apache.spark.sql package because the build*
  * accessors are `private[sql]` by design.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val session = graft.TestSpark.spark

  test("GraftExtensions registers functions, the asof strategy, and both join rules") {
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rules = ext.buildOptimizerRules(classic).map(_.ruleName)
    assert(rules.exists(_.contains("BloomJoinRule")), s"rules: $rules")
    assert(rules.exists(_.contains("RangeJoinRule")), s"rules: $rules")
    assert(rules.exists(_.contains("TextKernelRewriteRule")), s"rules: $rules")
    val strategies = ext.buildPlannerStrategies(classic).map(_.toString)
    assert(strategies.exists(_.contains("AsofJoinStrategy")), s"strategies: $strategies")
    // GraftSession.install (the test session's wiring) registers the same
    // rules and strategies through the runtime hooks
    assert(classic.experimental.extraOptimizations.map(_.ruleName) == rules)
    assert(classic.experimental.extraStrategies.map(_.toString) == strategies)
    // the injected functions are observable only through registration
    // side effects, so assert on the public surface: every graft_* SQL
    // function resolves in a session wired with the same list
    val fns = Seq("graft_dot", "graft_l2norm", "graft_minhash", "graft_winnow",
      "graft_simhash", "graft_embsig", "graft_word_ngrams")
    fns.foreach(f => assert(session.catalog.functionExists(f), s"$f not registered"))
  }
}
