package graft.plans

import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The auto-injected bloom-prefilter join: the rule must fire on a
  * plain shuffle equi-join with a selective dim filter (no caller
  * opt-in), must NOT fire under a broadcast join (where the prefilter
  * is pure overhead), must stay idempotent, and must not change
  * results.
  */
class BloomJoinRuleSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def optimizedOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("q_join_bloom: rule injects might_contain prefilter without caller opt-in") {
    val df = graft.ops.Relational.q_join_bloom(spark, sf)
    val plan = optimizedOf(df)
    assert(plan.toLowerCase.contains("might_contain"),
      s"bloom prefilter missing from optimized plan:\n$plan")
    assert(plan.contains("scalar-subquery") || plan.toLowerCase.contains("subquery"),
      s"bloom build subquery missing:\n$plan")
  }

  test("rewrite is result-identical to the plain join") {
    val lineitem = graft.ops.Tables.lineitem(spark, sf)
    val dim = graft.ops.Tables.part(spark, sf)
      .filter(col("p_size") <= 10).select(col("p_partkey"), col("p_brand"))
    val bloomed = lineitem.join(dim.hint("shuffle_merge"), col("l_partkey") === col("p_partkey"))
      .select("l_orderkey", "l_linenumber", "p_brand")
    val plain = lineitem.join(dim, col("l_partkey") === col("p_partkey"))
      .select("l_orderkey", "l_linenumber", "p_brand")
    assert(optimizedOf(bloomed).toLowerCase.contains("might_contain"))
    assert(bloomed.count() == plain.count())
    assert(bloomed.except(plain).isEmpty && plain.except(bloomed).isEmpty)
  }

  test("rule does NOT fire when the dim broadcasts (prefilter would be pure overhead)") {
    val lineitem = graft.ops.Tables.lineitem(spark, sf)
    val dim = graft.ops.Tables.part(spark, sf)
      .filter(col("p_size") <= 10).select(col("p_partkey"), col("p_brand"))
    // tiny dim, no shuffle hint → broadcast join → no injection
    val df = lineitem.join(dim, col("l_partkey") === col("p_partkey"))
    assert(!optimizedOf(df).toLowerCase.contains("might_contain"))
  }

  test("idempotent: exactly one bloom probe per application side and key") {
    val df = graft.ops.Relational.q_join_bloom(spark, sf)
    val plan = optimizedOf(df)
    val n = "might_contain".r.findAllIn(plan.toLowerCase).size
    assert(n == 1, s"expected exactly 1 bloom probe, got $n:\n$plan")
    df.collect() // and the plan executes cleanly end to end
  }

  /** Bloom probes in the optimized plan of `df`: (fact side, dim side)
    * of its first join, and in total.
    */
  private def probeSides(df: org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
    def probes(p: LogicalPlan): Int = p.collect { case n =>
      n.expressions.map(_.collect { case m: BloomFilterMightContain => m }.size).sum
    }.sum
    val plan = df.queryExecution.optimizedPlan
    val j = plan.collectFirst { case j: Join => j }.getOrElse(fail(s"no join in\n$plan"))
    (probes(j.left), probes(j.right), probes(plan))
  }

  test("explicit bloomPrefilterJoin: one probe, on the fact side (no inferred dim copy)") {
    val lineitem = graft.ops.Tables.lineitem(spark, sf)
    val dim = graft.ops.Tables.part(spark, sf)
      .filter(col("p_size") <= 10).select(col("p_partkey"), col("p_brand"))
    val bloomed = graft.ops.Scale.bloomPrefilterJoin(lineitem, dim, "l_partkey", "p_partkey",
      expectedKeys = 1000L)
    assert(probeSides(bloomed) == ((1, 0, 1)))
    assert(probeSides(bloomed.groupBy("p_brand").count()) == ((1, 0, 1)))
    // the rule path, for comparison
    assert(probeSides(graft.ops.Relational.q_join_bloom(spark, sf)) == ((1, 0, 1)))
    // string keys through an aliased, aggregated dim of the same table
    val cust = graft.ops.Tables.customer(spark, sf)
    val segs = cust.select(col("c_mktsegment").as("seg")).distinct().filter(col("seg") < "F")
    val bloomedS = graft.ops.Scale.bloomPrefilterJoin(
      cust.select("c_custkey", "c_mktsegment"), segs, "c_mktsegment", "seg", 100L)
    assert(probeSides(bloomedS) == ((1, 0, 1)))
    val plainS = cust.join(segs, col("c_mktsegment") === col("seg"))
    assert(bloomedS.count() == plainS.count())
  }

  test("no injection on outer joins (unmatched fact rows must survive)") {
    val lineitem = graft.ops.Tables.lineitem(spark, sf)
    val dim = graft.ops.Tables.part(spark, sf)
      .filter(col("p_size") <= 10).select(col("p_partkey"), col("p_brand"))
    val df = lineitem.join(dim.hint("shuffle_merge"),
      col("l_partkey") === col("p_partkey"), "left")
    assert(!optimizedOf(df).toLowerCase.contains("might_contain"))
  }
}
