package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native DotProduct/L2Norm expressions must be bit-identical to the
  * higher-order-function formulation (same summation order), work from
  * SQL once registered, and run inside whole-stage codegen.
  */
class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  def emb = graft.ops.Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  test("DotProduct/L2Norm ≡ interpreted aggregate/zip_with, bit-identical") {
    val hofDot = aggregate(zip_with(col("e"), col("r"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val hofNorm = sqrt(aggregate(col("e"), lit(0.0), (acc, x) => acc + x * x))
    val df = emb.withColumn("r", reverse(col("e")))
      .select(
        Vec.dot(col("e"), col("r")).as("nat_dot"), hofDot.as("hof_dot"),
        Vec.l2norm(col("e")).as("nat_norm"), hofNorm.as("hof_norm"))
    // bit-identical: compare raw doubles, no tolerance
    assert(df.filter(col("nat_dot") =!= col("hof_dot") ||
      col("nat_norm") =!= col("hof_norm")).count() == 0)
  }

  test("null and empty-array handling") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),
      (Some(Seq.empty[Double]), Some(Seq.empty[Double])),
      (None, Some(Seq(1.0)))).toDF("a", "b")
    val out = df.select(Vec.dot(col("a"), col("b")).as("d")).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).getDouble(0) == 0.0)
    assert(out(2).isNullAt(0))
  }

  test("mismatched array lengths yield NULL, not a truncated partial dot") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    assert(df.select(Vec.dot(col("a"), col("b"))).head().isNullAt(0))
  }

  test("SQL registration: graft_dot / graft_l2norm usable from spark.sql") {
    Vec.register(spark)
    emb.createOrReplaceTempView("emb_v")
    val r = spark.sql(
      """SELECT vec_id, graft_dot(e, e) AS sq, graft_l2norm(e) AS n FROM emb_v
        |ORDER BY vec_id LIMIT 5""".stripMargin).collect()
    r.foreach { row =>
      assert(math.abs(row.getDouble(1) - row.getDouble(2) * row.getDouble(2)) < 1e-9)
    }
  }

  test("Vec columns resolve in a session that is not the active one") {
    // a fresh session shares the SparkContext but not the function
    // registry of the active session; a Vec column must not depend on it
    val s2 = spark.newSession()
    val row = s2.range(1)
      .select(Vec.normText(lit("  Hello, World!  ")).as("n"),
        Vec.dot(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("d"))
      .head()
    assert(row.getString(0) == "hello world" && row.getDouble(1) == 11.0, s"row: $row")
  }

  test("SigMatch ≡ interpreted aggregate/zip_with estimator, exact") {
    // The retired hot-path formulation stays here as the parity
    // reference (same role TextExpressionsSpec gives the UDF kernels).
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v)
    val docs = graft.ops.Tables.documents(spark, sf)
    val sigs = docs.select(col("doc_id"), Vec.minhash(col("text")).as("s"))
    val paired = sigs.withColumn("t",
      expr("transform(s, (x, i) -> IF(i % 3 = 0, x, x + 1))"))
    val df = paired.select(
      Vec.sigMatch(col("s"), col("t")).as("nat"), hof(col("s"), col("t")).as("ref"),
      Vec.sigMatch(col("s"), col("s")).as("nat_self"))
    assert(df.filter(col("nat") =!= col("ref") || col("nat_self") =!= lit(32)).count() == 0)
    assert(df.count() > 0)
  }

  test("SigMatch degenerate inputs: null → NULL, length mismatch → min-prefix count") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 9L, 3L))),  // 2 matches
      (Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 2L))),      // zip_with pads: 2
      (None, Some(Seq(1L)))).toDF("a", "b")
    val out = df.select(Vec.sigMatch(col("a"), col("b")).as("m")).collect()
    assert(out(0).getInt(0) == 2)
    assert(out(1).getInt(0) == 2)
    assert(out(2).isNullAt(0))
  }

  test("SigMatch null ELEMENTS count as non-match (HOF parity), both engines") {
    // containsNull=true arrays: a null at either position is a
    // non-match (the HOF's when(x === y, …) reads the null comparison
    // as false) — NOT a getLong()==0 phantom match. Checked through
    // both the codegen path (DataFrame select) and interpreted eval.
    import spark.implicits._
    val df = Seq(
      (Seq[java.lang.Long](1L, null, 3L, null), Seq[java.lang.Long](1L, null, 9L, 0L)))
      .toDF("a", "b")
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v)
    val row = df.select(
      Vec.sigMatch(col("a"), col("b")).as("nat"),
      hof(col("a"), col("b")).as("ref")).head()
    assert(row.getInt(0) == 1)            // only position 0 matches
    assert(row.getInt(0) == row.getInt(1))
    // interpreted eval path (no codegen): same answer
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val lit_a = Literal.create(ArrayData.toArrayData(Array[Any](1L, null, 3L, null)),
      ArrayType(LongType, containsNull = true))
    val lit_b = Literal.create(ArrayData.toArrayData(Array[Any](1L, null, 9L, 0L)),
      ArrayType(LongType, containsNull = true))
    assert(SigMatch(lit_a, lit_b).eval(null) == 1)
  }

  test("SigMatch runs inside whole-stage codegen (no eval fallback)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = graft.ops.Tables.documents(spark, sf)
    val df = docs.select(Vec.minhash(col("text")).as("s"))
      .select(Vec.sigMatch(col("s"), reverse(col("s"))).as("m"))
      .filter(col("m") >= 0)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(finalPlan.toString.contains("*(1)"), s"not codegen'd:\n$finalPlan")
  }

  test("expressions run inside whole-stage codegen (no eval fallback)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = emb.select(Vec.dot(col("e"), col("e")).as("d")).filter(col("d") > 0)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(finalPlan.toString.contains("*(1)"), s"not codegen'd:\n$finalPlan")
  }
}
