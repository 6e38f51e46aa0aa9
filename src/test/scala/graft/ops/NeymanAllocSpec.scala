package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side Neyman allocation must equal the all-SQL formulation
  * it replaced (kept here as the reference): stratum aggregate, weight
  * total, floor shares, deficit, and a global rank by (remainder desc,
  * source) — on random strata, remainder ties, zero-variance strata,
  * budgets above the population, a null source, and all-zero weights.
  */
class NeymanAllocSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def reference(docs: DataFrame, budget: Long): DataFrame = {
    val st = docs.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("n_chars").cast(DecimalType(38, 0))).as("s1"),
      sum((col("n_chars") * col("n_chars")).cast(DecimalType(38, 0))).as("s2"))
      .withColumn("var_num", col("n") * col("s2") - col("s1") * col("s1"))
      .withColumn("s_micro",
        when(col("n") > 1,
          round(sqrt(col("var_num").cast("double")
            / (col("n") * (col("n") - 1)).cast("double")) * 1000000 + lit(1e-9)))
          .otherwise(lit(0.0)).cast("long"))
      .withColumn("w", (col("n") * col("s_micro")).cast(DecimalType(38, 0)))
    val tot = st.agg(sum("w").cast(DecimalType(38, 0)).as("bigw"))
    val wRem = Window.orderBy(col("rem").desc, col("source"))
    st.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"cast($budget * w div bigw as decimal(38,0))"))
      .withColumn("rem", (lit(budget) * col("w") - col("base") * col("bigw"))
        .cast(DecimalType(38, 0)))
      .crossJoin(broadcast(
        st.crossJoin(tot).agg(
          (lit(budget) - sum(expr(s"$budget * w div bigw")))
            .cast("long").as("deficit"))))
      .withColumn("rk", row_number().over(wRem).cast("long"))
      .withColumn("n_h",
        least(col("base").cast("long")
          + when(col("rk") <= col("deficit"), 1L).otherwise(0L), col("n")))
      .select(col("source"), col("n").cast("long").as("n"), col("n_h"))
  }

  /** (source, n_chars) docs → the frame both formulations read. */
  private def frame(docs: Seq[(Option[String], Long)]): DataFrame =
    docs.zipWithIndex.map { case ((s, c), i) => (i.toLong, s, c) }
      .toDF("doc_id", "source", "n_chars")

  /** Result rows, or the error condition of the first SparkThrowable in
    * the cause chain.
    */
  private def outcome(run: => DataFrame): Either[String, Set[Row]] =
    try Right(run.collect().toSet)
    catch {
      case e: Exception =>
        Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: org.apache.spark.SparkThrowable => t.getCondition }
          .getOrElse(e.toString))
    }

  /** None when both formulations agree, else what differed. */
  private def mismatch(docs: Seq[(Option[String], Long)], budget: Long): Option[String] = {
    val df = frame(docs)
    val want = outcome(reference(df, budget))
    val got = outcome(Relational.neymanAlloc(df, budget))
    if (got == want) None else Some(s"budget=$budget docs=$docs got=$got want=$want")
  }

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val sources = Gen.oneOf(Some("a"), Some("b"), Some("c"), Some("src10"),
    Some("src2"), Some("é"), None)

  /** A stratum: a source and its n_chars values — spread out, constant
    * (zero variance), or a single document.
    */
  private val stratum: Gen[(Option[String], Seq[Long])] = for {
    s <- sources
    kind <- Gen.chooseNum(0, 2)
    n <- Gen.chooseNum(1, 12)
    cs <- kind match {
      case 0 => Gen.listOfN(n, Gen.chooseNum(0L, 900L))
      case 1 => Gen.chooseNum(0L, 900L).map(c => Seq.fill(n)(c))
      case _ => Gen.chooseNum(0L, 900L).map(Seq(_))
    }
  } yield (s, cs)

  test("neymanAlloc ≡ the SQL allocation on random strata and budgets") {
    val gen = for {
      k <- Gen.chooseNum(1, 5)
      strata <- Gen.listOfN(k, stratum)
      budget <- Gen.oneOf(Gen.chooseNum(0L, 40L), Gen.const(1000L))
    } yield (strata.flatMap { case (s, cs) => cs.map(c => (s, c)) }, budget)
    check(Prop.forAllNoShrink(gen) { case (docs, budget) =>
      val m = mismatch(docs, budget)
      m.isEmpty :| m.getOrElse("")
    }, n = 25)
  }

  test("neymanAlloc ≡ the SQL allocation on remainder ties, null sources and budget above population") {
    val twin = Seq(10L, 20L, 35L)
    // identical strata tie on the remainder: the rank falls to the
    // source order, nulls first
    val ties = for (s <- Seq(Some("b"), Some("a"), None, Some("c")); c <- twin) yield (s, c)
    for (budget <- Seq(1L, 2L, 3L, 5L, 7L)) assert(mismatch(ties, budget).isEmpty)
    // budget above the population: every stratum capped at its size
    val small = Seq((Some("x"), 3L), (Some("x"), 9L), (Some("y"), 1L), (Some("y"), 100L))
    assert(mismatch(small, 1000L).isEmpty)
    assert(Relational.neymanAlloc(frame(small), 1000L).select("n_h").as[Long]
      .collect().sorted.toSeq == Seq(2L, 2L))
  }

  test("all-zero weights: the same DIVIDE_BY_ZERO under ANSI, the same rows without it") {
    // every stratum has zero variance or a single document: Σw = 0
    val flat = Seq((Some("a"), 5L), (Some("a"), 5L), (Some("b"), 7L), (None, 3L))
    val ansi = outcome(Relational.neymanAlloc(frame(flat), 10L))
    assert(ansi == Left("DIVIDE_BY_ZERO"), s"got $ansi")
    assert(mismatch(flat, 10L).isEmpty)
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      assert(mismatch(flat, 10L).isEmpty)
      assert(outcome(Relational.neymanAlloc(frame(flat), 10L)).isRight)
    } finally spark.conf.set(key, prev)
  }
}
