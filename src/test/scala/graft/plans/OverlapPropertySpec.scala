package graft.plans

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Property-based parity for the keyless-overlap machinery: on RANDOM
  * interval sets — including inverted (end < start), empty, negative,
  * and boundary-touching intervals, under random bin sizes — the
  * `RangeJoinRule` overlap rewrite must emit exactly the pairs the
  * naive nested-loop join emits, each exactly once. This is the
  * adversarial check behind RangeJoinRuleSpec's fixed cases: the
  * charge-once-at-later-start argument has to survive inputs no one
  * hand-picked.
  */
class OverlapPropertySpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val interval: Gen[(Long, Long)] = for {
    a <- Gen.chooseNum(-250L, 250L)
    span <- Gen.chooseNum(-120L, 120L) // negative span = inverted interval
  } yield (a, a + span)

  private val intervals: Gen[List[(Long, Long)]] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, interval))

  test("overlap rewrite ≡ nested-loop join on random intervals and bin sizes (strict + inclusive)") {
    val gen = for {
      ls <- intervals
      rs <- intervals
      bin <- Gen.oneOf(1L, 7L, 64L, 100L, 1000L)
      inclusive <- Gen.oneOf(true, false)
    } yield (ls, rs, bin, inclusive)
    check(Prop.forAllNoShrink(gen) { case (ls, rs, bin, inclusive) =>
      val l = ls.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("lid", "ls", "le")
      val r = rs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("rid", "rs", "re")
      val cond =
        if (inclusive) col("ls") <= col("re") && col("rs") <= col("le")
        else col("ls") < col("re") && col("rs") < col("le")
      val naive = l.join(r, cond)
        .select("lid", "rid").as[(Long, Long)].collect().toSeq.sorted
      try {
        spark.conf.set("spark.graft.rangeJoin.binSize", bin.toString)
        val rewritten = l.join(r, cond)
        val plan = rewritten.queryExecution.executedPlan.toString
        val fired = plan.contains("__graft_lbin")
        val got = rewritten.select("lid", "rid").as[(Long, Long)].collect().toSeq.sorted
        Prop.collect(s"fired=$fired")(got == naive) :| s"bin=$bin incl=$inclusive got=$got want=$naive"
      } finally spark.conf.unset("spark.graft.rangeJoin.binSize")
    }, n = 24)
  }

  test("band bound PAIRING survives random conjunct order/direction/strictness/types") {
    // the `a >= b` dual-reading resolution (RangeJoinRule.bounds emits
    // both readings; the lower+upper-on-same-expression pairing picks
    // the consistent one) fuzzed adversarially: every way of WRITING
    // the same point-in-interval band — operand order per conjunct,
    // conjunct order, strict vs inclusive bounds, point side of the
    // join, int vs long vs MIXED column types — must produce exactly
    // the nested-loop join's pairs
    val gen = for {
      pts <- Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-300L, 300L)))
      ivs <- Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, interval))
      bin <- Gen.oneOf(1L, 7L, 50L, 128L)
      lowerIncl <- Gen.oneOf(true, false)
      upperIncl <- Gen.oneOf(true, false)
      lowerFlip <- Gen.oneOf(true, false) // write `lo <= pt` instead of `pt >= lo`
      upperFlip <- Gen.oneOf(true, false)
      lowerFirst <- Gen.oneOf(true, false) // conjunct order in the AND
      ptLeft <- Gen.oneOf(true, false)     // which join side holds the point
      ptType <- Gen.oneOf("int", "bigint")
      boundType <- Gen.oneOf("int", "bigint")
    } yield (pts, ivs, bin, lowerIncl, upperIncl, lowerFlip, upperFlip,
      lowerFirst, ptLeft, ptType, boundType)
    check(Prop.forAllNoShrink(gen) { case (pts, ivs, bin, lowerIncl, upperIncl,
        lowerFlip, upperFlip, lowerFirst, ptLeft, ptType, boundType) =>
      val points = pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("pid", "pt0")
        .select(col("pid"), col("pt0").cast(ptType).as("pt"))
      val intervalsDf = ivs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("iid", "lo0", "hi0")
        .select(col("iid"), col("lo0").cast(boundType).as("lo"),
          col("hi0").cast(boundType).as("hi"))
      val lower =
        (lowerFlip, lowerIncl) match {
          case (false, true)  => col("pt") >= col("lo")
          case (false, false) => col("pt") > col("lo")
          case (true, true)   => col("lo") <= col("pt")
          case (true, false)  => col("lo") < col("pt")
        }
      val upper =
        (upperFlip, upperIncl) match {
          case (false, true)  => col("pt") <= col("hi")
          case (false, false) => col("pt") < col("hi")
          case (true, true)   => col("hi") >= col("pt")
          case (true, false)  => col("hi") > col("pt")
        }
      val cond = if (lowerFirst) lower && upper else upper && lower
      def joined = if (ptLeft) points.join(intervalsDf, cond)
        else intervalsDf.join(points, cond)
      val naive = joined.select("pid", "iid").as[(Long, Long)].collect().toSeq.sorted
      try {
        spark.conf.set("spark.graft.rangeJoin.binSize", bin.toString)
        val rewritten = joined
        val got = rewritten.select("pid", "iid").as[(Long, Long)].collect().toSeq.sorted
        val fired = rewritten.queryExecution.executedPlan.toString.contains("__graft_pbin")
        Prop.collect(s"fired=$fired pt=$ptType bound=$boundType")(got == naive) :|
          s"bin=$bin incl=($lowerIncl,$upperIncl) flip=($lowerFlip,$upperFlip) " +
            s"first=$lowerFirst ptLeft=$ptLeft got=$got want=$naive"
      } finally spark.conf.unset("spark.graft.rangeJoin.binSize")
    }, n = 32)
  }

  test("Scale.binnedOverlapJoin ≡ nested-loop on random VALID intervals (its documented domain)") {
    val validInterval: Gen[(Long, Long)] = for {
      a <- Gen.chooseNum(-250L, 250L)
      span <- Gen.chooseNum(1L, 120L)
    } yield (a, a + span)
    val gen = for {
      ls <- Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, validInterval))
      rs <- Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, validInterval))
      bin <- Gen.oneOf(1L, 32L, 100L)
    } yield (ls, rs, bin)
    check(Prop.forAllNoShrink(gen) { case (ls, rs, bin) =>
      val l = ls.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("lid", "ls", "le")
      val r = rs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("rid", "rs", "re")
      val naive = l.join(r, col("ls") < col("re") && col("rs") < col("le"))
        .select("lid", "rid").as[(Long, Long)].collect().toSeq.sorted
      val got = graft.ops.Scale
        .binnedOverlapJoin(l, r, "ls", "le", "rs", "re", bin)
        .select("lid", "rid").as[(Long, Long)].collect().toSeq.sorted
      (got == naive) :| s"bin=$bin got=$got want=$naive"
    }, n = 16)
  }
}
