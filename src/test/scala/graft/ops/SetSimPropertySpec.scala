package graft.ops

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Property-based parity for the exact set-similarity join: on RANDOM
  * small corpora (tiny vocabularies force dense overlap; distinct-word
  * sets of varying size; duplicate documents) the prefix-filtered join
  * must return EXACTLY the brute-force Jaccard ≥ t pair set — the
  * completeness claim ("two sets with Jaccard ≥ t must share a prefix
  * token") checked adversarially rather than on one fixture.
  */
class SetSimPropertySpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")

  private val doc: Gen[String] = for {
    n <- Gen.chooseNum(1, 10)
    ws <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield ws.mkString(" ")

  test("setSimJoin ≡ brute force on random corpora and thresholds") {
    val gen = for {
      n <- Gen.chooseNum(2, 14)
      docs <- Gen.listOfN(n, doc)
      t <- Gen.oneOf(0.3, 0.5, 0.7, 0.9, 1.0)
    } yield (docs, t)
    check(Prop.forAllNoShrink(gen) { case (docs, t) =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("doc_id", "text")
      val sets = docs.map(_.split(" ").toSet).zipWithIndex
      val want = (for {
        (sa, a) <- sets; (sb, b) <- sets if a < b
        inter = (sa intersect sb).size
        uni = (sa union sb).size
        if inter.toDouble / uni >= t
      } yield (a.toLong, b.toLong)).toSet
      val got = Llm.setSimJoin(df, "doc_id", "text", t)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      (got == want) :| s"t=$t docs=$docs got=$got want=$want"
    }, n = 20)
  }
}
