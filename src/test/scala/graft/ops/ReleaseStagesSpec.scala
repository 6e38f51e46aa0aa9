package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The release pipeline's narrow stages equal the wide formulations they
  * replaced: the exact dedup decided on `(norm_key, doc_id)` rows equals
  * the keep-first window, and the card built from the per-doc features
  * equals the card built from the texts.
  */
class ReleaseStagesSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("narrow exact dedup ≡ Scale.dedupKeepFirst(norm_key; doc_id)") {
    // unique non-null doc ids (the documents key) over a key pool of
    // 1 (one all-duplicate group) to 8 keys, null keys included;
    // a large pool makes singletons
    val frames = for {
      pool <- Gen.choose(1, 8)
      keys = Gen.frequency(1 -> Gen.const(Option.empty[String]),
        4 -> Gen.choose(1, pool).map(i => Some(s"k$i")))
      n <- Gen.choose(0, 24)
      ids <- Gen.pick(n, -40L to 40L)
      ks <- Gen.listOfN(n, keys)
      texts <- Gen.listOfN(n, Gen.oneOf("a b", "c", "", "d e f"))
    } yield ids.toSeq.zip(ks).zip(texts).map { case ((id, k), t) => (id, t, k) }
    val prop = Prop.forAll(frames) { docs =>
      val df = docs.toDF("doc_id", "text", "norm_key")
      val got = Llm.releaseDedupExact(df)
      val want = Scale.dedupKeepFirst(df, Seq(col("norm_key")), Seq(col("doc_id")))
        .select("doc_id", "text")
      try (rows(got) == rows(want)) :| s"docs=$docs got=${rows(got)} want=${rows(want)}"
      finally Scratch.release(got)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("card from features ≡ card from texts, on the corpus and on its quota sample") {
    val docs = Tables.documents(spark, graft.TestSpark.sf0001)
    assert(rows(Llm.cardLocal(Llm.cardFeatures(docs))) == rows(Llm.corpusCard(docs)))
    // the sample as drawn with the texts carried through the sampler
    val pop = docs.select(col("doc_id"), col("source"), col("n_chars"), col("text"), col("lang"))
    val alloc = Relational.neymanAlloc(pop.select("doc_id", "source", "n_chars"), 200L)
    val textSample = Scale.quotaSample(pop, Seq("source"),
      md5(concat_ws(":", col("source"), col("doc_id"))), Seq(col("doc_id")),
      Right(alloc.select(col("source"), col("n_h"))),
      groupCounts = Some(alloc.select(col("source"), col("n").as("__grp_n"))))
    val sample = Llm.releaseSample(pop, 200L)
    assert(sample.columns.toSeq ==
      Seq("source", "doc_id", "n_chars", "lang", "n_tokens", "k", "n_h", "rn"))
    assert(rows(sample.select("doc_id", "n_h", "rn")) ==
      rows(textSample.select("doc_id", "n_h", "rn")))
    val card = rows(Llm.cardLocal(sample))
    assert(card.nonEmpty)
    assert(card == rows(Llm.corpusCard(textSample)))
  }
}
