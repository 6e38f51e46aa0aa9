package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based laws of the pipeline algebra (SURVEY.md §5.3):
  *   - common ≡ pointwise map
  *   - sequence(s1, s2) ≡ sequence(s1); sequence(s2)
  *   - PREV ≡ explicit naming
  *   - ALL >> id >> ALL is identity
  *   - select picks the first true branch
  *   - branch merge policies
  * Checked over arbitrary small integer environments with raw ScalaCheck
  * (no scalatestplus bridge in the offline cache).
  */
class PipelineLawsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  def scalarI(v: Int): DataFrame = Seq(v).toDF("value")
  def readInt(df: DataFrame): Int = df.head().getInt(0)

  val addOne: StepFn = fn("addOne")(_.select((col("value") + 1).as("value")))
  val double_ : StepFn = fn("double")(_.select((col("value") * 2).as("value")))

  val smallInts: Gen[List[Int]] = Gen.chooseNum(1, 4).flatMap(n =>
    Gen.listOfN(n, Gen.chooseNum(-100, 100)))

  /** Run a ScalaCheck property with few iterations (each runs Spark jobs). */
  def check(prop: Prop, n: Int = 8): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("law: common(xs, fn, ys) is a pointwise map") {
    check(Prop.forAllNoShrink(smallInts) { vs =>
      val names = vs.indices.map(i => s"v$i")
      val p = DPP(names.zip(vs.map(scalarI)).toMap)
      p.common(names.map(Ref(_)), addOne, names.map(n => Ref(s"o_$n")))
      names.zip(vs).forall { case (n, v) =>
        readInt(p(s"o_$n")) == v + 1 && readInt(p(n)) == v
      }
    })
  }

  test("law: sequence(s1, s2) ≡ sequence(s1); sequence(s2)") {
    check(Prop.forAllNoShrink(Gen.chooseNum(-100, 100)) { v =>
      val p1 = DPP("x" -> scalarI(v))
      p1.sequence(p1.x >> addOne >> p1.a, Prev >> double_ >> p1.b)
      val p2 = DPP("x" -> scalarI(v))
      p2.sequence(p2.x >> addOne >> p2.a)
      p2.sequence(Prev >> double_ >> p2.b)
      readInt(p1("b")) == readInt(p2("b")) && readInt(p1("b")) == (v + 1) * 2
    })
  }

  test("law: PREV ≡ explicit naming") {
    check(Prop.forAllNoShrink(Gen.chooseNum(-100, 100)) { v =>
      val pa = DPP("x" -> scalarI(v))
      pa.common(pa.x >> addOne >> pa.mid)
      pa.common(Prev >> double_ >> pa.out)
      val pb = DPP("x" -> scalarI(v))
      pb.common(pb.x >> addOne >> pb.mid)
      pb.common(pb.mid >> double_ >> pb.out)
      readInt(pa("out")) == readInt(pb("out"))
    })
  }

  test("law: ALL >> id >> ALL is identity on the initial environment") {
    check(Prop.forAllNoShrink(smallInts) { vs =>
      val names = vs.indices.map(i => s"v$i")
      val p = DPP(names.zip(vs.map(scalarI)).toMap)
      p.common(All >> fn("id")(df => df) >> All)
      names.zip(vs).forall { case (n, v) => readInt(p(n)) == v }
    })
  }

  test("law: select runs exactly the first true branch") {
    check(Prop.forAllNoShrink(Gen.listOfN(4, Gen.oneOf(true, false))) { conds =>
      val p = DPP("x" -> scalarI(0))
      val branches = conds.zipWithIndex.map { case (c, i) =>
        (p.x >> fn(s"set$i")(_.select(lit(i + 1).as("value"))) >> p.x,
          (_: CtxView) => c)
      }
      p.select(branches, default = None)
      val expected = conds.indexOf(true) match {
        case -1 => 0
        case i => i + 1
      }
      readInt(p("x")) == expected
    })
  }

  test("law: branch(Last) takes the last write; Merge.First keeps the first") {
    check(Prop.forAllNoShrink(Gen.chooseNum(-50, 50), Gen.chooseNum(-50, 50)) { (a, b) =>
      val setA = fn("setA")(_.select(lit(a).as("value")))
      val setB = fn("setB")(_.select(lit(b).as("value")))
      val pLast = DPP("x" -> scalarI(0))
      pLast.branch(pLast.x >> setA >> pLast.w, pLast.x >> setB >> pLast.w)
      val pFirst = DPP("x" -> scalarI(0))
      pFirst.branch(Merge.First)(pFirst.x >> setA >> pFirst.w, pFirst.x >> setB >> pFirst.w)
      readInt(pLast("w")) == b && readInt(pFirst("w")) == a
    })
  }
}
