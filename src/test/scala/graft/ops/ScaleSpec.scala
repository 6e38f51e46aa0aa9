package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reusable Scale transforms must be result-identical to their naive
  * single-shuffle / single-window formulations — verified on sf0.001.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("triangleCount: orientation/duplicate/self-loop invariant; K4 has 4 triangles") {
    import spark.implicits._
    // K4 on {1,2,3,4} given messy: mixed orientation, duplicates, a self-loop
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L), (1L, 4L), (2L, 3L), (4L, 2L),
      (3L, 4L), (4L, 3L), (2L, 2L))
      .toDF("s", "t")
    val got = Scale.triangleCount(edges, "s", "t")
      .as[(Long, Long)].collect().toMap
    // K4's 4 triangles counted at their smallest node: {1,2,3},{1,2,4},{1,3,4} at 1; {2,3,4} at 2
    assert(got == Map(1L -> 3L, 2L -> 1L), s"got $got")
  }

  test("triangleCount: degree orientation counts IDENTICAL triangles on a skewed graph") {
    import spark.implicits._
    // power-law-ish fixture: hub 0 touches everything (and has the LOWEST
    // id — the worst case for id-orientation), plus a chain with chords
    // and noise edges in mixed orientations with duplicates
    val hub = (1L to 60L).map(i => (0L, i))
    val chain = (1L to 59L).map(i => (i, i + 1))
    val chords = (1L to 58L by 2).map(i => (i + 2, i))
    val edges = (hub ++ chain ++ chords ++ Seq((7L, 7L), (3L, 0L), (12L, 11L)))
      .toDF("s", "t")
    val byId = Scale.triangleCount(edges, "s", "t").as[(Long, Long)].collect().toMap
    val byDeg = Scale.triangleCount(edges, "s", "t", orientByDegree = true)
      .as[(Long, Long)].collect().toMap
    assert(byId == byDeg, s"orientations disagree: id=$byId deg=$byDeg")
    assert(byId.values.sum > 60, "fixture must be triangle-rich")
  }

  test("twoHopCensus: degree cap drops hub-mediated pairs; capped ⊆ exact") {
    import spark.implicits._
    // hub 99 touches 1..4; low-degree structure: 1-2, 2-3, 4-5
    val dir = Seq((99L, 1L), (99L, 2L), (99L, 3L), (99L, 4L),
      (1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val und = dir.union(dir.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    def census(cap: Int) = Scale.twoHopCensus(und, "src", "dst", cap)
      .as[(Long, Long)].collect().toMap
    val exact = census(0)
    // hand enumeration: via hub 99 → (1,3),(1,4),(2,4),(3,4) both ways;
    // via 2 → (1,3) again; via 4 → (99,5) both ways
    assert(exact == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 99L -> 1L, 5L -> 1L),
      s"exact census wrong: $exact")
    // cap 2 excludes middles 99 (deg 4) and 2 (deg 3): only 4-mediated
    // pairs survive
    val capped = census(2)
    assert(capped == Map(99L -> 1L, 5L -> 1L), s"capped census wrong: $capped")
    // subset law: every capped count is ≤ the exact count for that vertex
    assert(capped.forall { case (v, n) => n <= exact.getOrElse(v, 0L) })
  }

  test("topKPerGroup ≡ direct window top-k") {
    val li = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
    val order = Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val direct = li
      .withColumn("rn", row_number().over(Window.partitionBy("l_returnflag").orderBy(order: _*)))
      .filter(col("rn") <= 7).drop("rn")
    val twoPhase = Scale.topKPerGroup(li, Seq(col("l_returnflag")), order, 7,
      saltSrc = Seq(col("l_orderkey"), col("l_linenumber")))
    assert(direct.except(twoPhase).isEmpty && twoPhase.except(direct).isEmpty)
    assert(twoPhase.count() == direct.count())
  }

  test("quotaSample ≡ direct per-group md5-rank draw; forced under-cut takes the exact fallback") {
    val ev = Tables.events(spark, sf).select("event_id", "event_type", "value")
    val hash = md5(concat_ws(":", col("event_type"), col("event_id")))
    def direct(k: Long) = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(hash, col("event_id"))).cast("long"))
      .filter(col("rn") <= k)
      .select("event_type", "rn", "event_id", "value")
    val want = direct(20).collect().map(_.toSeq).toSet
    // normal path: the ~2× threshold keeps every group's quota
    val got = Scale.quotaSample(ev, Seq("event_type"), hash, Seq(col("event_id")), Left(20L))
      .select("event_type", "rn", "event_id", "value").collect().map(_.toSeq).toSet
    assert(got == want, "prefiltered draw must equal the whole-group rank")
    // forced under-cut: a constant "ff" lead keeps the hash order but puts
    // every 60-bit prefix above 255/256 of the span, past each group's
    // ~0.28 threshold — no group keeps a survivor, every group misses its
    // count check and must route through the exact whole-group fallback,
    // same rows out
    val forcedDf = Scale.quotaSample(ev, Seq("event_type"), concat(lit("ff"), hash),
      Seq(col("event_id")), Left(20L))
    assert(ScaleSpec.fallbackRan(forcedDf), "the forced under-cut must take the fallback")
    val forced = forcedDf
      .select("event_type", "rn", "event_id", "value").collect().map(_.toSeq).toSet
    assert(forced == want, "the count-check fallback must reproduce the exact draw")
    // per-group quota relation (the Neyman shape): quotas differ by group
    val quotas = ev.select("event_type").distinct()
      .withColumn("n_h", (length(col("event_type")) % 3 + 1).cast("long"))
    val wantQ = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(hash, col("event_id"))).cast("long"))
      .join(quotas, "event_type").filter(col("rn") <= col("n_h"))
      .select("event_type", "rn", "event_id", "value").collect().map(_.toSeq).toSet
    val gotQ = Scale.quotaSample(ev, Seq("event_type"), hash, Seq(col("event_id")),
      Right(quotas))
      .select("event_type", "rn", "event_id", "value").collect().map(_.toSeq).toSet
    assert(gotQ == wantQ, "per-group quota relation draw must match the direct plan")
    // caller-supplied group counts (the single-scan Neyman path): exact
    // counts reproduce the internal-scan result bit for bit...
    val exactCounts = ev.groupBy("event_type").agg(count(lit(1)).as("__grp_n"))
    val gotC = Scale.quotaSample(ev, Seq("event_type"), hash, Seq(col("event_id")),
      Right(quotas), groupCounts = Some(exactCounts))
      .select("event_type", "rn", "event_id", "value").collect().map(_.toSeq).toSet
    assert(gotC == wantQ, "caller-counts draw must match the internal-count draw")
    // ...and DELIBERATELY wrong counts visibly drive the draw — proving
    // the internal count scan is actually skipped, not silently re-run
    // (__grp_n = 1 forces __needed = min(n_h, 1) = 1 per group)
    val lying = ev.select("event_type").distinct().withColumn("__grp_n", lit(1L))
    val gotLie = Scale.quotaSample(ev, Seq("event_type"), hash, Seq(col("event_id")),
      Left(20L), groupCounts = Some(lying))
    val perGroup = gotLie.groupBy("event_type").agg(count(lit(1)).as("c"))
      .select("c").collect().map(_.getLong(0)).toSet
    assert(perGroup == Set(1L),
      "groupCounts must be consumed in place of the internal count scan")
  }

  test("quotaSample: a null-key group is dropped before the stats, not sent to the fallback") {
    import graft.ExecutedPlans.Adaptive
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), when(col("source") =!= "src0", col("source")).as("source"))
    // the caller-supplied counts (a local relation, read without a job)
    // hold the null-key group
    val agg = docs.groupBy("source").agg(count(lit(1)).as("__grp_n"))
    val aggRows = agg.collect()
    assert(aggRows.count(_.isNullAt(0)) == 1)
    val counts = spark.createDataFrame(java.util.Arrays.asList(aggRows: _*), agg.schema)
    val hash = md5(col("doc_id").cast("string"))
    val (got, plans) = graft.ExecutedPlans.of(spark) {
      val out = Scale.quotaSample(docs, Seq("source"), hash, Seq(col("doc_id")), Left(3L),
        groupCounts = Some(counts))
      // the sampler must not build a fallback branch for the null group
      // (the optimizer would prune it from the executed plan, as a null
      // key cannot match, so the analyzed plan is where it shows)
      assert(out.queryExecution.analyzed.collectFirst { case u: Union => u }.isEmpty,
        "a null-key group must not be routed to the exact fallback")
      out.select("source", "rn", "doc_id").collect()
    }
    assert(!plans.exists(p => Adaptive.collect(p) { case u: UnionExec => u }.nonEmpty),
      "no executed plan may hold the fallback union")
    val scans = plans.map(p => Adaptive.collect(p) { case f: FileSourceScanExec => f }.size).sum
    assert(scans == 1, s"the input must be scanned once (the survivor cut), scanned $scans times")
    val want = docs.filter(col("source").isNotNull)
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(hash, col("doc_id"))).cast("long"))
      .filter(col("rn") <= 3).select("source", "rn", "doc_id").collect().toSet
    assert(got.toSet == want)
  }

  test("prefixCut ≡ whole-group running window: rows (flat and relation quotas) and token weights") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    import spark.implicits._
    // groups of 0–60 rows under keys g0–g3 or null; hashes are 32 hex
    // chars whose 15-char prefixes (the cut's numeric part) and whole
    // values repeat; weights 0–4
    val hex = Gen.listOfN(15, Gen.hexChar).map(_.mkString.toLowerCase)
    val frames = for {
      prefixes <- Gen.listOfN(4, hex)
      sizes <- Gen.listOfN(5, Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 60)))
      n = sizes.sum
      keys = sizes.zipWithIndex.flatMap { case (m, i) =>
        Seq.fill(m)(if (i == 4) Option.empty[String] else Some(s"g$i")) }
      hashes <- Gen.listOfN(n, for {
        p <- Gen.frequency(1 -> Gen.oneOf(prefixes), 3 -> hex)
        t <- Gen.frequency(1 -> Gen.const("0" * 17),
          3 -> Gen.listOfN(17, Gen.hexChar).map(_.mkString.toLowerCase))
      } yield p + t)
      ws <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(0L), 3 -> Gen.choose(1L, 4L)))
      flat <- Gen.choose(0L, 70L)
      perGroup <- Gen.listOfN(4, Gen.choose(0L, 70L))
    } yield (keys.indices.map(i => (keys(i), i.toLong, hashes(i), ws(i))), flat, perGroup)
    val win = Window.partitionBy("g").orderBy(col("h"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def rows(df: DataFrame) = df.select("g", "id", "n_h", "rn").collect().toSet
    // no shrinking: each shrink step re-runs every Spark query of the frame
    val prop = Prop.forAllNoShrink(frames) { case (data, flat, perGroup) =>
      val df = data.toDF("g", "id", "h", "w")
      val alloc = perGroup.zipWithIndex.map { case (q, i) => (s"g$i", q) }.toDF("g", "n_h")
      val keyed = df.filter(col("g").isNotNull)
      // the reference: the whole-group running window over non-null groups
      def ref(w: org.apache.spark.sql.Column, quota: Either[Long, DataFrame]) = {
        val withQ = quota.fold(q => keyed.withColumn("n_h", lit(q)), a => keyed.join(a, "g"))
        rows(withQ.withColumn("rn", sum(w).over(win)).filter(col("rn") - w < col("n_h")))
      }
      val cases = Seq(
        ("rows, flat", None, Left(flat), df),
        ("rows, relation", None, Right(alloc), keyed),
        ("tokens, flat", Some(col("w")), Left(flat), df))
      val checks = for ((what, weight, quota, in) <- cases) yield {
        val want = ref(weight.getOrElse(lit(1L)), quota)
        // the plain hash, and the "ff"-led one that empties every survivor
        // set whose threshold is below 1
        val gots = Seq(col("h"), concat(lit("ff"), col("h"))).map { h =>
          val out = Scale.prefixCut(in, Seq("g"), h, Seq(col("id")), quota, weight)
          try rows(out) finally Scratch.release(out)
        }
        gots.forall(_ == want) :| s"$what: got ${gots.map(_.size)} rows, want ${want.size}"
      }
      val nullRelation =
        data.forall(_._1.isDefined) || scala.util.Try(Scale.quotaSample(df, Seq("g"), col("h"),
          Seq(col("id")), Right(alloc))).failed.toOption
          .exists(_.getMessage.contains("missing allocation rows"))
      (checks.reduce(_ && _) && (nullRelation :| "a null-key group must fail the relation's coverage")) :|
        s"frame=$data flat=$flat perGroup=$perGroup"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("bucketPairs ≡ null-safe self-join of the capped buckets; capBuckets ≡ count-and-filter") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    import spark.implicits._
    val cap = 3
    // up to 6 distinct two-column bucket keys (either column may be
    // null) of 1 to cap + 2 rows, mostly exactly cap or cap + 1; ids are
    // null or drawn from a small range, so they repeat within a bucket
    val keys = for (k1 <- Seq(None, Some("a"), Some("b")); k2 <- Seq(None, Some(0), Some(1)))
      yield (k1, k2)
    val frames = for {
      m <- Gen.choose(0, 6)
      picked <- Gen.pick(m, keys)
      sizes <- Gen.listOfN(m, Gen.frequency(2 -> Gen.oneOf(cap, cap + 1), 1 -> Gen.choose(1, cap + 2)))
      rows = picked.toSeq.zip(sizes).flatMap { case (k, n) => Seq.fill(n)(k) }
      ids <- Gen.listOfN(rows.size, Gen.frequency(1 -> Gen.const(Option.empty[Long]),
        4 -> Gen.choose(0L, 6L).map(Option(_))))
    } yield rows.indices.map(i => (rows(i)._1, rows(i)._2, ids(i), s"r$i"))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // no shrinking: each shrink step re-runs every Spark query of the frame
    val prop = Prop.forAllNoShrink(frames) { data =>
      val df = data.toDF("k1", "k2", "id", "v")
      def sameKey(l: String, r: String) =
        col(s"$l.k1") <=> col(s"$r.k1") && col(s"$l.k2") <=> col(s"$r.k2")
      // the reference: bucket sizes by a grouped count, rows of buckets
      // within the cap by a null-safe join, pairs by a null-safe self-join
      val small = df.as("r").join(df.groupBy("k1", "k2").count().as("s"), sameKey("r", "s"))
        .filter(col("count") <= cap).select("r.*")
      val want = small.as("a").join(small.as("b"), sameKey("a", "b") && col("a.id") < col("b.id"))
        .select("a.id", "a.v", "b.id", "b.v")
      val got = Scale.bucketPairs(df, Seq("k1", "k2"), "id", cap)
        .select("a.id", "a.v", "b.id", "b.v")
      ((rows(got) == rows(want)) :| "bucketPairs" &&
        (rows(Scale.capBuckets(df, Seq("k1", "k2"), cap)) == rows(small)) :| "capBuckets") :|
        s"frame=$data"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    // the output is the two structs of the non-bucket columns
    val one = Seq((Option("a"), Option(0), Option(1L), "x")).toDF("k1", "k2", "id", "v")
    val out = Scale.bucketPairs(one, Seq("k1", "k2"), "id", cap)
    assert(out.columns.toSeq == Seq("a", "b"))
    assert(out.select("a.*").columns.toSeq == Seq("id", "v"))
    assert(Scale.bucketPairs(one.limit(0), Seq("k1", "k2"), "id", cap).isEmpty)
  }

  test("quotaSample fails loudly on a malformed quota relation (missing or duplicate groups)") {
    val ev = Tables.events(spark, sf).select("event_id", "event_type", "value")
    val hash = md5(concat_ws(":", col("event_type"), col("event_id")))
    val types = ev.select("event_type").distinct()
    // missing allocation row: the sampler must error, never silently
    // drop the group from the sample
    val partial = types.orderBy("event_type").limit(1).withColumn("n_h", lit(5L))
    val eMissing = intercept[IllegalArgumentException] {
      Scale.quotaSample(ev, Seq("event_type"), hash, Seq(col("event_id")), Right(partial))
    }
    assert(eMissing.getMessage.contains("missing allocation rows"))
    // duplicated allocation row: the join would double survivors — error
    val doubled = types.withColumn("n_h", lit(5L))
      .unionByName(types.limit(1).withColumn("n_h", lit(7L)))
    val eDup = intercept[IllegalArgumentException] {
      Scale.quotaSample(ev, Seq("event_type"), hash, Seq(col("event_id")), Right(doubled))
    }
    assert(eDup.getMessage.contains("duplicate allocation rows"))
  }

  test("asofJoin ≡ windowed running-last on the events/purchases case") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "event_type", "ts_ns")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns"), col("event_id").as("purchase_id"))
    val got = Scale.asofJoin(
      ev, purchases, key = "user_id", leftTs = "ts_ns", rightTs = "ts_ns",
      payloadCols = Seq("purchase_id"))
      .select(col("event_id"), col("asof_purchase_id"))
    // reference: running max-ts purchase per user (inclusive), via window
    val w = Window.partitionBy("user_id").orderBy("ts_ns")
    val expected = ev
      .withColumn("pid", when(col("event_type") === "purchase", struct(col("ts_ns"), col("event_id"))))
      .withColumn("last_p", max(col("pid")).over(w)) // RANGE frame: ts-peers included
      .select(col("event_id"), col("last_p.event_id").as("asof_purchase_id"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    assert(got.count() == ev.count()) // left-preserving
  }

  test("asofJoin picks the LATEST right row at equal timestamps, inclusive") {
    import spark.implicits._
    val left = Seq((1L, 100L, "a"), (1L, 50L, "b"), (2L, 10L, "c")).toDF("k", "ts", "tag")
    val right = Seq((1L, 100L, "r100"), (1L, 60L, "r60"), (1L, 40L, "r40"), (3L, 1L, "rX"))
      .toDF("k", "ts", "v")
    val out = Scale.asofJoin(left, right, "k", "ts", "ts", Seq("v"))
      .select("tag", "asof_v").as[(String, String)].collect().toMap
    assert(out("a") == "r100") // equal ts matches (inclusive)
    assert(out("b") == "r40")  // 50 >= 40, not 60
    assert(out("c") == null)   // no right rows for key 2
  }

  test("saltedJoin ≡ plain equi-join (inner)") {
    val li = Tables.lineitem(spark, sf)
    val ords = Tables.orders(spark, sf)
    val plain = li.join(ords, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    val salted = Scale.saltedJoin(
      li, ords.withColumnRenamed("o_orderkey", "l_orderkey"), Seq("l_orderkey"),
      bigSaltSrc = Seq(col("l_linenumber"), col("l_partkey")), salts = 8)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(plain.except(salted).isEmpty && salted.except(plain).isEmpty)
  }

  test("connectedComponents: chains merge, singletons self-label") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val labels = Scale.connectedComponents(nodes, "id", edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("connectedComponents: pointer jumping converges a 200-node path within log-bound iterations") {
    import spark.implicits._
    val n = 200
    val nodes = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    // linear propagation would need 199 iterations; pointer jumping
    // must finish within the 12 allowed here (~log2(200) + slack)
    val labels = Scale.connectedComponents(nodes, "id", edges, "src", "dst", maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(labels.values.toSet == Set(1L), "whole path collapses to min label 1")
  }

  test("binnedOverlapJoin ≡ nested-loop overlap join, each pair exactly once") {
    import spark.implicits._
    // random half-open intervals over a negative-through-positive domain
    // (exercises floor-division binning on negatives), widths 0..40
    // (width 0 = degenerate, must match nothing)
    val rnd = new scala.util.Random(7)
    def mk(n: Int, ic: String, sc: String, ec: String) = {
      val rows = (1 to n).map { i =>
        val s = rnd.nextInt(2000).toLong - 1000L
        (i.toLong, s, s + rnd.nextInt(41).toLong)
      }
      rows.toDF(ic, sc, ec)
    }
    val left = mk(250, "lid", "ls", "le")
    val right = mk(350, "rid", "rs", "re")
    // the raw inequality predicate alone would admit EMPTY intervals
    // whose start falls inside the other side; [s,s) is the empty set,
    // so the operator (documented) matches it to nothing — the naive
    // reference must say so too
    val want = left.crossJoin(right)
      .filter(col("ls") < col("le") && col("rs") < col("re") &&
        col("ls") < col("re") && col("rs") < col("le"))
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    for (binSize <- Seq(1L, 7L, 64L, 5000L)) { // tiny, typical, wide, single-bin
      val got = Scale.binnedOverlapJoin(left, right, "ls", "le", "rs", "re", binSize)
        .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
      assert(got == want, s"binSize=$binSize: ${got.size} pairs vs ${want.size} expected")
    }
    // fractional bounds cannot be binned exactly: refused, not joined wrong
    val dl = Seq((0.5, 1.5)).toDF("ls", "le")
    val dr = Seq((1.2, 2.5)).toDF("rs", "re")
    intercept[IllegalArgumentException] {
      Scale.binnedOverlapJoin(dl, dr, "ls", "le", "rs", "re", 1L)
    }
    // an interval spanning more bins than maxBinsPerRow raises the guard
    val wide = Seq((0L, 0L, 1000000L)).toDF("lid", "ls", "le")
    try {
      spark.conf.set("spark.graft.rangeJoin.maxBinsPerRow", "1000")
      val e = intercept[Exception] {
        Scale.binnedOverlapJoin(wide, right, "ls", "le", "rs", "re", 7L).collect()
      }
      assert(e.getMessage.contains("maxBinsPerRow"), e.getMessage)
    } finally spark.conf.unset("spark.graft.rangeJoin.maxBinsPerRow")
  }

  test("iterative loops release superseded checkpoints (bounded executor storage)") {
    import spark.implicits._
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    def reads(df: DataFrame) = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    def cachedNothing = spark.sharedState.cacheManager.isEmpty
    // a call leaves exactly the blocks its result reads: per-round
    // checkpoints must not accumulate (linear growth = OOM at real
    // iteration counts), and no cached table stays in the session
    def leavesItsReads(what: String)(call: => DataFrame): DataFrame = {
      val pre = persisted
      val out = call
      val left = persisted -- pre
      assert(left == reads(out), s"$what left blocks $left; its result reads ${reads(out)}")
      assert(cachedNothing, s"$what left a cached table in the session")
      out
    }
    // a call that throws leaves no block and no cached table behind
    def leavesNothingOnThrow(what: String)(call: => Any): Unit = {
      val pre = persisted
      intercept[IllegalStateException](call)
      assert((persisted -- pre).isEmpty, s"$what left blocks ${persisted -- pre} after throwing")
      assert(cachedNothing, s"$what left a cached table in the session")
    }
    val n = 200
    val nodes = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    // connectedComponents: ~8 pointer-jumping rounds on a 200-node path
    val labels = leavesItsReads("connectedComponents") {
      Scale.connectedComponents(nodes, "id", edges, "src", "dst", maxIter = 12)
    }
    assert(labels.as[(Long, Long)].collect().toMap.values.toSet == Set(1L))
    leavesNothingOnThrow("connectedComponents(maxIter = 2)") {
      Scale.connectedComponents(nodes, "id", edges, "src", "dst", maxIter = 2)
    }
    for (iters <- Seq(0, 5)) {
      val ranks = leavesItsReads(s"pageRank(iters = $iters)")(Scale.pageRank(edges, "src", "dst", iters))
      assert(ranks.count() == n)
      val scores = leavesItsReads(s"hits(iters = $iters)")(Scale.hits(edges, "src", "dst", iters))
      assert(scores.count() == n)
    }
    for (iters <- Seq(0, 3)) {
      val lp = leavesItsReads(s"labelPropagation(iters = $iters)") {
        Scale.labelPropagation(edges, "src", "dst", iters)
      }
      assert(lp.count() == n)
    }
    // kCore leaves exactly the blocks its result reads: K4 plus a
    // pendant chain peels in three rounds at k = 2
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L)).flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val kEdges = (k4 ++ chain).toDF("src", "dst")
    val core = leavesItsReads("kCore")(Scale.kCore(kEdges, "src", "dst", k = 2))
    assert(core.count() == 7)
    leavesNothingOnThrow("kCore(maxRounds = 2)")(Scale.kCore(kEdges, "src", "dst", k = 2, maxRounds = 2))
    val vecs = Seq(Array(0.0, 0.0), Array(0.0, 1.0), Array(9.0, 9.0), Array(9.0, 8.0)).toDF("v")
    leavesItsReads("kMeans")(Scale.kMeans(vecs, "v", k = 2).assigned)
    val docs = Seq.fill(50)("low lower lowest low low new newer").toDF("text")
    leavesItsReads("bpeTrain")(Llm.bpeTrain(docs, "text", numMerges = 8)._2)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.orderBy("vec_id").head().getSeq[Double](1)
    leavesItsReads("mmrSelect")(Llm.mmrSelect(emb, q, k = 3, lambda = 0.7))
    // m0 = 1 forces the certificate failure → pool growth → retry path
    leavesItsReads("selectCover")(Llm.selectCover(Tables.documents(spark, sf), k = 8, m0 = 1L))
    leavesItsReads("q_sim_ivf")(Llm.q_sim_ivf(spark, sf))
  }

  test("connectedComponents fails loudly instead of returning split components") {
    import spark.implicits._
    val n = 64
    val nodes = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Scale.connectedComponents(nodes, "id", edges, "src", "dst", maxIter = 2)
    }
  }

  test("kCore: K4+pendant-chain peels the chain layer by layer and keeps exactly the clique") {
    import spark.implicits._
    // K4 on {1,2,3,4} (every degree 3) with a pendant chain 4-5-6-7:
    // the 3-core is exactly the clique; the chain unravels one vertex
    // per round from the dangling end (7 first), exercising multi-round
    // peeling and the per-round checkpoint discipline
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L)).flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val edges = (k4 ++ chain).toDF("src", "dst")
    val out = Scale.kCore(edges, "src", "dst", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 0L), s"the clique IS the 3-core: $out")
    assert(Seq(5L, 6L, 7L).forall(out(_) == 1L),
      s"the whole chain is degree ≤ 2, so k=3 drops it in one round: $out")
    // k=2 is the multi-round case: only the dangling END is sub-degree
    // each round, so the chain peels outside-in one vertex per round
    val out2 = Scale.kCore(edges, "src", "dst", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out2(_) == 0L))
    assert(out2(7L) == 1L && out2(6L) == 2L && out2(5L) == 3L,
      s"the chain must peel outside-in one layer per round: $out2")
    // maxRounds guard is loud, not a silent truncation (k=2 needs 3
    // removal rounds + the empty fixpoint round)
    intercept[IllegalStateException] {
      Scale.kCore(edges, "src", "dst", k = 2, maxRounds = 2)
    }
  }

  test("q_graph_kcore: peel depth is a structural constant ≤ 2 (the oracle's 3-round unroll has slack)") {
    import spark.implicits._
    val out = Llm.q_graph_kcore(spark, sf)
      .select("k", "peeled_round").as[(Long, Long)].collect()
    val maxRound = out.map(_._2).max
    assert(maxRound <= 2L,
      s"chain+chord peel must converge in ≤2 rounds at any SF (oracle unrolls 3), got $maxRound")
    // the k=3 peel leaves an EMPTY core (odd vertices fall in round 1,
    // the bare even chord path in round 2) — structure, not vacuity
    assert(out.filter(_._1 == 3L).forall(_._2 > 0L), "the 3-core of the strip graph is empty")
    assert(out.count { case (k, r) => k == 2L && r == 0L } > 0, "the 2-core is non-empty")
  }

  test("upsert laws: empty updates = identity; keys = base ∪ update keys; updates win") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    assert(Scale.upsert(base, empty, Seq("k")).except(base).isEmpty)
    val updates = Seq((2L, "B!"), (9L, "new")).toDF("k", "v")
    val out = Scale.upsert(base, updates, Seq("k")).as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B!", 3L -> "c", 9L -> "new"))
  }

  test("hashSample laws: fraction 100 keeps everything; subsets nest monotonically") {
    val orders = Tables.orders(spark, sf)
    assert(Scale.hashSample(orders, Seq(col("o_custkey")), 100.0).count() == orders.count())
    val s5 = Scale.hashSample(orders, Seq(col("o_custkey")), 5.0)
    val s20 = Scale.hashSample(orders, Seq(col("o_custkey")), 20.0)
    assert(s5.except(s20).isEmpty, "smaller sample must be a subset of the larger")
  }

  test("bloomPrefilterJoin ≡ plain join (false positives scrubbed by the exact join)") {
    val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    val dim = Tables.part(spark, sf).filter(col("p_size") <= 10).select("p_partkey", "p_brand")
    val plain = fact.join(dim, col("l_partkey") === col("p_partkey"))
    val bloomed = Scale.bloomPrefilterJoin(fact, dim, "l_partkey", "p_partkey",
      expectedKeys = 1000L, fpp = 0.01)
    assert(bloomed.except(plain).isEmpty && plain.except(bloomed).isEmpty)
    assert(bloomed.count() == plain.count())
    // string keys route through mightContainString
    val factS = Tables.customer(spark, sf).select(col("c_mktsegment"), col("c_custkey"))
    val dimS = Tables.customer(spark, sf).select(col("c_mktsegment").as("seg")).distinct()
      .filter(col("seg") < "F")
    val plainS = factS.join(dimS, col("c_mktsegment") === col("seg"))
    val bloomedS = Scale.bloomPrefilterJoin(factS, dimS, "c_mktsegment", "seg", 100L)
    assert(bloomedS.count() == plainS.count())
    // outer/anti types are rejected: prefiltering the fact side would
    // silently drop the unmatched rows those types must keep
    for (jt <- Seq("left", "full", "left_anti")) {
      val e = intercept[IllegalArgumentException] {
        Scale.bloomPrefilterJoin(fact, dim, "l_partkey", "p_partkey", 1000L, 0.01, jt)
      }
      assert(e.getMessage.contains("match-only join type"))
    }
    // the bloom is built by the query that runs the join, not by the call
    val sc = spark.sparkContext
    org.apache.spark.SparkTestHooks.drainListeners(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      Scale.bloomPrefilterJoin(fact, dim, "l_partkey", "p_partkey", 1000L, 0.01)
      org.apache.spark.SparkTestHooks.drainListeners(sc)
    } finally sc.removeSparkListener(l)
    assert(jobs.get == 0, s"bloomPrefilterJoin fired ${jobs.get} jobs when called")
  }

  test("dedupKeepFirst keeps exactly the min-tiebreaker row per key") {
    val ords = Tables.orders(spark, sf)
    val got = Scale.dedupKeepFirst(ords, Seq(col("o_custkey")), Seq(col("o_orderkey")))
      .select("o_custkey", "o_orderkey")
    val expected = ords.groupBy("o_custkey").agg(min("o_orderkey").as("o_orderkey"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("syntax: fluent DataFrame ops forward to the Scale implementations") {
    import graft.ops.syntax._
    val ords = Tables.orders(spark, sf)
    assert(ords.hashSample(Seq(col("o_orderkey")), 10).count() ==
      Scale.hashSample(ords, Seq(col("o_orderkey")), 10).count())
    val chained = ords
      .hashSample(Seq(col("o_orderkey")), 50)
      .dedupKeepFirst(Seq(col("o_custkey")), Seq(col("o_orderkey")))
    assert(chained.groupBy("o_custkey").count().filter(col("count") > 1).count() == 0)
    val updates = ords.limit(10).withColumn("o_totalprice", lit(0.0))
    val upserted = updates.upsertInto(ords, Seq("o_orderkey"))
    assert(upserted.count() == ords.count())
    assert(upserted.filter(col("o_totalprice") === 0.0).count() == 10)

    // collected, not exceptAll: Spark cannot plan exceptAll over a
    // dropDuplicates(subset) frame (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    def sameRows(a: DataFrame, b: DataFrame): Boolean =
      a.collect().map(_.toString).sorted.sameElements(b.collect().map(_.toString).sorted)
    val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber", "l_partkey")
    val dim = Tables.part(spark, sf).filter(col("p_size") <= 10).select("p_partkey", "p_brand")
    val bloomed = fact.bloomJoin(dim, "l_partkey", "p_partkey", expectedKeys = 1000L)
    assert(!bloomed.isEmpty)
    assert(sameRows(bloomed,
      Scale.bloomPrefilterJoin(fact, dim, "l_partkey", "p_partkey", expectedKeys = 1000L)))
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val few = docs.filter(col("doc_id") <= 100)
    val similar = few.setSimSelfJoin("doc_id", "text", 0.5)
    assert(!similar.isEmpty)
    assert(sameRows(similar, Llm.setSimJoin(few, "doc_id", "text", 0.5)))
    val train = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val eval_ = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .unionByName(train.orderBy("doc_id").limit(1).withColumn("doc_id", lit(-1L)))
    val leaks = train.fuzzyDecontaminate(eval_, 0.5)
    assert(!leaks.isEmpty)
    assert(sameRows(leaks, Llm.contaminationFuzzy(train, eval_, 0.5)))
    val dir = java.nio.file.Files.createTempDirectory("graft_syntax_").toString
    try {
      ords.writeRangeSorted(s"$dir/range_syntax", "o_orderdate", 4)
      Sinks.rangeSortedParquet(ords, s"$dir/range_direct", "o_orderdate", 4)
      assert(sameRows(spark.read.parquet(s"$dir/range_syntax"),
        spark.read.parquet(s"$dir/range_direct")))
      ords.writeZOrdered(s"$dir/z_syntax", "o_custkey", "o_totalprice", 4)
      Sinks.zOrderedParquet(ords, s"$dir/z_direct", "o_custkey", "o_totalprice", 4)
      assert(sameRows(spark.read.parquet(s"$dir/z_syntax"),
        spark.read.parquet(s"$dir/z_direct")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("pageRank: deterministic, root-heavy, leaves at the (1-d) floor, mass bounded") {
    import spark.implicits._
    val ranks = Llm.q_pagerank(spark, sf).as[(Long, Double)].collect().toMap
    val again = Llm.q_pagerank(spark, sf).as[(Long, Double)].collect().toMap
    assert(ranks == again, "decimal-accumulated ranks must be run-stable")
    val maxId = ranks.keys.max
    // child→parent edges: the root aggregates the most authority
    assert(ranks(1L) == ranks.values.max, s"root rank ${ranks(1L)} not maximal")
    // ids with no children (> maxId/2) receive nothing: exactly 1-d
    ranks.collect { case (id, r) if id > maxId / 2 => r }
      .foreach(r => assert(math.abs(r - 0.15) < 1e-9, s"leaf rank $r != 0.15"))
    // every rank at least the floor; total mass ≤ node count
    assert(ranks.values.forall(_ >= 0.15 - 1e-9))
    assert(ranks.values.sum <= ranks.size + 1e-6)
  }

  test("pageRank ≡ driver-side dense power iteration on the 500-node gate graph") {
    import spark.implicits._
    val got = Llm.q_pagerank(spark, sf).as[(Long, Double)].collect().toMap
    // independent dense replay of the same recursion: child→parent tree
    // edges over doc ids 1..N, r' = (1-d) + d·Σ r(u)/outdeg(u), 5 iters
    val n = got.keys.max.toInt
    val outdeg = Array.fill(n + 1)(0)
    for (i <- 2 to n) outdeg(i) += 1 // each i ≥ 2 has ONE edge i → i/2
    var r = Array.fill(n + 1)(1.0)
    for (_ <- 1 to 5) {
      val contrib = Array.fill(n + 1)(0.0)
      for (i <- 2 to n) contrib(i / 2) += r(i) / outdeg(i)
      r = Array.tabulate(n + 1)(v => 0.15 + 0.85 * contrib(v))
    }
    assert(got.size == n, s"one rank per node: ${got.size} vs $n")
    val worst = (1 to n).map(v => math.abs(got(v.toLong) - r(v))).max
    assert(worst < 1e-6,
      s"distributed ranks diverge from the dense replay by $worst")
  }

  test("kMeans ≡ driver-side dense Lloyd replay at the q_cluster_kmeans config") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val model = Scale.kMeans(emb, "embedding", k = 8, maxIters = 5)
    // Independent dense replay of the SAME recursion: identical
    // deterministic init (the xxhash64-over-json stride sample — Spark
    // evaluates the hash, the selection and every Lloyd round run on the
    // driver), nearest-centroid assignment with the same strict-<
    // first-wins tie rule, empty clusters keep their previous centroid,
    // same tol/maxIters stop. Distributed partial sums reorder float
    // adds, so parity is 1e-6, not bitwise.
    val rows = emb.select(col("embedding").cast("array<double>").as("__v"))
      .withColumn("__h", xxhash64(to_json(col("__v"))))
      .as[(Seq[Double], Long)].collect()
    val vecs = rows.map(_._1.toArray)
    var cents = rows.sortBy(_._2).take(8).map(_._1.toArray)
    def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        var d = 0.0; var i = 0
        while (i < v.length) { val x = v(i) - cs(c)(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    var moved = true; var it = 0
    while (moved && it < 5) {
      val asg = vecs.map(nearest(_, cents))
      val next = cents.indices.map { c =>
        val mine = vecs.indices.filter(asg(_) == c)
        if (mine.isEmpty) cents(c)
        else {
          val s = Array.fill(cents(c).length)(0.0)
          mine.foreach { i => var j = 0; while (j < s.length) { s(j) += vecs(i)(j); j += 1 } }
          s.map(_ / mine.size)
        }
      }.toArray
      moved = cents.zip(next).exists { case (a, b) =>
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum > 1e-9 }
      cents = next; it += 1
    }
    val worst = model.centroids.zip(cents).map { case (a, b) =>
      a.zip(b).map { case (x, y) => math.abs(x - y) }.max }.max
    assert(worst < 1e-6,
      s"distributed centroids diverge from the dense Lloyd replay by $worst")
    // and the gate's cluster census must be the replay's census
    val gotCensus = Llm.q_cluster_kmeans(spark, sf)
      .select("cluster", "n").as[(Int, Long)].collect().toMap
    val wantCensus = vecs.map(nearest(_, cents)).groupBy(identity)
      .map { case (c, xs) => (c, xs.length.toLong) }
    assert(gotCensus == wantCensus,
      s"census diverges: got $gotCensus want $wantCensus")
  }
}

object ScaleSpec {
  /** Whether `df`'s executed plan holds a `Union`: the count-check
    * fallback of [[Scale.prefixCut]] is the only union its callers build.
    */
  def fallbackRan(df: DataFrame): Boolean =
    graft.ExecutedPlans.Adaptive.collect(df.queryExecution.executedPlan) {
      case u: org.apache.spark.sql.execution.UnionExec => u
    }.nonEmpty
}
