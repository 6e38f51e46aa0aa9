package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen text and vector kernels must agree
  * component-for-component with independent reference formulations —
  * the UDFs and the explode form in the companion object, or the Spark
  * SQL expression chains the kernels replaced — on the fixture corpus
  * and on the tokenizer edge cases (`String.split(' ')` semantics:
  * interior empties kept, trailing empties dropped, "" → [""], null ≡
  * empty).
  */
class TextExpressionsSpec extends AnyFunSuite {
  import TextExpressionsSpec._

  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private val edgeCases = Seq(
    "the quick brown fox jumps over the lazy dog",
    "one two",                  // below shingle threshold → whole-text fallback
    "one two three four five six seven", // above winnow K
    "",                         // empty → [""] token, fallback path
    "a  b   c d e f g",         // interior empty tokens
    "trailing spaces   ",       // trailing empties dropped
    "   leading",               // leading empties kept
    "exact five word doc here")

  test("graft_minhash ≡ UDF reference on fixture corpus and edge cases") {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, sf).select("text")
      .unionByName(edgeCases.toDF("text"))
      .unionByName(Seq.empty[String].toDF("text")) // keep schema nullable
    val diff = docs.select(
      Vec.minhash(col("text")).as("nat"),
      minhashSigUdf(col("text")).as("ref"))
      .filter(not(col("nat") === col("ref"))).count()
    assert(diff == 0)
  }

  test("graft_winnow ≡ UDF reference on fixture corpus and edge cases") {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, sf).select("text")
      .unionByName(edgeCases.toDF("text"))
    val diff = docs.select(
      Vec.winnow(col("text")).as("nat"),
      winnowUdf(col("text")).as("ref"))
      .filter(not(col("nat") === col("ref"))).count()
    assert(diff == 0)
  }

  test("graft_simhash ≡ UDF reference (incl. null → 0, empty-token votes)") {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, sf).select("text")
      .unionByName((edgeCases.map(Option(_)) :+ None).toDF("text"))
    val diff = docs.select(
      Vec.simhash(col("text")).as("nat"),
      simhashUdf(col("text")).as("ref"))
      .filter(not(col("nat") <=> col("ref"))).count()
    assert(diff == 0)
    // null casts no votes → sig 0 (matches the UDF's empty word array)
    assert(Seq(Option.empty[String]).toDF("text")
      .select(Vec.simhash(col("text"))).head().getLong(0) == 0L)
  }

  test("graft_embsig ≡ UDF reference on fixture embeddings; null vec → null sig") {
    import spark.implicits._
    val emb = graft.ops.Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("e"))
      .unionByName(Seq(Option.empty[Seq[Double]]).toDF("e"))
    val diff = emb.select(
      Vec.embSig(col("e")).as("nat"),
      embSigUdf(col("e")).as("ref"))
      .filter(not(col("nat") <=> col("ref"))).count()
    assert(diff == 0)
    assert(Seq(Option.empty[Seq[Double]]).toDF("e")
      .select(Vec.embSig(col("e"))).head().isNullAt(0))
  }

  test("graft_word_ngrams ≡ bigram/5-gram/chunk8 UDF references") {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, sf).select("text")
      .unionByName((edgeCases.map(Option(_)) :+ None).toDF("text"))
    val diff = docs.select(
      Vec.wordNGrams(col("text"), 2).as("n2"),
      bigramsUdf(col("text")).as("r2"),
      Vec.wordNGrams(col("text"), 5).as("n5"),
      ngram5Udf(col("text")).as("r5"),
      Vec.wordNGrams(col("text"), 8, 8).as("n8"),
      chunk8Udf(col("text")).as("r8"))
      .filter(not(col("n2") === col("r2")) or
        not(col("n5") === col("r5")) or
        not(col("n8") === col("r8"))).count()
    assert(diff == 0)
    // byte-slice grams: interior empty tokens join exactly like the
    // StringBuilder reference ("a  b" → bigrams "a " and " b")
    val g = Seq("a  b").toDF("text")
      .select(Vec.wordNGrams(col("text"), 2)).head().getSeq[String](0)
    assert(g == Seq("a ", " b"))
  }

  /** Run `body` with [[graft.plans.TextKernelRewriteRule]] excluded, so
    * reference expressions written as the regex idioms STAY regex — the
    * test session installs the rule, which would otherwise rewrite the
    * reference into the kernel and make the parity assertion compare
    * the kernel against itself (vacuously green even on a broken
    * kernel). The caller additionally asserts the reference plan still
    * contains the un-rewritten expression, so a silently-failed
    * exclusion cannot re-vacuate the test.
    */
  private def withRewriteRuleExcluded[A](body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    val mine = "graft.plans.TextKernelRewriteRule"
    spark.conf.set(key, prev.filter(_.nonEmpty).map(_ + "," + mine).getOrElse(mine))
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("graft_normtext ≡ the regex normalization chain on fixture corpus, edge cases, and unicode") {
    import spark.implicits._
    val unicode = Seq(
      "café résumé",          // latin accents stripped
      "你好 world 123",              // CJK stripped, ascii kept
      "emoji 😀 mid",              // supplementary pair stripped whole
      "  MIXED Case!! and;; 42  ",           // junk, case, trim
      "tabs\tand\nnewlines stay out", // non-space whitespace is junk (stripped, no boundary)
      "!!!", " ", "", "a", "A!a")
    val docs = graft.ops.Tables.documents(spark, sf).select("text")
      .unionByName(unicode.toDF("text"))
      .unionByName(Seq.empty[String].toDF("text"))
    val ref = lower(trim(regexp_replace(
      regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " +", " ")))
    withRewriteRuleExcluded {
      val cmp = docs.select(Vec.normText(col("text")).as("nat"), ref.as("ref"))
      val opt = cmp.queryExecution.optimizedPlan.toString
      assert(opt.contains("regexp_replace"),
        s"reference column was rewritten away — parity test would be vacuous:\n$opt")
      val diff = cmp.filter(not(col("nat") <=> col("ref"))).count()
      assert(diff == 0, "single-pass kernel must be bit-identical to the regex chain")
      // wordCount ≡ size(split) — the split keeps empty segments
      val wcmp = docs.na.drop().select(
        Vec.wordCount(col("text")).as("nat"),
        size(split(col("text"), " ")).cast("long").as("ref"))
      assert(wcmp.queryExecution.optimizedPlan.toString.contains("split("),
        "size(split) reference was rewritten away — parity test would be vacuous")
      val wdiff = wcmp.filter(not(col("nat") === col("ref"))).count()
      assert(wdiff == 0, "wordCount must equal size(split(text, ' ')) everywhere")
    }
    // independent driver-side anchor: the JVM regex chain, no Spark
    // expressions at all — pins the kernel even if plan exclusion ever
    // changes semantics underneath us
    val jvmRef = (s: String) =>
      s.replaceAll("[^a-zA-Z0-9 ]", "").replaceAll(" +", " ")
        .trim.toLowerCase(java.util.Locale.ROOT)
    val kernelOut = unicode.toDF("text")
      .select(col("text"), Vec.normText(col("text")).as("nat"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    unicode.foreach { s =>
      assert(kernelOut(s) == jvmRef(s), s"kernel diverges from JVM regex on '$s'")
    }
  }

  test("normalize-chain idiom FAMILY: every fire variant is bit-identical to its regex form") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // edge set: case/junk/space shapes plus the unicode lowercase traps —
    // İ (U+0130) lowers to i+combining-dot and K (U+212A Kelvin) lowers
    // to ASCII k, so lower-BEFORE-strip genuinely differs from
    // strip-before-lower and each variant must match ITS OWN reference
    val edges = Seq(
      "  MIXED Case!! and;; 42  ", "a .. b  C", "tabs\tand\nnewlines",
      "İstanbul K here", "café 你好 a", "!!!", " ", "", "A!a",
      "a  b   c", " leading", "trailing ")
    val docs = graft.ops.Tables.documents(spark, sf).select("text")
      .unionByName(edges.toDF("text"))
      .unionByName(Seq.empty[String].toDF("text"))
    val t = col("text")
    val variants: Seq[(String, Column)] = Seq(
      "canonical" -> lower(trim(regexp_replace(
        regexp_replace(t, "[^a-zA-Z0-9 ]", ""), " +", " "))),
      "alt class" -> lower(trim(regexp_replace(
        regexp_replace(t, "[^A-Za-z0-9 ]", ""), " +", " "))),
      "\\s+ collapse" -> lower(trim(regexp_replace(
        regexp_replace(t, "[^a-zA-Z0-9 ]", ""), "\\s+", " "))),
      "[ ]+ collapse" -> lower(trim(regexp_replace(
        regexp_replace(t, "[^a-zA-Z0-9 ]", ""), "[ ]+", " "))),
      " {2,} collapse" -> lower(trim(regexp_replace(
        regexp_replace(t, "[^a-zA-Z0-9 ]", ""), " {2,}", " "))),
      "lower-first" -> trim(regexp_replace(
        regexp_replace(lower(t), "[^a-z0-9 ]", ""), " +", " ")),
      "lower-first redundant outer" -> lower(trim(regexp_replace(
        regexp_replace(lower(t), "[^a-z0-9 ]", ""), " +", " "))),
      "lowercase class no inner lower" -> trim(regexp_replace(
        regexp_replace(t, "[^a-z0-9 ]", ""), " +", " ")))
    for ((name, expr) <- variants) {
      // rewritten value (rule active in the test session)
      val active = docs.select(expr.as("v"))
      assert(active.queryExecution.optimizedPlan.toString.contains("graft_normtext"),
        s"variant '$name' did not rewrite — parity below would be regex-vs-regex")
      val got = active.collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
      // reference value with the rule excluded (regex actually executes)
      val want = withRewriteRuleExcluded {
        val ref = docs.select(expr.as("v"))
        assert(ref.queryExecution.optimizedPlan.toString.contains("regexp_replace"),
          s"variant '$name' reference was rewritten — exclusion failed")
        ref.collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
      }
      assert(got.toSeq == want.toSeq, s"variant '$name' diverges from its regex form")
    }
    // the unicode traps really exercise the lower-first difference:
    // canonical strips İ/K entirely, lower-first keeps their ASCII folds
    val c0 = "İstanbul K here".replaceAll("[^a-zA-Z0-9 ]", "")
      .replaceAll(" +", " ").trim.toLowerCase(java.util.Locale.ROOT)
    val l0 = "İstanbul K here".toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim
    assert(c0 != l0, "unicode trap lost its teeth — pick new edge chars")
  }

  test("token-count idiom FAMILY: run-split rewrites equal Java split counts everywhere") {
    import spark.implicits._
    val edges = Seq(
      "a b c", "a  b   c", " a b ", "  ", " ", "", "a", "a\tb\nc",
      "\t lead", "trail \t", "a \t b", "tabs\t\tonly")
    val docs = graft.ops.Tables.documents(spark, sf).select("text")
      .unionByName(edges.toDF("text"))
    val exprs = Seq(
      ("space-run", size(split(col("text"), " +")), (s: String) => s.split(" +", -1).length),
      ("ws-run", size(split(col("text"), "\\s+")), (s: String) => s.split("\\s+", -1).length),
      ("distinct-token (TTR)", size(array_distinct(split(col("text"), " "))),
        (s: String) => s.split(" ", -1).distinct.length))
    for ((name, e, jvm) <- exprs) {
      val active = docs.select(col("text"), e.as("n"))
      assert(active.queryExecution.optimizedPlan.toString.contains("graft_"),
        s"$name did not rewrite to a kernel form")
      // independent driver-side anchor: Java's own split semantics
      active.collect().foreach { r =>
        assert(r.getInt(1) == jvm(r.getString(0)),
          s"$name diverges from Java split on '${r.getString(0)}'")
      }
      // and the excluded-rule Spark regex split agrees too
      val want = withRewriteRuleExcluded {
        val ref = docs.select(e.as("n"))
        assert(ref.queryExecution.optimizedPlan.toString.contains("split("),
          s"$name reference was rewritten — exclusion failed")
        ref.collect().map(_.getInt(0))
      }
      assert(active.collect().map(_.getInt(1)).toSeq == want.toSeq,
        s"$name diverges from the un-rewritten split")
    }
  }

  test("graft_stopcount / graft_wordstats ≡ the split+array reference forms") {
    import spark.implicits._
    val stops = Seq("the", "a", "and", "of", "to", "in", "is", "it")
    val extra = Seq(
      "the the the a of", "  the  a ", "", " ", "the", "thea theb",
      "a b c a b a", "slow and the slow", "café the 你好 the")
    val docs = graft.ops.Tables.documents(spark, sf).select("text")
      .unionByName(extra.toDF("text"))
      .unionByName(Seq.empty[String].toDF("text"))
    val words = split(col("text"), " ")
    val refCount = size(filter(words, w => w.isInCollection(stops))).cast("long")
    withRewriteRuleExcluded {
      val c1 = docs.select(
        Vec.stopCount(col("text"), stops).as("nat"), refCount.as("ref"))
      assert(c1.queryExecution.optimizedPlan.toString.contains("split("),
        "stopCount reference was rewritten away — parity test would be vacuous")
      val d1 = c1.filter(not(col("nat") <=> col("ref"))).count()
      assert(d1 == 0, "stopCount must equal the filter(split) occurrence count everywhere")
      val c2 = docs.na.drop().select(
        Vec.wordStats(col("text"), stops).as("ws"),
        size(words).cast("long").as("r_n"),
        size(array_distinct(words)).cast("long").as("r_d"),
        size(array_intersect(words, split(lit(stops.mkString(",")), ","))).cast("long").as("r_s"))
      assert(c2.queryExecution.optimizedPlan.toString.contains("array_distinct"),
        "wordStats reference was rewritten away — parity test would be vacuous")
      val d2 = c2.filter(not(col("ws.n_tokens") === col("r_n")) ||
        not(col("ws.n_distinct") === col("r_d")) ||
        not(col("ws.n_stop_distinct") === col("r_s"))).count()
      assert(d2 == 0, "wordStats trio must equal size/array_distinct/array_intersect everywhere")
    }
  }

  test("StopSet hash probe ≡ reference at user-scale stop lists (duplicates, multibyte, collisions)") {
    import spark.implicits._
    // a 500-entry list with duplicates (first index wins), multi-byte
    // entries, an empty-string entry, and shared lengths — the shapes
    // the old linear scan handled trivially and the probe table must
    // reproduce exactly
    val big = (0 until 480).map(i => s"w$i") ++
      Seq("the", "the", "café", "你好", "", "a", "b", "aa", "ab", "ba",
        "longstopwordhere", "x" * 70, "the quick".replace(" ", ""),
        "w7", "w77", "w477", "über", "naïve", "ß", "œ")
    val docs = graft.ops.Tables.documents(spark, sf).select("text")
      .unionByName(Seq(
        "the café 你好  w7 w77 zz", "", " ", "x" * 70 + " " + "x" * 70,
        "a a a b ab ba w479 w480", "über ß œ the").toDF("text"))
    val words = split(col("text"), " ")
    val refCount = size(filter(words, w => w.isInCollection(big.distinct))).cast("long")
    val cmp = docs.select(
      Vec.stopCount(col("text"), big).as("nat"), refCount.as("ref"))
    val d = cmp.filter(not(col("nat") <=> col("ref"))).count()
    assert(d == 0, "hash-probe stopCount must equal the filter(split) reference at 500 stops")
    // wordStats' distinct-stop leg through the same probe
    val c2 = docs.select(
      Vec.wordStats(col("text"), big).as("ws"),
      size(array_intersect(words,
        typedLit(big.distinct))).cast("long").as("r_s"))
    val d2 = c2.filter(not(col("ws.n_stop_distinct") === col("r_s"))).count()
    assert(d2 == 0, "hash-probe wordStats must count distinct stops exactly")
  }

  test("null text hashes like the empty document (never null output)") {
    import spark.implicits._
    val df = Seq(Option.empty[String], Some("")).toDF("text")
      .select(Vec.minhash(col("text")).as("mh"), Vec.winnow(col("text")).as("wn"))
    val rows = df.collect()
    assert(!rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))
    assert(rows(0).getSeq[Long](0) == rows(1).getSeq[Long](0))
    assert(rows(0).getSeq[Long](1) == rows(1).getSeq[Long](1))
  }

  test("graft_shingles ≡ the split/transform/array_distinct shingle form, order included") {
    import spark.implicits._
    // the verify-set expression the kernel replaced, kept here as the
    // reference: it re-splits the text inside the lambda per shingle
    def reference(text: org.apache.spark.sql.Column) = {
      val ws = split(text, " ")
      when(size(ws) < 3, array(coalesce(text, lit(""))))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(ws) - 2),
          i => concat_ws("\u0001", slice(ws, i, lit(3))))))
    }
    val edges = Seq("a b c ", "a b c  ", " a b c", "  a b", "a  b c", "a b", "a", "", " ",
      "  ", "   ", "a b c a b c a b c", "x y x y x y", "é ü 😀 中 文",
      "one two three four five").map(Option(_)) :+ None
    val docs = graft.ops.Tables.documents(spark, sf).select("text")
      .unionByName(edges.toDF("text"))
    val rows = docs.select(col("text"), Vec.shingles(col("text")).as("nat"),
      reference(col("text")).as("ref")).collect()
    val bad = rows.filterNot(r => r.get(1) == r.get(2))
    assert(bad.isEmpty, s"${bad.length} mismatches, first: ${bad.headOption}")
    // null text → null set, as the builtin form gives under ANSI mode
    assert(rows.exists(r => r.isNullAt(0) && r.isNullAt(1)))
    val plan = graft.ops.Tables.documents(spark, sf)
      .select(Vec.shingles(col("text"))).queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_shingles"),
      s"no codegen span around graft_shingles:\n$plan")
  }

  test("graft_shingle_jaccard ≡ array_intersect/array_union over graft_shingles") {
    import spark.implicits._
    // the verify expression the kernel replaced, kept here as the reference
    def reference(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val (sa, sb) = (Vec.shingles(a), Vec.shingles(b))
      size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb))
    }
    val edges = Seq("a b c ", "a b c  ", " a b c", "  a b", "a  b c", "a b", "a", "", " ",
      "  ", "a b c a b c a b c", "x y x y x y", "x y x y", "é ü 😀 中 文", "ü 😀 中 文 é",
      "a\u0001b c d", "a b\u0001c d", "one two three four five", "two three four five six")
      .map(Option(_)) :+ None
    val edgePairs = for (a <- edges; b <- edges) yield (a, b)
    // corpus pairs: neighbours (mostly disjoint), a doc against itself,
    // and against a prefix/suffix edit of itself (partial overlap)
    val texts = graft.ops.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val corpusPairs = texts.as("x").join(texts.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
      .select(col("x.text").as("a"), col("y.text").as("b"))
      .unionByName(texts.select(col("text").as("a"), col("text").as("b")))
      .unionByName(texts.select(col("text").as("a"),
        concat(substring_index(col("text"), " ", 6), lit(" tail words here")).as("b")))
      .unionByName(texts.select(col("text").as("a"),
        concat(lit("lead in "), col("text")).as("b")))
    val rows = corpusPairs.unionByName(edgePairs.toDF("a", "b"))
      .select(col("a"), col("b"), Vec.shingleJaccard(col("a"), col("b")).as("nat"),
        reference(col("a"), col("b")).as("ref"))
      .collect()
    val (withNull, both) = rows.partition(r => r.isNullAt(0) || r.isNullAt(1))
    assert(withNull.nonEmpty && withNull.forall(_.isNullAt(2)),
      "a null text on either side must give null")
    val bad = both.filterNot(r => !r.isNullAt(2) && r.getDouble(2) == r.getDouble(3))
    assert(bad.isEmpty, s"${bad.length} mismatches, first: ${bad.headOption}")
    val partial = both.count(r => r.getDouble(2) > 0 && r.getDouble(2) < 1)
    assert(partial > 100, s"only $partial pairs with partial overlap")
    val plan = texts.select(Vec.shingleJaccard(col("text"), lit("a b c d")))
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_shingle_jaccard""".r.findFirstIn(plan).isDefined,
      s"no codegen span around graft_shingle_jaccard:\n$plan")
  }

  test("kernels run inside whole-stage codegen (no UDF/BatchEvalPython in plan)") {
    val df = graft.ops.Tables.documents(spark, sf)
      .select(Vec.minhash(col("text")).as("s"))
      .filter(size(col("s")) > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"kernel fell out of codegen:\n$plan")
  }

  test("graft_charstats ≡ the explode(split) entropy form on corpus + unicode edges") {
    import spark.implicits._
    // unicode edges: surrogate halves (Java empty-regex split cuts
    // INSIDE the pair), combining marks (two code units, two rows in
    // the explode form), BMP multibyte, repeated/degenerate text.
    // Empty text is covered separately below (explode emits no row).
    val edges = Seq(
      "the quick brown fox", "aaaa", "a", "ab\tcd\nef",
      "café touché", "éclair", // combining acute
      new java.lang.StringBuilder().appendCodePoint(0x1F600).append('a')
        .appendCodePoint(0x10348).toString, // supplementary chars
      "中文 text", "base64==//++")
    val docs = graft.ops.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .unionByName(edges.zipWithIndex
        .map { case (t, i) => (1000000L + i, t) }.toDF("doc_id", "text"))
    val kernel = docs
      .select(col("doc_id"), Vec.charStats(col("text")).as("cs"))
      .filter(col("cs").isNotNull)
      .select(col("doc_id"), col("cs.n_chars_split").as("n_chars_split"),
        col("cs.entropy_micro").as("entropy_micro"))
    val ref = charEntropyExplodeRef(docs)
    assert(kernel.count() == ref.count())
    assert(kernel.except(ref).isEmpty && ref.except(kernel).isEmpty)
    // empty text: explode form emits no row; kernel must return null
    val emptyOut = Seq((1L, "")).toDF("doc_id", "text")
      .select(Vec.charStats(col("text")).as("cs")).filter(col("cs").isNotNull)
    assert(emptyOut.count() == 0)
  }

  test("graft_charstats runs inside whole-stage codegen") {
    val df = graft.ops.Llm.q_char_entropy(spark, sf)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val plan = df.queryExecution.executedPlan.toString()
    // codegen'd operators print with the *(id) star — the kernel's
    // Project must carry one (WholeStageCodegen membership)
    assert("""\*\(\d+\) Project .*graft_charstats""".r.findFirstIn(plan).isDefined,
      s"graft_charstats Project not in a codegen span:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"))
  }

  test("graft_bpe_apply ≡ greedy-decode UDF reference on the fixture vocabulary") {
    import org.apache.spark.sql.functions.{array, concat, explode, length, lit, not, split}
    val docs = graft.ops.Tables.documents(spark, sf)
    val (merges3, _) = graft.ops.Llm.bpeTrain(docs, "text", numMerges = 30)
    val merges = merges3.map { case (l, r, _) => (l, r) }
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .withColumn("syms", concat(split(col("w"), ""), array(lit("</w>"))))
    val diff = vocab.select(
      Vec.bpeApply(col("syms"), merges).as("nat"),
      bpeEncodeUdf(merges)(col("syms")).as("ref"))
      .filter(not(col("nat") === col("ref"))).count()
    assert(diff == 0)
    // single-rule form ≡ the one-pair merge UDF used as bpeTrain's
    // per-round reference (one greedy pass: a merge output can never
    // re-create its own pair)
    val (l0, r0) = merges.head
    val diff1 = vocab.select(
      Vec.bpeApply(col("syms"), Seq((l0, r0))).as("nat"),
      bpeMergeUdf(col("syms"), lit(l0), lit(r0)).as("ref"))
      .filter(not(col("nat") === col("ref"))).count()
    assert(diff1 == 0)
    // pathological inputs: empty array, single symbol, unknown symbols,
    // duplicate-rule lists (last rank wins, matching the UDF's toMap)
    import spark.implicits._
    val weird = Seq(Seq.empty[String], Seq("a"), Seq("zz", "yy"),
      Seq("a", "b", "a", "b", "a"), Seq("a", "a", "b", "b")).toDF("syms")
    val rules = Seq(("a", "b"), ("ab", "a"), ("a", "b"))
    val dw = weird.select(
      Vec.bpeApply(col("syms"), rules).as("nat"),
      bpeEncodeUdf(rules)(col("syms")).as("ref"))
      .filter(not(col("nat") === col("ref"))).count()
    assert(dw == 0)
  }

  test("graft_bpe_apply runs inside whole-stage codegen") {
    val docs = graft.ops.Tables.documents(spark, sf)
    val df = docs
      .select(Vec.bpeApply(
        split(col("text"), " "), Seq(("t", "h"), ("th", "e"))).as("toks"))
      .filter(size(col("toks")) > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"graft_bpe_apply fell out of codegen:\n$plan")
    // "*(n)" is the simple-string marker for a WholeStageCodegen span
    assert(plan.contains("*(1) Project [graft_bpe_apply"),
      s"no codegen span around graft_bpe_apply:\n$plan")
  }

  test("tokenizer edge semantics pinned at the kernel level") {
    // "a b c" vs "a b c " must hash identically (trailing empties dropped);
    // "a  b c" differs from "a b c" (interior empty token is a real token)
    def mh(s: String) =
      TextKernels.minhashSig(UTF8String.fromString(s)).toLongArray().toSeq
    assert(mh("alpha beta gamma delta") == mh("alpha beta gamma delta   "))
    assert(mh("alpha  beta gamma") != mh("alpha beta gamma"))
  }
}

/** The parity references: independent JVM formulations of the native
  * kernels, run as Scala UDFs (or, for `graft_charstats`, as the
  * original explode(split) plan). They read the constants the kernels
  * share — `TextKernels.splitmix64`, `HashA`, `HashB`, `NumHashes` and
  * `VecKernels.Planes`, `Dim`, `PlanesFlat` — but hash words with their
  * own String FNV-1a over UTF-16 code units and keep their own window,
  * chunk and n-gram widths, so each stays a separate formulation of its
  * kernel rather than a second call into it.
  */
object TextExpressionsSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
  import org.apache.spark.sql.types.DecimalType
  import TextKernels.{HashA, HashB, NumHashes, splitmix64}
  import VecKernels.{Dim, Planes, PlanesFlat}

  private val WinnowK = 5 // k-gram length (words)
  private val WinnowW = 4 // window size
  private val ChunkW = 8  // words per chunk
  private val NGramN = 5  // contamination n-gram length (words)

  /** FNV-1a 64 over a string's UTF-16 code units — fixed, portable. */
  private def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** `graft_minhash`: 3-word shingles → `NumHashes` minhash components.
    * Shingle hashes are mixes of per-word hashes; component minima come
    * from the linear permutations a_j*h + b_j of the 32-bit shingle
    * hash. Fewer than 3 words hash the whole text as one shingle.
    */
  val minhashSigUdf: UserDefinedFunction = udf { text: String =>
    val ws = if (text == null) Array.empty[String] else text.split(' ')
    val sigs = Array.fill(NumHashes)(Long.MaxValue)
    @inline def addShingle(h0: Long): Unit = {
      val h = h0 & 0xffffffffL
      var j = 0
      while (j < NumHashes) {
        val v = HashA(j) * h + HashB(j)
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
    }
    if (ws.length < 3) {
      addShingle(splitmix64(fnv1a(if (text == null) "" else text)))
    } else {
      val wh = ws.map(fnv1a)
      val seen = new java.util.HashSet[java.lang.Long]()
      var i = 0
      while (i + 2 < wh.length) {
        val sh = splitmix64(wh(i) ^ splitmix64(wh(i + 1) ^ splitmix64(wh(i + 2))))
        if (seen.add(sh)) addShingle(sh)
        i += 1
      }
    }
    sigs
  }

  /** `graft_simhash`: sign of per-bit ±1 votes over splitmix-mixed FNV
    * word hashes.
    */
  val simhashUdf: UserDefinedFunction = udf { text: String =>
    val ws = if (text == null) Array.empty[String] else text.split(' ')
    val votes = new Array[Int](64)
    var i = 0
    while (i < ws.length) {
      val h = splitmix64(fnv1a(ws(i)))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** `graft_embsig`: one bit per hyperplane of `PlanesFlat`, set when the
    * embedding's dot product with the plane is positive.
    */
  val embSigUdf: UserDefinedFunction = udf { e: Seq[Double] =>
    if (e == null) None // null embedding → null sig → row drops from the bucket join
    else {
      var sig = 0L
      var j = 0
      while (j < Planes) {
        var dot = 0.0
        var c = 0
        val base = j * Dim
        while (c < Dim && c < e.length) { dot += e(c) * PlanesFlat(base + c); c += 1 }
        if (dot > 0) sig |= (1L << j)
        j += 1
      }
      Some(sig)
    }
  }

  /** `graft_winnow` (the MOSS scheme): rolling k-gram hashes, then the
    * minimum hash of every w-length window, deduplicated in first
    * occurrence order. Fewer than k words hash the whole text.
    */
  val winnowUdf: UserDefinedFunction = udf { text: String =>
    val ws = if (text == null) Array.empty[String] else text.split(' ')
    if (ws.length < WinnowK) Array(splitmix64(fnv1a(if (text == null) "" else text)))
    else {
      val grams = new Array[Long](ws.length - WinnowK + 1)
      var i = 0
      while (i < grams.length) {
        var h = 0L
        var j = 0
        while (j < WinnowK) { h = splitmix64(h ^ fnv1a(ws(i + j))); j += 1 }
        grams(i) = h
        i += 1
      }
      val out = scala.collection.mutable.LinkedHashSet.empty[Long]
      var w = 0
      val nWin = math.max(1, grams.length - WinnowW + 1)
      while (w < nWin) {
        var m = grams(w)
        var j = 1
        while (j < WinnowW && w + j < grams.length) {
          if (grams(w + j) < m) m = grams(w + j)
          j += 1
        }
        out += m
        w += 1
      }
      out.toArray
    }
  }

  /** Single-rule `graft_bpe_apply`: greedy non-overlapping merge of one
    * adjacent symbol pair, the per-word apply step of a BPE round.
    */
  val bpeMergeUdf: UserDefinedFunction = udf { (syms: Seq[String], a: String, b: String) =>
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** `graft_bpe_apply`: the greedy BPE decoder — repeatedly merge the
    * adjacent pair with the lowest merge rank until none applies.
    * Duplicate rules keep the last rank (`toMap`).
    */
  def bpeEncodeUdf(merges: Seq[(String, String)]): UserDefinedFunction = {
    val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.map { case ((l, r), i) => ((l, r), i) }.toMap
    udf { (syms0: Seq[String]) =>
      var syms = syms0.toVector
      var done = syms.length < 2
      while (!done) {
        var best = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
          if (r < best) best = r
          i += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          val (a, b) = merges(best)
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
              out += a + b; j += 2
            } else { out += syms(j); j += 1 }
          }
          syms = out.result()
          done = syms.length < 2
        }
      }
      syms
    }
  }

  /** `graft_word_ngrams(n = 8, stride = 8)`: consecutive non-overlapping
    * `ChunkW`-word chunks, trailing partial chunk dropped.
    */
  val chunk8Udf: UserDefinedFunction = udf { text: String =>
    if (text == null) Array.empty[String]
    else {
      val w = text.split(' ')
      Array.tabulate(w.length / ChunkW) { i =>
        val b = new StringBuilder(w(i * ChunkW))
        var j = 1
        while (j < ChunkW) { b.append(' ').append(w(i * ChunkW + j)); j += 1 }
        b.toString
      }
    }
  }

  /** `graft_word_ngrams(n = 2, stride = 1)`: word bigrams. */
  val bigramsUdf: UserDefinedFunction = udf { text: String =>
    if (text == null) Array.empty[String]
    else {
      val w = text.split(' ')
      if (w.length < 2) Array.empty[String]
      else Array.tabulate(w.length - 1)(i => w(i) + " " + w(i + 1))
    }
  }

  /** `graft_word_ngrams(n = 5, stride = 1)`: word 5-grams. */
  val ngram5Udf: UserDefinedFunction = udf { text: String =>
    if (text == null) Array.empty[String]
    else {
      val w = text.split(' ')
      if (w.length < NGramN) Array.empty[String]
      else Array.tabulate(w.length - NGramN + 1) { i =>
        val b = new StringBuilder(w(i))
        var j = 1
        while (j < NGramN) { b.append(' ').append(w(i + j)); j += 1 }
        b.toString
      }
    }
  }

  /** `graft_charstats` as the original `q_char_entropy` plan: every
    * character exploded into a row, per-(doc, char) counts, and the
    * −p·ln p terms rounded to micro-nat integers before the per-doc sum.
    */
  def charEntropyExplodeRef(docs: DataFrame): DataFrame = {
    val wd = Window.partitionBy("doc_id")
    docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      .filter(col("c") =!= "")
      .groupBy("doc_id", "c").agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum("cnt").over(wd))
      .withColumn("p", col("cnt").cast("double") / col("n").cast("double"))
      .withColumn("term",
        round(-col("p") * log(col("p")) * 1000000 + lit(1e-9), 0)
          .cast(DecimalType(18, 0)))
      .groupBy("doc_id")
      .agg(max("n").as("n_chars_split"),
        sum(col("term")).cast("long").as("entropy_micro"))
      .orderBy("doc_id")
  }
}
