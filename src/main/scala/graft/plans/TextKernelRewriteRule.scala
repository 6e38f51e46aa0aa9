package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule that rewrites the ubiquitous REGEX text idioms of
  * data-pipeline code into the engine's native single-pass kernels —
  * so a user porting reference pipelines verbatim gets the kernel
  * speedups without touching their code (the same transparent-planner
  * philosophy as [[BloomJoinRule]]):
  *
  *  1. the dedup-key normalize chain
  *     `lower(trim(regexp_replace(regexp_replace(c, STRIP, ""), COLLAPSE, " ")))`
  *     → `graft_normtext(c)` — ONE byte pass instead of two
  *     java.util.regex rewrites (measured 820 µs/doc → the single
  *     largest CPU line of the sf100 text scans; bit-identical by
  *     TextExpressionsSpec's property tests). Fires for the idiom
  *     FAMILY, not just one literal spelling:
  *       - STRIP any spelling of the full alnum-keep class
  *         (`[^a-zA-Z0-9 ]`, `[^A-Za-z0-9 ]`, `[^0-9a-zA-Z ]`);
  *       - COLLAPSE `" +"`, `"[ ]+"`, `"  +"`, `" {2,}"`, or `"\s+"` /
  *         `"[\s]+"` — after the strip the only whitespace left is
  *         0x20, so the `\s` forms coincide with `" +"` (and the
  *         ≥2-run forms leave single spaces untouched, same output);
  *       - the LOWER-FIRST variant
  *         `trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), COLLAPSE, " "))`
  *         (with or without a redundant outer `lower`)
  *         → `graft_normtext(lower(c))`: on an already-lowercased
  *         input the lowercase strip class equals the full class, and
  *         the kernel's final lowering is identity on the `[a-z0-9 ]`
  *         survivors;
  *       - the lowercase strip class WITHOUT the inner lower,
  *         `[lower(]trim(rr(rr(c, "[^a-z0-9 ]", ""), COLLAPSE, " "))[)]`
  *         → `graft_normtext(translate(c, "A..Z", ""))`: the lowercase
  *         class drops ASCII uppercase that the kernel would keep, so
  *         strip those 26 chars first with a translate (codegen
  *         intrinsic, no regex); everything else the two classes treat
  *         identically, and the kernel's lowering is again identity.
  *     Declined (semantics differ — pinned by PlanSpec's decline
  *     matrix): swapped strip/collapse order (a strip AFTER the
  *     collapse can create new adjacent spaces), a strip class without
  *     the space (word-joining), a collapse replacement other than
  *     `" "`, non-1 regexp positions, a full strip class without the
  *     outer lower (the kernel always lowercases), and non-default
  *     string collations.
  *  2. the whitespace token counts:
  *       - `size(split(c, " "))` → `length(c) - length(translate(c, " ", "")) + 1`
  *         — no regex, no per-row array (split keeps empty segments,
  *         so tokens = spaces+1; 0x20 never occurs inside a UTF-8
  *         multi-byte sequence);
  *       - `size(split(c, " +"))` → `graft_runs(c, false) + 1` and
  *         `size(split(c, "\s+"))` → `graft_runs(c, true) + 1` — a
  *         negative-limit Java split keeps leading/trailing empties,
  *         so segments = separator RUNS + 1 ([[graft.functions.RunCountKernel]]);
  *         one byte pass, no regex, no array.
  *     Declined: any explicit limit ≠ -1 and any other pattern. All
  *     forms are skipped under `spark.sql.legacy.sizeOfNull` (matched
  *     via `Size(_, false)`; there `size(null)` = -1 but the kernel
  *     forms yield NULL).
  *  3. the type-token-ratio idiom `size(array_distinct(split(c, " ")))`
  *     → `graft_wordstats(c).n_distinct` — one byte pass instead of a
  *     regex split + array materialization + array_distinct's own
  *     per-row hash set (parity property-pinned in TextExpressionsSpec).
  *
  * All rewrites are pure expression substitutions — no shape change,
  * null-for-null identical — registered in the post-optimization user
  * batch via [[graft.functions.GraftExtensions]] or
  * `GraftSession.install`.
  */
object TextKernelRewriteRule extends Rule[LogicalPlan] {

  private def lit(e: Expression, s: String): Boolean = e match {
    case Literal(u: UTF8String, StringType) => u.toString == s
    case _ => false
  }

  private def litIn(e: Expression, ss: Set[String]): Boolean = e match {
    case Literal(u: UTF8String, StringType) => ss.contains(u.toString)
    case _ => false
  }

  private def litOne(e: Expression): Boolean = e match {
    case Literal(1, IntegerType) => true
    case _ => false
  }

  // every spelling of "keep [a-zA-Z0-9 ], drop the rest"
  private val stripFull = Set(
    "[^a-zA-Z0-9 ]", "[^A-Za-z0-9 ]", "[^0-9a-zA-Z ]", "[^0-9A-Za-z ]")
  // the post-lowercase spellings (drop ASCII uppercase too)
  private val stripLower = Set("[^a-z0-9 ]", "[^0-9a-z ]")
  // space-run collapses equivalent to " +" → " " on a stripped string
  // (strip already removed every non-0x20 whitespace char, so the \s
  // forms see only spaces; the ≥2 forms leave single spaces in place —
  // same result)
  private val collapses = Set(" +", "[ ]+", "  +", " {2,}", "\\s+", "[\\s]+")

  private val azUpper = Literal(UTF8String.fromString(('A' to 'Z').mkString), StringType)
  private val emptyStr = Literal(UTF8String.fromString(""), StringType)
  private val spaceStr = Literal(UTF8String.fromString(" "), StringType)

  /** Matches `trim(regexp_replace(regexp_replace(x, strip, ""), collapse, " "))`
    * and returns `(x, stripIsLowerClass)`.
    */
  private def normChain(e: Expression): Option[(Expression, Boolean)] = e match {
    case StringTrim(RegExpReplace(
          RegExpReplace(c, strip, empty, pos1), collapse, single, pos2), None)
        if lit(empty, "") && lit(single, " ") &&
          litOne(pos1) && litOne(pos2) && litIn(collapse, collapses) &&
          c.dataType == StringType => // default (binary) collation only
      if (litIn(strip, stripFull)) Some((c, false))
      else if (litIn(strip, stripLower)) Some((c, true))
      else None
    case _ => None
  }

  /** The lowercase strip class drops ASCII uppercase that graft_normtext
    * keeps — unless the input provably has none (an inner `lower`), the
    * uppercase is stripped up front with a translate (codegen intrinsic).
    * Either way the kernel's final lowering is identity on the
    * `[a-z0-9 ]` survivors, so the chain value is preserved exactly.
    */
  private def lowerClassInput(c: Expression): Expression = c match {
    case Lower(_) => c
    case _ => StringTranslate(c, azUpper, emptyStr)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // full-class chain under an outer lower → the kernel verbatim
      case Lower(t) if normChain(t).exists(!_._2) =>
        graft.functions.NormText(normChain(t).get._1)

      // lowercase-class chain, outer lower redundant or absent
      case Lower(t) if normChain(t).exists(_._2) =>
        graft.functions.NormText(lowerClassInput(normChain(t).get._1))
      case t @ StringTrim(_, _) if normChain(t).exists(_._2) =>
        graft.functions.NormText(lowerClassInput(normChain(t).get._1))

      // All three split-size cases require the default collation
      // (c.dataType == StringType), same as normChain and the TTR case:
      // CountRuns.checkInputDataTypes rejects collated strings, and an
      // optimizer rule must never leave an unresolvable expression in
      // the plan (spark.sql.planChangeValidation would fail the rule).
      case s @ Size(StringSplit(c, sp, Literal(-1, IntegerType)), false)
          if lit(sp, " ") && c.dataType == StringType =>
        // Size is Int-typed; keep the arithmetic in Int so the rewrite
        // is type-invisible to everything above it
        Add(Subtract(Length(c),
          Length(StringTranslate(c, spaceStr, emptyStr))),
          Literal(1, IntegerType))

      case Size(StringSplit(c, sp, Literal(-1, IntegerType)), false)
          if lit(sp, " +") && c.dataType == StringType =>
        Add(graft.functions.CountRuns(c, ws = false), Literal(1, IntegerType))

      case Size(StringSplit(c, sp, Literal(-1, IntegerType)), false)
          if lit(sp, "\\s+") && c.dataType == StringType =>
        Add(graft.functions.CountRuns(c, ws = true), Literal(1, IntegerType))

      // the type-token-ratio idiom: distinct-token count without the
      // regex split, the per-row array, or the per-row hash set ON TOP
      // of array_distinct's — graft_wordstats builds the distinct set
      // in one byte pass (parity property-pinned in TextExpressionsSpec:
      // ws.n_distinct ≡ size(array_distinct(split(c, " ")))). Size is
      // Int-typed, the kernel counts in Long — the cast is exact for
      // any materializable array (arrays are Int-indexed).
      case Size(ArrayDistinct(StringSplit(c, sp, Literal(-1, IntegerType))), false)
          if lit(sp, " ") && c.dataType == StringType =>
        Cast(GetStructField(
          graft.functions.WordStats(c, Nil), 1, Some("n_distinct")), IntegerType)
    }
}
