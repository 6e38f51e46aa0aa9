package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute, AttributeReference, Cast, Concat, EqualNullSafe, EqualTo, Explode, Expression, Greatest, GreaterThan, GreaterThanOrEqual, If, Least, LessThan, LessThanOrEqual, Literal, RaiseError, Sequence, Subtract}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** Planner-tier binned range join: a join whose condition is ONLY a band —
  * `point >= start AND point < end` with the point expression on one
  * side and both bounds on the other, no equi conjunct — has no
  * hash-partitionable key, so Spark plans a broadcast-nested-loop or
  * cartesian join: O(|P|·|I|) compares with a broadcast-size ceiling.
  * This rule rewrites the join in the optimizer:
  *
  *   - point side gains `__graft_pbin = floor(point / binSize)`;
  *   - interval side explodes to one row per bin the interval overlaps
  *     (`sequence(floor(lo/binSize), floor(hi/binSize))`, bounds
  *     adjusted for strictness);
  *   - the join becomes `pbin = ibin AND <original condition>` — a
  *     plain shuffle equi-join both sides of which can be arbitrarily
  *     large, with the band as a residual filter.
  *
  * Result-identical to the original join: a point has exactly ONE bin,
  * and the interval copy in that bin is present iff the interval
  * overlaps it, so each qualifying pair matches exactly once and no
  * qualifying pair is lost (x → floor(x/binSize) is monotone, so a
  * point inside [lo, hi] has its bin inside [binOf(lo), binOf(hi)]).
  * Interval rows that can match nothing (empty after strictness
  * adjustment, or null bounds) are filtered before the explode — they
  * produce no inner/semi output either way, and `sequence` would
  * reject descending boundaries.
  *
  * Fires only when:
  *   - `spark.graft.rangeJoin.binSize` is set > 0 (the caller knows the
  *     typical interval width; same contract as a range-join hint —
  *     pick binSize near it so intervals replicate ~2×);
  *   - the join is Inner, or LeftSemi with the interval side on the
  *     right (the exploded side must not be the multiplicity-bearing
  *     side of a semi join);
  *   - there is NO cross-side equi conjunct (with one, Catalyst already
  *     plans a hash join and the band rides along as a post-filter);
  *   - point and both bounds are integral types (cast timestamps to
  *     an epoch integer first). Bins are computed with integral
  *     floor-division (`Math.floorDiv(x, bin)`), exact over the
  *     whole Long range — epoch-ns values above 2^53, where a
  *     double-division floor would bin inexactly and silently drop
  *     boundary pairs, are safe.
  *
  * Converges in a fixed-point batch by construction: the rewritten
  * join HAS an equi conjunct, so the rule never matches its own output.
  *
  * The explicit `Scale.binnedRangeJoin` / `Scale.binnedOverlapJoin`
  * calls are this same rewrite ([[rewrite]]) with a per-call `binSize`
  * instead of the session conf; where the rewrite declines (a
  * non-integral bound) they raise instead of planning a nested loop.
  *
  * ALSO handles the other keyless band shape — interval × interval
  * OVERLAP (`lStart < rEnd AND rStart < lEnd`, strict or inclusive):
  * both sides explode to the bins of their [least(s,e'), greatest(s,e')]
  * span — e' the closed end, `end - 1` under a strict bound — and meet
  * in a bin equi-join, with the original condition as residual plus a
  * charge-once conjunct that keeps only the bin holding
  * `greatest(lStart, rStart)`. Result-identical for ALL inputs:
  *   - a pair satisfying the overlap has its later start inside both
  *     intervals' least/greatest spans (if m = rStart > lStart then
  *     rStart ≤ lEnd' ≤ greatest(lStart, lEnd') — over integers a strict
  *     `rStart < lEnd` is `rStart ≤ lEnd - 1` — and symmetrically), so
  *     the charged bin exists on both exploded sides — exactly one
  *     emission;
  *   - inverted (end < start) and empty intervals are NOT special-cased
  *     away: the least/greatest span over-approximates and the original
  *     condition decides, so semantics never change (the explicit
  *     `Scale.binnedOverlapJoin` ANDs `start < end` for both sides into
  *     its condition, so there they match nothing);
  *   - null bounds make the span null → `explode` yields no rows, and
  *     the original condition would have been null anyway.
  * Inner joins only (both sides change multiplicity under the explode).
  *
  * Overlap-rewrite CONTRACT (the explicit `Scale.binnedOverlapJoin`
  * too): each row is replicated once per bin of its least/greatest span, so
  * `binSize` must be chosen near the TYPICAL interval width — a span of
  * many multiples of binSize multiplies that side's row count by
  * span/binSize. A mis-sized binSize therefore cannot fail SILENTLY:
  * every sequence the rule emits carries a runtime guard that raises an
  * actionable error the moment ANY single row would explode into more
  * than `spark.graft.rangeJoin.maxBinsPerRow` bins (default 1,048,576 =
  * a 2^20× replication nobody wants; 0 disables the guard), long before
  * the 2^31 `Sequence` array ceiling turns the same mistake into an
  * opaque allocation failure. The error names the offending span, the
  * conf to raise, and the kill-switches. When interval widths are wildly
  * mixed or unknown, disable the overlap path with
  * `spark.graft.rangeJoin.overlap.enabled=false` (the point-in-interval
  * rewrite stays on — its point side is always exactly one bin) and
  * call `Scale.binnedOverlapJoin` — the same rewrite — with a `binSize`
  * chosen for that join after inspecting its width distribution.
  *
  * With MULTIPLE overlap dimensions in one condition (e.g. 2-D box
  * intersection) exactly ONE dimension is binned and the rest ride in
  * the residual; the binned one is chosen DETERMINISTICALLY — the
  * dimension whose four expressions are plainest (attribute references
  * beat computed expressions), ties broken by conjunct order — so plans
  * are stable across runs. Results are identical either way.
  */
object RangeJoinRule extends Rule[LogicalPlan] {

  private def binSize: Long = {
    val raw = conf.getConfString("spark.graft.rangeJoin.binSize", "0").trim
    scala.util.Try(raw.toLong).toOption match {
      case Some(n) => math.max(n, 0L)
      case None =>
        // a malformed value must not explode every query in the session
        // from inside the optimizer — warn once per application, rule off
        logWarning(s"spark.graft.rangeJoin.binSize='$raw' is not a long; " +
          "RangeJoinRule disabled (set a positive number of domain units)")
        0L
    }
  }

  private def overlapEnabled: Boolean =
    // lenient parse (trim + case-fold), matching Spark's own boolean-conf
    // semantics — 'TRUE ' must not silently disable the rewrite
    conf.getConfString("spark.graft.rangeJoin.overlap.enabled", "true")
      .trim.equalsIgnoreCase("true")

  /** Plainness of a band expression: attribute references (possibly
    * cast) beat computed expressions. Used to pick WHICH dimension gets
    * binned when a condition carries several — a plain-column dimension
    * is the one the caller most plausibly sized binSize for, and the
    * choice is deterministic (ties fall back to conjunct order).
    */
  private def plainness(e: Expression): Int = e match {
    case _: Attribute => 1
    case c: Cast => plainness(c.child)
    case _ => 0
  }

  private def splitConjunctive(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctive(l) ++ splitConjunctive(r)
    case other => Seq(other)
  }

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** A band bound normalized to "point OP bound": point refs ⊆ one
    * side, bound refs ⊆ the other.
    */
  private case class Bound(point: Expression, bound: Expression,
                           lower: Boolean, inclusive: Boolean,
                           pointOnLeft: Boolean)

  private def bounds(conjuncts: Seq[Expression],
                     left: LogicalPlan, right: LogicalPlan): Seq[Bound] = {
    def sideOf(e: Expression): Option[Boolean] = // Some(true)=left
      if (e.references.nonEmpty && e.references.subsetOf(left.outputSet)) Some(true)
      else if (e.references.nonEmpty && e.references.subsetOf(right.outputSet)) Some(false)
      else None
    def mk(a: Expression, b: Expression, lower: Boolean, inclusive: Boolean) =
      (sideOf(a), sideOf(b)) match {
        case (Some(sa), Some(sb)) if sa != sb && integral(a) && integral(b) =>
          Some(Bound(a, b, lower, inclusive, sa))
        case _ => None
      }
    // `a >= b` is genuinely ambiguous until the pairing step: it can
    // read "point a lower-bounded by b" OR "point b upper-bounding a" —
    // emit BOTH readings and let the lower+upper-on-the-same-expression
    // pairing pick the consistent one
    conjuncts.flatMap {
      case GreaterThanOrEqual(a, b) =>
        mk(a, b, lower = true, inclusive = true).toSeq ++
          mk(b, a, lower = false, inclusive = true)
      case GreaterThan(a, b) =>
        mk(a, b, lower = true, inclusive = false).toSeq ++
          mk(b, a, lower = false, inclusive = false)
      case LessThanOrEqual(a, b) =>
        mk(a, b, lower = false, inclusive = true).toSeq ++
          mk(b, a, lower = true, inclusive = true)
      case LessThan(a, b) =>
        mk(a, b, lower = false, inclusive = false).toSeq ++
          mk(b, a, lower = true, inclusive = false)
      case _ => Nil
    }
  }

  private def hasCrossEqui(conjuncts: Seq[Expression],
                           left: LogicalPlan, right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) => crosses(a, b, left, right)
      case EqualNullSafe(a, b) => crosses(a, b, left, right)
      case _ => false
    }

  private def crosses(a: Expression, b: Expression,
                      left: LogicalPlan, right: LogicalPlan): Boolean =
    (a.references.nonEmpty && a.references.subsetOf(left.outputSet) &&
      b.references.nonEmpty && b.references.subsetOf(right.outputSet)) ||
      (a.references.nonEmpty && a.references.subsetOf(right.outputSet) &&
        b.references.nonEmpty && b.references.subsetOf(left.outputSet))

  /** floor(e / bin) in pure Long arithmetic (`Math.floorDiv`). Unlike a
    * double-division floor this is exact for ALL longs — epoch
    * nanoseconds sit above 2^53, where doubles can no longer represent
    * every integer and a point near a bin boundary would bin wrongly.
    * It references `e` once: the sequence and its guard repeat each
    * bin, and generated code grown past the JIT's 8000-byte
    * huge-method limit runs the whole stage interpreted (measured with
    * `e - pmod(e, bin) div bin`: q_join_overlap at sf0.1 on 4 vCPUs ~30 ms slower
    * per run, and not under -XX:-DontCompileHugeMethods).
    */
  private def floorBin(e: Expression, bin: Long): Expression =
    StaticInvoke(classOf[Math], LongType, "floorDiv", Seq(Cast(e, LongType), Literal(bin)))

  private def maxBinsPerRow: Long = {
    val raw = conf.getConfString("spark.graft.rangeJoin.maxBinsPerRow",
      (1L << 20).toString).trim
    scala.util.Try(raw.toLong).toOption match {
      case Some(n) => math.max(n, 0L)
      case None =>
        // a typo must not silently remove the protection the knob
        // configures: keep the default guard, don't disable it
        logWarning(s"spark.graft.rangeJoin.maxBinsPerRow='$raw' is not a " +
          s"long; falling back to the default ${1L << 20}")
        1L << 20
    }
  }

  /** The bin-explosion sequence with the wide-span guard attached: if a
    * single row's span covers more than `maxBins` bins, evaluating the
    * sequence raises a USER_RAISED_EXCEPTION naming the span and every
    * way out, instead of silently replicating the row span/binSize times
    * (or, past 2^31 bins, dying inside `Sequence` allocation). The guard
    * rides the sequence's upper bound (`If` → `RaiseError`), so it costs
    * two long ops per row and codegens with the rest of the expression.
    */
  private def guardedSeq(loBin: Expression, hiBin: Expression,
                         maxBins: Long): Expression = {
    val hi = if (maxBins <= 0) hiBin else {
      val nBins = Add(Subtract(hiBin, loBin), Literal(1L))
      val msg = Concat(Seq(
        Literal("graft RangeJoinRule: one row's interval spans "),
        Cast(nBins, StringType),
        Literal(" bins, over spark.graft.rangeJoin.maxBinsPerRow=" + maxBins +
          ". Raise the binSize (spark.graft.rangeJoin.binSize for the rule, " +
          "the binSize argument of an explicit Scale call) toward the " +
          "typical interval width, raise maxBinsPerRow (0 = unlimited), or " +
          "turn the rule off (spark.graft.rangeJoin.overlap.enabled=false " +
          "for the overlap path, binSize=0 for both).")))
      If(LessThanOrEqual(nBins, Literal(maxBins)), hiBin,
        Cast(new RaiseError(msg), LongType))
    }
    // Sequence is TimeZoneAwareExpression: it is unresolved (and fails
    // plan validation) until a zone is pinned, even over longs
    Sequence(loBin, hi, Some(Literal(1L)), Some(conf.sessionLocalTimeZone))
  }

  /** `child` with one row per bin of its `[lo, hi]` span, the bin id in
    * `attr` (never null: a null bound explodes to no rows).
    */
  private def explodeBins(child: LogicalPlan, lo: Expression, hi: Expression,
                          bin: Long, attr: AttributeReference): LogicalPlan =
    Generate(Explode(guardedSeq(floorBin(lo, bin), floorBin(hi, bin), maxBinsPerRow)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(attr), child = child)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val bin = binSize
    if (bin <= 0) return plan
    val overlap = overlapEnabled
    plan.transformUp { case j: Join => rewrite(j, bin, overlap).getOrElse(j) }
  }

  /** The binned rewrite of one keyless band join at bin width `bin`:
    * the point-in-interval rewrite when the condition pairs a lower and
    * an upper bound on one point expression, else (when `overlap`) the
    * interval×interval overlap rewrite. `None` when neither applies —
    * an equi conjunct, a non-integral bound, a join type the rewrite
    * would change. [[apply]] calls it with the session's conf; the
    * explicit `Scale.binnedRangeJoin` / `Scale.binnedOverlapJoin` calls
    * with their own `binSize`.
    */
  private[graft] def rewrite(j: Join, bin: Long,
                             overlap: Boolean = true): Option[LogicalPlan] = j match {
    case Join(left, right, joinType, Some(cond), hint)
        if bin > 0 && (joinType == Inner || joinType == LeftSemi) =>
      val conjuncts = splitConjunctive(cond)
      val bs = bounds(conjuncts, left, right)
      val candidates = bs.filter(_.lower).flatMap { lb =>
        bs.find(b => !b.lower && b.pointOnLeft == lb.pointOnLeft &&
          b.point.semanticEquals(lb.point)).map((lb, _))
      }
      val candidate =
        if (candidates.isEmpty) None
        else Some(candidates.maxBy { case (lb, ub) =>
          plainness(lb.point) * 2 + plainness(lb.bound) + plainness(ub.bound)
        })
      candidate match {
        case Some((lb, ub))
            if !hasCrossEqui(conjuncts, left, right) &&
              // a semi join must not explode its left (multiplicity) side
              (joinType == Inner || lb.pointOnLeft) =>
          val (pointPlan, intervalPlan) =
            if (lb.pointOnLeft) (left, right) else (right, left)
          // point side: one bin per row
          val pbinAlias = Alias(floorBin(lb.point, bin), "__graft_pbin")()
          val pPlan = Project(pointPlan.output :+ pbinAlias, pointPlan)
          // interval side: strictness-adjusted [lo, hi], drop empties
          // (they match nothing; sequence rejects descending bounds)
          val loL = if (lb.inclusive) Cast(lb.bound, LongType)
            else Add(Cast(lb.bound, LongType), Literal(1L))
          val nonEmpty = Filter(LessThanOrEqual(loL, closedEnd(ub)), intervalPlan)
          val ibinAttr = AttributeReference("__graft_ibin", LongType, nullable = false)()
          val gen = explodeBins(nonEmpty, loL, closedEnd(ub), bin, ibinAttr)
          val newCond = And(EqualTo(pbinAlias.toAttribute, ibinAttr), cond)
          val (newLeft, newRight) =
            if (lb.pointOnLeft) (pPlan, gen) else (gen: LogicalPlan, pPlan: LogicalPlan)
          Some(Project(j.output, Join(newLeft, newRight, joinType, Some(newCond), hint)))
        case _ if overlap => rewriteOverlap(j, conjuncts, bs, bin)
        case _ => None
      }
    case _ => None
  }

  /** An upper bound as the last value it admits: `point < end` admits
    * at most `end - 1` (integral domain), `point <= end` admits `end`.
    */
  private def closedEnd(ub: Bound): Expression =
    if (ub.inclusive) Cast(ub.bound, LongType)
    else Subtract(Cast(ub.bound, LongType), Literal(1L))

  /** The interval×interval OVERLAP rewrite (see object scaladoc): fires
    * when the band conjuncts contain two UPPER bounds whose point
    * expressions sit on OPPOSITE sides — each side is then an interval
    * (its point = start, the other bound's expression = its end).
    */
  private def rewriteOverlap(j: Join, conjuncts: Seq[Expression],
                             bs: Seq[Bound], bin: Long): Option[LogicalPlan] = {
    val Join(left, right, joinType, Some(cond), hint) = j: @unchecked
    if (joinType != Inner || hasCrossEqui(conjuncts, left, right)) return None
    val uppers = bs.filterNot(_.lower)
    val pairs = for {
      b1 <- uppers if b1.pointOnLeft
      b2 <- uppers if !b2.pointOnLeft
    } yield (b1, b2)
    // several overlap dimensions → bin the plainest one, deterministically
    // (results identical either way: the rest ride in the residual)
    val pair =
      if (pairs.isEmpty) None
      else Some(pairs.maxBy { case (b1, b2) =>
        plainness(b1.point) + plainness(b1.bound) +
          plainness(b2.point) + plainness(b2.bound)
      })
    pair.map { case (b1, b2) =>
      // each side's span is [least(s, e'), greatest(s, e')] with e' its
      // closed end: a strict end on a bin boundary adds no bin
      val (ls, le) = (Cast(b1.point, LongType), closedEnd(b2))
      val (rs, re) = (Cast(b2.point, LongType), closedEnd(b1))
      val lbinAttr = AttributeReference("__graft_lbin", LongType, nullable = false)()
      val rbinAttr = AttributeReference("__graft_rbin", LongType, nullable = false)()
      def spanGen(child: LogicalPlan, s: Expression, e: Expression,
                  attr: AttributeReference): LogicalPlan =
        explodeBins(child, Least(Seq(s, e)), Greatest(Seq(s, e)), bin, attr)
      val newLeft = spanGen(left, ls, le, lbinAttr)
      val newRight = spanGen(right, rs, re, rbinAttr)
      // charge-once: only the bin holding the later start emits the pair
      val charge = EqualTo(lbinAttr, floorBin(Greatest(Seq(ls, rs)), bin))
      val newCond = And(And(EqualTo(lbinAttr, rbinAttr), cond), charge)
      Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))
    }
  }
}
