package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, BloomFilterMightContain, EqualTo, ExprId, Expression, IsNotNull, Literal, ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.optimizer.ColumnPruning
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, SHUFFLE_HASH, SHUFFLE_MERGE}
import org.apache.spark.sql.catalyst.rules.Rule

/** Planner-tier bloom-prefilter join: when an equi-join's one side carries a
  * selective filter and is small enough to sketch, inject a
  * `BloomFilterMightContain(scalar-subquery(bloom_filter_agg(dim key)))`
  * predicate onto the OTHER (fact) side — so non-matching fact rows die
  * BEFORE the join shuffle instead of after it. False positives are
  * scrubbed by the exact join that still follows; the rewrite is
  * result-identical by construction, the win is shuffle volume (at
  * 100 TB a selective dim prunes the fact exchange by orders of
  * magnitude).
  *
  * This is the same plan shape Spark's own `InjectRuntimeFilter`
  * (spark/sql/catalyst/optimizer/InjectRuntimeFilter.scala) produces,
  * reusing the built-in `BloomFilterAggregate`/`BloomFilterMightContain`
  * expressions — but with library-controlled thresholds: Spark's rule
  * only fires when the application side scans > 10 GB (invisible at
  * test scale, conservative at cluster scale); this one fires on any
  * size-asymmetric filtered equi-join, the explicit always-on
  * formulation the engine documents. Idempotent (a side that already
  * carries a bloom predicate is left alone), so it is safe in both a
  * fixed-point optimizer batch (`GraftExtensions.injectOptimizerRule`)
  * and the once-per-query `experimental.extraOptimizations` hook
  * (`GraftSession.install`).
  *
  * The explicit `Scale.bloomPrefilterJoin` is the same injection
  * ([[prefilter]]), sized by the caller's key count and fpp instead of
  * the creation side's row-count estimate, and applied without the
  * size and selectivity checks below. That call puts its probe into the
  * ANALYZED plan, so `InferFiltersFromConstraints` copies it through the
  * join key onto the creation side, where it can drop no row; this rule
  * runs after inference and removes such copies ([[dropProbeCopies]]),
  * so both paths run one probe, on the fact side.
  */
object BloomJoinRule extends Rule[LogicalPlan] {

  /** Max creation-side size in bytes to build a bloom over: 128 MB ≈
    * 100M keys at the 3% fpp of `BloomFilter.create(n)`.
    */
  private val CreationThreshold: Long = 128L * 1024 * 1024
  /** The application side must be at least this many times larger than
    * the creation side.
    */
  private val SizeRatio: Long = 2

  /** A filter that actually discards rows (not just null-pruning) marks
    * the creation side as selective — the precondition for the bloom to
    * pay for itself.
    */
  private def hasSelectiveFilter(plan: LogicalPlan): Boolean = plan.exists {
    case Filter(cond, _) =>
      splitConjunctive(cond).exists {
        case _: IsNotNull => false
        case Literal(true, _) => false
        case _ => true
      }
    case _ => false
  }

  private def splitConjunctive(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctive(l) ++ splitConjunctive(r)
    case other => Seq(other)
  }

  /** One bloom predicate per (application side, key): if the subtree
    * already probes a bloom with this key's hash, leave it alone (this
    * is also what makes the rule converge under a fixed-point batch).
    */
  private def alreadyBloomed(plan: LogicalPlan, appKey: Expression): Boolean = plan.exists {
    case Filter(cond, _) => cond.exists {
      case BloomFilterMightContain(_, h: XxHash64) =>
        h.children.exists(_.semanticEquals(appKey))
      case _ => false
    }
    case _ => false
  }

  /** The bloom only pays when the join SHUFFLES the application side —
    * under a broadcast join the fact side never moves, so a prefilter is
    * pure per-row overhead. Shuffling is the outcome when the creation
    * side exceeds the broadcast threshold (the at-scale case), when
    * broadcasting is disabled, or when the caller pinned a shuffle
    * strategy hint on the join.
    */
  private def willShuffle(creationSize: BigInt, hint: JoinHint): Boolean = {
    val bcast = conf.autoBroadcastJoinThreshold
    bcast < 0 || creationSize > bcast ||
      Seq(hint.leftHint, hint.rightHint).flatten.flatMap(_.strategy)
        .exists(s => s == SHUFFLE_MERGE || s == SHUFFLE_HASH)
  }

  /** The equi-key pairs of a join condition, each as (left-side
    * expression, right-side expression).
    */
  private def equiKeys(j: Join): Seq[(Expression, Expression)] =
    j.condition.toSeq.flatMap(splitConjunctive).collect {
      case EqualTo(l, r)
          if l.references.nonEmpty && l.references.subsetOf(j.left.outputSet) &&
             r.references.subsetOf(j.right.outputSet) => (l, r)
      case EqualTo(l, r)
          if r.references.nonEmpty && r.references.subsetOf(j.left.outputSet) &&
             l.references.subsetOf(j.right.outputSet) => (r, l)
    }

  /** `app` filtered by a bloom over `creationKey`'s hashes; `bloom`
    * builds the sized aggregate over those hashes, output as `name`.
    */
  private def inject(app: LogicalPlan, appKey: Expression,
                     creation: LogicalPlan, creationKey: Expression)
                    (bloom: Expression => BloomFilterAggregate,
                     name: String = "graft_bloom"): LogicalPlan = {
    val agg = bloom(new XxHash64(Seq(creationKey)))
    val alias = Alias(agg.toAggregateExpression(), name)()
    // prune the creation side to the key column before it runs as a
    // standalone subquery job (the main optimizer will not revisit it)
    val aggregate = ColumnPruning(Aggregate(Nil, Seq(alias), creation))
    val subquery = ScalarSubquery(aggregate, Seq.empty)
    Filter(BloomFilterMightContain(subquery, new XxHash64(Seq(appKey))), app)
  }

  /** Sized by the creation side's row-count estimate when it has one,
    * else by Spark's runtime bloom-filter defaults.
    */
  private def estimated(creation: LogicalPlan)(h: Expression): BloomFilterAggregate =
    creation.stats.rowCount.map(_.longValue).filter(_ > 0L) match {
      case Some(n) => new BloomFilterAggregate(h, n)
      case None => new BloomFilterAggregate(h)
    }

  /** The name of the bloom [[prefilter]] builds, which marks its probe. */
  private val ExplicitBloom = "graft_bloom_explicit"

  /** `j` with its LEFT side prefiltered by a bloom over the right side's
    * keys (the first equi conjunct), of `expectedKeys` items and
    * `numBits` bits — Spark caps both at its runtime bloom-filter
    * maxima. Unconditional: the caller asked for the prefilter.
    */
  private[graft] def prefilter(j: Join, expectedKeys: Long, numBits: Long): Join = {
    val (lk, rk) = equiKeys(j).headOption.getOrElse(
      throw new IllegalArgumentException(s"bloom prefilter needs an equi-join, got ${j.condition}"))
    j.copy(left = inject(j.left, lk, j.right, rk)(
      h => new BloomFilterAggregate(h, Literal(expectedKeys), Literal(numBits)), ExplicitBloom))
  }

  /** The subquery ids of the probes in `plan` on blooms that
    * [[prefilter]] built.
    */
  private def explicitProbes(plan: LogicalPlan): Set[ExprId] = plan.collect {
    case Filter(cond, _) => splitConjunctive(cond).collect {
      case BloomFilterMightContain(s: ScalarSubquery, _)
          if s.plan.output.map(_.name) == Seq(ExplicitBloom) => s.exprId
    }
  }.flatten.toSet

  /** `plan` without the inferred copies of [[prefilter]]'s probes:
    * where a join's right side probes a bloom its left side probes too,
    * the right one is the copy (the creation side's own keys).
    */
  private def dropProbeCopies(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, _, _, _) =>
      val copies = explicitProbes(left).intersect(explicitProbes(right))
      def copy(e: Expression) = e match {
        case BloomFilterMightContain(s: ScalarSubquery, _) => copies.contains(s.exprId)
        case _ => false
      }
      if (copies.isEmpty) j
      else j.copy(right = right.transformUp {
        case Filter(cond, child) if splitConjunctive(cond).exists(copy) =>
          splitConjunctive(cond).filterNot(copy).reduceOption(And)
            .fold(child)(Filter(_, child))
      })
  }

  override def apply(plan: LogicalPlan): LogicalPlan = dropProbeCopies(
    plan.transformUp {
      case j @ Join(left, right, joinType, Some(_), hint)
          if joinType == Inner || joinType == LeftSemi =>
        def size(p: LogicalPlan): BigInt = p.stats.sizeInBytes
        // prefilter the LEFT side from the RIGHT (both join types keep
        // left rows only on match), and — for inner — the reverse too
        var newLeft = left
        var newRight = right
        equiKeys(j).headOption.foreach { case (lk, rk) =>
          if (hasSelectiveFilter(right) && !alreadyBloomed(left, lk) &&
              size(right) <= CreationThreshold && size(left) >= size(right) * SizeRatio &&
              willShuffle(size(right), hint))
            newLeft = inject(left, lk, right, rk)(estimated(right))
          if (joinType == Inner &&
              hasSelectiveFilter(left) && !alreadyBloomed(right, rk) &&
              size(left) <= CreationThreshold && size(right) >= size(left) * SizeRatio &&
              willShuffle(size(left), hint))
            newRight = inject(right, rk, left, lk)(estimated(left))
        }
        if (newLeft.eq(left) && newRight.eq(right)) j
        else j.copy(left = newLeft, right = newRight)
    })
}
