package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the plans the optimizer picks are part of
  * the contract (SURVEY.md §4) — a regression that silently drops a
  * pushdown or broadcasts-turned-cartesian would still pass value checks
  * at test scale but melt at 100 TB.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString()
  def optimizedOf(df: DataFrame): String = df.queryExecution.optimizedPlan.toString()

  test("q_attribution_linear: all five channel counters ride ONE window (one sort)") {
    // the whole point of the running-count formulation: no per-pair
    // explosion AND no window-per-channel — a single user-keyed sort
    // carries every counter. A regression to N Window nodes would
    // multiply the dominant sf100 cost by N.
    val plan = optimizedOf(Relational.q_attribution_linear(spark, sf))
    assert("Window \\[".r.findAllIn(plan).size == 1,
      s"expected exactly one Window node:\n$plan")
  }

  test("q_quantile_norm: the value->value map broadcasts back onto the doc relation") {
    val plan = planOf(Llm.q_quantile_norm(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected the doc-grain join to broadcast the value map:\n$plan")
  }

  test("projection is pruned into the parquet scan (ReadSchema)") {
    val plan = planOf(Relational.q_project_cast(spark, sf))
    // the part table has 6 columns; the scan must read only the 4 used
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("p_brand"), "unused column p_brand must not be scanned")
  }

  test("filter predicates are pushed to the parquet scan (PushedFilters)") {
    val plan = planOf(Relational.q_filter_pred(spark, sf))
    // (plan strings truncate filter lists — match the stable prefix)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"), s"expected pushdown in:\n$plan")
  }

  test("gini + abc + zipf cumulative math never plans a single-partition window") {
    // q_gini / q_abc_class / q_zipf_fit rank + running-sum over the
    // dimension-level aggregate via Scale.globalSequence/globalCumSum —
    // a partition-less (or all-literal-partitioned) Window would funnel
    // a web-scale vocabulary (or billions of rows at sf100k) through
    // one task
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq(Relational.q_gini(spark, sf), Relational.q_abc_class(spark, sf),
                  Llm.q_zipf_fit(spark, sf))) {
      val bad = q.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.forall(_.foldable) => w
      }
      assert(bad.isEmpty,
        s"single-partition Window survives in:\n${q.queryExecution.optimizedPlan}")
    }
  }

  test("global top-N plans TakeOrderedAndProject, not a full sort") {
    val plan = planOf(Relational.q_sort_limit(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("sim_topk broadcasts the query side; no cartesian product") {
    val plan = planOf(Llm.q_sim_topk(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
    assert(!plan.contains("CartesianProduct"), "cross join must be broadcast, not cartesian")
  }

  test("minhash LSH candidate join is an equi-join, never cartesian") {
    val plan = planOf(Llm.q_dedup_minhash(spark, sf))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("minhash LSH shuffles bucket ids, not signatures; no cache, no checkpoint") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val df = Llm.minhashPairs(Tables.documents(spark, sf), threshold = 0.5)
    df.collect() // the final adaptive plan
    object H extends AdaptiveSparkPlanHelper
    val bucketExchanges = H.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name)).toSet == Set("band", "bsig")
        case _ => false
      }) => e
    }
    assert(bucketExchanges.nonEmpty, s"no (band, bsig) exchange:\n${df.queryExecution.executedPlan}")
    bucketExchanges.foreach { e =>
      val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty, s"bucket exchange carries ${arrays.mkString(", ")}:\n$e")
    }
    val scratch = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }
    assert(scratch.isEmpty, s"cached or checkpointed relations in the plan: $scratch")
  }

  test("minhash LSH verify evaluates the Jaccard kernel once per output pair") {
    // a projected kernel column is inlined into the pushed-down threshold
    // filter (the id2 join condition) and computed again for the output
    import graft.ExecutedPlans.Adaptive
    val df = Llm.q_dedup_minhash(spark, sf)
    assert(df.collect().nonEmpty)
    val kernels = Adaptive.flatMap(df.queryExecution.executedPlan)(_.expressions.flatMap(
      _.collect { case j: graft.functions.ShingleJaccard => j }))
    assert(kernels.size == 1,
      s"${kernels.size} Jaccard kernels in the plan:\n${df.queryExecution.executedPlan}")
  }

  test("range join stays keyed on the equi-part (no BNLJ)") {
    val plan = planOf(Relational.q_join_range(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "band predicate must ride the p_partkey equi-join as a post-filter")
  }

  test("binned range join turns the keyless interval join into an equi-join") {
    // the naive keyless formulation is Spark's worst plan: BNLJ (or
    // cartesian) — the exact thing binnedRangeJoin exists to delete
    val points = Tables.lineitem(spark, sf)
      .select(unix_millis(col("l_shipdate").cast("timestamp")).as("__pt"))
    val intervals = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 1000 === 0)
      .select(unix_millis(col("o_orderdate").cast("timestamp")).as("__start"),
        (unix_millis(col("o_orderdate").cast("timestamp")) + 7L * 86400000L).as("__end"))
    val naive = points.join(intervals,
      col("__pt") >= col("__start") && col("__pt") < col("__end"))
    assert(planOf(naive).contains("BroadcastNestedLoopJoin") ||
      planOf(naive).contains("CartesianProduct"),
      "precondition: the keyless range join has no equi plan without binning")
    val binned = planOf(Relational.q_join_range_binned(spark, sf))
    assert(!binned.contains("BroadcastNestedLoopJoin") && !binned.contains("CartesianProduct"),
      s"binned range join must plan as an equi-join:\n$binned")
  }

  test("q_tpch_q8ish + q_cross pin their dim joins with broadcast — no BNLJ/cartesian even with AQE off") {
    // AQE's runtime size estimate currently saves an unhinted small-side
    // cross; at 100× the plan must not depend on an estimate, so every
    // dim cross carries an explicit broadcast() hint. Asserted with AQE
    // disabled so the STATIC plan is the one under test.
    val conf = spark.conf
    val prev = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, df) <- Seq(
          ("q_tpch_q8ish", Relational.q_tpch_q8ish(spark, sf)),
          ("q_cross", Relational.q_cross(spark, sf)))) {
        val plan = planOf(df)
        assert(!plan.contains("CartesianProduct"), s"$name: cartesian in static plan:\n$plan")
        assert(plan.contains("BroadcastExchange"), s"$name: dim side must broadcast")
      }
    } finally conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("round-3 analytics: partial aggs, broadcast scalars, no cartesian fact joins") {
    for ((name, df) <- Seq(
        ("q_bm25", Llm.q_bm25(spark, sf)),
        ("q_quality_perplexity", Llm.q_quality_perplexity(spark, sf)),
        ("q_drift_psi", Llm.q_drift_psi(spark, sf)))) {
      val plan = planOf(df)
      assert(plan.contains("partial_"), s"$name: aggregation must be partial+final:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name: no cartesian allowed")
      // the scalar stats/totals side must ride a broadcast, not a shuffle
      assert(plan.contains("BroadcastExchange"), s"$name: scalar side should broadcast")
    }
  }

  test("star join broadcasts the dimension tables") {
    val plan = planOf(Relational.q_join_dims(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"nation/region must broadcast in:\n$plan")
  }

  test("aggregations are partial+final (map-side combine)") {
    val plan = planOf(Relational.q_agg_group(spark, sf))
    assert(plan.contains("partial_"), "expected partial aggregation before the shuffle")
  }

  test("asof join is a single window pass — exactly one shuffle of events") {
    val df = Relational.q_join_asof(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("Join"), "as-of must not be a join at all (window formulation)")
  }

  test("q_tpch_q10ish broadcasts nation; q18ish aggregates the fact before joining") {
    val p10 = planOf(Relational.q_tpch_q10ish(spark, sf))
    assert(p10.contains("BroadcastHashJoin") || p10.contains("BroadcastExchange"),
      s"nation must broadcast in:\n$p10")
    val p18 = Relational.q_tpch_q18ish(spark, sf).queryExecution.optimizedPlan.toString()
    // the HAVING aggregate must sit BELOW the join with orders
    // (filter-early): optimized plan has Aggregate under Join, not above
    val joinIdx = p18.indexOf("Join")
    val aggIdx = p18.indexOf("Aggregate", joinIdx)
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      s"lineitem aggregate must be a join INPUT in:\n$p18")
  }

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import s2.implicits._
    // 100k rows, ~90% on one hot key → one reducer partition dwarfs the rest
    val left = s2.range(100000)
      .select((when(rand(7) < 0.9, 1L).otherwise(col("id") % 997)).as("k"),
        col("id").as("v"))
    val right = s2.range(997).select(col("id").as("k"), (col("id") * 2).as("w"))
    val joined = left.join(right, "k")
    joined.collect()
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(finalPlan.toString.contains("skew=true"),
      s"expected AQE skew-join split in:\n$finalPlan")
  }

  test("q19ish disjunctive filter: ONE equi-join, part legs broadcast, no per-branch union") {
    val plan = planOf(Relational.q_tpch_q19ish(spark, sf))
    assert(plan.contains("BroadcastExchange"), s"part side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Union"),
      "the OR-of-ANDs must stay one join with a disjunctive filter, not a union of branches")
  }

  test("q7ish: the fact table shuffles at most once; all four dims broadcast") {
    val plan = planOf(Relational.q_tpch_q7ish(spark, sf))
    // nation×2, supplier, customer ride broadcast exchanges
    assert(plan.sliding("BroadcastExchange".length).count(_ == "BroadcastExchange") >= 3,
      s"dim legs must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("lateral top-n decorrelates to a ranked window join — no per-row subquery re-execution") {
    val opt = optimizedOf(Relational.q_lateral_topn(spark, sf))
    // Catalyst rewrites the correlated ORDER BY+LIMIT lateral into a
    // window/limit over the joined child; a surviving LateralJoin with a
    // correlated subquery would re-run the inner query per outer row
    assert(opt.contains("Window") || !opt.contains("LateralJoin"),
      s"expected decorrelated window form:\n$opt")
  }

  test("cache: a cached relation plans InMemoryTableScan; unpersist restores the file scan") {
    val df = Relational.q_agg_group(spark, sf)
    df.cache()
    try {
      df.count() // materialize
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("InMemoryTableScan"), s"expected cached scan:\n$plan")
      // catalog-level caching over a temp view behaves the same
      Tables.nation(spark, sf).createOrReplaceTempView("cached_nation")
      spark.catalog.cacheTable("cached_nation")
      try {
        val p2 = spark.table("cached_nation").queryExecution.executedPlan.toString()
        assert(p2.contains("InMemoryTableScan") || p2.contains("Scan In-memory table"))
      } finally spark.catalog.uncacheTable("cached_nation")
    } finally df.unpersist()
    val fresh = Relational.q_agg_group(spark, sf).queryExecution.executedPlan.toString()
    assert(!fresh.contains("InMemoryTableScan"), "unpersist must fall back to the source scan")
  }

  test("scan-stage ops are shuffle-free: chunking and mixture sampling add no Exchange") {
    // the only Exchange either query may contain is the final
    // presentation sort (rangepartitioning) — the WORK must be map-side
    def nonSortExchanges(df: DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString()
      plan.split("Exchange ").count(_.startsWith("hashpartitioning"))
    }
    assert(nonSortExchanges(Llm.q_chunk_docs(spark, sf)) == 0,
      "chunk fan-out must stay inside the scan stage")
    assert(nonSortExchanges(Llm.q_mix_sample(spark, sf)) == 0,
      "mixture sampling must be a single filtered pass")
    assert(nonSortExchanges(Llm.q_dedup_runs(spark, sf)) == 0,
      "run collapse must be per-row map work")
  }

  test("round-4 ops: broadcast stats joins, no cartesian candidates, aggregate-only windows") {
    // MAD screen: the per-group stats join back by BROADCAST — the fact
    // table must not shuffle for either join
    val mad = planOf(Relational.q_outlier_mad(spark, sf))
    assert(mad.contains("BroadcastHashJoin"), s"expected broadcast stats join in:\n$mad")
    // decile binning: cut points arrive by broadcast, not a global sort
    val bins = planOf(Relational.q_feature_bins(spark, sf))
    assert(bins.contains("BroadcastNestedLoopJoin") || bins.contains("BroadcastExchange"))
    assert(!bins.contains("CartesianProduct"))
    // exact set-similarity: candidates from the prefix-token EQUI-join
    val setsim = planOf(Llm.q_join_setsim(spark, sf))
    assert(!setsim.contains("CartesianProduct") && !setsim.contains("BroadcastNestedLoopJoin"),
      s"setsim candidates must come from an equi-join:\n$setsim")
    // PMI: pair generation is an equi-join on doc_id; marginals broadcast
    val pmi = planOf(Llm.q_word_pmi(spark, sf))
    assert(!pmi.contains("CartesianProduct"))
    assert(pmi.contains("BroadcastHashJoin"), "marginal joins must broadcast")
    // share-of-total: the window runs over the AGGREGATE rows — the fact
    // table passes through exactly one (aggregation) exchange, and the
    // window's re-shuffle moves only grouped rows
    val share = Relational.q_share_of_total(spark, sf)
    assert(planOf(share).contains("Window"))
  }

  test("round-4 window ops shuffle the fact exactly once (the partition key)") {
    // q_twap / q_interval_union / q_event_streaks / q_window_median /
    // q_window_distinct all claim "ONE user-key shuffle" in their docs —
    // pin it: exactly one hashpartitioning Exchange in each plan (the
    // trailing presentation sort is rangepartitioning, not counted)
    def hashExchanges(df: DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString()
      plan.split("Exchange ").count(_.startsWith("hashpartitioning"))
    }
    assert(hashExchanges(Relational.q_window_median(spark, sf)) == 1)
    assert(hashExchanges(Relational.q_window_distinct(spark, sf)) == 1)
    assert(hashExchanges(Relational.q_twap(spark, sf)) == 1)
    assert(hashExchanges(Relational.q_interval_union(spark, sf)) == 1)
    // streaks: run numbering + run sizing + the longest-pick window all
    // hash-partition on user_id — Catalyst reuses ONE exchange for the
    // windows; the grouped run-sizing agg re-partitions on the finer
    // (user, run, type) key, so two total
    assert(hashExchanges(Relational.q_event_streaks(spark, sf)) <= 2)
  }

  test("whole-stage codegen covers the scan→filter→project spine") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // under AQE the codegen-staged plan only exists once executed
    val df = Relational.q_filter_pred(spark, sf)
    df.collect() // executes df's OWN queryExecution (count() would build a new one)
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // codegen stages print as "*(n) Op"; the scan→filter→project spine
    // (stage 1) must be inside one
    assert(finalPlan.toString.contains("*(1) Filter"),
      s"scan spine not codegen'd in:\n$finalPlan")
  }

  test("TextKernelRewriteRule: raw regex idioms optimize into the native kernels, values unchanged") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(Seq((-1L, "  MIXED Case!! and;; 42  "), (-2L, "café 你好 a"), (-3L, ""))
        .toDF("doc_id", "text"))
    // the user writes the reference's regex chain verbatim...
    val userNorm = lower(trim(regexp_replace(
      regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " +", " ")))
    val userCount = size(split(col("text"), " "))
    val df = docs.select(col("doc_id"), userNorm.as("norm"), userCount.as("n_tok"))
    val opt = df.queryExecution.optimizedPlan.toString
    // ...and the optimizer substitutes the kernels
    assert(opt.contains("graft_normtext"),
      s"normalize chain must rewrite to the native kernel:\n$opt")
    assert(!opt.toLowerCase.contains("regexp_replace"),
      s"no regex must survive the rewrite:\n$opt")
    assert(opt.contains("translate") && !opt.contains("split("),
      s"token count must rewrite to the translate form:\n$opt")
    // values are bit-identical to the un-rewritten expressions (evaluated
    // through a fresh session-less path: the literal fold of each row)
    val got = df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val want = docs.orderBy("doc_id").collect().map { r =>
      val t = r.getString(1)
      val norm = t.replaceAll("[^a-zA-Z0-9 ]", "").replaceAll(" +", " ").trim.toLowerCase
      (r.getLong(0), norm, t.split(" ", -1).length)
    }
    assert(got.toSeq == want.toSeq, "the rewrite must not change a single value")
  }

  test("TextKernelRewriteRule fire/decline matrix: the idiom FAMILY rewrites; near-misses survive untouched") {
    import org.apache.spark.sql.Column
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    def optPlan(c: Column): String =
      docs.select(c.as("v")).queryExecution.optimizedPlan.toString

    // --- normalize chain: every spelling a ported pipeline writes ---
    val fireNorm: Seq[(String, Column)] = Seq(
      "canonical" -> lower(trim(regexp_replace(
        regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " +", " "))),
      "alt class spelling" -> lower(trim(regexp_replace(
        regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""), " +", " "))),
      "\\s+ collapse" -> lower(trim(regexp_replace(
        regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), "\\s+", " "))),
      "[ ]+ collapse" -> lower(trim(regexp_replace(
        regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), "[ ]+", " "))),
      " {2,} collapse" -> lower(trim(regexp_replace(
        regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " {2,}", " "))),
      "lower-first" -> trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")),
      "lower-first, redundant outer lower" -> lower(trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))),
      "lowercase class, no inner lower" -> trim(regexp_replace(
        regexp_replace(col("text"), "[^a-z0-9 ]", ""), " +", " ")))
    for ((name, c) <- fireNorm) {
      val opt = optPlan(c)
      assert(opt.contains("graft_normtext"), s"'$name' must fire:\n$opt")
      assert(!opt.toLowerCase.contains("regexp_replace"),
        s"'$name' left a regex behind:\n$opt")
    }

    // --- token counts ---
    val fireCount: Seq[(String, Column, String)] = Seq(
      ("literal-space split", size(split(col("text"), " ")), "translate"),
      ("space-run split", size(split(col("text"), " +")), "graft_runs"),
      ("ws-run split", size(split(col("text"), "\\s+")), "graft_runs"),
      ("distinct-token count (TTR idiom)",
        size(array_distinct(split(col("text"), " "))), "graft_wordstats"))
    for ((name, c, marker) <- fireCount) {
      val opt = optPlan(c)
      assert(opt.contains(marker), s"'$name' must rewrite to $marker:\n$opt")
      assert(!opt.contains("split("), s"'$name' left the split behind:\n$opt")
    }

    // --- declines: semantics genuinely differ, the rule must NOT fire ---
    val decline: Seq[(String, Column)] = Seq(
      // strip AFTER collapse can create new adjacent spaces ("a .. b" →
      // collapse no-op → strip → "a  b", uncollapsed)
      "swapped strip/collapse order" -> lower(trim(regexp_replace(
        regexp_replace(col("text"), " +", " "), "[^a-zA-Z0-9 ]", ""))),
      // class without the space joins words across junk
      "strip class missing space" -> lower(trim(regexp_replace(
        regexp_replace(col("text"), "[^a-zA-Z0-9]", ""), " +", " "))),
      // collapse target other than a single space
      "collapse to empty" -> lower(trim(regexp_replace(
        regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " +", ""))),
      // the kernel always lowercases — a chain without ANY lower keeps case
      "full class, no lower anywhere" -> trim(regexp_replace(
        regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " +", " ")),
      "tab split is not a space split" -> size(split(col("text"), "\t")).cast("string"),
      "explicit split limit" -> size(split(col("text"), " ", 2)).cast("string"),
      "distinct over a NON-space split" ->
        size(array_distinct(split(col("text"), ","))).cast("string"))
    for ((name, c) <- decline) {
      val opt = optPlan(c)
      assert(!opt.contains("graft_normtext") && !opt.contains("graft_runs") &&
        !opt.contains("graft_wordstats"),
        s"'$name' must NOT fire (semantics differ):\n$opt")
    }

    // decline justification by counterexample: the swapped order and the
    // canonical chain really do disagree
    val probe = "a .. b  C"
    val canonical = probe.replaceAll("[^a-zA-Z0-9 ]", "")
      .replaceAll(" +", " ").trim.toLowerCase(java.util.Locale.ROOT)
    val swapped = probe.replaceAll(" +", " ")
      .replaceAll("[^a-zA-Z0-9 ]", "").trim.toLowerCase(java.util.Locale.ROOT)
    assert(canonical != swapped,
      "decline matrix premise broken: swapped order became equivalent?")
  }

  test("corpus card is one query: one documents scan, no join, no checkpoint") {
    // the three families group on different keys; three dedicated
    // aggregates would re-scan the doc-grain projection once each (the
    // 3× cache-read bill measured at the sf100 page-cache wall). The
    // grouping-sets aggregate feeds one per-source window and one
    // conditional groupBy: a single scan, nothing joined back, and no
    // materialized intermediate to own or release.
    val report = Llm.corpusCard(Tables.documents(spark, sf))
    val opt = report.queryExecution.optimizedPlan
    val scans = opt.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size == 1, s"the report must scan the documents once, found ${scans.size}")
    val joins = opt.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.isEmpty, s"the report must not join, found ${joins.size} joins")
    val rdds = opt.collect { case r: org.apache.spark.sql.execution.LogicalRDD => r }
    assert(rdds.isEmpty, s"the report must not read a checkpoint, found ${rdds.size}")
    assert(report.collect().nonEmpty)
  }
}
