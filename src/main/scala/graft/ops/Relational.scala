package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator surface (SURVEY.md §2.B): projection, filter, the
  * join family, aggregation, windows, sort/limit, set ops, scalar
  * functions. All declarative `DataFrame` transforms — Catalyst provides
  * pushdown/pruning/join-selection/whole-stage-codegen; AQE re-plans
  * shuffles at runtime.
  *
  * Determinism-for-oracle conventions (DuckDB hash-compare parity):
  *   - every query ends in a total-order `orderBy`;
  *   - floating sums go through an exact DECIMAL accumulation
  *     (`dsum`) then back to DOUBLE, so partial-aggregation order can
  *     never change the result;
  *   - averages are computed as exact-decimal-sum / count in double;
  *   - int-width functions (`length`, `year`, `size`, …) are cast to
  *     BIGINT to match DuckDB's wider defaults.
  */
object Relational {
  import Tables._

  /** Order-insensitive exact sum of a ≤`scale`-decimal double expression:
    * accumulate as DECIMAL (exact, associative), surface as DOUBLE.
    * At 100 TB this matters double: same plan, but results stay stable
    * under AQE partition coalescing / skew splits / speculative re-runs.
    */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  def davg(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double") / count(c)

  // ---- projection / filter -------------------------------------------

  def q_project_cast(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        col("p_name").as("part_name"),
        // DOUBLE round with the suite's +1e-9 tie-nudge, not a DECIMAL
        // cast: Spark(HALF_UP) and DuckDB disagree on .xx5 decimal
        // rounding boundaries (round-1 hash mismatch), while the nudged
        // double round is bit-identical in both engines.
        round(col("p_retailprice") + lit(1e-9), 2).as("price_r"),
        col("p_size").cast("long").as("size_l"))
      .orderBy("p_partkey")

  def q_filter_pred(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(
        col("l_quantity").between(10, 20) &&
          col("l_returnflag").isin("A", "R") &&
          col("l_shipdate") >= lit("1995-06-01").cast("timestamp") &&
          !(col("l_discount") < 0.02) &&
          col("l_linestatus").isNotNull)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      // (l_orderkey, l_linenumber) is NOT unique in this dataset — add
      // the remaining columns for a total order the oracle can match.
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  // ---- joins ----------------------------------------------------------

  /** Inner equi-join + agg. lineitem⨝orders is the big/big case: both
    * sides shuffle on orderkey (sort-merge or shuffled-hash — AQE
    * picks); at 100 TB co-locate by bucketing both tables on orderkey.
    */
  def q_join_inner(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        dsum(expr("l_extendedprice * (1 - l_discount)")).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  def q_join_left(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("order_cnt"),
        coalesce(dsum(col("o_totalprice"), 2), lit(0.0)).as("total_spent"))
      .orderBy("c_custkey")

  /** Broadcast the filtered fact-side probe list is wrong at scale — the
    * semi join keeps supplier small and streams lineitem; supplier is the
    * broadcast side.
    */
  def q_join_semi(s: SparkSession, d: String): DataFrame =
    supplier(s, d)
      .join(
        lineitem(s, d).filter(col("l_quantity") > 45),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")

  def q_join_anti(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  def q_join_right(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(part(s, d), col("l_partkey") === col("p_partkey"), "right")
      .groupBy("p_partkey")
      .agg(
        count(col("l_orderkey")).as("li_cnt"),
        coalesce(sum(col("l_quantity")), lit(0.0)).as("qty"))
      .orderBy("p_partkey")

  /** Full outer over two pre-aggregated sides: per-nation customer vs
    * supplier counts. Aggregating BEFORE the outer join keeps the join
    * inputs tiny (distinct-key-sized) — the at-scale shape for
    * reconciliation joins.
    */
  def q_join_full(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
    val su = supplier(s, d).groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_supp"))
    c.join(su, Seq("nk"), "full")
      .select(col("nk"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nk")
  }

  /** Equi + band predicate: Catalyst keys the join on l_partkey=p_partkey
    * (hash join) and applies the range as a post-join filter — NOT a
    * BNLJ, so it scales like a normal equi-join.
    */
  def q_join_range(s: SparkSession, d: String): DataFrame =
    part(s, d).as("p")
      .join(
        lineitem(s, d).as("l"),
        col("l.l_partkey") === col("p.p_partkey") &&
          col("l.l_quantity").between(col("p.p_size") - 5, col("p.p_size") + 5))
      .groupBy(col("p.p_partkey").as("p_partkey"))
      .agg(count(lit(1)).as("n_close"), dsum(col("l.l_extendedprice"), 2).as("sum_price"))
      .orderBy("p_partkey")

  /** KEYLESS point-in-interval join — no equi-key exists, so Spark's
    * built-in plan is a broadcast-nested-loop join: O(|P|·|I|) compares
    * and a hard broadcast-size ceiling on the interval side. Rewritten
    * through [[Scale.binnedRangeJoin]]: quantize time into 7-day bins,
    * explode each interval to the bins it overlaps, equi-join on the
    * bin id + residual range predicate ([[graft.plans.RangeJoinRule]]'s
    * rewrite at that `binSize`). Both sides can then be
    * arbitrarily large (plain shuffle join) and each pair is emitted
    * exactly once. The shape: "lineitems shipped within 7 days of a
    * watched order's date" — watched = every 1000th orderkey, so the
    * interval side grows with SF like a real watchlist.
    */
  def q_join_range_binned(s: SparkSession, d: String): DataFrame = {
    val DayMs = 86400000L
    // parquet dates surface as TIMESTAMP_NTZ; the session pins UTC, so
    // the NTZ→LTZ cast is the identity on the epoch and unix_millis is
    // exact — full ms precision, no day-alignment assumption
    def ms(c: Column): Column = unix_millis(c.cast("timestamp"))
    // AGGREGATE PUSHDOWN below the interval join: the post-join agg only
    // needs per-interval count/sum over day-aligned points, so the 6M-row
    // (60M at sf10) point side collapses to ONE partial row per distinct
    // day (~2,400 rows at ANY corpus size) before the join. Point-interval
    // membership volume under densification is quadratic — 10× points ×
    // 10× intervals on the same date axis = 100× pairs (measured: 26M →
    // 2.6B, and the join-then-agg formulation ran 18× slower at sf10) —
    // while the pushed-down form stays O(corpus scan) + a dimension-sized
    // join forever. Exactness: l_shipdate is a DATE, so every point in a
    // day shares one membership decision; sum/count are decomposable.
    // per-element DECIMAL(18,2) cast BEFORE the partial sum, as in dsum:
    // decimal addition is associative, so partial-then-final summation is
    // bit-identical to the oracle's single-pass decimal sum
    val dayPartials = lineitem(s, d)
      .groupBy(ms(col("l_shipdate")).as("__pt"))
      .agg(count(lit(1)).as("__n"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("__sum"))
    val intervals = orders(s, d)
      .filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey"), ms(col("o_orderdate")).as("__start"),
        (ms(col("o_orderdate")) + 7 * DayMs).as("__end"))
    Scale.binnedRangeJoin(dayPartials, intervals, "__pt", "__start", "__end", 7 * DayMs)
      .groupBy("o_orderkey")
      .agg(sum(col("__n")).as("n_ship"),
        sum(col("__sum")).cast("double").as("sum_price"))
      .orderBy("o_orderkey")
  }

  /** Interval-OVERLAP join via [[graft.ops.Scale.binnedOverlapJoin]]:
    * sampled 7-day order windows × lineitem ship windows (1–7 days wide
    * by line number) that overlap them — intervals on BOTH sides, the
    * shape whose only built-in keyless plan is a nested-loop product.
    * Bin width = the left window width, so left rows replicate ≤2×;
    * each overlapping pair is emitted exactly once (later-start bin),
    * verified row-for-row by the DuckDB inequality-join oracle.
    */
  def q_join_overlap(s: SparkSession, d: String): DataFrame = {
    val DayMs = 86400000L
    def ms(c: Column): Column = unix_millis(c.cast("timestamp"))
    val l = orders(s, d).filter(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey"), ms(col("o_orderdate")).as("__s1"),
        (ms(col("o_orderdate")) + 7 * DayMs).as("__e1"))
    val r = lineitem(s, d).filter(col("l_orderkey") % 100 === 0)
      .select(col("l_quantity"), ms(col("l_shipdate")).as("__s2"),
        (ms(col("l_shipdate")) + col("l_linenumber").cast("long") * DayMs).as("__e2"))
    Scale.binnedOverlapJoin(l, r, "__s1", "__e1", "__s2", "__e2", 7 * DayMs)
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_overlap"), dsum(col("l_quantity"), 2).as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** As-of join (nearest earlier purchase per user) — no Spark built-in.
    * Composed as ONE window pass instead of a range join: shuffle events
    * once by user_id, running MAX of purchase-ts in event-time order.
    * The default RANGE frame includes ts-peers, matching DuckDB
    * `ASOF JOIN ... ON e.ts >= p.ts` semantics. O(n log n) per
    * partition, no join blow-up — the 100 TB-safe formulation.
    */
  def q_join_asof(s: SparkSession, d: String): DataFrame = {
    // µs precision on both sides: DuckDB surfaces the ns-parquet ts as a
    // µs TIMESTAMP, so the as-of comparison and the emitted value are
    // both truncated to micros (floor-div matches DuckDB's truncation).
    val w = Window.partitionBy("user_id").orderBy("ts_us") // default frame: RANGE UNBOUNDED PRECEDING..CURRENT ROW (peers included = ts-equality allowed)
    events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("pus", when(col("event_type") === "purchase", col("ts_us")))
      .withColumn("last_purchase_ns", max("pus").over(w) * 1000L)
      .select("event_id", "user_id", "last_purchase_ns")
      .orderBy("event_id")
  }

  /** FORWARD as-of join (nearest FOLLOWING purchase per event) — the
    * direction event-study pipelines need ("what happened next") that
    * SQL `ASOF` keywords don't offer. Same single-window-pass shape as
    * the backward form, with the order reversed: a running MIN of
    * purchase-ts over the ts-DESC order is exactly the nearest
    * purchase at-or-after each event. One user-key shuffle, no join
    * node, peers (ts ties) included by the default RANGE frame in both
    * engines.
    */
  def q_join_asof_forward(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us").desc)
    events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("pus", when(col("event_type") === "purchase", col("ts_us")))
      .withColumn("next_purchase_ns", min("pus").over(w) * 1000L)
      .select("event_id", "user_id", "next_purchase_ns")
      .orderBy("event_id")
  }

  /** The same as-of join through the NATIVE Catalyst operator
    * (`graft.plans.AsofJoinNode` → `AsofJoinExec` co-partitioned merge)
    * instead of the union+window rewrite — both formulations are gated
    * against the same DuckDB `ASOF LEFT JOIN` oracle. The payload is
    * the purchase timestamp itself, so (key, ts) ties collapse to one
    * value in every engine.
    */
  def q_join_asof_native(s: SparkSession, d: String): DataFrame = {
    // µs quantization on BOTH sides, deliberately: the DuckDB oracle
    // reads the ns-parquet timestamps as µs TIMESTAMPs (ns → µs
    // TRUNCATION — verified: sf0.01 carries sub-µs values), so its ASOF
    // compare and emitted epoch_ns are µs-floored. Floor-dividing here
    // applies the identical quantization, making the parity hold for
    // ANY sub-µs data — both engines land on the same µs grid. (A raw
    // ns-precision join is what q_join_asof_native must NOT do while
    // the gate is µs-bound: it would diverge at sub-µs boundaries.)
    val base = events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), expr("ts_us * 1000").as("pns"))
    graft.plans.Asof.join(base, purchases, "user_id", "ts_us", "ts_us", Seq("pns"))
      .select(col("event_id"), col("user_id"), col("asof_pns").as("last_purchase_ns"))
      .orderBy("event_id")
  }

  /** Forward as-of through the NATIVE operator (`forward = true` on
    * `AsofJoinExec`'s merge): same µs-quantization contract as
    * [[q_join_asof_native]], same DuckDB `ASOF <=` oracle as the window
    * formulation [[q_join_asof_forward]] — three implementations, one
    * verdict.
    */
  def q_join_asof_fwd_native(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), expr("ts_us * 1000").as("pns"))
    graft.plans.Asof.join(base, purchases, "user_id", "ts_us", "ts_us", Seq("pns"),
        forward = true)
      .select(col("event_id"), col("user_id"), col("asof_pns").as("next_purchase_ns"))
      .orderBy("event_id")
  }

  // ---- aggregation ----------------------------------------------------

  def q_agg_group(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"), // whole-number doubles: exact
        dsum(col("l_extendedprice"), 2).as("sum_base"),
        dsum(expr("l_extendedprice * (1 - l_discount)")).as("sum_disc"),
        count(lit(1)).as("n"),
        davg(col("l_quantity"), 2).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  def q_agg_distinct(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("uniq_cust"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** HLL sketch — approximate, so no DuckDB oracle (driver rows-only). */
  def q_agg_approx(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey"), 0.01).as("approx_supps"))
      .orderBy("l_returnflag")

  /** Approximate percentiles (t-digest-style sketch, merge-able — the
    * at-scale alternative to exact `percentile`). Approximate → no
    * oracle; rows-only driver check + EntrySpec smoke.
    */
  def q_agg_approx_pct(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50_approx"),
        percentile_approx(col("o_totalprice"), lit(0.95), lit(1000)).as("p95_approx"))
      .orderBy("o_orderpriority")

  def q_agg_rollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("sum_base"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** GROUPING() / grouping_id() metadata over a rollup — how a consumer
    * tells a subtotal row's NULL from a data NULL. Same single
    * Expand+agg pass as q_agg_rollup; the grouping bits are free
    * metadata columns. gid bit order: first rollup column = MSB (both
    * engines; the oracle composes it explicitly as g1*2+g2).
    */
  def q_agg_grouping_id(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"),
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Argmax/argmin aggregates (max_by/min_by): "which row holds the
    * extreme" without a join-back or window — one partial+final agg
    * pass, the cheap form of the q_subquery_corr pattern when only one
    * witness per group is needed. (Ties would be engine-arbitrary; the
    * suite's data has none at the graded SFs — checked.)
    */
  /** Argmax/argmin witnesses with a DETERMINISTIC tie rule: the
    * ordering struct (price, key) breaks price ties by key, so the
    * witness is the largest (resp. smallest) key among tied extremes —
    * plain `max_by(key, price)` is engine-arbitrary under ties, which
    * the sf1 sweep surfaced the moment replicated data produced exact
    * ties (the driver-SF fixtures happen to have unique extremes).
    * Production argmax over real data MUST pin ties the same way.
    */
  def q_agg_minmax_by(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        max_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("key_of_max"),
        min_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("key_of_min"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_totalprice")).as("min_price"))
      .orderBy("o_orderpriority")

  /** mode() — the most frequent value per group, one partial+final agg
    * pass. (Tie behavior is engine-arbitrary; the graded data has a
    * unique mode per group at both gate SFs — checked.)
    */
  def q_agg_mode(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(mode(col("l_linenumber")).cast("long").as("mode_line"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  def q_agg_cube(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Explicit grouping sets (Spark 4 Dataset.groupingSets API): totals by
    * returnflag and by linestatus in one pass over the fact table —
    * one shuffle, Expand feeds both groupings.
    */
  def q_agg_groupingsets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("sum_base"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** TPC-H Q3-shaped: shipping-priority top-10 — segment-filtered
    * customers ⨝ orders ⨝ lineitem, revenue per order, top 10.
    * Catalyst pushes both filters into the scans; the two joins shuffle
    * on custkey/orderkey; `TakeOrderedAndProject` caps the result.
    */
  def q_tpch_q3ish(s: SparkSession, d: String): DataFrame =
    customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1995-09-01").cast("timestamp"))
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1995-03-01").cast("timestamp"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(expr("l_extendedprice * (1 - l_discount)")).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)

  /** TPC-H Q5-shaped: local-supplier volume — the full six-table join
    * graph (region→nation→{customer,supplier}→orders→lineitem) with the
    * customer and supplier constrained to the same nation, revenue per
    * nation. region/nation broadcast; the fact-side joins shuffle on
    * their keys.
    */
  def q_tpch_q5ish(s: SparkSession, d: String): DataFrame =
    region(s, d).filter(col("r_name") === "ASIA")
      .join(nation(s, d), col("n_regionkey") === col("r_regionkey"))
      .join(customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(orders(s, d), col("o_custkey") === col("c_custkey"))
      .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(supplier(s, d),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(expr("l_extendedprice * (1 - l_discount)")).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("n_name"))

  /** TPC-H Q1-shaped: the canonical pricing-summary full-scan aggregate —
    * one pass over the fact table, grouped by two low-cardinality flags,
    * four compound-expression sums plus averages and counts. Pure
    * scan → partial agg → 6-row final agg: at 100 TB this is bandwidth-
    * bound with near-zero shuffle. Products carry up to 6 decimals, so
    * the exact-DECIMAL accumulation uses scale 6 (no per-row rounding).
    */
  def q_tpch_q1ish(s: SparkSession, d: String): DataFrame = {
    // The disc/charge PRODUCTS are decimal-exact BY CONSTRUCTION: each
    // 2-decimal-valued factor is cast to decimal FIRST (boundary-safe —
    // the doubles are within ULPs of their decimal values), then
    // multiplied in exact decimal arithmetic and rounded once. Casting
    // the double product instead (the previous formulation) is
    // engine-divergent at a rounding boundary: Spark's double→decimal
    // goes through the double's SHORTEST string repr
    // (BigDecimal.valueOf), DuckDB rounds the exact binary value — at
    // sf1, 3 of 6M rows land on such a boundary and no epsilon fixes a
    // shortest-repr-vs-exact-binary disagreement. Exact decimal sums
    // are also partitioning/AQE-order-insensitive (the dsum contract).
    val ep = col("l_extendedprice").cast(DecimalType(12, 2))
    val disc1 = (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2))
    val tax1 = (lit(1.0) + col("l_tax")).cast(DecimalType(4, 2))
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        sum(round(ep * disc1, 4)).cast("double").as("sum_disc"),
        sum(round(ep * disc1 * tax1, 4)).cast("double").as("sum_charge"),
        round(dsum(col("l_quantity")) / count(lit(1)) + lit(1e-9), 4).as("avg_qty"),
        round(dsum(col("l_discount")) / count(lit(1)) + lit(1e-9), 4).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Higher-moment statistics (skewness / kurtosis) from exact integer
    * power sums: l_quantity is integral, so Σx..Σx⁴ accumulate exactly
    * as BIGINTs (order-insensitive, overflow-safe at any tested sf), and
    * the closing double arithmetic is written in the identical form in
    * the DuckDB oracle — bit-identical results without relying on the
    * engines' own skewness()/kurtosis() (whose bias corrections differ).
    * One partial+final aggregation pass, like any moment sketch at scale.
    */
  def q_agg_stats2(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("s1"),
        sum(x * x).as("s2"),
        sum(x * x * x).as("s3"),
        sum(x * x * x * x).as("s4"))
      .selectExpr(
        "l_returnflag", "n",
        "round(s1/n + 1e-9, 4) AS mean_qty",
        "round((s2/n - (s1/n)*(s1/n)) + 1e-9, 4) AS var_pop",
        "round((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)) / pow(s2/n - (s1/n)*(s1/n), 1.5) + 1e-9, 4) AS skew_pop",
        "round((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n) - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / pow(s2/n - (s1/n)*(s1/n), 2) - 3 + 1e-9, 4) AS kurt_pop")
      .orderBy("l_returnflag")
  }

  /** Boundary analytics (first_value / last_value / nth_value) with an
    * explicit full frame for last_value — under the default ANSI frame
    * (UNBOUNDED PRECEDING..CURRENT ROW) last_value is just the current
    * row, the classic window trap; nth_value keeps the default frame, so
    * it is NULL until the 2nd row arrives (identical in both engines).
    * Partitioned by o_custkey: many small groups — the scale-friendly
    * window shape (contrast the skewed-window pre-prune in
    * q_window_rank).
    */
  def q_window_firstlast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(wFull).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy("o_orderkey")
  }

  /** Sliding ROWS frame with both offsets (±3 moving average + window
    * min/max) — the smoothing shape time-series pipelines run. Bounded
    * frames stream in O(frame) memory per row; the exact-decimal sum
    * keeps the average bit-stable under any partitioning.
    */
  def q_window_moving(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-3, 3)
    orders(s, d)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double") /
          count(lit(1)).over(w)).as("moving_avg"),
        min(col("o_totalprice")).over(w).as("moving_min"),
        max(col("o_totalprice")).over(w).as("moving_max"))
      .orderBy("o_orderkey")
  }

  /** Nested STRUCT round-trip: build a struct column, nest it, extract
    * fields back out — the typed-record currency of multimodal metadata
    * (FIXTURES.md). Pure projection: codegen'd, shuffle-free.
    */
  def q_struct_funcs(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .withColumn("info", struct(col("p_brand").as("brand"), col("p_size").as("sz")))
      .withColumn("nested", struct(col("info").as("inner"), col("p_type").as("t")))
      .select(
        col("p_partkey"),
        col("info.brand").as("brand"),
        (col("info.sz") + 1).cast("long").as("sz_plus"),
        col("nested.inner.sz").cast("long").as("sz_inner"),
        col("nested.t").as("t"))
      .orderBy("p_partkey")

  /** Array functions II (sort/position/flatten/distinct/max over the
    * embedding prefix): rendered through DECIMAL(10,3) so element
    * string forms are identical across engines (double→string repr is
    * engine-specific), with the suite's +1e-9 tie nudge before
    * rounding. Arrays are scalarized with array_join — the driver's
    * pandas hash compare cannot hash list cells.
    */
  def q_array_funcs2(s: SparkSession, d: String): DataFrame = {
    val a = "transform(slice(cast(embedding as array<double>), 1, 8), x -> cast(round(x + 1e-9, 3) as decimal(10,3)))"
    embeddings(s, d)
      .selectExpr(
        "vec_id",
        s"array_join(transform(sort_array($a, false), e -> cast(e as string)), ',') AS sorted_desc",
        s"cast(array_position($a, element_at($a, 2)) as bigint) AS pos2",
        s"array_join(transform(flatten(array(slice($a, 1, 2), slice($a, 7, 2))), e -> cast(e as string)), ',') AS ends",
        s"cast(size(array_distinct(transform(slice(cast(embedding as array<double>), 1, 8), x -> cast(round(x + 1e-9, 1) as decimal(10,1))))) as bigint) AS ndist1",
        s"cast(array_max($a) as double) AS amax")
      .orderBy("vec_id")
  }

  /** Bitwise surface: scalar masks/shifts/xor (flag unpacking, hash
    * mixing) and the bit_and/bit_or/bit_xor aggregates (capability
    * masks across a group). All codegen'd integer ops; the aggregate is
    * one partial+final pass.
    */
  def q_bit_funcs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        bit_and(col("l_linenumber")).cast("long").as("mask_and"),
        bit_or(col("l_linenumber")).cast("long").as("mask_or"),
        bit_xor(col("l_linenumber")).cast("long").as("mask_xor"),
        bit_and(col("l_orderkey").bitwiseAND(lit(255L))).as("masked_and"),
        max(shiftleft(col("l_linenumber").cast("long"), 2)).as("max_shifted"),
        max(col("l_orderkey").bitwiseXOR(lit(42L))).as("max_xored"))
      .orderBy("l_returnflag")

  /** Content-hash surface (md5 / sha-256): the digests every
    * dedup/fingerprint/provenance pipeline leans on. Shuffle-free
    * projection.
    */
  def q_hash_funcs(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(
        col("c_custkey"),
        md5(col("c_name")).as("h_md5"),
        sha2(col("c_name"), 256).as("h_sha256"),
        substring(sha2(concat(col("c_name"), lit("|"), col("c_mktsegment")), 256), 1, 16)
          .as("h_composite"))
      .orderBy("c_custkey")

  /** Dirty-data hardening (`try_*` family): casts, division, and
    * timestamp parsing that yield NULL instead of failing the job — at
    * 100 TB a single malformed row must never kill a 10-hour run.
    * All codegen'd, shuffle-free.
    */
  def q_try_funcs(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(
        col("c_custkey"),
        expr("try_cast(c_name AS INT)").as("bad_cast"),          // non-numeric → NULL
        expr("try_cast(cast(c_custkey AS STRING) AS INT)").as("good_cast"),
        try_divide(col("c_acctbal"), (col("c_custkey") % 3).cast("double")).as("safe_div"),
        try_to_timestamp(col("c_mktsegment"), lit("yyyy-MM-dd")).as("bad_ts"),
        try_to_timestamp(lit("2024-01-15"), lit("yyyy-MM-dd")).as("good_ts"))
      .orderBy("c_custkey")

  /** Ordinal generator (posexplode): element + its position — the
    * UDTF-with-ordinality surface (frame indices, token positions).
    * Expand inside the scan stage, no shuffle.
    */
  def q_explode_pos(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"),
        posexplode(split(col("o_orderpriority"), "-")).as(Seq("pos", "val")))
      .select(col("o_orderkey"), col("pos").cast("long").as("pos"), col("val"))
      .orderBy("o_orderkey", "pos")

  /** Deterministic, reproducible sampling: keep a row iff a hash of its
    * key lands under a threshold (md5-prefix < '29' ≈ 41/256 ≈ 16%).
    * Key-consistent (same key always sampled together across tables and
    * runs), embarrassingly parallel, no shuffle — the 100 TB sampling
    * recipe. md5 rather than xxhash64 so DuckDB can verify exactly;
    * `Scale.hashSample` is the faster xxhash64 variant (OpsSpec).
    */
  def q_sample_hash(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "29")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** SYSTEMATIC sampling (survey statistics' third classic draw next to
    * Bernoulli/q_sample_hash and quota/q_sample_group): order the frame
    * by a deterministic content hash, take every k-th element — equal
    * inclusion probability 1/k with maximal between-selection spacing
    * (lower variance than Bernoulli on ordered frames), fully
    * reproducible and retry-stable. The global position comes from
    * [[Scale.globalSequence]] (range-partitioned sort + per-partition
    * offsets — never a single-partition window); the md5 order makes
    * the frame ordering airtight against any physical layout.
    */
  def q_sample_systematic(s: SparkSession, d: String): DataFrame = {
    val k = 10
    Scale.globalSequence(
        orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("h", md5(col("o_orderkey").cast("string"))),
        Seq(col("h"), col("o_orderkey")), "pos",
        bucketKey = Scale.hexKeyProxy(col("h")))
      .filter(pmod(col("pos"), lit(k)) === 0)
      .select(col("pos"), col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("pos")
  }

  /** Scalar-subquery shape: compare every row against a whole-table
    * aggregate. The aggregate reduces to ONE row, which is broadcast
    * back across the fact table — two passes over the data, no shuffle
    * of the fact side. The average is exact-decimal accumulated so the
    * threshold double is bit-identical to the oracle's.
    */
  def q_subquery_scalar(s: SparkSession, d: String): DataFrame = {
    val stats = orders(s, d).agg(davg(col("o_totalprice"), 2).as("avg_price"))
    orders(s, d)
      .crossJoin(broadcast(stats))
      .filter(col("o_totalprice") > col("avg_price") * 2)
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Correlated-subquery shape (TPC-H Q2/Q17 family): rows matching a
    * per-group extreme — "each nation's richest customer(s)". Written
    * as the DE-correlated plan Catalyst itself rewrites such subqueries
    * into: one grouped aggregate (tiny — one row per correlation key),
    * broadcast-joined back, equality filter. The fact side never
    * shuffles for the join; the oracle keeps the correlated-SQL form so
    * both phrasings are proven equivalent.
    */
  def q_subquery_corr(s: SparkSession, d: String): DataFrame = {
    val mx = customer(s, d).groupBy(col("c_nationkey").as("k"))
      .agg(max(col("c_acctbal")).as("max_bal"))
    customer(s, d)
      .join(broadcast(mx), col("c_nationkey") === col("k") && col("c_acctbal") === col("max_bal"))
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** TPC-H Q10-shaped: returned-item report — which customers returned
    * the most revenue in a quarter. Two fact-side shuffles (orders⨝
    * customer on custkey, lineitem⨝orders on orderkey) with both date
    * and returnflag filters pushed into the scans; nation broadcasts;
    * TakeOrderedAndProject caps the result at 20, so only 20 rows ever
    * reach the driver regardless of corpus size.
    */
  def q_tpch_q10ish(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_returnflag") === "R")
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(dsum(expr("l_extendedprice * (1 - l_discount)")).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q18-shaped: large-volume orders — HAVING over a grouped
    * fact aggregate, then the qualifying keys join BACK to the fact
    * dimension rows. The aggregate shrinks lineitem to one row per
    * order BEFORE any wide join (the filter-early shape that matters at
    * 100 TB: the HAVING survivors are a tiny fraction, and AQE turns
    * the join back into a broadcast at runtime).
    */
  def q_tpch_q18ish(s: SparkSession, d: String): DataFrame = {
    val big = lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity"), 2).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** The skew-salted join through the driver gate: result must equal the
    * plain equi-join (the oracle IS the plain join SQL). The big side
    * salts into 16 sub-keys; the small side replicates per salt — a hot
    * orderkey spreads over 16 reducers instead of melting one.
    */
  def q_join_salted(s: SparkSession, d: String): DataFrame = {
    val small = part(s, d).filter(col("p_size") <= 25)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    Scale.saltedJoin(lineitem(s, d), small, Seq("l_partkey"),
        bigSaltSrc = Seq(col("l_orderkey"), col("l_linenumber")))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
      .orderBy("p_brand")
  }

  /** The bloom-prefiltered join through the driver gate — WITHOUT any
    * caller-side bloom code: this is a plain equi-join, and
    * [[graft.plans.BloomJoinRule]] injects the
    * `bloom_might_contain(scalar-subquery(bloom_agg(dim keys)))`
    * prefilter onto the fact side automatically (the dim carries a
    * selective filter; the shuffle_merge hint pins the shuffle-join
    * path the bloom exists to prune, standing in for the at-scale case
    * where the dim exceeds the broadcast threshold). The exact join
    * scrubs bloom false positives, so the oracle is the plain join SQL.
    * BloomJoinRuleSpec asserts the rewrite fires; `Scale
    * .bloomPrefilterJoin` is the same injection, applied on request
    * and sized by the caller.
    */
  def q_join_bloom(s: SparkSession, d: String): DataFrame = {
    val dim = part(s, d).filter(col("p_size") <= 10).select(col("p_partkey"), col("p_brand"))
    lineitem(s, d).join(dim.hint("shuffle_merge"), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("sum_base"))
      .orderBy("p_brand")
  }

  /** Schema-evolution union (`unionByName` with missing columns): two
    * projections of different width merge by COLUMN NAME, absent
    * columns null-filled — the append path when a table gains columns
    * over time. No shuffle; a `src` tag keeps the gate order total.
    */
  def q_union_byname(s: SparkSession, d: String): DataFrame = {
    val a = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("src", lit("a"))
    val b = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("src", lit("b"))
    a.unionByName(b, allowMissingColumns = true)
      .orderBy("o_orderkey", "src")
  }

  /** The SQL-text entry point as a gated query: temp views + a
    * CTE/join/window `spark.sql` statement — the exact surface a SQL
    * user of the engine drives. Compiles to the same Catalyst plan as
    * the DataFrame formulation (SqlSpec proves equivalence on other
    * shapes).
    */
  def q_sql_surface(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("sql_lineitem")
    orders(s, d).createOrReplaceTempView("sql_orders")
    customer(s, d).createOrReplaceTempView("sql_customer")
    s.sql(
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM sql_lineitem JOIN sql_orders ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, revenue,
        |  CAST(rank() OVER (ORDER BY revenue DESC, c_custkey) AS BIGINT) AS rnk
        |FROM rev JOIN sql_customer ON o_custkey = c_custkey
        |ORDER BY rnk LIMIT 50""".stripMargin)
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match NULL keys — the semantic for joining on optional attributes
    * without a COALESCE sentinel. Still a hash-partitionable equi-join
    * (nulls form one key group; salt them if they're hot at scale).
    */
  def q_join_nullsafe(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
      .select(col("c_custkey"), nullif(col("c_nationkey"), lit(0)).as("ckey"))
    val n = nation(s, d)
      .select(nullif(col("n_nationkey"), lit(0)).as("nkey"), col("n_name"))
    c.join(n, col("ckey") <=> col("nkey"))
      .select(col("c_custkey"), col("ckey").cast("long").as("ckey"), col("n_name"))
      .orderBy("c_custkey")
  }

  /** Explicit cross join (tiny × tiny: every region-nation combination).
    * Cross joins are only ever sane when at least one side is
    * broadcast-small; Catalyst plans BroadcastNestedLoopJoin here.
    */
  def q_cross(s: SparkSession, d: String): DataFrame =
    region(s, d).select(col("r_regionkey"), col("r_name"))
      .crossJoin(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))))
      .orderBy("r_regionkey", "n_nationkey")

  /** Upsert (merge) emulation over immutable storage: updates override
    * base rows on the key (anti-join keeps unmatched base rows, union
    * adds all updates). The parquet-native MERGE INTO pattern — one
    * shuffle on the key.
    */
  def q_upsert(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), lit("base").as("src"))
    // synthetic update set: every 10th order gets a repriced row
    val updates = orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"),
        lit("update").as("src"))
    Scale.upsert(base, updates, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** Interval PRORATION — the allocation op the interval family
    * ([[q_interval_union]] coverage, [[q_twap]] weighting) doesn't
    * cover: each user's activity span [first event, last event] carries
    * that user's total purchase value, and the value is prorated across
    * the UTC calendar days the span touches by time-in-day share — the
    * billing/revenue-recognition split ("a session crossing midnight
    * books to both days"). All integer µs arithmetic: per-day overlap =
    * min(span_end, day_end) − max(span_start, day_start); each user-day
    * share rounds to an integer ten-thousandth from identical inputs in
    * both engines and integer-sums to day grain. The per-user value is
    * summed as DECIMAL(18,4) (house discipline, as [[q_cohort_ltv]]) so
    * the rounding input is bit-identical in both engines — a DOUBLE sum
    * here is order-dependent and its ULP jitter is the same magnitude
    * as the +1e-9 nudge. Day fanout per user is
    * bounded by the span's day count (`sequence` explode — never a
    * cross join against the calendar).
    */
  def q_interval_prorate(s: SparkSession, d: String): DataFrame = {
    val spans = events(s, d)
      .groupBy("user_id")
      .agg(min("ts_ns").as("a_ns"), max("ts_ns").as("b_ns"),
        sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0).cast(DecimalType(18, 4))).as("value_dec"))
      .filter(col("b_ns") > col("a_ns"))
      .select(col("user_id"), col("value_dec").cast("double").as("value"),
        expr("a_ns div 1000").as("a_us"), expr("b_ns div 1000").as("b_us"))
    val dayUs = 86400000000L
    spans
      .withColumn("day", explode(sequence(
        expr(s"a_us div $dayUs"), expr(s"b_us div $dayUs"))))
      .withColumn("overlap_us",
        least(col("b_us"), (col("day") + 1) * dayUs)
          - greatest(col("a_us"), col("day") * dayUs))
      .filter(col("overlap_us") > 0)
      .withColumn("share_4",
        round(col("value") * col("overlap_us").cast("double")
            / (col("b_us") - col("a_us")).cast("double") * 10000 + lit(1e-9), 0)
          .cast("long"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_user_days"), sum("share_4").as("revenue_4"))
      .orderBy("day")
  }

  /** Key-skew diagnostic profile — the pre-flight a 100 TB job runs
    * BEFORE keying a shuffle on a column: per event type, the key
    * cardinality, the heaviest key's share (ppm, exact integer
    * cross-multiplication), and the p99/p50 key-frequency percentiles —
    * the numbers that decide between a plain shuffle, salting, and
    * AQE skew splits. Two aggregations: key-grain counts (map-side
    * combined), then a type-grain rollup over the key-count relation.
    */
  def q_key_skew(s: SparkSession, d: String): DataFrame = {
    val keyCounts = events(s, d)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
    val pcts = percentile(col("cnt"), lit(Array(0.5, 0.99)))
    keyCounts.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_keys"),
        sum("cnt").as("n_rows"),
        max("cnt").as("max_key_rows"),
        round(element_at(pcts, 1), 4).as("p50_key_rows"),
        round(element_at(pcts, 2), 4).as("p99_key_rows"))
      .withColumn("max_share_ppm",
        expr("max_key_rows * 1000000 div n_rows"))
      .orderBy("event_type")
  }

  /** CDC changelog apply — the Debezium/stream-ingest pattern
    * [[q_upsert]] does NOT cover: a log of keyed I/U/D operations with
    * sequence numbers folds onto a base table, LAST-writer-wins per key
    * (op order matters — an update after a delete re-inserts; a delete
    * after ten updates removes). One rank-filter window over the
    * changelog (key-partitioned, high cardinality) picks each key's
    * final op, then a single full-outer join applies it: base rows
    * without log entries survive, final 'D' drops the key even if it
    * was never in the base, final I/U wins over the base value. The
    * changelog is synthesized from events (op by modulo, seq = event
    * time) so the oracle replays it exactly.
    */
  def q_cdc_apply(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("value"))
    val log = events(s, d).select(
      (col("event_id") % 4000).as("key"),
      when(col("event_id") % 11 === 0, "D")
        .when(col("event_id") % 11 < 6, "U").otherwise("I").as("op"),
      col("value").as("new_value"),
      col("ts_ns").as("seq"), col("event_id"))
    val w = Window.partitionBy("key")
      .orderBy(col("seq").desc, col("event_id").desc)
    val lastOp = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "seq", "event_id")
    base.join(lastOp, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        when(col("op").isNotNull, col("new_value")).otherwise(col("value"))
          .as("value"),
        coalesce(col("op"), lit("base")).as("last_op"))
      .orderBy("key")
  }

  /** Funnel analysis over the events stream: users who signed up, then
    * clicked AFTER signup, then purchased AFTER that click. One
    * aggregation pass: conditional min-timestamps per user, then stage
    * predicates.
    */
  def q_funnel(s: SparkSession, d: String): DataFrame = {
    // µs-truncated times on both sides: DuckDB timestamps are µs, so
    // sub-µs ordering differences must not decide stage membership
    val ev = events(s, d).withColumn("tsu", expr("ts_ns div 1000"))
    val stages = ev
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("tsu"))).as("t_signup"))
    val postSignupClick = ev.as("e")
      .join(stages.filter(col("t_signup").isNotNull).as("st"), "user_id")
      .filter(col("e.event_type") === "click" && col("e.tsu") > col("st.t_signup"))
      .groupBy("user_id").agg(min(col("e.tsu")).as("t_click"))
    val purchased = ev.as("e2")
      .join(postSignupClick.as("pc"), "user_id")
      .filter(col("e2.event_type") === "purchase" && col("e2.tsu") > col("pc.t_click"))
      .select("user_id").distinct()
    stages.filter(col("t_signup").isNotNull)
      .join(postSignupClick.select(col("user_id"), lit(true).as("clicked")), Seq("user_id"), "left")
      .join(purchased.select(col("user_id"), lit(true).as("converted")), Seq("user_id"), "left")
      .agg(
        count(lit(1)).as("n_signup"),
        count(col("clicked")).as("n_click_after"),
        count(col("converted")).as("n_purchase_after"))
  }

  /** Weekly retention cohorts: users grouped by first-seen week × weeks
    * since, counting distinct active users. Two shuffles (first-seen
    * agg, cohort agg) — the standard formulation.
    */
  def q_retention(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("week", expr("(ts_ns div 1000) div 604800000000"))
    val firstSeen = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    ev.join(firstSeen, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy("cohort_week", "weeks_since")
  }

  /** Star join through two dimension hops (customer→nation→region) with
    * explicit `broadcast()` hints: the fact side streams, each dim ships
    * once to every executor — no shuffle of the fact table for the
    * joins, only for the final aggregation.
    */
  def q_join_dims(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), 2).as("revenue"))
      .orderBy("r_name")

  /** Calendar gap-fill: per-day order counts over a DENSE day axis built
    * with `sequence` + `explode` — days with no orders appear as zero
    * rows. The generated axis is tiny (one row per day) and the join to
    * the daily aggregate is a broadcast.
    */
  def q_time_series(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).withColumn("day", to_date(col("o_orderdate")))
    val bounds = o.agg(min("day").as("lo"), max("day").as("hi"))
    val axis = bounds.select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val daily = o.groupBy("day").agg(count(lit(1)).as("n"))
    axis.join(daily, Seq("day"), "left")
      .select(col("day").cast("timestamp").as("day"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("day")
  }

  /** Null handling: left-join misses → na.fill defaults + an explicit
    * null-bucket flag (`DataFrameNaFunctions` surface).
    */
  def q_na_fill(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_spend")),
        col("c_custkey") === col("o_custkey"), "left")
      .withColumn("has_orders", col("n_orders").isNotNull)
      .na.fill(Map("n_orders" -> 0L, "max_spend" -> 0.0))
      .select("c_custkey", "n_orders", "max_spend", "has_orders")
      .orderBy("c_custkey")

  /** Statistical aggregates (one-pass co-moment computation, partial+final
    * like any hash agg). Rounded in both engines — co-moment accumulation
    * is float-order-sensitive at the 1e-12 level.
    */
  def q_agg_stats(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        round(median(col("l_quantity")), 4).as("med_qty"))
      .orderBy("l_returnflag")

  /** Fixed-width histogram: integer bucketing then count — the two-pass
    * (min/max then bucket) variant at scale is the same shape with a
    * first tiny agg.
    */
  def q_agg_histogram(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice"), 2).as("bucket_total"))
      .orderBy("bucket")

  /** Exact interpolated percentiles (p25/p50/p75) per group. */
  def q_agg_percentile(s: SparkSession, d: String): DataFrame = {
    val pcts = percentile(col("o_totalprice"), lit(Array(0.25, 0.5, 0.75)))
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        round(element_at(pcts, 1), 4).as("p25"),
        round(element_at(pcts, 2), 4).as("p50"),
        round(element_at(pcts, 3), 4).as("p75"))
      .orderBy("o_orderpriority")
  }

  /** Array-building aggregates; sorted so the result is deterministic. */
  def q_agg_collect(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_totalprice") > 450000)
      .groupBy("o_orderpriority")
      .agg(
        // arrays are sorted for determinism, then surfaced as joined
        // strings: the driver's pandas hash-compare can't hash
        // list-typed cells (round-1 gate errors), and a canonical CSV
        // rendering is exactly as strong a check.
        array_join(
          transform(array_sort(collect_list(col("o_orderkey"))), _.cast("string")),
          ",").as("big_orders"),
        array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  // ---- window functions ----------------------------------------------

  /** Top-5 per l_returnflag with rank functions. l_returnflag has ~3
    * distinct values, so a direct `Window.partitionBy(l_returnflag)`
    * funnels the whole fact table through 3 tasks — the classic skewed
    * window. Instead, the bounded top-k `Aggregator` (Udafs.TopKByPrice)
    * reduces every map partition to ≤5 rows per group BEFORE the shuffle
    * — no shuffle or sort of the fact table at all — and the real rank
    * window runs over the ≤ groups·5 survivors. Result is identical to
    * the direct plan (the order key is a strict total order).
    */
  def q_window_rank(s: SparkSession, d: String): DataFrame = {
    val order = Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy("l_returnflag").orderBy(order: _*)
    val topk = udaf(new Udafs.TopKByPrice(5))
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(topk(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")).as("top"))
      .select(col("l_returnflag"), explode(col("top")).as("t"))
      .select(
        col("l_returnflag"),
        col("t.orderkey").as("l_orderkey"),
        col("t.linenumber").as("l_linenumber"),
        col("t.price").as("l_extendedprice"))
      .select(
        col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"))
      .orderBy("l_returnflag", "rn")
  }

  def q_window_lag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    events(s, d)
      .select(
        col("event_id"), col("user_id"), col("value"),
        lag("value", 1).over(w).as("prev_value"),
        lead("value", 1).over(w).as("next_value"),
        first("value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("fval"))
      .orderBy("event_id")
  }

  /** RANGE frame (value-based, not row-based): for each order, how many
    * orders of the same priority fall within ±10000 of its price, and
    * their price sum — peers enter the frame by VALUE distance.
    */
  def q_window_range_frame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"))
      .rangeBetween(-10000L, 10000L)
    orders(s, d)
      .select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        count(lit(1)).over(w).as("n_near"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double").as("near_sum"))
      .orderBy("o_orderkey")
  }

  /** Distribution window functions: quartile bucket + percentile position
    * per partition.
    */
  def q_window_ntile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"), col("o_orderkey"))
    orders(s, d)
      .select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        // +1e-9 epsilon (the engine-parity convention, see
        // q_quality_score): percent_rank/cume_dist are rank/(n±1)
        // rationals that land within an ulp of x.xxxxxx5 at large n —
        // first observed at the sf10 sweep (n≈3M per priority), where
        // DuckDB's multiply-then-round flipped one row's 6th decimal
        round((percent_rank().over(w) + lit(1e-9)), 6).as("pct_rank"),
        round((cume_dist().over(w) + lit(1e-9)), 6).as("cdist"))
      .orderBy("o_orderkey")
  }

  /** Running (prefix) sum per customer. The money column is accumulated
    * as integer CENTS (a primitive long — ~3× faster in WindowExec than
    * Decimal boxing) and divided back at the end; bit-identical to the
    * oracle's exact-DECIMAL prefix sums because both compute
    * round_to_double(exact_integer / 100).
    */
  def q_window_running(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .select(
        col("o_custkey"), col("o_orderkey"),
        (sum(col("cents")).over(w).cast("double") / 100.0).as("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---- sort / limit / top-k ------------------------------------------

  /** Global top-N: Spark plans TakeOrderedAndProject — each partition
    * keeps N rows, single reduce; no full sort at any scale.
    */
  def q_sort_limit(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  def q_topk_group(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  // ---- set operations -------------------------------------------------

  private def custNations(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_nationkey").as("nk"))
  private def suppNations(s: SparkSession, d: String): DataFrame =
    supplier(s, d).select(col("s_nationkey").as("nk"))

  def q_union(s: SparkSession, d: String): DataFrame =
    custNations(s, d).union(suppNations(s, d)).distinct().orderBy("nk")

  def q_union_all(s: SparkSession, d: String): DataFrame =
    custNations(s, d).unionByName(suppNations(s, d))
      .groupBy("nk").agg(count(lit(1)).as("n")).orderBy("nk")

  def q_intersect(s: SparkSession, d: String): DataFrame =
    custNations(s, d).intersect(suppNations(s, d)).orderBy("nk")

  def q_except(s: SparkSession, d: String): DataFrame =
    custNations(s, d).except(suppNations(s, d)).orderBy("nk")

  // ---- scalar function families --------------------------------------

  def q_string_funcs(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        lower(col("p_brand")).as("low_brand"),
        substring(col("p_name"), 1, 8).as("pre8"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        trim(col("p_name")).as("trimmed"),
        regexp_replace(col("p_type"), " ", "_").as("type_us"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"))
      .orderBy("p_partkey")

  /** Pattern predicates: LIKE / NOT LIKE / regexp (rlike) as both filter
    * and projected flags.
    */
  def q_filter_like(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .filter(col("p_type").like("%plated%") || col("p_name").rlike("^[ab]"))
      .select(
        col("p_partkey"),
        col("p_name").like("a%").as("starts_a"),
        col("p_type").like("%steel%").as("has_steel"),
        col("p_name").rlike("[0-9]").as("has_digit"))
      .orderBy("p_partkey")

  /** Second string family: padding, reverse, repeat, split_part, instr,
    * translate.
    */
  def q_string_funcs2(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("lp"),
        rpad(col("p_brand"), 12, "-").as("rp"),
        reverse(col("p_name")).as("rev"),
        repeat(col("p_brand"), 2).as("rep"),
        expr("split_part(p_type, ' ', 1)").as("type_head"),
        instr(col("p_name"), "a").cast("long").as("a_pos"),
        translate(col("p_brand"), "#", "_").as("tr"))
      .orderBy("p_partkey")

  /** MapType surface: parse the JSON props into a typed map, then
    * map_keys / element_at / map_contains_key.
    */
  def q_map_funcs(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("m", from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType)))
      .select(
        col("event_id"),
        // sorted + joined: list cells break the driver's pandas hash
        array_join(array_sort(map_keys(col("m"))), ",").as("ks"),
        element_at(col("m"), "k").as("kval"),
        map_contains_key(col("m"), "k").as("has_k"))
      .orderBy("event_id")

  def q_date_funcs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dy"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("1996-01-01").cast("date"), col("o_orderdate")).cast("long").as("days_to_96"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
      .orderBy("o_orderkey")

  def q_math_funcs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice").cast(DecimalType(18, 2)), 1).cast("double").as("r1"),
        abs(col("l_discount") - 0.05).as("ad"),
        floor(col("l_quantity")).as("fl"),
        ceil(col("l_quantity") / 7.0).as("ce"),
        round(sqrt(col("l_extendedprice")), 6).as("sq"),
        round(log(col("l_extendedprice") + 1), 6).as("lg"),
        round(pow(col("l_discount"), 2), 8).as("p2"),
        (col("l_quantity").cast("long") % 7).as("md"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Second date family: month arithmetic (end-clamped), last_day,
    * ISO week, day-of-week, explicit day adds.
    */
  def q_date_funcs2(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        add_months(col("o_orderdate"), 3).cast("date").as("plus3m"),
        last_day(col("o_orderdate")).as("month_end"),
        weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"), // 1 = Sunday
        date_add(col("o_orderdate").cast("date"), 45).as("plus45d"))
      .orderBy("o_orderkey")

  def q_cond_funcs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status2"))
      .orderBy("o_orderkey")

  def q_array_funcs(s: SparkSession, d: String): DataFrame = {
    val emb = col("embedding").cast("array<double>")
    embeddings(s, d)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        emb.getItem(0).as("first_val"),
        // + 0.0 normalizes a signed-zero rounded sum: a near-zero vsum
        // can round to -0.0 in one engine and +0.0 in the other (equal
        // by IEEE compare, different by hash — the q_dsir_weights
        // cross-engine finding; surfaced here by the sf1 jittered
        // embeddings). Applied in BOTH engines.
        (round(aggregate(emb, lit(0.0), (acc, x) => acc + x), 4) + lit(0.0)).as("vsum"),
        round(array_max(emb), 6).as("vmax"),
        round(aggregate(emb, lit(0.0), (acc, x) => acc + x * x), 4).as("sq_sum"))
      .orderBy("vec_id")
  }

  def q_json_funcs(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"))
      .orderBy("event_type")

  /** Unpivot / melt: wide per-metric columns → long (metric, value)
    * rows. Pure narrow transform (Expand) — no shuffle until the
    * consumer aggregates.
    */
  def q_unpivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      // (l_orderkey, l_linenumber) is not unique — value completes a total order
      .orderBy("l_orderkey", "l_linenumber", "metric", "value")

  /** Generator / UDTF surface: explode a split column into rows, then
    * re-aggregate (word frequencies). Generate runs inside codegen; the
    * only shuffle is the groupBy on the exploded key.
    */
  def q_explode(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("word")

  /** Pivot (conditional aggregation): per-day event-type counts. */
  def q_pivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = events(s, d)
      .withColumn("day_epoch", floor(col("ts").cast("long") / 86400) * 86400)
      .groupBy("day_epoch")
      .pivot("event_type", types)
      .count()
    types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy("day_epoch")
  }

  // ---- scalar families II: variant / lateral / interval / regexp / url

  /** VARIANT (Spark 4 semi-structured currency): `parse_json` → open
    * VARIANT value → `variant_get` typed path extraction. Unlike
    * `from_json` there is no up-front schema — the shredded binary
    * encoding carries its own types, so heterogeneous event payloads
    * survive schema drift without re-reading. Columnar + codegen'd, so
    * the scan→extract path stays in one WholeStageCodegen span.
    */
  def q_variant_funcs(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"), expr("parse_json(props)").as("v"))
      .select(
        col("event_id"),
        expr("variant_get(v, '$.k', 'long')").as("k_val"),
        expr("coalesce(is_variant_null(variant_get(v, '$.missing')), false)")
          .as("missing_is_null"))
      .withColumn("k_bucket", col("k_val") % 10)
      .orderBy("event_id")

  /** Correlated LATERAL subquery — per-nation top-2 customers by
    * balance. Catalyst decorrelates the ORDER BY+LIMIT lateral into a
    * ranked window join (no per-row re-execution, unlike the reference's
    * eager loops), so it scales as one shuffle on the correlation key.
    */
  def q_lateral_topn(s: SparkSession, d: String): DataFrame = {
    nation(s, d).createOrReplaceTempView("lat_nation")
    customer(s, d).createOrReplaceTempView("lat_customer")
    s.sql("""SELECT n_name, c_name, c_acctbal
             FROM lat_nation,
             LATERAL (SELECT c_name, c_acctbal FROM lat_customer
                      WHERE c_nationkey = n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
             ORDER BY n_name, c_name, c_acctbal""")
  }

  /** Calendar-interval arithmetic on timestamps: `make_interval` with
    * per-row day/hour offsets (column-driven, not literal intervals).
    */
  def q_interval_funcs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .withColumn(
        "ship_plus_days",
        col("l_shipdate") + expr("make_interval(0, 0, 0, l_linenumber, 0, 0, 0)"))
      .withColumn(
        "ship_minus_hours",
        col("l_shipdate") - expr("make_interval(0, 0, 0, 0, CAST(l_orderkey % 24 AS INT), 0, 0)"))
      .withColumn("day_gap", datediff(col("ship_plus_days"), col("l_shipdate")).cast("long"))
      .orderBy("l_orderkey", "l_linenumber", "l_shipdate")

  /** Regexp family II: match counting (`regexp_count`), first-match
    * extraction (`regexp_substr`), all-match extraction
    * (`regexp_extract_all`, scalarized via array_join for the gate).
    * All codegen'd string expressions — shuffle-free scan→project.
    */
  def q_regexp_funcs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit("s[a-z]+")).cast("long").as("n_s"),
        coalesce(regexp_substr(col("text"), lit("s[a-z]+")), lit("")).as("first_s"),
        array_join(regexp_extract_all(col("text"), lit("s[a-z]+"), lit(0)), ",").as("all_s"))
      .orderBy("doc_id")

  /** URL parsing/encoding — the web-scrape ingest currency: host /
    * path / query-param extraction with `parse_url`, form-encoding with
    * `url_encode`. URLs are constructed from table columns so the
    * oracle can verify each extracted part independently.
    */
  def q_url_funcs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn(
        "url",
        concat(
          lit("https://"), col("source"), lit(".example.org/docs/"),
          col("doc_id"), lit("?lang="), col("lang")))
      .select(
        col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("lang")).as("qlang"),
        url_encode(substring(col("text"), 1, 20)).as("enc20"))
      .orderBy("doc_id")

  /** Batch gap-based sessionization — the window-function formulation
    * (vs the streaming `session_window` operator, `q_stream_session`):
    * a 30-minute silence starts a new session; session ids are the
    * running count of session-starts per user (one shuffle on user_id,
    * two window passes over it). Emits per-session stats. µs-quantized
    * ts per the oracle precision contract.
    */
  def q_sessionize_batch(s: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(wRun))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"), max("ts_us").as("end_us"),
        dsum(col("value"), 4).as("value_sum"))
      .orderBy("user_id", "session_id")
  }

  /** Event-type transition counts (the Markov-chain profile of user
    * behavior): consecutive event pairs per user via one lag window,
    * then a map-side-combined count per (from, to) with the row share.
    * One shuffle on user_id + one tiny agg on the pair.
    */
  def q_event_transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val pairs = events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
    val total = pairs.agg(count(lit(1)).as("n_total"))
    pairs.groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_total") + lit(1e-9), 6).as("share"))
      .orderBy("from_type", "to_type")
  }

  /** Data-quality validation report (the expectations gate a pipeline
    * runs before publishing a table): every rule is a conditional
    * count folded into ONE scan + ONE aggregation — adding a rule adds
    * a column, not a pass — then unpivoted to a (rule, violations,
    * pass) report. NULL predicate results count as non-violations
    * (rules about nullability say so explicitly), matching SQL CASE
    * semantics.
    */
  def q_dq_report(s: SparkSession, d: String): DataFrame = {
    def viol(bad: Column): Column = sum(when(bad, 1L).otherwise(0L))
    val agg = lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      viol(!col("l_quantity").between(1, 50)).as("quantity_range"),
      viol(!col("l_discount").between(0, 0.1)).as("discount_range"),
      viol(col("l_extendedprice") <= 0).as("price_positive"),
      viol(!col("l_returnflag").isin("A", "N", "R")).as("returnflag_domain"),
      viol(col("l_shipdate").isNull).as("shipdate_not_null"))
    agg.select(col("n_rows"), expr(
      """stack(5,
        |  'discount_range', discount_range,
        |  'price_positive', price_positive,
        |  'quantity_range', quantity_range,
        |  'returnflag_domain', returnflag_domain,
        |  'shipdate_not_null', shipdate_not_null) AS (rule, n_violations)""".stripMargin))
      .select(col("rule"), col("n_violations"), col("n_rows"),
        (col("n_violations") === 0).as("pass"))
      .orderBy("rule")
  }

  /** SCD2 dimension build: turn a change log (events = status changes
    * per user) into a type-2 slowly-changing dimension — one validity
    * interval per status RUN: consecutive identical statuses collapse
    * (lag), each surviving change is valid until the next one (lead),
    * the open interval is the current row. Two window passes over ONE
    * shuffle on the entity key — the standard warehouse pattern, linear
    * at any scale. Total order inside a key is (ts_us, event_id), so
    * equal-timestamp changes resolve deterministically; timestamps are
    * µs-quantized on BOTH sides because the DuckDB oracle reads the ns
    * parquet at µs (the asof-join parity contract).
    */
  def q_scd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type").as("status"))
      .withColumn("prev", lag("status", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("status"))
      .withColumn("valid_to_us", lead("ts_us", 1).over(w))
      .select(
        col("user_id"), col("event_id").as("change_id"), col("status"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "valid_from_us", "change_id")
  }

  /** Contingency table via `DataFrameStatFunctions.crosstab` — the
    * pair-frequency profile (distributed conditional count under the
    * hood; one shuffle on the row key).
    *
    * CARDINALITY BOUND: crosstab pivots each distinct value of the
    * SECOND column into a driver-side result COLUMN, so it is only safe
    * when that column is categorical (≲ 1000 distinct values — here
    * `l_linestatus` has 2). Pointing it at a high-cardinality key at
    * 100 TB would materialize millions of columns on the driver;
    * [[crosstabChecked]] is the guarded entry point that fails fast
    * instead.
    */
  def q_stat_crosstab(s: SparkSession, d: String): DataFrame =
    crosstabChecked(lineitem(s, d), "l_returnflag", "l_linestatus")
      .orderBy("l_returnflag_l_linestatus")

  /** [[q_stat_crosstab]]'s guard: refuses to pivot a second column whose
    * distinct count exceeds `maxPivotCols`. The pre-count is one cheap
    * partial+final aggregation — at any scale it is O(distinct) memory —
    * versus the unbounded driver-side column blowup it prevents.
    */
  def crosstabChecked(df: DataFrame, rowCol: String, pivotCol: String,
                      maxPivotCols: Int = 1000): DataFrame = {
    val n = df.agg(countDistinct(col(pivotCol))).head().getLong(0)
    require(n <= maxPivotCols,
      s"crosstab pivot column '$pivotCol' has $n distinct values (> $maxPivotCols): " +
        "each becomes a driver-side result column — use groupBy(row, pivot).count() instead")
    df.stat.crosstab(rowCol, pivotCol)
  }

  /** Boolean aggregates (bool_and/bool_or + every/some aliases) —
    * partial+final combinable, so they stay map-side-combined at scale.
    */
  def q_agg_bool(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        bool_and(col("l_quantity") > 0).as("all_pos"),
        bool_or(col("l_discount") > 0.05).as("any_disc"),
        every(col("l_tax") >= lit(0.0)).as("no_neg_tax"),
        some(col("l_quantity") > 49).as("any_big"))
      .orderBy("l_returnflag")

  /** Apache DataSketches HLL: `hll_sketch_agg` builds a mergeable
    * sketch (storable, re-aggregatable across partitions/days — the
    * 100 TB incremental-rollup story), `hll_sketch_estimate` reads it.
    * Exact distinct alongside for the spec's error-bound assertion.
    * No oracle: the estimate is engine-specific (rows-only gate).
    */
  def q_agg_hll(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy("event_type")

  /** Exact distributed distinct counting via bitmaps (the OLAP bitmap
    * trick): bucket each value (`bitmap_bucket_number`), OR the bit
    * positions into one bitmap per (group, bucket), count bits, sum per
    * group. The shuffle carries fixed-size bitmap buffers instead of
    * raw distinct values — mergeable and storable, so exact distinct
    * rollups can be maintained incrementally (the HLL query's exact
    * sibling). Oracle: plain COUNT(DISTINCT).
    */
  def q_agg_bitmap(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy("event_type")

  /** Variable-width histogram (`histogram_numeric`): the adaptive
    * bucketing aggregate (Greenwald-Khanna-style centroids) — the
    * approximate sibling of `q_agg_histogram`'s fixed-width buckets.
    * Centroid placement is engine-specific → rows-only gate; OpsSpec
    * asserts bucket count and that weights sum to the row count.
    */
  def q_agg_histogram2(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .agg(expr("histogram_numeric(l_extendedprice, 8)").as("h"))
      .select(posexplode(col("h")).as(Seq("bucket", "c")))
      .select(
        col("bucket").cast("long").as("bucket"),
        round(col("c.x"), 2).as("x"),
        col("c.y").cast("long").as("weight"))
      .orderBy("bucket")

  /** Date functions III: render patterns (`date_format`), quarter
    * extraction, month truncation — the report-bucketing family.
    */
  def q_date_funcs3(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("full_s"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
      .orderBy("o_orderkey")

  /** Math functions II: trig (sin/cos/atan2), alternate-base logs,
    * cube root, sign, small-int factorial. Transcendentals are rounded
    * (libm vs java.lang.Math differ in final ULPs).
    */
  def q_math_funcs2(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        round(sin(col("p_retailprice") / 1000.0) + lit(1e-9), 6).as("sin_v"),
        round(cos(col("p_retailprice") / 1000.0) + lit(1e-9), 6).as("cos_v"),
        round(atan2(col("p_size").cast("double"), col("p_retailprice") / 100.0) + lit(1e-9), 6)
          .as("at2"),
        round(log2(col("p_size")) + lit(1e-9), 6).as("lg2"),
        round(cbrt(col("p_retailprice")) + lit(1e-9), 6).as("cbr"),
        signum(col("p_retailprice") - 1000.0).cast("long").as("sgn"),
        factorial(col("p_size") % 10).as("fact"))
      .orderBy("p_partkey")

  /** String functions III: character codes (ascii/chr), prefix/suffix
    * slices (left/right), substring position (instr ≡ strpos).
    */
  def q_string_funcs3(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        ascii(substring(col("p_name"), 1, 1)).cast("long").as("first_code"),
        expr("char(65 + p_partkey % 26)").as("bucket_chr"),
        expr("left(p_name, 5)").as("pre5"),
        expr("right(p_name, 4)").as("suf4"),
        instr(col("p_name"), "a").cast("long").as("a_pos"))
      .orderBy("p_partkey")

  /** JSON functions II: multi-path extraction (`json_tuple`, the
    * UDTF-style sibling of get_json_object), static schema inference
    * (`schema_of_json`), and struct→JSON rendering (`to_json`).
    */
  def q_json_funcs2(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"), json_tuple(col("props"), "k").as("k_str"))
      .select(
        col("event_id"),
        col("k_str").cast("long").as("k_val"),
        expr("schema_of_json('{\"k\": 1}')").as("schema_s"),
        to_json(struct(col("event_id"))).as("tj"))
      .orderBy("event_id")

  /** LOCF imputation (last-observation-carried-forward): forward-fill
    * sparse observations over a dense per-user day series —
    * `last(col, ignoreNulls)` over an unbounded-preceding frame. The
    * canonical gap-filling step of feature/time-series pipelines; one
    * shuffle on the partition key.
    */
  def q_impute_locf(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(max(when(col("event_type") === "purchase", col("value"))).as("pval"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("v_locf", last(col("pval"), ignoreNulls = true).over(w))
      .orderBy("user_id", "day")
  }

  /** Trailing event-time window (RANGE + INTERVAL frame): per-user
    * rolling count/sum over the last hour of EVENT TIME, not row
    * counts — the sliding-metric shape where rows are irregularly
    * spaced. Peers at identical timestamps are included identically in
    * both engines (RANGE frame semantics).
    */
  def q_window_trailing(s: SparkSession, d: String): DataFrame = {
    events(s, d).createOrReplaceTempView("trail_events")
    s.sql(
      """SELECT event_id, user_id, ts,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS v_1h
        |FROM trail_events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)
  }

  /** Collation-aware grouping (Spark 4 collations): case-insensitive
    * UTF8_LCASE comparison folds 'PROMO' and 'promo' into one group
    * WITHOUT rewriting the data through lower() — the comparison
    * semantics live in the type. The emitted label is min(lower(k))
    * because the collated group's representative is partition-order
    * dependent; the count is the collation's observable effect.
    */
  def q_collation(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .withColumn("k",
        when(col("p_partkey") % 2 === 0, upper(col("p_type")))
          .otherwise(lower(col("p_type"))))
      .groupBy(expr("collate(k, 'UTF8_LCASE')").as("ck"))
      .agg(count(lit(1)).as("n"), min(lower(col("k"))).as("label"))
      .select(col("label"), col("n"))
      .orderBy("label")

  /** Timezone conversion (`convert_timezone`/`to_utc_timestamp`): the
    * event-time localization step. Asia/Kolkata (+05:30, no DST) keeps
    * the closed form exact in both engines.
    */
  def q_timezone_funcs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        expr("convert_timezone('UTC', 'Asia/Kolkata', o_orderdate)").as("ist"),
        hour(expr("convert_timezone('UTC', 'Asia/Kolkata', o_orderdate)")).cast("long")
          .as("ist_hour"),
        to_utc_timestamp(
          expr("convert_timezone('UTC', 'Asia/Kolkata', o_orderdate)"), "Asia/Kolkata")
          .as("utc_again"))
      .orderBy("o_orderkey")

  /** Linear-regression aggregates (`regr_slope`/`regr_intercept`/
    * `regr_r2`/`regr_count`): the trend-fit family — one partial+final
    * pass, no driver math. Rounded: the engines' incremental moment
    * algorithms differ in low-order float bits.
    */
  def q_agg_regr(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("regr_slope(l_extendedprice, l_quantity)") + lit(1e-9), 6).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)") + lit(1e-9), 6).as("icept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)") + lit(1e-9), 6).as("r2"),
        expr("regr_count(l_extendedprice, l_quantity)").as("n"))
      .orderBy("l_returnflag")

  /** Pivot II: multiple aggregates per pivoted value (count + exact-
    * decimal sum per event_type column) — one Expand+aggregate pass,
    * no per-column scans.
    */
  def q_pivot2(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "purchase")
    val p = events(s, d)
      .filter(col("event_type").isin(types: _*))
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("v"))
    types.foldLeft(p) { (df, t) =>
      df.withColumn(s"${t}_n", coalesce(col(s"${t}_n"), lit(0L)))
        .withColumn(s"${t}_v", coalesce(col(s"${t}_v"), lit(0.0)))
    }.orderBy("user_id")
  }

  /** Theta sketches (Apache DataSketches): distinct counting with SET
    * ALGEBRA — union/intersection/difference over sketches, the
    * audience-overlap currency HLL cannot provide. One sketch per
    * event_type (mergeable, storable), then pairwise overlap and union
    * estimates from the sketches alone — no re-scan of the raw data.
    * No oracle (sketch internals are engine-specific); below the
    * sketch's retention threshold the estimates are exact, which
    * OpsSpec asserts against exact-join ground truth.
    */
  def q_agg_theta(s: SparkSession, d: String): DataFrame = {
    val sk = events(s, d)
      .groupBy("event_type").agg(expr("theta_sketch_agg(user_id)").as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.join(b, col("type_a") < col("type_b"))
      .select(
        col("type_a"), col("type_b"),
        expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))").as("overlap"),
        expr("theta_sketch_estimate(theta_union(sk_a, sk_b))").as("together"))
      .orderBy("type_a", "type_b")
  }

  /** Approximate heavy hitters (`approx_top_k`): the one-pass frequent-
    * items aggregate. Entries are re-sorted by (count desc, item) after
    * extraction so ties render deterministically. Below the tracking
    * threshold the counts are exact (OpsSpec asserts vs exact counts).
    */
  def q_agg_approx_topk(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .agg(expr("approx_top_k(word, 10)").as("tk"))
      .select(array_join(
        expr("transform(array_sort(tk, (x, y) -> CASE WHEN x.count > y.count THEN -1 " +
          "WHEN x.count < y.count THEN 1 WHEN x.item < y.item THEN -1 " +
          "WHEN x.item > y.item THEN 1 ELSE 0 END), e -> concat(e.item, ':', e.count))"), ",")
        .as("top_words"))

  // ---- TPC-H shapes II -------------------------------------------------

  /** Q4 shape (order-priority checking): orders with at least one
    * qualifying lineitem, counted by priority — the EXISTS/semi-join
    * aggregation. The semi join never duplicates orders however many
    * lineitems match, and only the order keys of the probe side move.
    */
  def q_tpch_q4ish(s: SparkSession, d: String): DataFrame = {
    val bigLines = lineitem(s, d).filter(col("l_quantity") >= 45).select("l_orderkey")
    orders(s, d)
      .join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Q6 shape (forecast revenue change): the pure filtered-scan
    * aggregate — every predicate pushes into the parquet scan, one
    * partial+final agg, no join, no shuffle of data rows. The
    * canonical "how fast can you scan" probe.
    */
  def q_tpch_q6ish(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
      .agg(
        dsum(expr("l_extendedprice * l_discount")).as("revenue"),
        count(lit(1)).as("n"))

  /** Q7 shape (volume shipping): revenue between every (supplier
    * nation, customer nation) pair per ship year. Two independent
    * broadcast-dim legs (supplier→nation, customer→nation) hang off the
    * lineitem→orders shuffle join — the fact table moves once.
    */
  def q_tpch_q7ish(s: SparkSession, d: String): DataFrame = {
    val n1 = nation(s, d).select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = nation(s, d).select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(expr("l_extendedprice * (1 - l_discount)")).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q13 shape (customer distribution): two-level aggregation — orders
    * per customer (zeros preserved via left outer), then a histogram of
    * those counts. The first agg shuffles on custkey; the second is
    * near-free (distinct count values are few).
    */
  def q_tpch_q13ish(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Q17 shape (small-quantity-order revenue): rows below 20% of their
    * part's average quantity. The correlated per-part average is
    * de-correlated into a grouped agg joined back — one extra shuffle
    * of (partkey, avg) pairs instead of a per-row subquery.
    */
  def q_tpch_q17ish(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val partAvg = li.groupBy(col("l_partkey").as("pk"))
      .agg(davg(col("l_quantity"), 2).as("avg_qty"))
    li.join(partAvg, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < col("avg_qty") * 0.2)
      .agg(
        round(dsum(col("l_extendedprice")) / 7.0 + lit(1e-9), 4).as("avg_yearly"),
        count(lit(1)).as("n"))
  }

  /** Q14 shape (promo revenue share): percentage of monthly revenue
    * from PROMO parts — conditional aggregation over a broadcast-dim
    * join, exact-decimal accumulated on both numerator and denominator
    * before the double division.
    */
  def q_tpch_q14ish(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(
        year(col("l_shipdate")).cast("long").as("l_year"),
        month(col("l_shipdate")).cast("long").as("l_month"))
      .agg(
        dsum(expr("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END"))
          .as("promo_rev"),
        dsum(expr("l_extendedprice * (1 - l_discount)")).as("total_rev"))
      .withColumn("promo_share",
        round(col("promo_rev") * 100.0 / col("total_rev") + lit(1e-9), 6))
      .orderBy("l_year", "l_month")

  /** Q19 shape (disjunctive predicates): OR-of-ANDs over brand, size
    * and quantity bands. The join key is shared across branches, so
    * Catalyst keeps ONE equi-join and pushes the disjunction below it;
    * each leg's part-side constraint prunes the broadcast build side.
    */
  def q_tpch_q19ish(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) && col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(11, 25) && col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(26, 50) && col("l_quantity").between(20, 40)))
      .agg(
        dsum(expr("l_extendedprice * (1 - l_discount)")).as("revenue"),
        count(lit(1)).as("n"))

  /** Q22 shape (lost high-value customers): above-average-balance
    * customers with no URGENT order — scalar subquery (1-row broadcast)
    * + anti join against a pre-filtered order set, then a small rollup
    * by market segment. The anti side's filter is pushed into its scan.
    */
  def q_tpch_q22ish(s: SparkSession, d: String): DataFrame = {
    val avgBal = customer(s, d).filter(col("c_acctbal") > 0)
      .agg(davg(col("c_acctbal"), 2).as("avg_bal"))
    val urgent = orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    customer(s, d)
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal"), 2).as("bal_sum"))
      .orderBy("c_mktsegment")
  }

  /** Q9 shape (product-type profit by nation × order year): the
    * widest-fan TPC-H profit rollup — lineitem joined to part (name
    * filter), supplier→nation, and orders (year extraction), profit =
    * revenue − cost with the fixture's surrogate unit cost
    * 0.6·p_retailprice standing in for the absent partsupp
    * ps_supplycost (documented adaptation). Every factor is cast to
    * its exact decimal scale BEFORE multiplying (the q1ish rule), so
    * the profit sum is order-independent decimal arithmetic. Plan
    * shape: the selective part filter broadcasts and prunes lineitem
    * FIRST; supplier→nation broadcast; the only big shuffle is
    * lineitem⋈orders on the even orderkey.
    */
  def q_tpch_q9ish(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d).filter(col("p_name").contains("red"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .withColumn("amount", expr(
        """cast(l_extendedprice as decimal(18,2)) *
          |  (1 - cast(l_discount as decimal(18,2))) -
          |  cast(0.6 as decimal(2,1)) * cast(p_retailprice as decimal(18,1)) *
          |  cast(l_quantity as decimal(18,2))""".stripMargin))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(col("amount")).cast("double").as("profit"), count(lit(1)).as("n"))
      .orderBy("n_name", "o_year")

  /** Q2 shape (minimum-cost supplier): the testdata lacks partsupp, so
    * the supply relation is lineitem itself — per (part, supplier) the
    * MINIMUM observed extended price stands in for ps_supplycost
    * (documented adaptation; same correlated-min query shape as TPC-H
    * Q2's `ps_supplycost = (SELECT min(...))`). Plan: the
    * region-restricted supplier dim broadcasts (semi-filter, then
    * enrich), lineitem reduces to the (part, supplier) grain on ONE
    * shuffle, and the per-part min is a window over that reduced grain
    * — never over the raw fact. Costs stay DECIMAL end to end so the
    * min-equality correlation can never float-drift; the final
    * (acctbal desc, name, partkey) order is total, so the LIMIT is
    * deterministic at every SF.
    */
  def q_tpch_q2ish(s: SparkSession, d: String): DataFrame = {
    val euSupp = supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val costs = lineitem(s, d)
      .join(broadcast(euSupp.select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"))
      .agg(min(col("l_extendedprice").cast(DecimalType(18, 2))).as("cost"))
    costs
      .withColumn("min_cost", min(col("cost")).over(Window.partitionBy("partkey")))
      .filter(col("cost") === col("min_cost"))
      .join(broadcast(part(s, d)
        .filter(col("p_size").between(10, 20) && col("p_type") === "SMALL")),
        col("partkey") === col("p_partkey"))
      .join(broadcast(euSupp), col("suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_brand"), col("cost").cast("double").as("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** Q11 shape (important stock): per-part inventory value restricted
    * to one region's suppliers, kept where the part exceeds a fixed
    * fraction of the TOTAL value — group-by + HAVING against a scalar
    * subquery over the same aggregate. The threshold compare is
    * `value·1000 > total` in EXACT decimal (never `value >
    * total·0.001` in double), so boundary parts cannot flip between
    * engines or partition orders. One fact shuffle (partkey); the
    * 1-row total broadcasts.
    */
  def q_tpch_q11ish(s: SparkSession, d: String): DataFrame = {
    val asiaSupp = supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey")
    val value = lineitem(s, d)
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(expr(
        "cast(l_extendedprice as decimal(18,2)) * cast(l_quantity as decimal(18,2))"))
        .as("value"))
      // the part-grain table feeds BOTH the scalar total and the filter
      // — materialized once so the fact is scanned and aggregated once
      // (sf100 measured: 46.4 s + skew flag 5.4 recomputed → 28.9 s
      // clean; costs ~0.5 s at sf10 where scans are page-cached)
      .localCheckpoint()
    val total = value.agg(sum("value").as("total"))
    value
      .crossJoin(broadcast(total))
      .filter(col("value") * 1000 > col("total"))
      .select(col("partkey"), col("value").cast("double").as("value"))
      .orderBy(col("value").desc, col("partkey"))
  }

  /** Q16 shape (supplier relationship count): distinct suppliers per
    * (brand, size) for a filtered part family, EXCLUDING a blocklisted
    * supplier set (TPC-H's "complaints" suppliers — surrogate here:
    * negative account balance) via a broadcast anti join on the fact.
    * The distinct agg shuffles the Heaps-bounded (brand, size,
    * suppkey) triple, not raw lineitem; `(cnt desc, brand, size)` is a
    * total order so the LIMIT is deterministic.
    */
  def q_tpch_q16ish(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(supplier(s, d).filter(col("s_acctbal") < 0).select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      // the filtered part dim keeps ~79% of parts (1.6M rows at sf100,
      // a ~50 MB pruned hash relation) and is STILL force-broadcast:
      // measured at sf100, letting AQE shuffle-join instead costs 332 s
      // vs 187 s broadcast — shuffling the 600M-row fact on partkey is
      // far dearer than sharing one build across the executor's tasks
      .join(broadcast(part(s, d)
        .filter(col("p_type") =!= "PROMO" && col("p_brand") =!= "Brand#5")
        .select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
      .limit(100)

  /** Q20 shape (excess-supply promotion candidates): suppliers of a
    * part family whose 1997 shipped quantity exceeds HALF their
    * all-time quantity for that part — TPC-H Q20's nested
    * `ps_availqty > 0.5·sum(l_quantity)` re-expressed without
    * partsupp as a recent-vs-total concentration test. BOTH sums come
    * from ONE scan/shuffle of the red-part fact slice (conditional
    * decimal sum for the 1997 leg); the half test is `2·q97 > qa` in
    * exact decimal; the qualifying-supplier set then semi-joins the
    * nation-restricted supplier dim. Pairs with no 1997 shipment have
    * NULL q97 and drop, matching the oracle's inner-join semantics.
    */
  def q_tpch_q20ish(s: SparkSession, d: String): DataFrame = {
    val qualifying = lineitem(s, d)
      .join(broadcast(part(s, d).filter(col("p_name").contains("red"))
        .select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey").as("suppkey"), col("l_partkey").as("partkey"))
      .agg(
        sum(when(year(col("l_shipdate")) === 1997,
          col("l_quantity").cast(DecimalType(18, 2)))).as("q97"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("qa"))
      .filter(col("q97") * 2 > col("qa"))
      .select("suppkey").distinct()
    supplier(s, d)
      .join(broadcast(nation(s, d).filter(col("n_regionkey") === 2)
        .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .join(broadcast(qualifying), col("s_suppkey") === col("suppkey"), "left_semi")
      .select("s_name", "s_acctbal")
      .orderBy("s_name")
  }

  /** Q8 shape (national market share): one supplier nation's share of
    * a region's market for one part type, per order year. Two
    * conditional decimal sums in ONE aggregation pass — never two
    * scans — over a fact join where every dimension leg (part filter,
    * region-restricted customers, supplier→nation) is broadcast; the
    * only shuffle is lineitem⋈orders.
    */
  def q_tpch_q8ish(s: SparkSession, d: String): DataFrame = {
    val marketCust = customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppNation = supplier(s, d)
      .join(
        broadcast(nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    lineitem(s, d)
      .join(broadcast(part(s, d).filter(col("p_type") === "PROMO").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(marketCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        dsum(when(col("supp_nation") === "NATION_7",
          expr("l_extendedprice * (1 - l_discount)")).otherwise(lit(0.0))).as("nation_rev"),
        dsum(expr("l_extendedprice * (1 - l_discount)")).as("total_rev"))
      .withColumn("mkt_share",
        round(col("nation_rev") * 100.0 / col("total_rev") + lit(1e-9), 6))
      .orderBy("o_year")
  }

  /** Q12 shape (shipping-delay service levels): the testdata lacks
    * l_shipmode/l_receiptdate, so the Q12 bucketing dimension is the
    * ship-minus-order delay instead — same plan shape (fact⋈fact equi
    * join, CASE bucketing, two conditional counts in one agg).
    */
  def q_tpch_q12ish(s: SparkSession, d: String): DataFrame = {
    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_bucket",
        when(delay > 60, lit("60+")).when(delay > 30, lit("31-60")).otherwise(lit("0-30")))
      .groupBy("delay_bucket")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("delay_bucket")
  }

  /** Q15 shape (top supplier): a per-supplier revenue "view" over a
    * 3-month ship window, then the suppliers hitting its maximum — the
    * max is a 1-row broadcast, so no second full shuffle. The DOUBLE
    * equality against the max is safe because both sides come from the
    * same decimal-accumulated sum (bit-identical in both engines).
    */
  def q_tpch_q15ish(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(expr("l_extendedprice * (1 - l_discount)")).as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q21 shape (suppliers who kept orders waiting): late lines (ship >
    * order date + 30d, a receiptdate proxy) in finished multi-supplier
    * orders where NO other supplier was late. The correlated
    * EXISTS/NOT-EXISTS pair de-correlates into one per-order aggregate
    * — n_supps ≥ 2 ⇔ EXISTS(other supplier), n_late_supps = 1 ⇔
    * NOT EXISTS(other late supplier) for a late line — so the fact is
    * shuffled once for the stats and once for the join-back, never
    * per-subquery.
    */
  def q_tpch_q21ish(s: SparkSession, d: String): DataFrame = {
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS")
    val li = lineitem(s, d)
      .join(orders(s, d).filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
    val orderStats = li.groupBy(col("l_orderkey").as("ok"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(when(late, col("l_suppkey"))).as("n_late_supps"))
    li.filter(late)
      .join(orderStats, col("l_orderkey") === col("ok"))
      .filter(col("n_supps") >= 2 && col("n_late_supps") === 1)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  // ---- ordered string aggregation / generators / provenance -----------

  /** Ordered string aggregation (`listagg ... WITHIN GROUP`): the
    * readable-rollup rendering op. Deterministic because the intra-group
    * order is total.
    */
  def q_listagg(s: SparkSession, d: String): DataFrame =
    nation(s, d)
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"))
      .orderBy("r_name")

  /** Null-preserving generator (`explode_outer`): rows with an empty
    * match list survive with a NULL — the LEFT JOIN LATERAL shape.
    * Documents without a match must NOT vanish from per-doc rollups.
    */
  def q_explode_outer(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        explode_outer(regexp_extract_all(col("text"), lit("qu[a-z]+"), lit(0))).as("word"))
      .orderBy("doc_id", "word")

  /** Array functions III: structural editing (prepend/append/insert),
    * null compaction, element repetition, and pairwise zip — the
    * token-sequence editing toolkit (BOS/EOS markers, special-token
    * insertion, bigram pairing). All codegen'd built-ins in the scan
    * stage; outputs scalarized for the gate.
    */
  def q_array_funcs3(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("first3", slice(col("words"), 1, 3))
      .select(
        col("doc_id"),
        array_join(array_prepend(col("first3"), lit("BOS")), ",").as("pre3"),
        array_join(array_append(col("first3"), lit("EOS")), ",").as("app3"),
        array_join(
          zip_with(col("first3"), slice(col("words"), 2, 3),
            (a, b) => concat(a, lit("-"), b)), ",").as("zipped"),
        array_join(array_repeat(col("lang"), 3), ",").as("rep_lang"),
        array_join(array_compact(array(nullif(col("lang"), lit("en")), lit("x"))), ",")
          .as("compacted"),
        array_join(array_insert(col("first3"), lit(2), lit("<INS>")), ",").as("inserted"))
      .orderBy("doc_id")

  /** Map functions II: map building (`from_json` → MapType), map
    * concatenation, value transformation, entry rendering and
    * predicate filtering — the typed key-value metadata toolkit.
    */
  def q_map_funcs2(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("m", from_json(col("props"), lit("map<string,bigint>")))
      .withColumn("m2", map_concat(col("m"), map(lit("e"), col("event_id") % 7)))
      .select(
        col("event_id"),
        array_join(array_sort(map_keys(col("m2"))), ",").as("keys_sorted"),
        array_join(
          array_sort(transform(map_entries(transform_values(col("m2"), (_, v) => v * 2)),
            e => concat(e.getField("key"), lit("="), e.getField("value")))), ",")
          .as("doubled_entries"),
        size(map_filter(col("m2"), (_, v) => v > 10)).cast("long").as("n_big"))
      .orderBy("event_id")

  /** Recursive CTE (Spark 4): reachability over an edge list — the
    * hierarchy/BOM-walk query shape. The edge relation is the implicit
    * binary tree on doc_ids expressed as a COMPUTED-KEY EQUI-JOIN
    * (`child DIV 2 = parent`), not an OR of two equality legs — the OR
    * form plans a nested-loop join EVERY iteration (measured 2.7 s at
    * sf0.1; unusable at scale), the equi form a hash join. Recursion
    * depth is log₂(N). Output: per-depth reachable-node rollup from
    * root 1.
    */
  def q_recursive_cte(s: SparkSession, d: String): DataFrame = {
    documents(s, d).select(col("doc_id")).createOrReplaceTempView("rec_ids")
    s.sql(
      """WITH RECURSIVE reach(id, depth) AS (
        |  SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS depth
        |  UNION ALL
        |  SELECT i.doc_id, r.depth + 1
        |  FROM reach r JOIN rec_ids i
        |    ON i.doc_id DIV 2 = r.id AND i.doc_id >= 2)
        |SELECT depth, count(*) AS n_nodes, sum(id) AS id_sum
        |FROM reach GROUP BY depth ORDER BY depth""".stripMargin)
  }

  /** XML functions: per-row XML construction and recovery — `xpath_*`
    * scalar extraction and schema'd `from_xml` parsing (the XML-feed
    * ingest currency). The XML is built from columns, so every parsed
    * value has a closed form for the oracle.
    */
  def q_xml_funcs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("xml",
        concat(lit("<doc id=\""), col("doc_id"), lit("\"><lang>"), col("lang"),
          lit("</lang><n>"), col("n_chars"), lit("</n></doc>")))
      .select(
        col("doc_id"),
        expr("xpath_string(xml, '/doc/lang')").as("x_lang"),
        expr("xpath_long(xml, '/doc/n')").as("x_n"),
        expr("from_xml(xml, 'lang STRING, n BIGINT')").getField("n").as("p_n"))
      .orderBy("doc_id")

  /** Binary-text encodings: base64 round-trip, hex over utf-8 bytes,
    * printf rendering — the wire-format glue functions.
    */
  def q_encoding_funcs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("head20", substring(col("text"), 1, 20))
      .select(
        col("doc_id"),
        base64(col("head20").cast("binary")).as("b64"),
        unbase64(base64(col("head20").cast("binary"))).cast("string").as("rt"),
        hex(encode(col("lang"), "utf-8")).as("lang_hex"),
        expr("printf('%s-%05d', lang, doc_id)").as("tag"))
      .orderBy("doc_id")

  /** Locale-aware sentence/word tokenization (`sentences`): on the
    * space-separated corpus it degenerates to whitespace tokens, which
    * is exactly what makes it oracle-checkable; the flattened token
    * stream and sentence count are the gate surface.
    */
  def q_sentences(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("sents", expr("sentences(text)"))
      .select(
        col("doc_id"),
        size(col("sents")).cast("long").as("n_sents"),
        array_join(flatten(col("sents")), ",").as("tokens"))
      .orderBy("doc_id")

  /** File provenance via the `_metadata` hidden column: per-input-file
    * row counts and key ranges — the ingest-audit query. At 100 TB a
    * table is many thousands of files; this is the per-file quality
    * rollup run before promotion. The gate output is the LAYOUT-
    * INDEPENDENT closure of the rollup — the per-file partition must
    * tile the table exactly (Σ per-file rows = table rows, min of mins
    * = global min, max of maxes = global max, every file non-empty), so
    * the oracle holds no matter how many files the writer split the
    * table into; the per-file granularity itself is spec-asserted in
    * SinksSpec.
    */
  /** Layout-independent closure of the per-file provenance rollup: the
    * file-level totals and key span must re-aggregate to the table's —
    * the check a lineage audit runs after a write. Deliberately NOT
    * asserted here: empty-file detection — a row scan cannot observe a
    * zero-row file (it contributes no group), so that check needs a
    * filesystem listing and lives in SinksSpec against a written
    * directory, not in this scan-only gate.
    */
  def q_file_provenance(s: SparkSession, d: String): DataFrame =
    fileProvenance(documents(s, d), col("doc_id"))
      .agg(
        sum("n_rows").as("n_rows"),
        min("min_id").as("min_id"),
        max("max_id").as("max_id"))

  /** Per-file rollup behind [[q_file_provenance]]: one row per input
    * file with its row count and key range.
    */
  def fileProvenance(df: DataFrame, key: Column): DataFrame =
    df.select(key.as("__k"), col("_metadata.file_name").as("src_file"))
      .groupBy("src_file")
      .agg(count(lit(1)).as("n_rows"), min("__k").as("min_id"), max("__k").as("max_id"))

  /** Market-basket LIFT over behavioral baskets: for every event-type
    * pair, lift = N·n_ab / (n_a·n_b) where the "basket" is a user's
    * distinct event-type set — the association-rule signal behind
    * "users who X also Y". Same scale spine as `Llm.q_word_pmi`:
    * distinct (user, type) once, pairs from a self-join ON user_id
    * (Σ C(|basket|, 2), baskets are small by domain), marginals
    * broadcast. Lift > 1 = positive association.
    */
  def q_basket_lift(s: SparkSession, d: String): DataFrame =
    basketLift(events(s, d), "user_id", "event_type")

  /** Market-basket lift over any (basket, item) relation — the reusable
    * form of [[q_basket_lift]]. Pair volume is Σ|basket|²: bounded by
    * the item-type domain on the gate's events table, UNBOUNDED for a
    * generic item key (products, tokens, hosts). `basketCap > 0` keeps
    * only the `basketCap` RAREST items of each basket (global support
    * ascending, item as tiebreak — rare items carry the lift signal;
    * ubiquitous ones produce lift ≈ 1 noise) before pair generation,
    * bounding any basket's contribution at cap². Same device as
    * [[Llm.wordPmi]]'s vocabCap; capped output is a dominated subset of
    * the exact pair set (keys ⊆ exact, every capped n12 ≤ exact n12 —
    * spec'd in OpsSpec). Default OFF: the DuckDB-oracled gate runs
    * exact.
    */
  def basketLift(df: DataFrame, basketCol: String, itemCol: String,
                 basketCap: Int = 0): DataFrame = {
    val ut0 = df.select(col(basketCol).as("__bk"), col(itemCol).as("__it")).distinct()
    val ut = if (basketCap <= 0) ut0 else {
      val freq = ut0.groupBy("__it").agg(count(lit(1)).as("__n"))
      ut0.join(freq, "__it") // item-support relation: domain-sized, broadcastable
        .withColumn("__rk", row_number().over(
          Window.partitionBy("__bk").orderBy(col("__n"), col("__it"))))
        .filter(col("__rk") <= basketCap)
        .select(col("__bk"), col("__it"))
    }
    val marg = ut.groupBy("__it").agg(count(lit(1)).as("n1"))
    val pairs = ut.select(col("__bk"), col("__it").as("t1"))
      .join(ut.select(col("__bk"), col("__it").as("t2")), "__bk")
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n12"))
    val tot = ut0.agg(countDistinct(col("__bk")).as("n_users"))
    pairs
      .join(broadcast(marg.select(col("__it").as("t1"), col("n1").as("na"))), "t1")
      .join(broadcast(marg.select(col("__it").as("t2"), col("n1").as("nb"))), "t2")
      .crossJoin(broadcast(tot))
      .select(col("t1"), col("t2"), col("n12"),
        round(col("n12").cast("double") * col("n_users") / (col("na") * col("nb")) +
          lit(1e-9), 6).as("lift"))
      .orderBy("t1", "t2")
  }

  /** Daily churn / retention / acquisition counts: the day-over-day
    * movement report. Presence collapses to DISTINCT (day, user) rows
    * first (the fact is touched once), then a single FULL OUTER
    * self-join on (user, day+1) classifies every user-day as retained
    * (active both days), churned (active today, gone tomorrow), or new
    * (absent yesterday). BOTH censored edges are excluded against the
    * data-derived day range: the final day (everyone would look
    * churned) and the synthetic day before the first (everyone would
    * look new). Join key is (user, day) — high-cardinality, skew-free.
    */
  def q_churn(s: SparkSession, d: String): DataFrame = {
    val p = events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val a = p.select(col("day").as("a_day"), col("user_id").as("a_uid"))
    val b = p.select(col("day").as("b_day"), col("user_id").as("b_uid"))
    val bounds = p.agg(min("day").as("mind"), max("day").as("maxd"))
    a.join(b, col("a_uid") === col("b_uid") &&
        col("b_day") === date_add(col("a_day"), 1), "full_outer")
      .withColumn("day", coalesce(col("a_day"), date_sub(col("b_day"), 1)))
      .withColumn("status",
        when(col("b_uid").isNull, "churned")
          .when(col("a_uid").isNull, "new")
          .otherwise("retained"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") >= col("mind") && col("day") < col("maxd"))
      .groupBy("day")
      .agg(
        count(when(col("status") === "retained", 1)).as("n_retained"),
        count(when(col("status") === "churned", 1)).as("n_churned"),
        count(when(col("status") === "new", 1)).as("n_new"))
      .orderBy("day")
  }

  /** Gini coefficient of customer revenue concentration — the standard
    * inequality summary ("do 20% of customers carry 80% of revenue?"),
    * companion to [[q_abc_class]]'s tiering. Closed form over the
    * revenue-sorted ranks: G = 2·Σ i·xᵢ / (n·Σ xᵢ) − (n+1)/n. The fact
    * contributes ONE grouped aggregation; the global revenue rank comes
    * from [[Scale.globalSequence]] (range-partitioned sort + per-
    * partition offsets), so NO single-task window touches the
    * customer-level aggregate — at sf100k "dimension-sized" is billions
    * of customers, and the old partition-less `Window.orderBy` would
    * funnel all of them through one task. DECIMAL products keep the
    * result exact until the single final division.
    */
  def q_gini(s: SparkSession, d: String): DataFrame = {
    val cust = orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("tot_dec"))
    Scale.globalSequence(cust, Seq(col("tot_dec"), col("o_custkey")), "i",
        bucketKey = col("tot_dec"))
      .withColumn("i", col("i").cast("long"))
      .agg(
        count(lit(1)).as("n_cust"),
        sum(col("i") * col("tot_dec")).as("s1"),
        sum(col("tot_dec")).as("s0"))
      .select(col("n_cust"),
        round(lit(2.0) * col("s1").cast("double") /
          (col("n_cust") * col("s0").cast("double")) -
          (col("n_cust") + 1).cast("double") / col("n_cust") + lit(1e-9), 6).as("gini"))
  }

  /** Per-user Shannon entropy of the event-type mix — the behavioral-
    * diversity signal (bots repeat one action; humans spread). Two
    * grouped counts on ONE user shuffle; each −p·ln p term is rounded
    * then DECIMAL-summed (the dsum contract) so partial-aggregation
    * order cannot change a user's entropy.
    */
  def q_entropy(s: SparkSession, d: String): DataFrame = {
    val c = events(s, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    val t = c.groupBy("user_id").agg(sum("c").as("tot"))
    c.join(t, "user_id")
      .withColumn("p", col("c").cast("double") / col("tot"))
      .withColumn("term",
        round(-col("p") * log(col("p")) + lit(1e-9), 6).cast(DecimalType(18, 6)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_types"),
        sum(col("term")).cast("double").as("entropy"))
      .orderBy("user_id")
  }

  /** k-anonymity audit over the customer quasi-identifier tuple
    * (nation, market segment, account-balance band): any QI group with
    * fewer than k=5 members re-identifies its customers by attribute
    * intersection alone, so a release gate lists exactly those groups.
    * One map-side-combined hash aggregation whose output is bounded by
    * the QI-space cardinality (|nation|·|segment|·|band|), never by row
    * count — at 100 TB the agg shuffles at most a few thousand partial
    * rows per partition and the report stays KB-sized. The band uses
    * integral floor(balance/1000), identical IEEE arithmetic in both
    * engines (no rounding epsilon needed).
    */
  def q_k_anon(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < 5)
      .orderBy("c_nationkey", "c_mktsegment", "bal_band")

  /** Numeric drift PSI over REFERENCE deciles — the numeric-column
    * sibling of the categorical [[Llm.q_drift_psi]] snapshot profile
    * (train-vs-serve skew detection's standard form: bin the current
    * distribution by the reference's own decile edges, then
    * PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) with +1 Laplace smoothing so empty
    * current bins stay finite). The ln argument is a ratio of EXACT
    * integer products, and shares are double divisions of exact
    * integers — engine-identical before the one rounded ln. Bin totals
    * derive from the 10-row bin tables, not extra scans; the edge
    * vector broadcasts. At 100 TB swap the exact decile pass for the
    * mergeable approx_percentile sketch — same report shape.
    */
  def q_drift_psi_numeric(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val ref = orders(s, d).filter(col("o_orderdate") < cutoff)
      .select(col("o_totalprice").as("v"))
    val cur = orders(s, d).filter(col("o_orderdate") >= cutoff)
      .select(col("o_totalprice").as("v"))
    // 1 row; feeds BOTH binned() calls — pinned so the exact-percentile
    // pass over the ref slice runs once, not once per consumer
    val edges = ref.agg(
      percentile(col("v"), lit((1 to 9).map(_ / 10.0).toArray)).as("edges"))
      .localCheckpoint()
    def binned(df: DataFrame, n: String): DataFrame = df
      .crossJoin(broadcast(edges))
      .withColumn("bin", size(filter(col("edges"), x => col("v") > x)).cast("long"))
      .groupBy("bin").agg(count(lit(1)).as(n))
    val rb = binned(ref, "n_ref").localCheckpoint() // 10 rows; feeds join + total
    val cb = binned(cur, "n_cur").localCheckpoint()
    val tot = rb.agg(sum("n_ref").as("nr"))
      .crossJoin(cb.agg(sum("n_cur").as("nc")))
    rb.join(cb, Seq("bin"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(
          ((col("n_ref") + 1).cast("double") / (col("nr") + 10).cast("double")
            - (col("n_cur") + 1).cast("double") / (col("nc") + 10).cast("double"))
            * log(((col("n_ref") + 1) * (col("nc") + 10)).cast("double")
              / ((col("n_cur") + 1) * (col("nr") + 10)).cast("double"))
            * 1000000 + lit(1e-9), 3).as("psi_micro"))
      .orderBy("bin")
  }

  /** l-diversity release audit — [[q_k_anon]]'s sibling from the same
    * privacy model: k-anonymity bounds group SIZE, l-diversity bounds
    * the variety of the SENSITIVE attribute within each
    * quasi-identifier group (a k-anonymous group whose members all
    * share one segment still leaks it). QI = (nation, balance band),
    * sensitive = market segment; groups with fewer than 3 distinct
    * segments are listed for suppression. One grouped distinct-count
    * pass — the same plan class as the k-anon audit.
    */
  def q_l_diversity(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
        col("c_mktsegment"))
      .groupBy("c_nationkey", "bal_band")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("c_mktsegment")).as("l_div"))
      .filter(col("l_div") < 3)
      .orderBy("c_nationkey", "bal_band")

  /** Per-source duplication census over the word-SET fingerprint (the
    * "same vocabulary, different order/counts" near-dup class — the
    * corpus-health number a source-quality dashboard leads with; the
    * md5-of-sorted-distinct-words key is the same family as
    * [[Llm.q_text_normalize]]'s dedup key but order- and
    * count-insensitive). One scan; per-source distinct counts; the
    * dup rate ships as round-half-up ppm integers. At 100 TB the
    * distinct expansion swaps for HLL exactly like q_null_profile's
    * approx form.
    */
  def q_dup_census(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"),
        md5(concat_ws(",", array_sort(array_distinct(split(col("text"), " ")))))
          .as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        (col("n_docs") - col("n_unique")).as("n_dup_rows"),
        expr("cast((1000000 * (n_docs - n_unique) + n_docs div 2) div n_docs as bigint)")
          .as("dup_ppm"))
      .orderBy("source")

  /** Describe-style column profile (the census behind a data catalog
    * entry): per column, row count, null count, and EXACT distinct
    * count — one pass for the scan + the distinct expansions, then a
    * `stack` unpivot into the report shape (rule = column, not pass;
    * same layout contract as q_dq_report). At 100 TB the exact
    * distincts become the cost center — swap `countDistinct` for
    * `approx_count_distinct`/HLL sketches (q_agg_hll) and keep the
    * same report shape.
    */
  def q_null_profile(s: SparkSession, d: String): DataFrame = {
    events(s, d)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_et"),
        countDistinct(col("event_type")).as("nd_et"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_uid"),
        countDistinct(col("user_id")).as("nd_uid"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_val"),
        countDistinct(col("value")).as("nd_val"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("null_props"),
        countDistinct(col("props")).as("nd_props"))
      .select(col("n"), expr(
        """stack(4,
          |  'event_type', null_et, nd_et,
          |  'props', null_props, nd_props,
          |  'user_id', null_uid, nd_uid,
          |  'value', null_val, nd_val) AS (column_name, n_null, n_distinct)""".stripMargin))
      .select("column_name", "n", "n_null", "n_distinct")
      .orderBy("column_name")
  }

  /** [[q_null_profile]]'s 100 TB form: the same catalog report with the
    * exact `countDistinct`s (the cost center its own doc names — each
    * exact distinct is a per-column shuffle-wide dedup) swapped for
    * `approx_count_distinct` HLL sketches. ONE aggregation pass, all
    * columns' sketches in fixed-size buffers, map-side combined — no
    * per-column distinct expansion at all. Report shape unchanged.
    * Rows-only gate (HLL estimates are engine-specific); the relative
    * error bound vs the exact profile is asserted in OpsSpec.
    */
  def q_null_profile_approx(s: SparkSession, d: String): DataFrame = {
    events(s, d)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_et"),
        approx_count_distinct(col("event_type"), 0.02).as("nd_et"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_uid"),
        approx_count_distinct(col("user_id"), 0.02).as("nd_uid"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_val"),
        approx_count_distinct(col("value"), 0.02).as("nd_val"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("null_props"),
        approx_count_distinct(col("props"), 0.02).as("nd_props"))
      .select(col("n"), expr(
        """stack(4,
          |  'event_type', null_et, nd_et,
          |  'props', null_props, nd_props,
          |  'user_id', null_uid, nd_uid,
          |  'value', null_val, nd_val) AS (column_name, n_null, n_distinct)""".stripMargin))
      .select("column_name", "n", "n_null", "n_distinct")
      .orderBy("column_name")
  }

  /** Period-over-period growth (month-over-month revenue %): the fact
    * collapses ONCE to the month level (DECIMAL revenue), then lag +
    * ratio run over the dimension-sized month axis — the single-
    * partition window is safe by construction (months, not rows).
    * Signed-zero guard on the rounded pct (see q_dsir_weights).
    */
  def q_percent_change(s: SparkSession, d: String): DataFrame = {
    val monthly = orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev_dec"))
    val w = Window.orderBy("month")
    monthly
      .withColumn("prev_dec", lag(col("rev_dec"), 1).over(w))
      .select(col("month"), col("rev_dec").cast("double").as("revenue"),
        (round((col("rev_dec") - col("prev_dec")).cast("double") /
          col("prev_dec").cast("double") + lit(1e-9), 6) + lit(0.0)).as("mom_pct"))
      .orderBy("month")
  }

  /** Funnel conversion latency: for users whose first purchase follows
    * their first signup, the signup→purchase delay distribution
    * (p25/p50/p75, exact interpolated) plus conversion count. Stage
    * timestamps come from CONDITIONAL min aggregation in one pass over
    * the fact — no per-stage self-joins — and the percentile runs over
    * the user-level latency set. Scale caveat: exact `percentile` is a
    * single-buffer aggregation; at billions of converted users swap in
    * `approx_percentile` (mergeable sketch, same report shape) — the
    * user-level collapse stays the expensive-but-parallel part either
    * way.
    */
  def q_funnel_latency(s: SparkSession, d: String): DataFrame = {
    val perUser = events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts_us"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("first_purchase"))
      .filter(col("first_signup").isNotNull && col("first_purchase").isNotNull &&
        col("first_purchase") >= col("first_signup"))
      .select((col("first_purchase") - col("first_signup")).as("latency_us"))
    val pcts = percentile(col("latency_us"), lit(Array(0.25, 0.5, 0.75)))
    perUser.agg(
      count(lit(1)).as("n_converted"),
      round(element_at(pcts, 1) + lit(1e-9), 4).as("p25_us"),
      round(element_at(pcts, 2) + lit(1e-9), 4).as("p50_us"),
      round(element_at(pcts, 3) + lit(1e-9), 4).as("p75_us"))
  }

  /** Longest same-type event streak per user (gaps-and-islands on a
    * CATEGORICAL run): lag-change flags number the runs, one grouped
    * count sizes them, and a deterministic (length desc, type asc,
    * first event asc) rank picks each user's longest — engagement-
    * pattern mining ("7 errors in a row") on ONE user-key shuffle.
    */
  def q_event_streaks(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("event_id")
    val runs = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(ord).isNull ||
          lag(col("event_type"), 1).over(ord) =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id", "event_type")
      .agg(count(lit(1)).as("len"), min("event_id").as("first_event"))
    val pick = Window.partitionBy("user_id")
      .orderBy(col("len").desc, col("event_type"), col("first_event"))
    runs
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("streak_type"),
        col("len").as("streak_len"), col("first_event"))
      .orderBy("user_id")
  }

  /** Benford first-digit profile — the classic fraud / data-quality
    * screen: the observed first-significant-digit distribution next to
    * Benford's law `log10(1 + 1/d)` with each digit's chi-square
    * contribution. Digit extraction is STRING-based (first [1-9] in the
    * plain-decimal rendering) rather than `floor(v / 10^floor(log10 v))`
    * because libm log10 is not bit-identical across engines at power-of-
    * ten boundaries while double→string shortest-rendering is. (Scope:
    * plain-decimal magnitudes; scientific-notation renderings at
    * ≥1e7 would need a normalization pass first.) One scan + one 9-row
    * aggregation — nothing at scale.
    */
  def q_benford(s: SparkSession, d: String): DataFrame = {
    val obs = events(s, d)
      .filter(col("value") > 0)
      .select(regexp_extract(col("value").cast("string"), "[1-9]", 0).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum("n").as("n_tot"))
    obs.crossJoin(broadcast(tot))
      .withColumn("obs_share",
        round(col("n").cast("double") / col("n_tot") + lit(1e-9), 6))
      .withColumn("benford_share",
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")) + lit(1e-9), 6))
      .withColumn("chi2_term",
        round(pow(col("obs_share") - col("benford_share"), 2) / col("benford_share") +
          lit(1e-9), 6))
      .select("digit", "n", "obs_share", "benford_share", "chi2_term")
      .orderBy("digit")
  }

  /** Time-weighted average (TWAP): each observation weighted by how
    * long it stayed current (µs until the user's next event, ONE lead
    * window). The value is exact-2-decimal, so `value×Δt` is computed
    * in DECIMAL (exact) and only the final ratio drops to double —
    * partial-aggregation order cannot move the result. One user-key
    * shuffle; the last observation (no successor) carries zero weight
    * and is excluded, the standard TWAP convention.
    */
  def q_twap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      .withColumn("dt_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dt_us").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_obs"),
        sum(col("dt_us")).as("span_us"),
        round(sum(col("value").cast(DecimalType(18, 2)) * col("dt_us")).cast("double") /
          sum(col("dt_us")) + lit(1e-9), 6).as("twap"))
      .orderBy("user_id")
  }

  /** Interval UNION per key (islands & gaps): every event opens a
    * 10-minute activity interval; overlapping/touching intervals merge
    * into islands via the classic cumulative-max-of-ends flag, islands
    * number by a running sum, and the rollup reports island count +
    * total covered time — "how much wall-clock was this user active?",
    * the dedup-aware alternative to naively summing interval lengths.
    * Two window passes and two aggregations over ONE user-key shuffle;
    * the (ts, event_id) order is total, so the exclusive-frame cummax
    * is engine-deterministic even under timestamp ties.
    */
  def q_interval_union(s: SparkSession, d: String): DataFrame = {
    val ivUs = 600000000L // 10 minutes
    val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        (col("ts_us") + ivUs).as("end_us"))
      .withColumn("prev_max_end", max(col("end_us")).over(wPrev))
      .withColumn("ni",
        when(col("prev_max_end").isNull || col("ts_us") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("ni")).over(wRun))
      .groupBy("user_id", "island")
      .agg(min("ts_us").as("i_start"), max("end_us").as("i_end"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_end") - col("i_start")).as("covered_us"))
      .orderBy("user_id")
  }

  /** Sliding-window DISTINCT count — a genuine engine gap: Spark has no
    * `count_distinct` window aggregate, so the composition is
    * `collect_list` over the frame → `array_distinct` → `size`, all
    * codegen'd array kernels. Correct because distinct-of-collected is
    * order-independent even though the collected order is not. The
    * frame is bounded (last 10 events), so per-row state is O(frame);
    * the only shuffle is the user partition. (Unbounded-frame distinct
    * at 100 TB is a different op: sketch columns, see `q_agg_hll`.)
    */
  def q_window_distinct(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(-9, 0)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("distinct_types_10",
        size(array_distinct(collect_list(col("event_type")).over(w))).cast("long"))
      .orderBy("event_id")
  }

  /** ABC / Pareto classification: rank parts by revenue, classify by
    * CUMULATIVE share (A = first 80% of revenue, B = next 15%, C =
    * tail). The fact table contributes exactly one grouped aggregation;
    * the running sum over the part-level aggregate uses
    * [[Scale.globalCumSum]] (range-partitioned sort + per-partition
    * DECIMAL offsets) and the grand total rides along as the driver-side
    * offset accumulator — so neither a partition-less `Window.orderBy`
    * nor a `Window.partitionBy(lit(1))` total window appears anywhere in
    * the plan, and the cumulative pass stays wide at any part count.
    * DECIMAL accumulation end-to-end keeps every share exact.
    */
  def q_abc_class(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .groupBy("l_partkey")
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("rev_dec"))
    Scale.globalCumSum(rev, Seq(col("rev_dec").desc, col("l_partkey")),
        col("rev_dec"), "cum_dec", totalCol = "tot_dec",
        bucketKey = -col("rev_dec"))
      .withColumn("cum_share",
        round((col("cum_dec").cast("double") / col("tot_dec").cast("double")) + lit(1e-9), 6))
      .withColumn("abc",
        when(col("cum_share") <= 0.80, "A")
          .when(col("cum_share") <= 0.95, "B")
          .otherwise("C"))
      .select(col("l_partkey"), col("rev_dec").cast("double").as("revenue"),
        col("cum_share"), col("abc"))
      .orderBy(col("revenue").desc, col("l_partkey"))
  }

  /** Rolling MEDIAN over a bounded row frame (±3 around each event in
    * its user's timeline) — the robust smoother for noisy telemetry,
    * where a rolling MEAN chases every spike. An exact `percentile`
    * aggregate evaluated over a sliding window frame: the frame holds
    * ≤7 rows, so per-row cost is O(frame log frame) and the only
    * shuffle is the user_id partition — same scale shape as any lag
    * window. (For wide frames at 100 TB you'd switch to a t-digest
    * sketch column; the exact form is right at smoothing widths.)
    */
  def q_window_median(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(-3, 3)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("med7",
        round(percentile(col("value"), lit(0.5)).over(w) + lit(1e-9), 4))
      .orderBy("event_id")
  }

  /** Wide-frame rolling median (±50) through the t-digest aggregator —
    * the scale path [[q_window_median]]'s scaladoc names: the exact
    * `percentile` window buffers the whole frame per output row, while
    * [[Udafs.TDigestMedian]] carries a bounded centroid set at ANY frame
    * width (and merges, so the same sketch serves partial aggregation
    * and persistence). At this gate's frame (101 rows < first
    * compression) the digest is in its exact regime, so the query is
    * hash-exact against DuckDB's windowed `quantile_cont`; the
    * compressed approx regime is rank-error-gated in UdafsSpec.
    */
  def q_window_median_wide(s: SparkSession, d: String): DataFrame = {
    val td = udaf(new Udafs.TDigestMedian(200))
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(-50, 50)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("med101", round(td(col("value")).over(w) + lit(1e-9), 4))
      .orderBy("event_id")
  }

  /** Snapshot reconciliation diff (CDC-style): FULL OUTER join of two
    * table snapshots on the key, classifying every key as added /
    * removed / changed and dropping the identical rows — the
    * data-validation pass run before promoting a rebuilt table. One
    * key-shuffle join; unchanged rows (the overwhelming majority in a
    * real diff) are filtered before the presentation sort.
    */
  def q_snapshot_diff(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_id"), col("value"))
    val snapA = e.filter(pmod(col("event_id"), lit(7)) =!= 0)
      .select(col("event_id"), col("value").as("value_a"))
    val snapB = e.filter(pmod(col("event_id"), lit(5)) =!= 0)
      .select(col("event_id"),
        (col("value") +
          when(pmod(col("event_id"), lit(3)) === 0, 10.0).otherwise(0.0)).as("value_b"))
    snapA.join(snapB, Seq("event_id"), "full_outer")
      .withColumn("status",
        when(col("value_a").isNull, "added")
          .when(col("value_b").isNull, "removed")
          .when(col("value_a") =!= col("value_b"), "changed")
          .otherwise("same"))
      .filter(col("status") =!= "same")
      .select("event_id", "status", "value_a", "value_b")
      .orderBy("event_id")
  }

  /** Ratio-to-report (share of total within a group): grouped DECIMAL
    * revenue + one window sum over the tiny aggregate — the share math
    * happens on the GROUPED rows (one per flag × status), so the window
    * never touches the fact table. DECIMAL accumulation keeps the
    * window sum independent of row order inside the partition.
    */
  def q_share_of_total(s: SparkSession, d: String): DataFrame = {
    val agg = lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("rev_dec"))
    val w = Window.partitionBy("l_returnflag")
    agg
      .withColumn("share",
        round(col("rev_dec").cast("double") /
          sum(col("rev_dec")).over(w).cast("double") + lit(1e-9), 6))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("rev_dec").cast("double").as("revenue"), col("share"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Deterministic fixed-size per-group sample (reservoir semantics
    * without the reservoir): rank rows inside each group by the md5 of
    * their (group, key) identity and keep the first N — reproducible
    * across runs, retries, and engines (unlike `rand()`), stable under
    * appends outside the group, and one shuffle on the group key. The
    * per-group window never sees more than a group's rows; there is no
    * global sort anywhere.
    *
    * Scale shape: the draw routes through [[Scale.quotaSample]] — a
    * scan-stage md5-threshold prefilter sized to ~2× the quota cuts
    * each stratum to ~40 survivors BEFORE the rank window, so no task
    * ever sorts a whole stratum (the naive per-group window was the one
    * empirically-flagged scale-killer left at sf100: skew 2.3); a
    * per-group count check falls back to the exact whole-group rank on
    * the rare under-cut, so the result is identical to the naive plan.
    */
  def q_sample_group(s: SparkSession, d: String): DataFrame =
    Scale.quotaSample(
      events(s, d).select(col("event_id"), col("event_type"), col("value")),
      Seq("event_type"),
      md5(concat_ws(":", col("event_type"), col("event_id"))), Seq(col("event_id")),
      Left(20L))
      .select(col("event_type"), col("rn"), col("event_id"), col("value"))
      .orderBy("event_type", "rn")

  /** Neyman-allocation stratified sampling (the survey-statistics
    * optimal allocation: stratum h of size N_h and in-stratum std S_h
    * gets n_h ∝ N_h·S_h of the budget — minimizing the estimator
    * variance for a fixed budget; the principled version of
    * [[q_sample_group]]'s flat quotas for corpus QA sampling). The
    * float S_h enters the allocation only as a 6-dp micro-unit integer
    * (variance numerator N·Σy²−(Σy)² is EXACT in DECIMAL/HUGEINT; both
    * engines cast the identical value to double, sqrt, and round with
    * the +1e-9 nudge), so the allocation itself — floor shares by
    * integer division plus a largest-remainder correction to hit the
    * budget exactly (ties by source) — is pure integer arithmetic,
    * engine-exact. The draw inside each stratum is the established
    * md5-rank deterministic sample, routed through
    * [[Scale.quotaSample]] so the rank window sees ~2·n_h survivors per
    * stratum instead of the whole stratum (the allocation relation IS
    * the per-group quota input); the strata table broadcasts back.
    */
  def q_sample_neyman(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
    // the draw: quotaSample's prefiltered rank (scan-stage ~2×-quota
    // md5 threshold + exact fallback on a count-check miss) replaces
    // the whole-stratum window sort — same rows, no stratum-sized task.
    // The allocation relation already aggregated the stratum sizes, so
    // it feeds quotaSample BOTH the quotas and the group counts — the
    // sampler's internal count scan drops out and the corpus is read
    // ONCE (the survivor prefilter). The alloc is a local relation, so
    // its two consumers read it without a job.
    val alloc = neymanAlloc(docs, 200L)
    Scale.quotaSample(docs, Seq("source"),
      md5(concat_ws(":", col("source"), col("doc_id"))), Seq(col("doc_id")),
      Right(alloc.select(col("source"), col("n_h"))),
      groupCounts = Some(alloc.select(col("source"), col("n").as("__grp_n"))))
      .select(col("source"), col("rn"), col("doc_id"), col("n_chars"), col("n_h"))
      .orderBy("source", "rn")
  }

  /** The Neyman allocation relation behind [[q_sample_neyman]] and
    * [[q_sample_weights]]: per stratum — population size `n` and the
    * optimal sample quota `n_h` (largest-remainder corrected, capped at
    * the stratum size).
    *
    * Shape: ONE Spark action — the stratum-key aggregate of `n` and
    * `s_micro` (one row per source, collected). The allocation itself
    * is exact integer arithmetic on those rows, so the driver runs it in
    * `BigInt`: the floor shares `base = budget·w div Σw`, the remainders,
    * the deficit, and the rank by (remainder desc, source asc, nulls
    * first). The result is a local relation: its consumers (the sampler's
    * quota and count inputs) read it without a job, where the SQL
    * formulation (stratum aggregate + total + deficit cross joins + a
    * global rank window, checkpointed by callers) ran its subtree once
    * per consumer. An all-zero weight total divides by zero: under ANSI
    * mode it raises the same DIVIDE_BY_ZERO error the SQL raised, and
    * otherwise every stratum gets `n_h = n`, the SQL's null-share result.
    */
  private[graft] def neymanAlloc(docs: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val strata = docs.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("n_chars").cast(DecimalType(38, 0))).as("s1"),
      sum((col("n_chars") * col("n_chars")).cast(DecimalType(38, 0))).as("s2"))
      .withColumn("var_num", col("n") * col("s2") - col("s1") * col("s1"))
      .withColumn("s_micro",
        when(col("n") > 1,
          round(sqrt(col("var_num").cast("double")
            / (col("n") * (col("n") - 1)).cast("double")) * 1000000 + lit(1e-9)))
          .otherwise(lit(0.0)).cast("long"))
      .select(col("source"), col("n"), col("s_micro"))
      .collect()
    val sources = strata.map(_.getString(0))
    val n = strata.map(_.getLong(1))
    // BigInt throughout: 200·n·s_micro crosses Long at n ≈ 2.3e7 docs
    // per stratum (s_micro ~ 2e9) — the oracle runs HUGEINT
    val w = strata.map(r => BigInt(r.getLong(1)) * BigInt(r.getLong(2)))
    val bigW = w.sum
    val nH: Array[Long] =
      if (strata.isEmpty) Array.empty
      else if (bigW == 0) {
        if (docs.sparkSession.sessionState.conf.ansiEnabled)
          throw org.apache.spark.sql.GraftSqlBridge.divideByZeroError()
        n
      } else {
        val b = BigInt(budget)
        val base = w.map(b * _ / bigW)
        val rem = w.indices.map(i => b * w(i) - base(i) * bigW)
        val deficit = (b - base.sum).toLong
        val ranked = w.indices.sortWith { (i, j) =>
          if (rem(i) != rem(j)) rem(i) > rem(j)
          else Llm.sparkStringOrder.lt(sources(i), sources(j))
        }
        val bonus = new Array[Long](w.length)
        ranked.take(deficit.toInt).foreach(bonus(_) = 1L)
        w.indices.map(i => math.min(base(i).toLong + bonus(i), n(i))).toArray
      }
    val rows = strata.indices.map(i => Row(sources(i), n(i), nH(i)))
    docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("source", StringType), StructField("n", LongType),
        StructField("n_h", LongType))))
  }

  /** Post-stratification / design weights for the Neyman sample — the
    * estimator step survey statistics runs AFTER drawing: a stratum
    * sampled below its population share must count for more, and the
    * inverse-inclusion-probability weight w_h = N_h / n_h is exactly
    * that correction (Horvitz–Thompson for stratified designs). Shipped
    * as round-half-up ppm integers ((2e6·N_h + n_h) div (2·n_h) — the
    * [[graft.ops.Llm.q_dedup_soft]] integer-rounding form), so both
    * engines emit identical BIGINTs. Strata allocated zero samples have
    * no defined weight and are excluded (nothing drawn represents
    * them — the caller sees the omission in the row count). Same
    * broadcast-sized allocation relation as the draw; no corpus
    * rescans beyond the one stratum aggregate.
    */
  def q_sample_weights(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
    neymanAlloc(docs, 200L)
      .filter(col("n_h") > 0)
      .select(col("source"), col("n").as("n_pop"), col("n_h").as("n_samp"),
        expr("cast((2000000 * n + n_h) div (2 * n_h) as bigint)").as("weight_ppm"))
      .orderBy("source")
  }

  /** Seasonal-naive forecast backtest (per event type): predict each
    * day's total as the SAME WEEKDAY one week earlier and score the
    * prediction — the baseline every forecasting pipeline must beat
    * before anything fancier ships (a model that loses to
    * seasonal-naive is worse than no model). Daily totals are exact
    * DECIMAL(18,4) sums, the 7-day-lag self-join is exact date
    * arithmetic, and the per-type report ships MAE as a round-half-up
    * micro-unit integer (sum|err| is scale-4 exact, ×1e6 stays
    * integral) plus the SIGNED bias as the exact micro SUM — never a
    * rounded negative quotient (the kappa floor-vs-truncate lesson).
    * Scale shape: one events scan → day-grain agg (map-combined), the
    * backtest join and report run on the tiny day×type grain.
    */
  def q_forecast_snaive(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast(DecimalType(18, 4)).as("v"))
      .groupBy("event_type", "day").agg(sum("v").as("v"))
    val j = daily.as("a").join(daily.as("b"),
      col("a.event_type") === col("b.event_type") &&
        col("a.day") === date_add(col("b.day"), 7))
      .select(col("a.event_type").as("event_type"),
        (col("a.v") - col("b.v")).as("err"))
    j.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("err"))).as("sum_abs"),
        sum(col("err")).as("sum_err"))
      .select(col("event_type"), col("n_days"),
        expr("cast((2 * cast(sum_abs * 1000000 as decimal(38,0)) + n_days) div (2 * n_days) as bigint)")
          .as("mae_micro"),
        expr("cast(cast(sum_err * 1000000 as decimal(38,0)) as bigint)")
          .as("bias_micro_sum"))
      .orderBy("event_type")
  }

  /** Lead–lag cross-correlation between two behavioral daily series —
    * "do clicks LEAD purchases, and by how many days?": Pearson
    * correlation of click-total(t) against purchase-total(t+k) for
    * k = 0..7, the classic marketing/causality screen run before any
    * attribution model is trusted. Engine-exact float discipline: the
    * sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT
    * DECIMAL sums of scale-4/8 values, and both engines evaluate the
    * same closed-form correlation expression over the same exact
    * inputs — identical IEEE doubles, closed with the house epsilon
    * round. Two tiny aggregates (day grain, then lag grain: ≤ 8·days
    * rows) off one events scan; the lag fan-out is a broadcast of 8
    * rows, never a second scan.
    */
  def q_xcorr_lag(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast(DecimalType(18, 4)).as("v"))
      .groupBy("event_type", "day").agg(sum("v").as("v"))
    val a = daily.filter(col("event_type") === "click")
      .select(col("day").as("da"), col("v").as("x"))
    val b = daily.filter(col("event_type") === "purchase")
      .select(col("day").as("db"), col("v").as("y"))
    val lags = s.range(0, 8).select(col("id").as("lag"))
    def dbl(c: Column) = c.cast("double")
    a.crossJoin(broadcast(lags))
      .join(b, col("db") === date_add(col("da"), col("lag").cast("int")))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n_days"),
        round(
          (dbl(col("n_days")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
            / (sqrt(dbl(col("n_days")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
              * sqrt(dbl(col("n_days")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))))
            + lit(1e-9), 6).as("xcorr"))
      .orderBy("lag")
  }

  /** Last-touch attribution: every purchase is credited to the user's
    * most recent PRECEDING non-purchase event type (the channel), or
    * 'direct' when the purchase is the user's first touch — the
    * simplest of the marketing attribution models, and the one every
    * analytics engine ships first. One user-keyed window (high-
    * cardinality partition key — shards evenly at any scale) with an
    * IGNORE-NULLS running last over the strictly-preceding frame; the
    * revenue rollup is a tiny channel-grain aggregate with the exact
    * DECIMAL sum convention.
    */
  def q_attribution_last(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts"))
      .withColumn("channel",
        coalesce(
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w),
          lit("direct")))
      .filter(col("event_type") === "purchase")
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("revenue"))
      .orderBy("channel")
  }

  /** Incremental rollup maintenance (materialized-view pattern): the
    * historical batch collapses ONCE into mergeable per-key state
    * (count / DECIMAL sum / min / max); each new delta batch folds in by
    * unioning STATE ROWS and re-aggregating — history is never
    * rescanned, which is the whole point at 100 TB (the delta is GBs,
    * the history is the 100 TB). DECIMAL sums make merge order
    * irrelevant, so merged state is bit-identical to a full recompute —
    * which is exactly what the oracle checks (its SQL aggregates the
    * whole table directly).
    */
  def q_incr_rollup(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_id"), col("event_type"), col("value"))
    def state(df: DataFrame): DataFrame =
      df.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).as("sum_dec"),
        min("value").as("min_v"),
        max("value").as("max_v"))
    val hist = state(e.filter(pmod(col("event_id"), lit(5)) =!= 0))
    val delta = state(e.filter(pmod(col("event_id"), lit(5)) === 0))
    hist.unionByName(delta)
      .groupBy("event_type")
      .agg(
        sum("n").as("n"),
        sum("sum_dec").as("sum_dec"),
        min("min_v").as("min_v"),
        max("max_v").as("max_v"))
      .select(col("event_type"), col("n"),
        col("sum_dec").cast("double").as("value_sum"),
        col("min_v"), col("max_v"))
      .orderBy("event_type")
  }

  /** Robust outlier detection via median absolute deviation (MAD):
    * per-group median and MAD (each one exact-`percentile` aggregation),
    * then a robust z-score `|x - med| / (1.4826 * mad)` flags the heavy
    * tail the classic mean/stddev z-score would let skew its own
    * baseline. Two grouped aggregations over the fact plus two BROADCAST
    * joins of the tiny per-group stats — the fact table is scanned, never
    * re-shuffled, so the shape is linear at 100 TB. Epsilon-before-round
    * keeps the DuckDB comparison off x.xxxx5 boundaries.
    */
  def q_outlier_mad(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_id"), col("event_type"), col("value"))
    val med = e.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val withMed = e.join(broadcast(med), "event_type")
    val mad = withMed.groupBy("event_type")
      .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
    withMed.join(broadcast(mad), "event_type")
      .withColumn("rz",
        round(abs(col("value") - col("med")) / (col("mad") * lit(1.4826)) + lit(1e-9), 4))
      .filter(col("rz") > 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("med") + lit(1e-9), 4).as("med"),
        round(col("mad") + lit(1e-9), 4).as("mad"), col("rz"))
      .orderBy("event_id")
  }

  /** Equal-frequency feature bucketization (decile binning): the cut
    * points come from ONE exact-`percentile` aggregation (9 doubles to
    * the driver side of a broadcast), and every row finds its bin by
    * counting cut points strictly below its value — a map-side array
    * scan, NOT an `ntile` over a global window (which would funnel the
    * whole table through a single ranking task at scale). Bin means use
    * the DECIMAL-sum contract so partial-aggregation order cannot change
    * the rounded result.
    */
  def q_feature_bins(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_id"), col("value"))
    val cuts = e.agg(percentile(col("value"),
      lit((1 to 9).map(_ / 10.0).toArray)).as("cuts"))
    e.crossJoin(broadcast(cuts))
      .withColumn("bin",
        (size(filter(col("cuts"), c => c < col("value"))) + lit(1)).cast("int"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        round(min("value") + lit(1e-9), 4).as("lo"),
        round(max("value") + lit(1e-9), 4).as("hi"),
        round(davg(col("value")) + lit(1e-9), 4).as("mean_v"))
      .orderBy("bin")
  }

  /** One-pass pairwise Pearson correlation MATRIX over k numeric
    * columns (long form: col_x, col_y, r) — the multivariate companion
    * to [[q_agg_stats]]'s single pair and the screening step before
    * feature selection / redundancy pruning. Scale shape: ONE scan of
    * the table feeds k·(k−1)/2 fixed-size co-moment aggregates
    * (partial+final like any hash agg, no shuffle of data rows — only
    * the constant-width partial-agg buffers), and the one-row result
    * unpivots to long form driver-side. At 100 TB this is the only
    * correct shape: never k² passes, never a row shuffle. Rounded in
    * both engines (co-moment accumulation is float-order-sensitive at
    * the 1e-12 level, same contract as q_agg_stats).
    */
  def q_corr_matrix(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs =
      for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)) + lit(1e-9), 6).as(s"${a}__${b}") }
    lineitem(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .unpivot(Array.empty[Column],
        pairs.map { case (a, b) => col(s"${a}__${b}") }.toArray,
        "pair", "r")
      .select(
        substring_index(col("pair"), "__", 1).as("col_x"),
        substring_index(col("pair"), "__", -1).as("col_y"),
        col("r"))
      .orderBy("col_x", "col_y")
  }

  /** Two-sample Kolmogorov–Smirnov drift screen: for each event type,
    * the KS distance between that type's `value` distribution and the
    * pooled rest. EXACT rational arithmetic — at any sample point
    * |F1 − F2| = |c1·n2 − c2·n1| / (n1·n2), so the max is taken over
    * the integer numerator `d_num` and only the final report rate is
    * rounded (to micro-units via integer round-half-up).
    *
    * Scale shape: one groupBy(value) shuffle collapses occurrences to
    * the distinct-value grid, then ONE range-partitioned sorted pass
    * ([[Scale.globalCumSums]] — terasort cumsum, never a single-task
    * global window) carries all six cumulative counters at once. The
    * long products bound N ≤ 3·10⁹ rows (n1·n2 < 2⁶³); beyond that
    * cast the counters to DECIMAL(38,0) in the max expression.
    */
  def q_stat_ks(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val ev = events(s, d)
    val byVal = ev.groupBy("value").agg(
      count(lit(1)).as("c_all"),
      types.map(t =>
        sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c_$t")): _*)
    val cum = Scale.globalCumSums(byVal, Seq(col("value")),
      (col("c_all"), "f_all") +: types.map(t => (col(s"c_$t"), s"f_$t")),
      bucketKey = col("value"))
    // totals reduce the distinct-value grid, not the corpus — one scan
    val totals = byVal.groupBy().agg(
      sum(col("c_all")).as("n_tot"),
      types.map(t => sum(col(s"c_$t")).as(s"n_$t")): _*)
    val maxes = cum.crossJoin(broadcast(totals)).groupBy().agg(
      max(col("n_tot")).as("n_tot"),
      types.flatMap(t => Seq(
        max(col(s"n_$t")).as(s"n1_$t"),
        max(abs(col(s"f_$t") * (col("n_tot") - col(s"n_$t")) -
          (col("f_all") - col(s"f_$t")) * col(s"n_$t"))).as(s"d_$t"))): _*)
    maxes
      .select(explode(array(types.map(t => struct(
        lit(t).as("event_type"),
        col(s"n1_$t").as("n1"),
        (col("n_tot") - col(s"n1_$t")).as("n2"),
        col(s"d_$t").as("d_num"))): _*)).as("r"))
      .select("r.*")
      .withColumn("d_micro", expr(
        "cast((2000000 * cast(d_num as decimal(38,0)) + n1 * n2) div (2 * n1 * n2) as bigint)"))
      .orderBy("event_type")
  }

  /** Welch's two-sample t (unequal variances) per event type vs the
    * pooled rest — the mean-shift screen completing the drift toolkit
    * (KS tests the whole distribution, χ² the categorical mix, this
    * the first moment; run before trusting any per-segment metric
    * delta). Float discipline: the sufficient statistics (n, Σv, Σv²)
    * are EXACT DECIMAL sums, the "rest" side is exact decimal
    * subtraction, and both engines evaluate the identical closed-form
    * expression tree over identical exact inputs — identical IEEE
    * doubles, epsilon-rounded. One scan, one k-row grain.
    */
  def q_stat_ttest(s: SparkSession, d: String): DataFrame = {
    val v = col("value").cast(DecimalType(18, 4))
    val st = events(s, d).groupBy("event_type").agg(
      count(lit(1)).as("n"), sum(v).as("s1"), sum(v * v).as("s2"))
    val tot = st.groupBy().agg(
      sum("n").as("nt"), sum("s1").as("s1t"), sum("s2").as("s2t"))
    def dbl(c: Column) = c.cast("double")
    st.crossJoin(broadcast(tot))
      .withColumn("n2", col("nt") - col("n"))
      .withColumn("r1", (col("s1t") - col("s1"))) // exact decimal rest sums
      .withColumn("r2", (col("s2t") - col("s2")))
      .withColumn("m1", dbl(col("s1")) / dbl(col("n")))
      .withColumn("m2", dbl(col("r1")) / dbl(col("n2")))
      .withColumn("v1",
        (dbl(col("n")) * dbl(col("s2")) - dbl(col("s1")) * dbl(col("s1")))
          / (dbl(col("n")) * (dbl(col("n")) - lit(1.0))))
      .withColumn("v2",
        (dbl(col("n2")) * dbl(col("r2")) - dbl(col("r1")) * dbl(col("r1")))
          / (dbl(col("n2")) * (dbl(col("n2")) - lit(1.0))))
      .withColumn("se2", col("v1") / dbl(col("n")) + col("v2") / dbl(col("n2")))
      .select(col("event_type"), col("n").as("n1"), col("n2"),
        round((col("m1") - col("m2")) / sqrt(col("se2")) + lit(1e-9), 6).as("t_stat"),
        round(col("se2") * col("se2")
          / ((col("v1") / dbl(col("n"))) * (col("v1") / dbl(col("n")))
              / (dbl(col("n")) - lit(1.0))
            + (col("v2") / dbl(col("n2"))) * (col("v2") / dbl(col("n2")))
              / (dbl(col("n2")) - lit(1.0)))
          + lit(1e-9), 4).as("welch_df"))
      .orderBy("event_type")
  }

  /** One-way ANOVA F across the event-type groups — "does the segment
    * explain ANY of the variance" before pairwise digging. Every
    * between/within sum of squares is shipped as a micro-unit INTEGER
    * built from exact DECIMAL sufficient statistics (each group's
    * S1²/n term is rounded to micro from identical exact inputs in
    * both engines, then integer-summed — the dsum convention, so
    * partial-agg order cannot move a bit); F is the double ratio of
    * those integers, epsilon-rounded. One scan, k-row grain, one row
    * out.
    */
  def q_stat_anova(s: SparkSession, d: String): DataFrame = {
    val v = col("value").cast(DecimalType(18, 4))
    val st = events(s, d).groupBy("event_type").agg(
      count(lit(1)).as("n"), sum(v).as("s1"), sum(v * v).as("s2"))
    def dbl(c: Column) = c.cast("double")
    val micro = org.apache.spark.sql.types.DecimalType(38, 0)
    st.groupBy().agg(
        count(lit(1)).as("k"),
        sum("n").as("n_tot"),
        sum("s1").as("s1t"),
        sum("s2").as("s2t"),
        sum(round(dbl(col("s1")) * dbl(col("s1")) / dbl(col("n")) * 1000000 + lit(1e-9), 0)
          .cast(micro)).as("a_micro"))
      .withColumn("grand_micro",
        round(dbl(col("s1t")) * dbl(col("s1t")) / dbl(col("n_tot")) * 1000000 + lit(1e-9), 0)
          .cast(micro))
      .withColumn("s2t_micro",
        round(dbl(col("s2t")) * 1000000 + lit(1e-9), 0).cast(micro))
      .withColumn("ssb_micro", (col("a_micro") - col("grand_micro")).cast("long"))
      .withColumn("ssw_micro", (col("s2t_micro") - col("a_micro")).cast("long"))
      .select(col("k"), col("n_tot"), col("ssb_micro"), col("ssw_micro"),
        round((dbl(col("ssb_micro")) / (dbl(col("k")) - lit(1.0)))
          / (dbl(col("ssw_micro")) / (dbl(col("n_tot")) - dbl(col("k"))))
          + lit(1e-9), 6).as("f_stat"))
  }

  /** Chi-square independence screen over the lang × source contingency
    * grid (the "is my corpus mix independent of provenance" question).
    * Every reported number is integer-exact: expected counts and
    * per-cell χ² contributions are rationals over counts —
    * E = r·c/N, contrib = (O·N − r·c)²/(N·r·c) — rendered as
    * round-half-up micro-units computed in DECIMAL(38,0) integer
    * arithmetic ((O·N − r·c)² overflows 64-bit by sf10), never a
    * double in sight. Missing grid cells (lang seen, source seen, pair
    * unseen) enter with O = 0 via the marginal cross join, as the
    * statistic requires.
    *
    * Scale: three grouped counts + a |langs|×|sources| broadcast grid —
    * the corpus is touched once per marginal, all map-side combined.
    */
  def q_stat_chi2(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val obs = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    // one corpus scan: the marginals and N reduce the tiny cell table
    val rm = obs.groupBy("lang").agg(sum("o").as("r"))
    val cm = obs.groupBy("source").agg(sum("o").as("c"))
    val tot = obs.groupBy().agg(sum("o").as("n"))
    rm.crossJoin(cm)
      .join(obs, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
      .withColumn("od", col("o").cast(DecimalType(38, 0)))
      .withColumn("rd", col("r").cast(DecimalType(38, 0)))
      .withColumn("cd", col("c").cast(DecimalType(38, 0)))
      .withColumn("nd", col("n").cast(DecimalType(38, 0)))
      .withColumn("dev", expr("od * nd - rd * cd"))
      .select(
        col("lang"), col("source"), col("o"),
        expr("cast((2000000 * rd * cd + nd) div (2 * nd) as bigint)")
          .as("e_micro"),
        expr("cast((2000000 * dev * dev + nd * rd * cd) div (2 * nd * rd * cd) as bigint)")
          .as("contrib_micro"))
      .orderBy("lang", "source")
  }

  /** Per-group winsorization (p05/p95 clamp) — the standard
    * outlier-robust normalization before training-weight or revenue
    * models, reported as a per-group before/after audit. Bounds come
    * from ONE exact-percentile pass (group-keyed agg), are rounded to
    * the data's own 2-dp grain so every clamped value is an exact
    * DECIMAL, broadcast back, and the clamped mean accumulates
    * exactly. At 100 TB swap the exact percentile for the mergeable
    * approx_percentile sketch ([[q_agg_approx_pct]]) — same plan, no
    * sort. Two fact scans (bounds + clamp); the join back is a
    * broadcast of ≤|groups| rows.
    */
  def q_winsorize(s: SparkSession, d: String): DataFrame = {
    val pcts = percentile(col("o_totalprice"), lit(Array(0.05, 0.95)))
    val bounds = orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        round(element_at(pcts, 1) + lit(1e-9), 2).as("lo"),
        round(element_at(pcts, 2) + lit(1e-9), 2).as("hi"))
    orders(s, d)
      .join(broadcast(bounds), "o_orderpriority")
      .withColumn("clamped",
        least(greatest(col("o_totalprice"), col("lo")), col("hi"))
          .cast(DecimalType(18, 2)))
      .groupBy("o_orderpriority", "lo", "hi")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          / count(lit(1)) + lit(1e-9), 6).as("mean_raw"),
        round(sum(col("clamped")).cast("double") / count(lit(1)) + lit(1e-9), 6)
          .as("mean_winsor"))
      .orderBy("o_orderpriority")
  }

  /** The 100 TB form of [[q_winsorize]], made EXECUTABLE rather than
    * prose: identical plan shape (bounds agg → broadcast join back →
    * clamp → group agg) with the exact per-group `percentile` (a full
    * sort of every group's values) swapped for the mergeable
    * `approx_percentile` (KLL-style) sketch — fixed-size per-partition
    * state, partial+final merge, no sort, which is what survives a
    * 1000-executor run where a group's values don't fit one task.
    * Rows-only gate by design (sketch boundaries are
    * accuracy-dependent); OpsSpec bounds it against the exact gate:
    * clamp boundaries within 1% of each group's exact [lo, hi] range
    * and winsorized means within 0.1%.
    */
  def q_winsorize_approx(s: SparkSession, d: String): DataFrame = {
    val pcts = expr(
      "approx_percentile(o_totalprice, array(0.05d, 0.95d), 10000)")
    val bounds = orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        round(element_at(pcts, 1) + lit(1e-9), 2).as("lo"),
        round(element_at(pcts, 2) + lit(1e-9), 2).as("hi"))
    orders(s, d)
      .join(broadcast(bounds), "o_orderpriority")
      .withColumn("clamped",
        least(greatest(col("o_totalprice"), col("lo")), col("hi"))
          .cast(DecimalType(18, 2)))
      .groupBy("o_orderpriority", "lo", "hi")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          / count(lit(1)) + lit(1e-9), 6).as("mean_raw"),
        round(sum(col("clamped")).cast("double") / count(lit(1)) + lit(1e-9), 6)
          .as("mean_winsor"))
      .orderBy("o_orderpriority")
  }

  /** Two-sided 10% TRIMMED mean per order priority — the winsorizer's
    * sibling that DROPS the tail observations instead of clamping them
    * (the robust location estimate when the tails are garbage rather
    * than censored truth; winsorize when mass must be conserved, trim
    * when it must be excluded). Identical 100 TB plan shape to
    * [[q_winsorize]]: exact per-group percentile bounds (p10/p90),
    * broadcast back, ONE conditional re-aggregation — the kept-mass
    * sum stays DECIMAL until the final division, and the kept count is
    * reported next to the raw count so the effective trim rate is
    * auditable.
    */
  def q_trimmed_mean(s: SparkSession, d: String): DataFrame = {
    val pcts = percentile(col("o_totalprice"), lit(Array(0.10, 0.90)))
    val bounds = orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        round(element_at(pcts, 1) + lit(1e-9), 2).as("lo"),
        round(element_at(pcts, 2) + lit(1e-9), 2).as("hi"))
    val kept = col("o_totalprice") >= col("lo") && col("o_totalprice") <= col("hi")
    orders(s, d)
      .join(broadcast(bounds), "o_orderpriority")
      .groupBy("o_orderpriority", "lo", "hi")
      .agg(
        count(lit(1)).as("n"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        round(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          / count(lit(1)) + lit(1e-9), 6).as("mean_raw"),
        round(sum(when(kept, col("o_totalprice").cast(DecimalType(18, 2)))).cast("double")
          / sum(when(kept, 1L).otherwise(0L)) + lit(1e-9), 6).as("mean_trimmed"))
      .orderBy("o_orderpriority")
  }

  /** 2-D Pareto frontier (skyline) per market segment: customers not
    * dominated on (order count, total spend) — the "best customers"
    * report without collapsing two axes into one score. NOT an
    * all-pairs self-join: points reduce to per-(segment, n_orders)
    * spend maxima, the strictly-higher-level running max is a window
    * over that tiny level table, and frontier membership joins back
    * broadcast. A point survives iff it holds its level's max spend
    * AND beats every strictly-higher level's max (ties on both axes
    * are mutually non-dominating and all kept). Spend stays DECIMAL
    * through every comparison, so the max-equality and strict `<`
    * tests are exact. One custkey agg shuffle + one broadcast join —
    * no n² pair blow-up at any corpus size.
    */
  def q_skyline(s: SparkSession, d: String): DataFrame = {
    val pts = orders(s, d)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("spend"))
      .join(customer(s, d).select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("custkey") === col("c_custkey"))
      // customer-grain table feeds BOTH the level build and the join
      // back — materialized once so orders is scanned once, not twice
      .localCheckpoint()
    val lvl = pts.groupBy("segment", "n_orders").agg(max("spend").as("lvl_max"))
    val wl = Window.partitionBy("segment").orderBy(col("n_orders").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lvl2 = lvl.withColumn("best_higher", max(col("lvl_max")).over(wl))
    pts.join(broadcast(lvl2), Seq("segment", "n_orders"))
      .filter(col("spend") === col("lvl_max") &&
        (col("best_higher").isNull || col("best_higher") < col("spend")))
      .select(col("segment"), col("custkey"), col("n_orders"),
        col("spend").cast("double").as("spend"))
      .orderBy(col("segment"), col("n_orders").desc, col("custkey"))
  }

  /** Mutual information between two categorical columns (lang ×
    * source): the corpus-level association diagnostic behind feature
    * selection and leakage screens — [[q_stat_chi2]]'s
    * information-theoretic sibling. Cells, marginals, and N all
    * reduce from ONE scan's tiny cell table; each observed cell
    * reports its PMI and its MI contribution. The log argument is a
    * ratio of EXACT integer products (c·n / cl·cs, both < 2⁵³ at any
    * tested SF), identical in both engines before the one rounded ln.
    */
  def q_mutual_info(s: SparkSession, d: String): DataFrame = {
    // the tiny cell table feeds FOUR consumers (cells, both marginals,
    // N) — materialized once so the corpus is scanned once, not four
    // times (ExecProbe-audited; exchange reuse does not fire across
    // the differing aggregate parents)
    val obs = documents(s, d).groupBy("lang", "source").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val rl = obs.groupBy("lang").agg(sum("c").as("cl"))
    val rs = obs.groupBy("source").agg(sum("c").as("cs"))
    val tot = obs.agg(sum("c").as("n"))
    obs.join(broadcast(rl), "lang").join(broadcast(rs), "source")
      .crossJoin(broadcast(tot))
      .withColumn("ratio",
        (col("c") * col("n")).cast("double") / (col("cl") * col("cs")).cast("double"))
      .select(col("lang"), col("source"), col("c"),
        round(log(col("ratio")) + lit(1e-9), 6).as("pmi"),
        round(col("c").cast("double") / col("n").cast("double") * log(col("ratio"))
          + lit(1e-9), 6).as("mi_term"))
      .orderBy("lang", "source")
  }

  /** Frame-truncated EWMA smoother (α = 1/2 over the last 8
    * observations) per user in event-time order. The α = 1/2 family
    * keeps every per-term weight an exact power of two, so the
    * weighted sum is a fixed left-to-right chain of EXACT double
    * scalings — bit-identical across engines — and the truncated-tail
    * normalizer 1 − 2^−m (m = observations in frame) is exact too;
    * only the final report is rounded. One user-key shuffle, windows
    * partitioned per user — no global funnel, linear at any corpus
    * size.
    */
  def q_window_ewma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val lagTerms = (1 until 8).map(k =>
      coalesce(lag(col("value"), k).over(w), lit(0.0)) * lit(math.pow(0.5, k + 1)))
    val num = lagTerms.foldLeft(col("value") * lit(0.5))(_ + _)
    val m = least(row_number().over(w), lit(8))
    events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("ewma",
        round(num / (lit(1.0) - lit(1.0) / pow(lit(2.0), m)) + lit(1e-9), 6))
      .select("event_id", "user_id", "ewma")
      .orderBy("event_id")
  }

  /** Top user journeys: gap-sessionize (30-min), render each session's
    * first-5-event-type path, count sessions per path, top-20 — the
    * "common paths" product-analytics report. Determinism: the path is
    * assembled by sorting a collected (position, type) struct array —
    * `collect_list` order is partition-dependent, `array_sort` of the
    * windowed position makes it total. Both windows partition on
    * user/session keys (parallel); the path rollup map-side combines;
    * the final top-20 is a TakeOrdered, never a global sort.
    */
  def q_session_paths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val ev = events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("prev", lag("ts_us", 1).over(w))
      .withColumn("new_sess",
        (col("prev").isNull || col("ts_us") - col("prev") > 30L * 60 * 1000000L)
          .cast("long"))
      .withColumn("sess", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wp = Window.partitionBy("user_id", "sess").orderBy(col("ts_us"), col("event_id"))
    ev.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= 5)
      .groupBy("user_id", "sess")
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(rn, event_type)))," +
          " x -> x.event_type), '>')").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** As-of join with a STALENESS TOLERANCE: nearest preceding purchase
    * per event, but only if it happened within the last 7 days — the
    * bound production as-of joins carry (pandas `merge_asof
    * tolerance`, kdb `wj` windows) so a years-old match can't leak
    * into a freshness-sensitive feature. Same single-window shape as
    * [[q_join_asof]] with the frame narrowed from unbounded-preceding
    * to a RANGE (event-time) lower bound: still one user-key shuffle,
    * no join node, and the state per window position is O(frame), not
    * O(history).
    */
  def q_join_asof_tol(s: SparkSession, d: String): DataFrame = {
    val tolUs = 7L * 24 * 3600 * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-tolUs, 0)
    events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("pus", when(col("event_type") === "purchase", col("ts_us")))
      .withColumn("last_purchase_tol_ns", max("pus").over(w) * 1000L)
      .select("event_id", "user_id", "last_purchase_tol_ns")
      .orderBy("event_id")
  }

  /** Per-key last-N ring, BATCH form: the newest `n` events per key in
    * event-time order — the exact end-state the streaming
    * [[graft.ops.Streaming.LastNProcessor]] ListState ring converges to
    * after all batches (StreamingSpec pins the two paths equal on the
    * same inputs). Rank-filter formulation: one user-keyed window
    * (high-cardinality key — shards evenly), `row_number` DESC to keep
    * the newest n, then a bounded `collect_list` (≤ n entries per key —
    * never an unbounded per-key buffer) re-sorted ascending so the ring
    * reads oldest→newest. Tie-break on event_id makes duplicate
    * timestamps deterministic. Same linear sort shape as
    * [[q_attribution_last]] (disposed at sf100: cores, not memory).
    */
  def lastNPerKey(ev: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    ev.select(col("user_id"), col("event_id"), col("ts_ns"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .groupBy("user_id")
      .agg(transform(
        sort_array(collect_list(struct(col("ts_ns"), col("event_id")))),
        x => x.getField("event_id")).as("last_event_ids"))
  }

  /** Gate surface renders the ring as a canonical CSV string — the
    * driver's pandas hash-compare can't hash list cells (same
    * convention as [[q_agg_collect]]).
    */
  def q_last_n(s: SparkSession, d: String): DataFrame =
    lastNPerKey(events(s, d), 3)
      .select(col("user_id"),
        array_join(transform(col("last_event_ids"), _.cast("string")), ",")
          .as("last_event_ids"))
      .orderBy("user_id")

  /** RFM segmentation — the classic customer-value cube: per customer
    * Recency (latest order date), Frequency (order count), Monetary
    * (DECIMAL revenue sum), each quintile-coded under a DETERMINISTIC
    * total order (metric, then custkey — equal metrics must not shuffle
    * between quintiles run to run), rolled up to segment counts (≤125
    * rows). Scale shape: the fact table collapses to CUSTOMER grain
    * first (one map-side-combined agg); each quintile code comes from
    * [[Scale.globalSequence]] (range-partitioned terasort ranking — the
    * r13 sf100 spot measured the naive global `ntile(5)` window at
    * 87 s in ONE task on 15M customers; three distributed sorts replace
    * it) plus the exact ntile(5) CLOSED FORM over the global rank, so
    * the output is bit-identical to the window formulation the DuckDB
    * oracle runs (first N mod 5 buckets take the extra row).
    */
  def q_rfm(s: SparkSession, d: String): DataFrame = {
    val cust = orders(s, d).groupBy("o_custkey").agg(
      max("o_orderdate").as("recency"),
      count(lit(1)).as("frequency"),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).as("monetary"))
      .localCheckpoint() // 3 rank passes + count read ONE materialization
    val n = cust.count()
    val (q5, rem) = (n / 5, n % 5)
    val t = rem * (q5 + 1)
    // ntile(5) closed form for rank r in 1..n (when-branch division by
    // q5=0 at n<5 is dead: rem=n makes r<=t always true)
    // one-shuffle bucket proxies: exact-in-double bases (epoch day,
    // order count) refine their heavy ties with an exact custkey
    // fraction; the decimal monetary base is rounded by the double
    // cast so it takes NO fraction — a rounded base can collapse
    // DISTINCT keys, and a tiebreak fraction would reorder rows inside
    // the collapse class (ties that merely share a bucket are fine)
    val custFrac = col("o_custkey").cast("double") * lit(math.pow(2.0, -63))
    def quintile(df: DataFrame, order: Seq[Column], bk: Column,
                 name: String): DataFrame =
      Scale.globalSequence(df, order, "__pos", bucketKey = bk)
        .withColumn(name,
          if (rem == 0) expr(s"(__pos - 1) div $q5 + 1")
          else when(col("__pos") <= t, expr(s"(__pos - 1) div ${q5 + 1} + 1"))
            .otherwise(expr(s"$rem + (__pos - $t - 1) div $q5 + 1")))
        .drop("__pos")
    val withQ = quintile(
      quintile(
        quintile(cust,
          Seq(col("recency").desc, col("o_custkey")),
          -datediff(col("recency"), to_date(lit("1970-01-01"))).cast("double")
            + custFrac, "r_q"),
        Seq(col("frequency").desc, col("o_custkey")),
        -col("frequency").cast("double") + custFrac, "f_q"),
      Seq(col("monetary").desc, col("o_custkey")),
      -col("monetary").cast("double"), "m_q")
    withQ.groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary")).cast("double").as("segment_revenue"))
      .orderBy("r_q", "f_q", "m_q")
  }

  /** LINEAR multi-touch attribution — the even-split sibling of
    * [[q_attribution_last]]: every purchase's value is divided equally
    * across ALL of the user's preceding non-purchase touches, and each
    * touch's share accrues to its channel (event type). No per-pair
    * explosion: with ~6 channel types, one user-keyed window per
    * channel carries the RUNNING count of that channel's touches, so a
    * purchase row holds (per-channel count, total count) and credits
    * close-form — the pair join a naive formulation pays never
    * materializes. Exact-sum discipline: each per-purchase credit is
    * rounded to an integer ten-thousandth from identical (value, cnt,
    * n) inputs in both engines, then integer-summed (order-free).
    * Purchases with NO preceding touch credit 'direct' in full.
    */
  def q_attribution_linear(s: SparkSession, d: String): DataFrame = {
    val channels = Seq("click", "view", "error", "signup")
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ALL counters in one select → CollapseWindow keeps them in ONE
    // Window node over ONE sort. A per-counter withColumn fold
    // interleaves Projects that block the merge (measured: 4 Window
    // nodes, and a per-channel Union replicated the subtree 5× —
    // 21 Window nodes; PlanSpec pins the single-node shape now).
    val counted = events(s, d).select(
      Seq(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts_ns")) ++
        channels.map(c =>
          count(when(col("event_type") === c, lit(1))).over(w).as(s"cnt_$c")): _*)
    val purchases = counted.filter(col("event_type") === "purchase")
      .withColumn("n_touch", channels.map(c => col(s"cnt_$c")).reduce(_ + _))
    // per-purchase credits as an ARRAY exploded in the same stage — no
    // Union branch per channel, the window output is consumed once
    val credits = purchases.select(explode(
      when(col("n_touch") > 0,
        filter(
          array(channels.map(c => struct(
            lit(c).as("channel"),
            round(col("value") * col(s"cnt_$c").cast("double")
                / col("n_touch").cast("double") * 10000 + lit(1e-9), 0)
              .cast("long").as("credit_4"),
            col(s"cnt_$c").as("cnt"))): _*),
          x => x.getField("cnt") > 0))
        .otherwise(array(struct(
          lit("direct").as("channel"),
          round(col("value") * 10000 + lit(1e-9), 0).cast("long").as("credit_4"),
          lit(1L).as("cnt"))))).as("x"))
      .select(col("x.channel").as("channel"), col("x.credit_4").as("credit_4"))
    credits.groupBy("channel")
      .agg(count(lit(1)).as("n_credits"), sum("credit_4").as("revenue_4"))
      .filter(col("revenue_4") > 0)
      .orderBy("channel")
  }

  /** U-SHAPED (position-based) multi-touch attribution — 40% of each
    * purchase's value to the FIRST preceding touch, 40% to the LAST,
    * 20% split across the middles: the position-aware model between
    * [[q_attribution_last]] (all-to-last) and [[q_attribution_linear]]
    * (even split), crediting discovery and closing over drive-by
    * middles. Exact integer micro-units throughout: 40% = `vu*2 div 5`,
    * middles get `mid_total div (n−2)` each with the remainder riding
    * the FIRST touch, n=2 splits `div 2`/remainder, n=1 takes all — so
    * every purchase's credits sum to EXACTLY its micro-value in both
    * engines (no float division anywhere). Same single-window plan as
    * linear: per-channel counts + first/last touch all collapse into
    * ONE window node over ONE user-keyed sort; credits emit via the
    * array-explode (never a per-channel Union over the window subtree).
    */
  def q_attribution_ushape(s: SparkSession, d: String): DataFrame = {
    val channels = Seq("click", "view", "error", "signup")
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val counted = events(s, d).select(
      Seq(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts_ns")) ++
        channels.map(c =>
          count(when(col("event_type") === c, lit(1))).over(w).as(s"cnt_$c")) ++
        Seq(first(touch, ignoreNulls = true).over(w).as("first_ch"),
          last(touch, ignoreNulls = true).over(w).as("last_ch")): _*)
    val purchases = counted.filter(col("event_type") === "purchase")
      .withColumn("vu", round(col("value") * 10000 + lit(1e-9), 0).cast("long"))
      .withColumn("n_touch", channels.map(c => col(s"cnt_$c")).reduce(_ + _))
      .withColumn("f40", expr("vu * 2 div 5"))
      .withColumn("mid_each",
        expr("CASE WHEN n_touch >= 3 THEN (vu - 2 * (vu * 2 div 5)) div (n_touch - 2) ELSE CAST(0 AS BIGINT) END"))
      .withColumn("mid_rem",
        expr("CASE WHEN n_touch >= 3 THEN vu - 2 * (vu * 2 div 5) - (n_touch - 2) * mid_each ELSE CAST(0 AS BIGINT) END"))
    def credit(c: String) = {
      val isFirst = when(col("first_ch") === c, 1L).otherwise(0L)
      val isLast = when(col("last_ch") === c, 1L).otherwise(0L)
      when(col("n_touch") === 1, col("vu"))
        .when(col("n_touch") === 2,
          isFirst * expr("vu div 2") + isLast * expr("vu - vu div 2"))
        .otherwise(
          isFirst * (col("f40") + col("mid_rem")) + isLast * col("f40") +
            (col(s"cnt_$c") - isFirst - isLast) * col("mid_each"))
    }
    val credits = purchases.select(explode(
      when(col("n_touch") > 0,
        filter(
          array(channels.map(c => struct(
            lit(c).as("channel"),
            credit(c).as("credit_4"),
            col(s"cnt_$c").as("cnt"))): _*),
          x => x.getField("cnt") > 0))
        .otherwise(array(struct(
          lit("direct").as("channel"),
          col("vu").as("credit_4"),
          lit(1L).as("cnt"))))).as("x"))
      .select(col("x.channel").as("channel"), col("x.credit_4").as("credit_4"))
    credits.groupBy("channel")
      .agg(count(lit(1)).as("n_credits"), sum("credit_4").as("revenue_4"))
      .filter(col("revenue_4") > 0)
      .orderBy("channel")
  }

  /** Cohort LTV curve — cumulative purchase revenue per signup cohort by
    * weeks-since-signup (the [[q_retention]] grid with money instead of
    * presence): cohort = the user's first-event week, weekly revenue is
    * an exact DECIMAL sum at (cohort, week-offset) grain, and the
    * running LTV is a cumulative window over the TINY cohort×offset
    * grid (weeks², not users). The broadcastable first-seen join is the
    * same shape retention already pays.
    */
  def q_cohort_ltv(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("week", expr("(ts_ns div 1000) div 604800000000"))
    val firstSeen = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    val weekly = ev.filter(col("event_type") === "purchase")
      .join(firstSeen, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("weeks_since"))
      .agg(sum(col("value").cast(DecimalType(18, 4))).as("wrev"))
    val wc = Window.partitionBy("cohort_week").orderBy("weeks_since")
      .rowsBetween(Window.unboundedPreceding, 0)
    weekly
      .select(col("cohort_week"), col("weeks_since"),
        col("wrev").cast("double").as("weekly_revenue"),
        sum(col("wrev")).over(wc).cast("double").as("cum_ltv"))
      .orderBy("cohort_week", "weeks_since")
  }

  /** Per-type inter-arrival gap profile: for each user the gap to the
    * PREVIOUS event of the same type (one user+type-keyed lag window —
    * high-cardinality composite key, shards evenly), rolled up per type
    * with exact integer nanosecond arithmetic (min / max / integer-div
    * mean — no float drift in any engine).
    */
  def q_event_gaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_ns"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_ns"))
      .withColumn("gap_ns", col("ts_ns") - lag("ts_ns", 1).over(w))
      .withColumn("gap_us", expr("gap_ns div 1000"))
      .filter(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        min("gap_us").as("min_gap_us"),
        max("gap_us").as("max_gap_us"),
        // exact integer mean: µs sums stay < 2^63 at any plausible SF
        // (ns sums would overflow LongType near sf100×10)
        expr("sum(gap_us) div count(1)").as("mean_gap_us_floor"))
      .orderBy("event_type")
  }

  /** Robust trend screen per event type — Mann–Kendall S / Kendall tau
    * (sign-based: is the daily series monotonically drifting?) plus the
    * Theil–Sen slope (median of pairwise slopes: by how much per day,
    * outlier-proof where OLS from [[q_agg_regr]] is not). The pairwise
    * relation is built on the DAY-grain aggregate — bounded by the
    * calendar (n·(n−1)/2 over #days), never by corpus size, so the
    * one corpus scan is the only thing that grows at 100 TB. Signs
    * compare exact DECIMAL day sums; slopes are identical IEEE ratios
    * of (exact decimal diff) / (integer day diff) in both engines, and
    * the median is the same interpolated percentile both engines
    * define.
    */
  def q_trend_robust(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast(DecimalType(18, 4)).as("v"))
      .groupBy("event_type", "day").agg(sum("v").as("v"))
      .withColumn("di",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      // day-grain is calendar-tiny; pin it so the pair self-join and
      // the n_days rollup don't each re-run the corpus scan (ExecProbe
      // counted 4 FileScans without this)
      .localCheckpoint()
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.di") < col("b.di"))
      .select(col("a.event_type").as("event_type"),
        signum((col("b.v") - col("a.v")).cast("double")).cast("long").as("sgn"),
        ((col("b.v") - col("a.v")).cast("double")
          / (col("b.di") - col("a.di")).cast("double")).as("slope"))
    val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    pairs.groupBy("event_type")
      .agg(sum("sgn").as("s_stat"), count(lit(1)).as("n_pairs"),
        round(percentile(col("slope"), lit(0.5)) + lit(1e-9), 6)
          .as("theil_sen_slope"))
      .join(broadcast(nd), "event_type")
      .select(col("event_type"), col("n_days"), col("s_stat"),
        round(col("s_stat").cast("double") / col("n_pairs").cast("double")
          + lit(1e-9), 6).as("kendall_tau"),
        col("theil_sen_slope"),
        when(col("s_stat") > 0, "rising").when(col("s_stat") < 0, "falling")
          .otherwise("flat").as("trend"))
      .orderBy("event_type")
  }

  /** CUSUM changepoint locator per event type: the day where the
    * cumulative deviation from the series mean peaks — the level-shift
    * detector run AFTER a drift alarm fires ("WHEN did the mix move?").
    * All-integer discipline: daily sums carry as exact micro-units, and
    * the deviation is the cross-multiplied |n·cum_i − i·total| (the
    * [[q_key_skew]] ppm trick), so the argmax is bit-identical in both
    * engines with no float mean anywhere. The scan collapses to day
    * grain first; windows run over #days-per-type rows (calendar-
    * bounded — the partition-less-window concern does not apply).
    * Magnitude bound: n·cum stays under 2⁶³ through sf100×10.
    */
  def q_changepoint(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast(DecimalType(18, 4)).as("v"))
      .groupBy("event_type", "day").agg(sum("v").as("v"))
      .withColumn("vu", expr("cast(v * 10000 as bigint)"))
      .localCheckpoint() // day-grain pinned: cum + totals, ONE corpus scan
    val w = Window.partitionBy("event_type").orderBy("day")
    val cum = daily
      .withColumn("cum",
        sum("vu").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("i", row_number().over(w).cast("long"))
    val tot = daily.groupBy("event_type")
      .agg(sum("vu").as("total"), count(lit(1)).as("n_days"))
    val pick = Window.partitionBy("event_type")
      .orderBy(col("dev").desc, col("day"))
    cum.join(broadcast(tot), "event_type")
      .withColumn("dev", abs(col("n_days") * col("cum") - col("i") * col("total")))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_days"), col("day").as("cp_day"),
        col("dev").as("max_dev_n_micro"))
      .orderBy("event_type")
  }

  /** Peak concurrency per day — "how many sessions were open at once":
    * the interval-sweep classic (+1 at session start, −1 after session
    * end, running sum, max per day). The running sum is GLOBAL over
    * event time, which is exactly the partition-less-window trap
    * ([[q_rfm]]'s lesson), so it rides [[Scale.globalCumSum]]: range-
    * partition on the total order, per-partition running sums, P-row
    * driver offset pass — no single-task stage at any scale. Sessions
    * are the [[q_sessionize_batch]] 30-minute-gap definition (µs
    * quantized); the −1 lands at end+1µs (half-open), and the sweep
    * order (ts, delta) releases before it occupies at a shared
    * timestamp. Both engines run the IDENTICAL total order
    * (ts, delta, user, session), so per-row cums — not just the
    * per-day max — agree exactly. Days with no session boundary
    * events carry no row (documented: the sweep reports at event
    * days).
    */
  def q_peak_concurrency(s: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    // A sweep event is identifiable PER ROW: a session START is any
    // row whose previous same-user event is >30 min back (or absent),
    // a session END is any row whose next is >30 min ahead (or
    // absent). lag+lead share one window sort, so the whole sweep
    // derives from ONE user-keyed pass — no session_id running count
    // and no (user, session) groupBy (the first formulation paid a
    // second full window function pass + an aggregation for bounds
    // the boundary rows already carry; sf100: 212 → ~150 s).
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    // BOTH boundary roles emit from one row via explode — a
    // starts-UNION-ends formulation re-executes the whole window
    // subtree per branch (no subtree reuse without an explicit cache;
    // the sf100 taskstats showed the window pass twice at ~400 s each)
    // Both big sorts here (the user window below and the sweep terasort
    // at the end) must size their partition count by DATA, not cores:
    // at the conf default (= cpus in the bench harness) an sf100 task
    // sorts >3 GB and spills — r15 taskstats showed the sort stages'
    // task-time sums growing 18.5×/decade with perfectly even tasks,
    // and raising the fan-out 4× removed the spill (sf100 RUNS=1
    // 125.0 → ~82 s; sort-stage sum 538k → 318k ms). The explicit
    // repartition below still satisfies the window's ClusteredDistribution
    // (any hash partitioning on user_id) so no second exchange is added;
    // AQE never raises a fan-out on its own. Cheap at small SFs.
    val fanout = 4 * s.sessionState.conf.numShufflePartitions
    val sweep = events(s, d)
      .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"))
      .repartition(fanout, col("user_id"))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("next_us", lead("ts_us", 1).over(w))
      .select(col("user_id"), col("event_id"), explode(expr(
        s"""concat(
           |  CASE WHEN prev_us IS NULL OR ts_us - prev_us > $gapUs
           |       THEN array(struct(ts_us AS ts_us, 1L AS delta))
           |       ELSE array() END,
           |  CASE WHEN next_us IS NULL OR next_us - ts_us > $gapUs
           |       THEN array(struct(ts_us + 1 AS ts_us, -1L AS delta))
           |       ELSE array() END)""".stripMargin)).as("e"))
      .select(col("user_id"), col("event_id"),
        col("e.ts_us").as("ts_us"), col("e.delta").as("delta"))
    // (ts_us, delta, user_id) is already unique — one user's sessions
    // are >30 min apart, so the event_id tail of the total order never
    // decides between rows that could reorder the running sum.
    // The day-grain rollup is FOLDED into the terasort's own pass
    // ([[Scale.globalCumMaxPerGroup]]): the per-bucket running sum
    // feeds a map-side (bucket, day) partial agg in the same stage, and
    // the bucket offsets come from that micro-table — vs the r14
    // globalCumSum + groupBy form this removes the n-row
    // localCheckpoint, the separate offset-count scan, the broadcast
    // join back onto n rows, and the n-row day agg (sf100 A/B:
    // 135 s -> see PERF.md round 15).
    // Bucket boundaries for the ONE-SHUFFLE terasort come from the
    // PRUNED events scan (ts column only — no window recompute, unlike
    // repartitionByRange's own sampling job which re-runs the sweep
    // subtree): sweep timestamps are the session-boundary subset of
    // event timestamps, so event-ts quantiles balance the sweep within
    // the skew monitor's tolerance. 4 buckets per partition lets the
    // range packer even out multi-bucket partitions.
    val boundaries = events(s, d)
      .select(expr("ts_ns div 1000").cast("double").as("__k"))
      .stat.approxQuantile("__k",
        (1 until 4 * fanout).map(_.toDouble / (4 * fanout)).toArray, 0.005)
    Scale.globalCumMaxPerGroup(sweep,
        Seq(col("ts_us"), col("delta"), col("user_id"), col("event_id")),
        col("delta"),
        Seq((expr("ts_us div 86400000000"), "day")),
        "peak_concurrency",
        bucketKey = col("ts_us").cast("double"),
        extraSums = Seq((when(col("delta") === 1L, 1L).otherwise(0L), "n_session_starts")),
        numPartitions = fanout,
        boundaries = Some(boundaries))
      .orderBy("day")
  }

  /** Windowed funnel conversion — signup → purchase WITHIN 7 days, by
    * signup cohort week: the bounded-horizon conversion rate every
    * growth dashboard quotes (unbounded [[q_funnel]] counts a
    * conversion years later; [[q_funnel_latency]] profiles the delay —
    * this one gates it). One user-keyed equi-join between the signup
    * and purchase projections of a single scan with the horizon as a
    * join-time range filter, then a week-grain rollup; the conversion
    * rate is an exact integer ppm (cross-multiplied, no float
    * division).
    */
  def q_funnel_window(s: SparkSession, d: String): DataFrame = {
    val horizonUs = 7L * 86400000000L
    val ev = events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_us").as("s_us"))
    val converted = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"))
      .join(signups, "user_id")
      .filter(col("ts_us") >= col("s_us") &&
        col("ts_us") <= col("s_us") + lit(horizonUs))
      .select("user_id").distinct()
      .withColumn("conv", lit(1L))
    signups.join(converted, Seq("user_id"), "left")
      .groupBy(expr("s_us div 604800000000").as("cohort_week"))
      .agg(count(lit(1)).as("n_signups"),
        sum(coalesce(col("conv"), lit(0L))).as("n_conv_7d"))
      .withColumn("cvr_ppm", expr("n_conv_7d * 1000000 div n_signups"))
      .orderBy("cohort_week")
  }

  /** Month-over-month rank movers — which market segments GAINED or
    * LOST revenue rank between consecutive months (the leaderboard-
    * delta report behind every "top movers" dashboard). Revenue ranks
    * live on the month×segment grain (calendar-bounded), so the
    * windows and the consecutive-month self-join are over a tiny
    * aggregate — the one fact scan is the only corpus-sized work.
    * DECIMAL revenue sums make the rank order exact; rank ties break
    * on segment name in both engines.
    */
  def q_rank_movers(s: SparkSession, d: String): DataFrame = {
    val monthly = orders(s, d)
      .join(customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"),
        col("c_mktsegment").as("segment"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val wm = Window.partitionBy("month").orderBy(col("rev").desc, col("segment"))
    val ranked = monthly.withColumn("rnk", row_number().over(wm).cast("long"))
    ranked.as("cur")
      .join(ranked.as("prev"),
        col("cur.segment") === col("prev.segment") &&
          col("cur.month") === add_months(col("prev.month"), 1))
      .select(col("cur.month").as("month"), col("cur.segment").as("segment"),
        col("cur.rnk").as("rnk"), col("prev.rnk").as("prev_rnk"),
        (col("prev.rnk") - col("cur.rnk")).as("rank_delta"),
        col("cur.rev").cast("double").as("revenue"))
      .orderBy("month", "rnk")
  }

  /** Day-of-week seasonality profile per event type: the DOW index
    * (average daily value that weekday ÷ overall average daily value,
    * in exact ppm) — the traffic-shaping profile capacity planning and
    * anomaly baselines start from. The ratio is the cross-multiplied
    * exact integer (Σ_dow · n_days_total) / (n_days_dow · Σ_total) in
    * micro-units, carried through DECIMAL(38,0) (the χ² overflow
    * lesson: micro-sums × day counts × 10⁶ pass 2⁶³ by sf10), so both
    * engines emit the identical integer. Monday-based weekday
    * (Spark `weekday` ≡ DuckDB `isodow − 1`).
    */
  def q_seasonality_dow(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast(DecimalType(18, 4)).as("v"))
      .groupBy("event_type", "day").agg(expr("cast(sum(v) * 10000 as bigint)").as("vu"))
    val byDow = daily
      .groupBy(col("event_type"), expr("weekday(day)").cast("long").as("dow"))
      .agg(sum("vu").as("sum_dow"), count(lit(1)).as("n_days_dow"))
    val tot = byDow.groupBy("event_type")
      .agg(sum("sum_dow").as("sum_tot"), sum("n_days_dow").as("n_days_tot"))
    byDow.join(broadcast(tot), "event_type")
      .withColumn("dow_index_ppm",
        expr("cast(cast(sum_dow as decimal(38,0)) * n_days_tot * 1000000" +
          " div (cast(sum_tot as decimal(38,0)) * n_days_dow) as bigint)"))
      .select(col("event_type"), col("dow"), col("n_days_dow"),
        col("sum_dow").as("sum_micro"), col("dow_index_ppm"))
      .orderBy("event_type", "dow")
  }

  /** EXACT audience overlap between event types — per unordered type
    * pair, |A∩B| / |A∪B| of the user sets (the exact sibling of the
    * theta-sketch set algebra in [[q_agg_theta]]: run it where the
    * pair grid is small and the answer must be a fact, not an
    * estimate). The corpus collapses to DISTINCT (user, type) rows
    * first; the pair fan-out is per-user over that deduped relation
    * (≤ k·(k−1)/2 rows per user for k types — bounded by the type
    * vocabulary, not event volume), and Jaccard is exact integer ppm.
    */
  def q_audience_overlap(s: SparkSession, d: String): DataFrame = {
    val ut = events(s, d).select("user_id", "event_type").distinct()
    val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("n_users"))
    val both = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n_users").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n_users").as("n_b"))), "type_b")
      .withColumn("jaccard_ppm",
        expr("n_both * 1000000 div (n_a + n_b - n_both)"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"), col("jaccard_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** Ingestion freshness & volume audit per event type — the data-ops
    * pre-flight next to [[q_dq_report]]'s value expectations: how far
    * behind the corpus watermark is each type's latest event (staleness
    * in exact whole minutes), and did last-week volume move against the
    * prior week (exact ppm ratio — the silent-upstream-death detector;
    * a type missing from the final week reads as ratio 0, loudly).
    * One scan → type grain; the corpus watermark is a broadcast
    * one-row aggregate.
    */
  def q_dq_freshness(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val wm = ev.agg(max("ts_us").as("corpus_max_us"))
    val weekUs = 7L * 86400000000L
    ev.crossJoin(broadcast(wm))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        expr("(max(corpus_max_us) - max(ts_us)) div 60000000").as("staleness_min"),
        sum(when(col("ts_us") > col("corpus_max_us") - weekUs, 1L)
          .otherwise(0L)).as("n_last_week"),
        sum(when(col("ts_us") > col("corpus_max_us") - 2 * weekUs &&
            col("ts_us") <= col("corpus_max_us") - weekUs, 1L)
          .otherwise(0L)).as("n_prior_week"))
      .withColumn("wow_ratio_ppm",
        when(col("n_prior_week") === 0, lit(null).cast("long"))
          .otherwise(expr("n_last_week * 1000000 div n_prior_week")))
      .orderBy("event_type")
  }

  /** Daily percentile bands per event type (p50/p90/p99 of event
    * values by day — the latency/value-band strip every ops dashboard
    * draws; [[q_agg_percentile]] is the corpus-level form, this is the
    * time-resolved one). Exact interpolated percentiles at the
    * day×type grain: the groups are a calendar × small vocabulary, so
    * per-group sort state is bounded by a day's type volume and the
    * partial-agg shuffle shards on a high-cardinality composite key.
    * Values quantize to the data's 4-dp grain before ranking so both
    * engines interpolate over identical inputs.
    */
  def q_percentile_bands(s: SparkSession, d: String): DataFrame = {
    val pcts = percentile(col("v"), lit(Array(0.5, 0.9, 0.99)))
    events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        // quantize to the 4-dp grain, then rank as DOUBLE in both
        // engines (DuckDB's quantile_cont over DECIMAL interpolates in
        // decimal arithmetic — a cross-engine trap)
        col("value").cast(DecimalType(18, 4)).cast("double").as("v"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"),
        round(element_at(pcts, 1) + lit(1e-9), 4).as("p50"),
        round(element_at(pcts, 2) + lit(1e-9), 4).as("p90"),
        round(element_at(pcts, 3) + lit(1e-9), 4).as("p99"))
      .orderBy("event_type", "day")
  }

  /** Day-level volume anomalies per event type — days whose daily
    * value total sits more than 2σ from the type's mean daily total
    * (the control-chart cousin of [[q_changepoint]]: changepoint finds
    * the level SHIFT, this flags the individual outlier days; the
    * streaming EWMA monitor is the online form). Float discipline:
    * daily totals carry as exact micro-unit integers; z's numerator
    * (n·x − S1) and variance argument (n·S2 − S1²) are exact BIGINT /
    * DECIMAL(38,0) cross-products, and both engines evaluate the same
    * closed form over the same exact integers → identical IEEE
    * doubles, so the z > 2 cut is deterministic. Day grain throughout
    * after one scan.
    */
  def q_anomaly_days(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast(DecimalType(18, 4)).as("v"))
      .groupBy("event_type", "day")
      .agg(expr("cast(sum(v) * 10000 as bigint)").as("xu"))
      // pinned: the stats rollup and the z join-back are DIFFERENT
      // subtrees over daily, so AQE exchange reuse cannot dedup them
      // (unlike snaive's identical self-join sides) — A/B at sf100:
      // 9.4 s re-derived vs 7.8 s pinned
      .localCheckpoint()
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("xu").as("s1"),
        sum(expr("cast(xu as decimal(38,0)) * xu")).as("s2"))
    daily.join(broadcast(stats), "event_type")
      // degenerate groups (one day, or zero variance) make z = 0/0 =
      // NaN, and Spark's NaN-is-greatest ordering turns abs(NaN) > 2
      // TRUE — every day of a constant series would be "anomalous".
      // Guard on the EXACT integer variance argument (n·S2 − S1² > 0)
      // so the cut never rides engine-specific NaN comparison rules;
      // the oracle carries the identical guard in HUGEINT.
      .filter(expr("n > 1 AND cast(n as decimal(38,0)) * s2" +
        " - cast(s1 as decimal(38,0)) * s1 > 0"))
      .withColumn("z",
        // z = (x − μ)/σ_pop = (n·x − S1) / sqrt(n·S2 − S1²)
        expr("(cast(n as double) * cast(xu as double) - cast(s1 as double))" +
          " / sqrt(cast(n as double) * cast(s2 as double)" +
          " - cast(s1 as double) * cast(s1 as double))"))
      .filter(abs(col("z")) > 2.0)
      .select(col("event_type"), col("day"), col("xu").as("day_total_micro"),
        round(col("z") + lit(1e-9), 4).as("z_score"))
      .orderBy("event_type", "day")
  }

  /** Point-in-time grid over the SCD2 dimension — "how many users were
    * in each status at every weekly snapshot instant": the as-of
    * dimension-state report BI tools draw from a type-2 table, and the
    * query a [[q_scd2]] consumer runs next. Each validity interval
    * emits only the week boundaries IT covers (`sequence` explode,
    * fanout = the interval's week span — the [[q_interval_prorate]]
    * trick; never intervals × grid), open intervals run to the corpus
    * watermark (a broadcast one-row aggregate). Exact half-open
    * containment in integer µs: week w is covered iff
    * valid_from ≤ w·week < valid_to.
    */
  def q_pit_grid(s: SparkSession, d: String): DataFrame = {
    val weekUs = 604800000000L
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val ev = events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val iv = ev
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type").as("status"))
      .withColumn("prev", lag("status", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("status"))
      .withColumn("valid_to_us", lead("ts_us", 1).over(w))
    val wm = ev.agg(max("ts_us").as("max_us"))
    iv.crossJoin(broadcast(wm))
      .withColumn("w_lo", expr(s"(ts_us + ${weekUs - 1}) div $weekUs"))
      .withColumn("w_hi",
        expr(s"(coalesce(valid_to_us, max_us + 1) - 1) div $weekUs"))
      .filter(col("w_hi") >= col("w_lo"))
      .withColumn("wk", explode(sequence(col("w_lo"), col("w_hi"))))
      .groupBy("wk", "status")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("wk", "status")
  }

  /** Class-balanced downsampling — every language represented by
    * exactly the minority class's count (the classifier-training
    * rebalance that [[q_temperature_sample]] softens and this one
    * enforces hard). Deterministic: within each language docs rank by
    * (md5(doc_id), doc_id) — retry-stable, key-consistent, no rand().
    * The per-class quota is a broadcast one-row MIN over the tiny
    * class-count relation; ranking is a lang-partitioned window (class
    * cardinality = the lang vocabulary, each partition a class's
    * docs). Output is the per-class audit (count, quota, and an exact
    * integer checksum of the selected ids) so the gate stays k rows at
    * any SF while still pinning the exact selected SET.
    */
  def q_sample_balanced(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"))
      .withColumn("rk", md5(concat(lit("bal:"), col("doc_id"))))
    val classCounts = docs.groupBy("lang").agg(count(lit(1)).as("n_class"))
      .localCheckpoint() // k rows: quota + the bucket-proxy lang index
    val quota = classCounts.agg(min("n_class").as("quota"))
    // per-class rank WITHOUT a class-partitioned window: a handful of
    // language classes would cap the sort's parallelism at k tasks
    // (the q_rfm global-ntile lesson at class grain). Terasort instead:
    // ONE range-partitioned global sequence over (lang, rk, id) —
    // parallelism = P — and each class's rank is the offset from the
    // class's first global position (a k-row broadcast min). The
    // one-shuffle bucket proxy needs an exact integer for the string
    // leading key: the class's ordinal in the sorted k-row lang list
    // (codegen array_position over a k literal), refined by the md5
    // tiebreak's exact 48-bit fraction.
    val langs = classCounts.select("lang").collect().map(_.getString(0)).sorted
    val seqd = Scale.globalSequence(docs,
      Seq(col("lang"), col("rk"), col("doc_id")), "gseq",
      bucketKey = array_position(typedLit(langs.toSeq), col("lang"))
        .cast("double") + Scale.hexFrac(col("rk")))
    val base = seqd.groupBy("lang").agg(min("gseq").as("class_start"))
    seqd.join(broadcast(base), "lang")
      .crossJoin(broadcast(quota))
      .filter(col("gseq") - col("class_start") < col("quota"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum("doc_id").as("id_checksum"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("lang")
  }

  /** Kaplan–Meier survival curve of user LIFETIME (day grain, right-
    * censored) — the product-limit estimator every churn analysis
    * should use instead of a naive churn rate, because users still
    * active at the observation end are CENSORED, not alive-forever:
    * dropping them (or counting them as survivors) biases the curve.
    * Churn rule: ≥14 days inactive before the global last-seen day =
    * death at the user's last event; otherwise censored at the
    * horizon. S(t) = Π_{t'≤t} (1 − d_{t'}/n_{t'}).
    *
    * Scale shape: users collapse to one row via the user-keyed agg
    * (the only data-sized shuffle); the duration grid is CALENDAR-
    * bounded (O(days in the dataset) — identical at sf0.01 and
    * sf100k), so the cumulative at-risk / product windows over it are
    * micro-table work, not a data funnel. d and n stay exact BIGINT;
    * the product is exp(Σ ln(1 − d/n)) over identical exact ratios in
    * identical order → cross-engine-identical doubles (the zipf-fit
    * ln convention, rounded at 6 dp + the house epsilon).
    */
  def q_survival_km(s: SparkSession, d: String): DataFrame = {
    val users = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id")
      .agg(min("day").as("first_day"), max("day").as("last_day"))
    val horizon = users.agg(max("last_day").as("end_day"))
    val lt = users.crossJoin(broadcast(horizon))
      .withColumn("dead", datediff(col("end_day"), col("last_day")) >= 14)
      .withColumn("t",
        when(col("dead"), datediff(col("last_day"), col("first_day")))
          .otherwise(datediff(col("end_day"), col("first_day"))).cast("long"))
    val grid = lt.groupBy("t").agg(
      sum(when(col("dead"), 1L).otherwise(0L)).as("d"),
      sum(when(col("dead"), 0L).otherwise(1L)).as("c"))
    val tot = grid.agg(sum(col("d") + col("c")).as("n_total"))
    val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    grid.crossJoin(broadcast(tot))
      .withColumn("n_at_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      // ln(1 − d/n) only for d < n: Spark's ln(0) is NULL while
      // DuckDB's is −inf — the d = n row (everyone at risk dies) is
      // carried as an explicit absorbing zero flag instead, identical
      // CASE in the oracle
      .withColumn("zeroed",
        max(when(col("d") === col("n_at_risk"), 1).otherwise(0)).over(wCum))
      .withColumn("survival",
        when(col("zeroed") === 1, lit(0.0)).otherwise(round(
          exp(sum(when(col("d") < col("n_at_risk"),
              log(lit(1.0) - col("d").cast("double") / col("n_at_risk"))))
            .over(wCum)) + lit(1e-9), 6)))
      .select(col("t").as("duration_days"), col("n_at_risk"),
        col("d").as("n_deaths"), col("c").as("n_censored"), col("survival"))
      .orderBy("duration_days")
  }

  /** Time-decay attribution — the fourth classic multi-touch model
    * next to [[q_attribution_last]]/[[q_attribution_linear]]/
    * [[q_attribution_ushape]]: each prior touch earns weight
    * 2^(−Δdays/7) (7-day half-life), shares are normalized per
    * purchase. The per-touch pair explosion is avoided by the
    * SEPARABLE form 2^(−(P−T)/7) = 2^(−(P−b)/7)·2^((T−b)/7): one
    * user-keyed window carries a per-channel running sum of
    * 2^((T−b)/7) (b = the user's first prior day, keeping the
    * exponent < ~130 so nothing overflows), and each purchase closes
    * the model with O(channels) arithmetic — the whole gate is ONE
    * Window node over the one user shuffle, same as the linear gate.
    * Exactness: raw channel weights are quantized to integer
    * micro-weights (round(w·1e6 + ε)); credits are integer division
    * of the micro-unit value with the REMAINDER routed to the most
    * recent touch's channel, so credits sum to exactly vu per
    * purchase and every engine agrees bit-for-bit (running double
    * sums add in the same window order in both engines).
    */
  def q_attribution_decay(s: SparkSession, d: String): DataFrame = {
    val channels = Seq("click", "view", "error", "signup")
    val wAll = Window.partitionBy("user_id") // full frame, no order
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    // base = the user's first day, constant per user (full-frame min —
    // a second Window node that RIDES the same user shuffle; an
    // ordered-frame base would vary per row and break separability)
    val based = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts_ns"), to_date(col("ts")).as("day"))
      .withColumn("base_day", min("day").over(wAll))
    val counted = based.select(
      Seq(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("day"), col("base_day")) ++
        channels.map(c => sum(when(col("event_type") === c,
            pow(lit(2.0),
              datediff(col("day"), col("base_day")).cast("double") / 7.0)))
          .over(w).as(s"s_$c")) ++
        Seq(last(touch, ignoreNulls = true).over(w).as("last_ch")): _*)
    val purchases = counted.filter(col("event_type") === "purchase")
      .withColumn("vu", round(col("value") * 10000 + lit(1e-9), 0).cast("long"))
      .withColumn("pfac",
        pow(lit(2.0), -datediff(col("day"), col("base_day")).cast("double") / 7.0))
    val wq = channels.map(c =>
      coalesce(round(col("pfac") * col(s"s_$c") * 1e6 + lit(1e-9), 0).cast("long"),
        lit(0L)).as(s"wq_$c"))
    val p2 = purchases.select(
      (Seq(col("vu"), col("last_ch")) ++ wq): _*)
      .withColumn("W", channels.map(c => col(s"wq_$c")).reduce(_ + _))
      // the integer-division remainder routes to the HEAVIEST channel
      // (name-desc tiebreak) — unlike the most-recent touch's channel,
      // it is guaranteed to survive the wq > 0 emission filter, so
      // credits always sum to exactly vu (string max of
      // zero-padded(wq)·channel is engine-portable argmax)
      .withColumn("rem_ch", substring(
        greatest(channels.map(c =>
          concat(lpad(col(s"wq_$c").cast("string"), 20, "0"), lit(c))): _*),
        21, 10))
    def credit(c: String) =
      expr(s"vu * wq_$c div W") +
        when(col("rem_ch") === c,
          col("vu") - channels.map(ch => expr(s"vu * wq_$ch div W")).reduce(_ + _))
          .otherwise(lit(0L))
    val credits = p2.select(explode(
      when(col("W") > 0,
        filter(
          array(channels.map(c => struct(
            lit(c).as("channel"),
            credit(c).as("credit_4"),
            col(s"wq_$c").as("wq"))): _*),
          x => x.getField("wq") > 0))
        .when(col("last_ch").isNotNull, // touches exist but all decayed to 0
          array(struct(col("last_ch").as("channel"), col("vu").as("credit_4"),
            lit(1L).as("wq"))))
        .otherwise(array(struct(lit("direct").as("channel"),
          col("vu").as("credit_4"), lit(1L).as("wq"))))).as("x"))
      .select(col("x.channel").as("channel"), col("x.credit_4").as("credit_4"))
    credits.groupBy("channel")
      .agg(count(lit(1)).as("n_credits"), sum("credit_4").as("revenue_4"))
      .filter(col("revenue_4") > 0)
      .orderBy("channel")
  }

  /** CUPED variance-reduced experiment readout (Deng et al. 2013) —
    * the standard online-experimentation estimator: adjust each
    * user's post-period metric by the pre-period covariate,
    * y' = y − θ(x − E[x]), θ = cov(x,y)/var(x), cutting variance by
    * the squared pre/post correlation at zero bias. Arms are a
    * deterministic md5 coin on user_id; the period boundary splits
    * the observed date range in half (1-row broadcast).
    *
    * Everything reduces to per-arm EXACT sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy² — DECIMAL sums of 2-dp revenues and
    * their 4-dp cross products), so θ, the adjusted means
    * (mean_y − θ(mean_x_arm − mean_x)) and the variance reduction
    * 1 − var(y−θx)/var(y) are closed forms over identical exact
    * decimals in both engines — no per-user float accumulates
    * anywhere. One user shuffle; the arm rollup is k=2 rows.
    */
  def q_cuped(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"), col("value"))
    // integer-div split (DuckDB rounds on double→INT casts, Spark
    // truncates — `div` sidesteps the divergence)
    val span = ev.agg(min("day").as("d0"), max("day").as("d1"))
      .select(expr("date_add(d0, CAST((datediff(d1, d0) div 2) AS INT))").as("cut"))
    val pu = ev.crossJoin(broadcast(span))
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "purchase" && col("day") < col("cut"),
          col("value").cast(DecimalType(18, 2))).otherwise(lit(0).cast(DecimalType(18, 2))))
          .as("x"),
        sum(when(col("event_type") === "purchase" && col("day") >= col("cut"),
          col("value").cast(DecimalType(18, 2))).otherwise(lit(0).cast(DecimalType(18, 2))))
          .as("y"))
      .withColumn("arm", // md5 first-hex coin: '0'..'7' vs '8'..'f'
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    // sufficient statistics: DECIMAL sums (associative-exact, so the
    // partial-agg merge order cannot perturb them), then ONE cast of
    // each statistic to double — every closed form below runs on
    // bit-identical doubles through an identical expression tree in
    // both engines (decimal cross-products like n·Σxy − Σx·Σy would
    // blow the 38-digit cap and round engine-specifically)
    val statsDec = pu.groupBy("arm").agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum((col("x") * col("y")).cast(DecimalType(38, 4))).as("sxy"),
      sum((col("x") * col("x")).cast(DecimalType(38, 4))).as("sxx"),
      sum((col("y") * col("y")).cast(DecimalType(38, 4))).as("syy"))
    val stats = statsDec.select(col("arm"), col("n"),
      col("sx").cast("double").as("sx"), col("sy").cast("double").as("sy"),
      col("sxy").cast("double").as("sxy"), col("sxx").cast("double").as("sxx"),
      col("syy").cast("double").as("syy"))
      .localCheckpoint() // 2 rows: pooled θ + per-arm readout reuse it
    def nd = col("n").cast("double")
    val pooled = stats.agg(
      sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
      sum("sxy").as("sxy"), sum("sxx").as("sxx"))
      .select(
        // degenerate pre-period (var(x) = 0) → θ = 0, plain readout —
        // guarded identically in the oracle (0/0 is NaN in Spark but
        // NULL in DuckDB)
        when(nd * col("sxx") - col("sx") * col("sx") === 0.0, lit(0.0))
          .otherwise((nd * col("sxy") - col("sx") * col("sy")) /
            (nd * col("sxx") - col("sx") * col("sx")))
          .as("theta"),
        (col("sx") / nd).as("mean_x"))
    stats.crossJoin(broadcast(pooled))
      .select(col("arm"), col("n").as("n_users"),
        round(col("sy") / nd + lit(1e-9), 6).as("mean_y"),
        round(col("sy") / nd
          - col("theta") * (col("sx") / nd - col("mean_x"))
          + lit(1e-9), 6).as("mean_y_cuped"),
        when(nd * col("syy") - col("sy") * col("sy") === 0.0, lit(0.0))
          .otherwise(round(lit(1.0) -
            ((nd * col("syy") - col("sy") * col("sy"))
              - lit(2.0) * col("theta") * (nd * col("sxy") - col("sx") * col("sy"))
              + col("theta") * col("theta")
                * (nd * col("sxx") - col("sx") * col("sx"))) /
            (nd * col("syy") - col("sy") * col("sy"))
            + lit(1e-9), 6)).as("var_reduction"))
      .orderBy("arm")
  }

  /** Additive seasonal decomposition of the daily revenue series
    * (STL-lite): trend = centered 7-day moving average (full windows
    * only), seasonal = the day-of-week mean of the detrended series,
    * residual = the rest. The classic first look at any business
    * metric — "is Monday really down, or is that the trend?".
    *
    * The series collapses from the fact table in ONE day-grain
    * aggregation (exact micro-unit integers); every window after that
    * runs on the CALENDAR-bounded day grid (O(days) rows at any SF —
    * a micro-table, so the partition-less ordered window is not a
    * data funnel). Exactness: trend keeps the 7-day sum as BIGINT and
    * divides only at the end; seasonal means are ratios of exact
    * integer sums (Σ(7·r − sum7) over 7·n) — identical doubles in
    * both engines, rounded at 4 dp + the house epsilon.
    */
  def q_seasonal_decompose(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 10000 + lit(1e-9), 0).cast("long")).as("r"))
    val wMa = Window.orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("n7", count(lit(1)).over(wMa))
      .withColumn("sum7", sum("r").over(wMa))
      .withColumn("det7", when(col("n7") === 7, col("r") * 7 - col("sum7")))
    val dowW = Window.partitionBy(dayofweek(col("day")))
    val seasoned = trended
      .withColumn("seas_num", sum("det7").over(dowW))
      .withColumn("seas_den", count("det7").over(dowW))
    // edge days (< 7-day window) carry NULL trend/seasonal/residual —
    // the classic centered-MA convention; seas_den = 0 is guarded
    // because double x/0 is NULL-vs-inf territory across engines
    seasoned
      .select(col("day"),
        round(col("r").cast("double") / 10000 + lit(1e-9), 4).as("revenue"),
        when(col("n7") === 7,
          round(col("sum7").cast("double") / 7 / 10000 + lit(1e-9), 4))
          .as("trend_ma7"),
        when(col("seas_den") > 0,
          round(col("seas_num").cast("double") / col("seas_den") / 7 / 10000
            + lit(1e-9), 4)).as("seasonal_dow"),
        when(col("seas_den") > 0,
          round((col("det7").cast("double") / 7
            - col("seas_num").cast("double") / col("seas_den") / 7) / 10000
            + lit(1e-9), 4)).as("residual"))
      .orderBy("day")
  }
}
