package graft.ops

import graft.functions.BucketIndex
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}

/** Reusable at-scale operator patterns. Each transform documents its
  * shuffle behavior — the unit of reasoning for a 1000-executor plan.
  */
object Scale {

  /** Rows belonging to the global top-k of their group, for LOW-cardinality
    * groups (the skewed-window case: `Window.partitionBy(few_values)`
    * funnels the whole table through that many tasks).
    *
    * Two-phase: salted local top-k (groups × salts parallel partitions,
    * each keeps ≤k rows) then exact top-k over the survivors. Output is
    * identical to the direct single-window plan whenever `orderCols` is a
    * strict total order within a group (required — ties across salt
    * buckets would otherwise be cut arbitrarily).
    *
    * Shuffles: one on (group, salt) [wide, parallel], one on group over
    * ≤ groups·salts·k rows [tiny].
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[Column], orderCols: Seq[Column],
                   k: Int, saltSrc: Seq[Column], salts: Int = 32): DataFrame = {
    val wLocal = Window.partitionBy(groupCols :+ col("__salt"): _*).orderBy(orderCols: _*)
    val wGlobal = Window.partitionBy(groupCols: _*).orderBy(orderCols: _*)
    df.withColumn("__salt", pmod(xxhash64(saltSrc: _*), lit(salts)))
      .withColumn("__lrn", row_number().over(wLocal))
      .filter(col("__lrn") <= k)
      .withColumn("__rn", row_number().over(wGlobal))
      .filter(col("__rn") <= k)
      .drop("__salt", "__lrn", "__rn")
  }

  /** Deterministic per-group fixed-N sample at 100 TB scale: the
    * lowest-`hash` `n_h` rows of each group (the md5-rank draw of
    * `q_sample_group`/`q_sample_neyman`), WITHOUT funnelling whole
    * strata through single window tasks. The naive plan sorts each
    * group's ENTIRE partition to keep n_h rows — with few groups a 5 TB
    * stratum becomes one spilling task (measured: skew 2.3 at sf100).
    * This is the row unit of [[prefixCut]], the engine's one per-group
    * hash-prefix cut (also behind `Llm.budgetTrim` and
    * `Llm.q_temperature_sample`); the shape, the exactness argument and
    * the actions are documented there.
    *
    * `quotas`: Left(k) = flat per-group quota; Right(df) = per-group
    * allocation relation (groupCols + `n_h`), one row per group — it
    * must COVER every group in the data exactly once: a missing or
    * duplicated allocation row fails loudly (a silent inner join here
    * would shrink or duplicate the sample with no signal). Group keys
    * match with SQL equality, so a null key never finds its quota: a
    * null-key group is dropped under a flat quota and fails the
    * coverage check under an allocation relation.
    * Returns the input columns plus
    * `n_h` and the in-group rank `rn` (1 ≤ rn ≤ min(n_h, group size)),
    * ordered by (`hash`, `tie`) within the group. Shuffles: the count
    * agg [map-combined, tiny output] and the survivor rank [~2·n_h rows
    * per group].
    *
    * `groupCounts`: optional caller-supplied per-group sizes (groupCols
    * + a long `__grp_n`), e.g. the population column a Neyman allocation
    * already aggregated — supplying it DROPS the internal count scan, so
    * the corpus is read once (the survivor prefilter) instead of twice.
    * The counts must be exact for the same `df` or the threshold sizing
    * and the exactness check are garbage — caller's contract.
    */
  def quotaSample(df: DataFrame, groupCols: Seq[String], hash: Column,
                  tie: Seq[Column], quotas: Either[Long, DataFrame],
                  groupCounts: Option[DataFrame] = None): DataFrame =
    prefixCut(df, groupCols, hash, tie, quotas, weight = None, groupCounts)

  /** The per-group hash-prefix cut: in (`hash`, `tie`) order, a row is
    * kept while the weight summed BEFORE it is below its group's quota
    * `n_h`. `weight` is a non-negative integral column of `df`; None is
    * the row unit (weight 1, so `rn − 1 < n_h` is `rn ≤ n_h`). Output:
    * the input columns plus `n_h` and `rn`, the running weight up to and
    * including the row (the in-group rank for rows, the running token
    * sum for `Llm.budgetTrim`).
    *
    * Shape: (1) the per-group row counts n and total weights W (one
    * scan-stage aggregate; for rows W = n, so caller-supplied
    * `groupCounts` skip it) and the quota relation are collected — both
    * are group-cardinality-sized by contract — and the driver joins
    * them, checks the allocation hygiene, and sizes a per-group hash
    * THRESHOLD, the fraction least(1, (n_h·2 + 16·W/n) / W) of the hash
    * span: ~2× the quota in expected weight plus a 16-row small-group
    * cushion; (2) the prefilter keeps only rows whose hash prefix falls
    * below it — a scan-stage cut against the broadcast stats table, so
    * the per-group running window sees ~2× the quota instead of the
    * stratum; (3) the cut is still EXACT: the survivor set is
    * downward-closed in the hash order (a 60-bit numeric prefix of the
    * hex hash is order-consistent with it), so survivors' running sums
    * are the true ones, and a group is exact iff it kept every row or
    * its survivors' weight reaches n_h (then every later row starts at
    * or past the quota) — a per-group COUNT CHECK over the survivor
    * checkpoint, compared on the driver, that falls back to the exact
    * whole-group window for only the (overwhelmingly rare: for rows the
    * cut is Binomial with mean 2·n_h + 16) groups that miss. The
    * fallback branch never enters the plan when no group misses.
    * Null-key groups never match the stats join, so a flat quota drops
    * them before the stats (they would otherwise always miss).
    *
    * Actions: the survivor checkpoint and the miss check, plus the count
    * aggregate when `groupCounts` is absent; a local-relation quota or
    * count input (the Neyman allocation) is read without a job. In the
    * release pipeline the sampling step (allocation + sampler) fires 8
    * jobs per warm run over sf0.001, where the checkpointed stats table,
    * its two hygiene actions and a miss-check join made it 20.
    */
  private[graft] def prefixCut(df: DataFrame, groupCols: Seq[String], hash: Column,
                               tie: Seq[Column], quotas: Either[Long, DataFrame],
                               weight: Option[Column],
                               groupCounts: Option[DataFrame] = None): DataFrame = {
    val spark = df.sparkSession
    val grp = groupCols.map(col)
    val k = groupCols.size
    def key(r: Row): Seq[Any] = (0 until k).map(r.get)
    def long(v: Any): Long = if (v == null) 0L else v.asInstanceOf[Number].longValue
    val w = weight.getOrElse(lit(1L))
    // the row unit's weight sum is its row count (one aggregate buffer)
    val wsum = weight.fold(count(lit(1)))(sum(_))
    // (key, __grp_n, __grp_w)
    val counts = groupCounts.getOrElse(
      df.groupBy(grp: _*).agg(count(lit(1)).as("__grp_n"), wsum.as("__grp_w")))
      .select(grp ++ Seq(col("__grp_n").cast(LongType).as("__grp_n"),
        weight.fold(col("__grp_n"))(_ => col("__grp_w")).cast(LongType).as("__grp_w")): _*)
    val keyFields = counts.schema.fields.take(k).toSeq
    // the left join of the counts with the quotas, on the driver:
    // (count row, n_h) with a null n_h where no quota row matched
    val (nhField, joined) = quotas match {
      case Left(q) =>
        (StructField("n_h", LongType, nullable = false),
          counts.collect().toSeq.filterNot(r => key(r).contains(null)).map(r => (r, q: Any)))
      case Right(q) =>
        val qdf = q.select(grp :+ col("n_h"): _*)
        val byKey = qdf.collect().toSeq.groupBy(key)
        (qdf.schema("n_h"), counts.collect().toSeq.flatMap { r =>
          val g = key(r)
          val hits = if (g.contains(null)) Nil else byKey.getOrElse(g, Nil)
          if (hits.isEmpty) Seq((r, null))
          else hits.map(h => (r, h.get(k)))
        })
    }
    // allocation-relation hygiene: a group the quota relation missed
    // surfaces as a null n_h, a duplicated allocation row as a doubled
    // group — both are caller bugs that would otherwise shrink/duplicate
    // the sample SILENTLY
    def groupList(gs: Seq[Seq[Any]]): String = gs.take(5).map(_.mkString("/")).mkString(", ")
    if (quotas.isRight) {
      val bad = joined.collect { case (r, null) => key(r) }
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"quotaSample: quota relation is missing allocation rows for groups " +
          s"${groupList(bad)} ... — every group in " +
          "the data needs exactly one n_h row")
      val dup = joined.groupBy(j => key(j._1)).collect { case (g, rs) if rs.size > 1 => g }.toSeq
      if (dup.nonEmpty) throw new IllegalArgumentException(
        s"quotaSample: quota relation has duplicate allocation rows for groups " +
          s"${groupList(dup)} ... — the join would " +
          "duplicate survivors")
    }
    // __thresh is the 60-bit hash cut: the threshold fraction · 16^15 as
    // a long (the first 15 hex chars of the hash as an integer;
    // equal-length lowercase hex compares identically as string or
    // number). For rows W = n, and 16·n/n is exactly 16. NaN (an empty
    // or all-zero-weight group) orders above 1.0, as in Spark's least.
    val hexSpan = 1152921504606846976L // 16^15 = 2^60
    val statRows = joined.map { case (r, nh) =>
      val n = r.getLong(k).toDouble
      val tot = long(r.get(k + 1)).toDouble
      val frac = (nh.asInstanceOf[Number].doubleValue * 2.0 + 16.0 * tot / n) / tot
      val cut = if (frac.isNaN || frac > 1.0) 1.0 else frac
      Row.fromSeq(key(r) ++ Seq(r.get(k), r.get(k + 1), nh, (cut * hexSpan.toDouble).toLong))
    }
    val stats = spark.createDataFrame(java.util.Arrays.asList(statRows: _*),
      StructType(keyFields ++ Seq(StructField("__grp_n", LongType),
        StructField("__grp_w", LongType), nhField, StructField("__thresh", LongType))))
    val hv = conv(substring(hash, 1, 15), 16, 10).cast("long")
    // the survivor cut is ~ groups·(2·n_h+16) rows — dim-sized by
    // construction, so one checkpoint lets the rank, the count check,
    // and the final action share ONE corpus scan
    val surv = df
      .join(broadcast(stats), groupCols)
      .filter(hv < col("__thresh"))
      .localCheckpoint()
    val win = Window.partitionBy(grp: _*).orderBy(hash +: tie: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // rn ≤ __grp_w caps the row unit at the (caller-supplied) group
    // size; true weights never exceed their total
    def cut(rows: DataFrame): DataFrame = rows
      .withColumn("rn", sum(w).over(win).cast(LongType))
      .filter(col("rn") - w < col("n_h") && col("rn") <= col("__grp_w"))
    val ranked = cut(surv)
    // count check: a group is exact iff it kept every row or its
    // survivors' weight reaches the quota
    val got = surv.groupBy(grp: _*).agg(count(lit(1)), wsum)
      .collect().map(r => key(r) -> (r.getLong(k), long(r.get(k + 1)))).toMap
    val missRows = statRows.filter { r =>
      val (kept, wt) = got.getOrElse(key(r), (0L, 0L))
      kept < r.getLong(k) && wt < long(r.get(k + 2))
    }.map(r => Row.fromSeq(key(r)))
    val out =
      if (missRows.isEmpty) ranked
      else {
        // exact fallback for ONLY the missed groups: whole-group window,
        // fed through a broadcast semi-join BELOW the window
        val missDf = spark.createDataFrame(
          java.util.Arrays.asList(missRows: _*), StructType(keyFields))
        val exact = cut(df
          .join(broadcast(missDf), groupCols, "left_semi")
          .join(broadcast(stats), groupCols))
        ranked.join(broadcast(missDf), groupCols, "left_anti")
          .unionByName(exact)
      }
    out.drop("__grp_n", "__grp_w", "__thresh")
  }

  /** Monotone double proxy of a fixed-width lowercase/uppercase HEX
    * string key (md5 output): the numeric value of the first `digits`
    * hex characters. Lexicographic order over equal-length hex strings
    * equals numeric order of their value, and 12 hex digits = 48 bits
    * fit a double exactly, so the proxy is provably monotone
    * (non-strict: keys sharing the 12-char prefix collapse — a 2^-48
    * event for hashes, harmless: collapse only costs bucket balance,
    * never order). NULL → 0.0 (callers with null keys must pre-handle
    * their sort position themselves).
    */
  def hexKeyProxy(c: Column, digits: Int = 12): Column =
    coalesce(conv(substring(c, 1, digits), 16, 10).cast("double"), lit(0.0))

  /** [[hexKeyProxy]] scaled into [0,1) — the FRACTION form for
    * composite bucket keys (`leadingIndex + hexFrac(tiebreak)`): the
    * integer part orders the leading key, the fraction refines ties.
    * Both addends are exact in double (integer < 2^53; 48-bit numerator
    * times a power of two), and rounding a monotone real sum is
    * monotone, so the composite is provably order-consistent.
    */
  def hexFrac(c: Column, digits: Int = 12): Column =
    hexKeyProxy(c, digits) / lit(math.pow(16.0, digits.toDouble))

  /** [0,1) monotone fraction of an arbitrary STRING under UTF-8
    * lexicographic (= Spark string) order: the first `bytes` UTF-8
    * bytes, zero-padded on the right (a strict prefix sorts before its
    * extensions, matching byte-wise comparison), read as an integer
    * over 2^(8·bytes). 6 bytes = 48 bits stay exact in a double.
    * Non-strict monotone: strings sharing the `bytes`-byte prefix
    * collapse (balance cost only — see [[hexFrac]] for why collapse
    * never breaks bucket ordering). Built from codegen builtins
    * (substring/hex/rpad/conv) — no lambda, no UDF.
    */
  def strFrac(c: Column, bytes: Int = 6): Column =
    coalesce(
      conv(rpad(hex(substring(c.cast("binary"), 1, bytes)), 2 * bytes, "0"),
        16, 10).cast("double"),
      lit(0.0)) / lit(math.pow(2.0, 8.0 * bytes))

  // ---- the terasort: global running order without a single-task funnel
  //
  // Every global running-order helper below has one shape: tag each row
  // with an ORDINAL bucket of a monotone key, range-partition on the
  // bucket, sort (bucket, order) within partitions, run the window per
  // bucket, and add each bucket's start offset — a driver-side
  // cumulative sum over the per-bucket totals (a bucket-count-sized
  // collect, the footprint AQE's partition statistics already have).
  // Every stage is wide and the sort is range-partitioned and
  // spillable: the 100 TB shape. Results depend only on the total
  // order, never on the sampled boundaries, so they are reproducible
  // across partitionings, retries and cluster sizes.

  /** Column carrying the terasort bucket id; no helper returns it. */
  private val Bucket = "__ts_bucket"

  /** `df` plus the ordinal terasort bucket of `bucketKey`: the count of
    * boundaries ≤ the key, from the `graft_bucket` codegen kernel
    * ([[graft.functions.BucketIndex]]).
    *
    * `bucketKey` must be a NON-NULL double-valued expression over `df`'s
    * columns, monotone NON-DECREASING in the helper's total `order`
    * (direction included — negate for desc; refine a tie-heavy leading
    * key as `leading + fraction` with [[hexFrac]]/[[strFrac]]). Ties in
    * the key never split across buckets, so they bound parallelism,
    * never correctness. `boundaries` may be unsorted, duplicated or out
    * of range; an empty array is one bucket. Without them the keyed
    * input is localCheckpoint'ed and `4 × parts` quantiles are sampled
    * from those cached blocks — ≥4 buckets per partition let the range
    * packer balance multi-bucket partitions.
    */
  private def withBucket(df: DataFrame, bucketKey: Column,
                         boundaries: Option[Array[Double]], parts: Int): DataFrame = {
    def assign(d: DataFrame, key: Column, bounds: Array[Double]): DataFrame = {
      val sorted = bounds.distinct.sorted
      d.withColumn(Bucket,
        if (sorted.isEmpty) lit(0)
        else GraftSqlBridge.column(BucketIndex(GraftSqlBridge.expression(key), sorted)))
    }
    boundaries match {
      case Some(b) => assign(df, bucketKey.cast("double"), b)
      case None =>
        val keyed = df.withColumn("__ts_key", bucketKey.cast("double")).localCheckpoint()
        val m = 4 * parts
        val sampled = keyed.stat.approxQuantile("__ts_key",
          (1 until m).map(_.toDouble / m).toArray, 0.001)
        assign(keyed, col("__ts_key"), sampled).drop("__ts_key")
    }
  }

  /** Bucketed rows range-partitioned on the bucket and sorted by
    * (bucket, `order`) within partitions. A range partitioning on the
    * bucket satisfies the per-bucket window's distribution and the sort
    * is its required ordering, so the window and everything after it
    * ride this one exchange (a partition-id column would not:
    * the planner would add a second full exchange and re-sort).
    */
  private def rangeSorted(bucketed: DataFrame, order: Seq[Column], parts: Int): DataFrame =
    bucketed.repartitionByRange(parts, col(Bucket))
      .sortWithinPartitions(col(Bucket) +: order: _*)

  private def runningWindow(order: Seq[Column]) =
    Window.partitionBy(Bucket).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  private def partitions(df: DataFrame, numPartitions: Int): Int =
    if (numPartitions > 0) numPartitions
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** Bucket start offsets from the collected per-bucket sums
    * `perBucket` (rows of bucket id, Σv₀, …, Σvₙ₋₁; empty buckets are
    * absent): a local relation of (bucket, `__ts_off<i>`), each offset of
    * its sum type `types(i)` (long, decimal or double), plus the grand
    * totals as literals of those types. Exact types accumulate in
    * BigDecimal; double sums (float values sum as double) accumulate in
    * Double, so NaN/Infinity flow through. The relation's columns are
    * typed and non-nullable, so joining it back adds no cast and no
    * `isnotnull` filter over the sorted rows.
    */
  private def offsets(spark: SparkSession, perBucket: Array[Row],
                      types: Seq[DataType]): (DataFrame, Seq[Column]) = {
    val zero: IndexedSeq[Any] = types.toIndexedSeq.map {
      case DoubleType => 0.0
      case _          => java.math.BigDecimal.ZERO
    }
    def add(acc: Any, v: Any): Any = (acc, v) match {
      case (_, null)                                          => acc
      case (a: Double, n: Number)                             => a + n.doubleValue
      case (a: java.math.BigDecimal, b: java.math.BigDecimal) => a.add(b)
      case (a: java.math.BigDecimal, n: Number)               => a.add(new java.math.BigDecimal(n.toString))
    }
    def typed(acc: IndexedSeq[Any]): IndexedSeq[Any] = acc.indices.map(i => (types(i), acc(i)) match {
      case (LongType, b: java.math.BigDecimal) => b.longValueExact
      case (_, v)                              => v
    })
    var acc = zero
    val rows = perBucket.sortBy(_.getInt(0)).map { r =>
      val row = Row.fromSeq(r.get(0) +: typed(acc))
      acc = acc.indices.map(i => add(acc(i), r.get(i + 1)))
      row
    }
    val schema = StructType(StructField(Bucket, IntegerType, nullable = false) +:
      types.indices.map(i => StructField(s"__ts_off$i", types(i), nullable = false)))
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      typed(acc).zip(types).map { case (v, t) => lit(v).cast(t) })
  }

  /** One running column of [[runningSums]]: `name` = the bucket's offset
    * (Σ `total` over the earlier buckets) + `inBucket` over the
    * per-bucket running window.
    */
  private case class Running(total: Column, inBucket: WindowSpec => Column, name: String)

  private def summed(values: Seq[(Column, String)]): Seq[Running] =
    values.map { case (v, name) => Running(sum(v), sum(v).over(_), name) }

  /** The running-sum core of [[globalSequence]], [[globalCumSum]] and
    * [[globalCumSums]]: adds each running column cast to its total's
    * type, and returns the grand totals. One range sort, one
    * bucket-count-sized collect, N running columns.
    *
    * `order` must be a TOTAL order (add a unique tiebreak) or running
    * values at ties are nondeterministic; see [[withBucket]] for the
    * `bucketKey` contract. Values should be exact (long/decimal); double
    * sums carry the usual float-sum caveats.
    *
    * Checkpoints (the contract of all four helpers): the keyed input is
    * localCheckpoint'ed once, so the boundary sample, the per-bucket
    * sums and the output pass read one materialization
    * ([[globalCumMaxPerGroup]] checkpoints its micro-table instead, and
    * the keyed input only when it samples its own boundaries). The
    * helpers do not release these blocks: Spark's ContextCleaner drops
    * them once the result is unreferenced, and a caller running a
    * helper in a loop can free them early with [[Scratch.release]].
    */
  private def runningSums(df: DataFrame, order: Seq[Column], runs: Seq[Running],
                          bucketKey: Column, numPartitions: Int): (DataFrame, Seq[Column]) = {
    val parts = partitions(df, numPartitions)
    val bucketed = withBucket(df, bucketKey, None, parts)
    val totals = runs.indices.map(i => runs(i).total.as(s"__ts_s$i"))
    val stats = bucketed.groupBy(Bucket).agg(totals.head, totals.tail: _*)
    val types = runs.indices.map(i => stats.schema(s"__ts_s$i").dataType)
    val (offs, grand) = offsets(df.sparkSession, stats.collect(), types)
    val w = runningWindow(order)
    val out = runs.zipWithIndex.foldLeft(
      rangeSorted(bucketed, order, parts).join(broadcast(offs), Seq(Bucket))) {
        case (d, (r, i)) =>
          d.withColumn(r.name, (col(s"__ts_off$i") + r.inBucket(w)).cast(types(i)))
      }
    (out.drop(Bucket +: runs.indices.map(i => s"__ts_off$i"): _*), grand)
  }

  /** Deterministic global row-sequencing: `posCol` = 1..N (long) in the
    * total order of `order`, WITHOUT the partition-less `row_number()`
    * window that funnels the dataset through one task: each bucket's
    * `row_number()` plus its row offset ([[runningSums]]). `row_number()`
    * rather than a running `sum(1L)`: at sf0.1 on a 4-vCPU VM the
    * running sum read `q_sample_systematic` 9 % slower (median of 6
    * rounds).
    */
  def globalSequence(df: DataFrame, order: Seq[Column], posCol: String,
                     bucketKey: Column, numPartitions: Int = 0): DataFrame =
    runningSums(df, order, Seq(Running(count(lit(1)), row_number().over(_), posCol)),
      bucketKey, numPartitions)._1

  /** Deterministic global running sum: `cumCol` = Σ `value` over all rows
    * at-or-before the current row in the total order of `order`, WITHOUT
    * the partition-less `sum().over(Window.orderBy(...))` plan that
    * funnels the dataset through one task ([[runningSums]]). Optionally
    * also attaches the grand total as `totalCol` (free: it is the final
    * driver accumulator), replacing the
    * `sum().over(Window.partitionBy(lit(1)))` total-window anti-pattern.
    * For double/float values NaN/Infinity pass through rather than
    * erroring.
    */
  def globalCumSum(df: DataFrame, order: Seq[Column], value: Column,
                   cumCol: String, bucketKey: Column, totalCol: String = null,
                   numPartitions: Int = 0): DataFrame = {
    val (cum, totals) = runningSums(df, order, summed(Seq((value, cumCol))), bucketKey,
      numPartitions)
    if (totalCol == null) cum else cum.withColumn(totalCol, totals.head)
  }

  /** Multi-column form of [[globalCumSum]]: one range sort, one collect,
    * N synchronized running sums over ONE total order (e.g. a
    * per-category CDF grid for a KS statistic).
    */
  def globalCumSums(df: DataFrame, order: Seq[Column], values: Seq[(Column, String)],
                    bucketKey: Column, numPartitions: Int = 0): DataFrame =
    runningSums(df, order, summed(values), bucketKey, numPartitions)._1

  /** Per-GROUP extremes of a global running sum WITHOUT materializing
    * the running sum: one terasort, then ONE fused pass (per-bucket
    * window running sum feeding a map-side partial agg in the same
    * stage) reduces the n input rows to a buckets×|groups| micro-table.
    * The bucket offsets are recovered from that micro-table itself (the
    * per-bucket `value` totals, summed in bucket order) — so, unlike
    * [[globalCumSum]] followed by a groupBy, there is NO second scan of
    * the sorted rows, no n-row output pass and no broadcast join back
    * onto n rows. Correct because the offset is constant within a
    * bucket, so the group's max of the GLOBAL running sum decomposes
    * exactly: max_g(cum) = max_b(offset_b + maxLocalCum_{b,g}).
    *
    * `groups` are (expression, outputName) pairs; `extraSums` are
    * (expression, outputName) pairs summed per group (sums re-aggregate
    * losslessly across the two levels; a non-decomposable agg does not
    * belong here). `value` and every extraSum must be exact
    * (long/decimal); `order` must totally order rows. Output: one row
    * per group — group columns ++ `maxCol` ++ extraSum columns.
    * `boundaries` are explicit bucket boundaries of `bucketKey` (see
    * [[withBucket]]); a caller that can take quantiles from a cheaper
    * source than `df` (a pruned scan) passes them, which also skips the
    * keyed-input checkpoint.
    */
  def globalCumMaxPerGroup(df: DataFrame, order: Seq[Column], value: Column,
                           groups: Seq[(Column, String)], maxCol: String,
                           bucketKey: Column,
                           extraSums: Seq[(Column, String)] = Nil,
                           numPartitions: Int = 0,
                           boundaries: Option[Array[Double]] = None): DataFrame = {
    val parts = partitions(df, numPartitions)
    val groupNames = groups.map(_._2)
    val prepared = groups.foldLeft(
      rangeSorted(withBucket(df, bucketKey, boundaries, parts), order, parts)
        .withColumn("__gm_cum", sum(value).over(runningWindow(order)))
        .withColumn("__gm_v", value)) { case (d, (c, n)) => d.withColumn(n, c) }
    val microAggs = Seq(max("__gm_cum").as("__gm_max"),
      sum("__gm_v").as("__gm_sum")) ++
      extraSums.map { case (c, n) => sum(c).as(n) }
    val micro = prepared
      .groupBy((Bucket +: groupNames).map(col): _*)
      .agg(microAggs.head, microAggs.tail: _*)
      .localCheckpoint()
    val sumType = micro.schema("__gm_sum").dataType
    val (offs, _) = offsets(df.sparkSession,
      micro.groupBy(Bucket).agg(sum("__gm_sum")).collect(), Seq(sumType))
    val finalAggs = Seq(
      max((col("__ts_off0") + col("__gm_max")).cast(sumType)).as(maxCol)) ++
      extraSums.map { case (_, n) => sum(col(n)).as(n) }
    micro.join(broadcast(offs), Seq(Bucket))
      .groupBy(groupNames.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** Generic as-of join: append to every left row the payload of the most
    * recent right row with the same key and `rightTs <= leftTs` (inclusive).
    *
    * Formulated as ONE shuffle on the key (union → window running-last),
    * never a range join: a range join's candidate set explodes with key
    * frequency, the window is O(n log n) per key partition and streams.
    * At 100 TB both inputs shuffle once on the join key — the same cost
    * as a plain equi-join.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String, payloadCols: Seq[String]): DataFrame = {
    val payload = struct(payloadCols.map(col): _*)
    // null keys/timestamps never match (SQL ASOF semantics, same as the
    // native AsofJoinExec): without this filter the window's
    // partitionBy(key) would group null-key rows TOGETHER and hand a
    // null-key left row the latest null-key right payload
    val r = right.filter(col(key).isNotNull && col(rightTs).isNotNull).select(
      col(key), col(rightTs).as("__ts"), payload.as("__payload"), lit(0).as("__side"))
    val leftCols = left.columns
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__payload", lit(null).cast(r.schema("__payload").dataType))
      .withColumn("__side", lit(1))
    // right rows sort before left rows at equal ts → inclusive semantics;
    // __payload breaks ties among right rows sharing (key, ts), making
    // the matched payload deterministic under any partitioning (the
    // greatest payload wins)
    val w = Window.partitionBy(key).orderBy(col("__ts"), col("__side"), col("__payload"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.select((Seq(col(key), col("__ts"), col("__payload"), col("__side")) ++
        leftCols.filterNot(c => c == key).map(col)): _*)
      .unionByName(r, allowMissingColumns = true)
      .withColumn("__match", last("__payload", ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++ payloadCols.map(c => col(s"__match.$c").as(s"asof_$c")): _*)
  }

  /** Skew-safe equi-join of a heavily-skewed big side against a small-ish
    * side that is too large to broadcast: the big side salts each row
    * deterministically into `salts` sub-keys; the small side is
    * replicated once per salt. The shuffle key becomes (key, salt), so a
    * hot key spreads over `salts` reducers instead of melting one.
    * (For broadcast-able small sides use `broadcast()`; for runtime skew
    * AQE's skew-join split also applies — this is the explicit,
    * always-on formulation.)
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 bigSaltSrc: Seq[Column], salts: Int = 16,
                 joinType: String = "inner"): DataFrame = {
    // right/full outer would emit `salts` copies of every unmatched
    // small-side row (it is replicated per salt) — reject outright
    require(Set("inner", "left", "left_outer", "left_semi", "left_anti").contains(joinType),
      s"saltedJoin supports big-side-preserving join types only, got '$joinType' " +
        "(the small side is replicated per salt; outer-preserving it duplicates rows)")
    val bigS = big.withColumn("__salt", pmod(xxhash64(bigSaltSrc: _*), lit(salts)))
    val smallS = small.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Connected components by iterative min-label propagation: every node
    * takes the minimum label in its neighborhood until fixpoint. Each
    * iteration is one join + one aggregation (both shuffle on node id);
    * convergence needs ~graph-diameter iterations — near-dup clusters
    * are shallow, so a handful. `localCheckpoint` truncates the lineage
    * per iteration (else the plan grows exponentially). The driver-side
    * loop moves only a change-count per iteration.
    *
    * Input: an edge list. Output: (id, label) where label = min node id
    * of the component. Nodes appear iff they appear in `nodes`.
    */
  def connectedComponents(nodes: DataFrame, nodeCol: String,
                          edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame = Scratch.scope { scratch =>
    // materialize the symmetric edge list ONCE — edges may be an
    // expensive pipeline (e.g. minhash candidate generation), and every
    // iteration joins against it
    val sym = scratch.checkpoint(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b"))))
    var labels = scratch.checkpoint(nodes.select(col(nodeCol).as("id")).distinct()
      .withColumn("label", col("id")))
    val labelType = labels.schema("label").dataType
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // One union + ONE aggregate replaces the join-aggregate-join
      // spelling (neighbor-min then a left join back to labels for the
      // old label): the self branch rides the same exchange as the
      // neighbor branch, max(old) recovers the node's own label (only
      // the self branch is non-null), and the changed flag falls out of
      // the same aggregate — one fewer join operator and one fewer
      // labels exchange per round (guide §2.4).
      val merged = sym.join(labels, col("b") === col("id"))
        .select(col("a"), col("label").as("cl"),
          lit(null).cast(labelType).as("old"))
        .union(labels.select(col("id").as("a"), col("label").as("cl"),
          col("label").as("old")))
        .groupBy(col("a"))
        .agg(min("cl").as("nl"), max("old").as("old"))
        // contract: nodes appear iff in `nodes` — an edge endpoint with
        // no labels row has null old (no self branch); drop it
        .filter(col("old").isNotNull)
      val hopped = merged.select(col("a").as("id"), col("nl").as("label"),
        (col("nl") < col("old")).as("changed"))
      // pointer jumping: follow label→label-of-label, so the min id
      // spreads geometrically and convergence needs O(log diameter)
      // iterations, not O(diameter)
      val compressed = scratch.checkpoint(hopped.as("h")
        .join(hopped.select(col("id").as("lid"), col("label").as("llabel")).as("l2"),
          col("h.label") === col("l2.lid"), "left")
        .select(col("h.id").as("id"),
          least(col("h.label"), coalesce(col("llabel"), col("h.label"))).as("label"),
          col("h.changed")), eager = false)
      // the convergence probe IS the materialization job: a count()
      // aggregate touches every partition, so the lazily-marked
      // checkpoint persists fully as a side effect and the round costs
      // ONE job instead of an eager checkpoint job + an isEmpty probe
      converged = compressed.filter(col("changed")).count() == 0L
      scratch.keep(compressed, sym)
      labels = compressed.drop("changed")
      i += 1
    }
    // silent non-convergence would split real components and (in dedup)
    // retain duplicates — fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — raise maxIter")
    labels
  }(Seq(_))

  /** k-core decomposition by iterative peeling (Seidman 1983; the
    * BZ/peeling formulation every graph system ships): repeatedly
    * remove vertices whose degree in the SURVIVING subgraph is < k —
    * the fixpoint is the k-core, the maximal subgraph of minimum degree
    * k (the graph-cleaning primitive behind spam-farm pruning, dense
    * community seeds, and link-graph quality tiers). Input is an
    * UNDIRECTED edge list (both directions present, deduped — the
    * caller's contract, same as [[twoHopCensus]]).
    *
    * Returns (id, peeled_round): the 1-based round the vertex fell, or
    * 0 for k-core members. Each round is one degree aggregate over the
    * surviving edges plus two anti-joins — every stage wide, nothing
    * driver-sized except the per-round removed COUNT. Each round
    * checkpoints its survivor and edge sets; the per-round removed sets
    * are checkpoints the result reads. Real graphs peel in few rounds
    * (degeneracy ordering is shallow); a pathological chain unravels one
    * layer per round, hence the loud `maxRounds` guard instead of a
    * silent truncation.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 100): DataFrame = Scratch.scope { scratch =>
    require(k >= 1, "kCore needs k >= 1")
    var live = scratch.checkpoint(edges.select(col(srcCol).as("a"), col(dstCol).as("b")))
    var survivors = scratch.checkpoint(live.select(col("a").as("id")).distinct())
    var removed = List.empty[DataFrame]
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val deg = live.groupBy("a").agg(count(lit(1)).as("deg"))
      // left join: a survivor with NO surviving edges has degree 0
      val rem = scratch.checkpoint(survivors.join(deg, col("id") === col("a"), "left")
        .filter(coalesce(col("deg"), lit(0L)) < k)
        .select(col("id")), eager = false)
      // the probe IS the materialization job: count() touches every
      // partition of rem AND (through its lineage) of the previous
      // round's lazy survivor/edge checkpoints — one job per round
      // instead of three eager checkpoint jobs + an isEmpty probe
      done = rem.count() == 0L
      scratch.keep(rem :: survivors :: live :: removed: _*)
      if (!done) {
        removed ::= rem.withColumn("peeled_round", lit(round.toLong))
        survivors = scratch.checkpoint(survivors.join(rem, Seq("id"), "left_anti"), eager = false)
        live = scratch.checkpoint(live
          .join(rem.select(col("id").as("a")), Seq("a"), "left_anti")
          .join(rem.select(col("id").as("b")), Seq("b"), "left_anti"), eager = false)
      }
    }
    if (!done)
      throw new IllegalStateException(
        s"kCore(k=$k) did not converge in $maxRounds peel rounds — raise maxRounds")
    removed.foldLeft(survivors.withColumn("peeled_round", lit(0L)))(_ unionByName _)
  }(Seq(_))

  /** Upsert (merge) for immutable columnar storage: rows from `updates`
    * replace base rows sharing the key; unmatched base rows survive.
    * Equivalent to `MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED
    * INSERT` with whole-row updates. One shuffle on the key (anti-join)
    * + a free union.
    *
    * PRECONDITION: `updates` must be key-unique — duplicate update keys
    * all survive the union (SQL MERGE would raise "multiple source rows
    * matched"). Run `dedupKeepFirst(updates, keys, tieBreaker)` first if
    * the update stream can carry duplicates.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    base.join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates)

  /** Deterministic hash-sample: keep rows whose key hashes into the
    * first `percent` of 10_000 hash slots. Unlike `df.sample`, the
    * result is identical across runs, partitionings, and re-executions
    * (speculative retries included) — the property that matters for
    * reproducible pipeline runs — and consistent PER KEY, so sampling on
    * a join/user key keeps all rows of a kept entity together.
    */
  def hashSample(df: DataFrame, keyCols: Seq[Column], percent: Double): DataFrame = {
    val slots = math.max(1, math.round(percent * 100).toInt) // percent of 10k slots
    df.filter(pmod(xxhash64(keyCols: _*), lit(10000)) < slots)
  }

  /** Exact dedup that keeps, per key, the row minimizing `tieBreaker` —
    * deterministic (unlike `dropDuplicates`, which keeps an arbitrary
    * row). One shuffle on the key.
    */
  def dedupKeepFirst(df: DataFrame, keyCols: Seq[Column], tieBreaker: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols: _*).orderBy(tieBreaker: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Bloom-prefiltered join (semi-join reduction): when the dim side is
    * too large to broadcast as rows but its KEY SET fits a bloom filter
    * (~1.2 bytes/key at 1% fpp — 100M keys ≈ 120 MB), build the filter
    * on the dim keys and drop non-matching fact rows BEFORE the join
    * shuffle. False positives are eliminated by the exact join that
    * follows, so the result is identical to the plain join; the win is
    * shuffle volume — at 100 TB a selective dim prunes the fact
    * exchange by orders of magnitude. (Spark's own runtime bloom
    * filtering — `spark.sql.optimizer.runtime.bloomFilter.enabled` —
    * applies the same idea adaptively; this is the explicit, always-on
    * formulation with a caller-controlled size/fpp budget.)
    *
    * The prefilter is [[graft.plans.BloomJoinRule]]'s injection applied
    * to the plain join unconditionally: a `bloom_filter_agg` scalar
    * subquery over the dim keys, run with the query (calling this fires
    * no job), sized `expectedKeys` at `fpp` up to Spark's runtime
    * bloom-filter caps (4M items, 64M bits).
    */
  def bloomPrefilterJoin(fact: DataFrame, dim: DataFrame,
                         factKey: String, dimKey: String,
                         expectedKeys: Long = 1000000L, fpp: Double = 0.01,
                         joinType: String = "inner"): DataFrame = {
    // dropping bloom-negative fact rows BEFORE the join only preserves
    // semantics when non-matching fact rows cannot reach the output: an
    // outer type would owe those rows null-extended results, and an anti
    // type wants exactly the rows the prefilter discards
    require(Set("inner", "left_semi", "leftsemi", "semi").contains(joinType),
      s"bloomPrefilterJoin requires a match-only join type (inner/left_semi), got '$joinType': " +
        "prefiltering the fact side drops the unmatched rows outer/anti types must keep")
    require(expectedKeys > 0, s"expectedKeys must be positive, got $expectedKeys")
    require(fpp > 0 && fpp < 1, s"fpp must lie in (0, 1), got $fpp")
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedKeys, fpp)
    rewriteJoin(fact.join(dim, col(factKey) === dim(dimKey), joinType))(
      graft.plans.BloomJoinRule.prefilter(_, expectedKeys, numBits))
  }

  /** The plain join `joined`, its analyzed `Join` replaced by `rewrite`
    * (evaluated under the frame's session conf).
    */
  private def rewriteJoin(joined: DataFrame)(rewrite: Join => LogicalPlan): DataFrame = {
    val spark = joined.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val j = joined.queryExecution.analyzed match {
      case j: Join => j
      case p => throw new IllegalStateException(s"expected a join plan, got ${p.nodeName}")
    }
    GraftSqlBridge.ofRows(spark, SQLConf.withExistingConf(spark.sessionState.conf)(rewrite(j)))
  }

  /** Result of [[kMeans]]: final centroids (k × dim, driver-side — small
    * BY CONSTRUCTION), the input with a `cluster` column, and the
    * within-cluster sum of squares after each Lloyd iteration (empty
    * unless `trackWcss`).
    */
  final case class KMeansModel(centroids: Array[Array[Double]],
                               assigned: DataFrame,
                               wcssHistory: Seq[Double])

  /** Full distributed Lloyd k-means over an `array<double>` column.
    *
    * Per iteration: broadcast the k×dim centroid matrix, assign each row
    * to its nearest centroid map-side (no shuffle), then recompute means
    * with ONE partial+final aggregation — a JVM vector-sum Aggregator
    * ([[Udafs.VecSum]]: one array-add per row, no n·dim explode), so the
    * shuffle moves at most k·partitions small buffers regardless of
    * corpus size. Only the centroid matrix ever
    * reaches the driver. Initialization is a deterministic stride
    * sample (reproducible across runs/partitionings); empty clusters
    * keep their previous centroid. Stops early when no centroid moves
    * more than `tol` (squared L2).
    */
  def kMeans(df: DataFrame, vecCol: String, k: Int, maxIters: Int = 10,
             tol: Double = 1e-9, trackWcss: Boolean = false): KMeansModel = Scratch.scope { scratch =>
    val spark = df.sparkSession
    def nearest(cents: Array[Array[Double]]) = {
      val bc = spark.sparkContext.broadcast(cents)
      udf { e: Seq[Double] =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < bc.value.length) {
          val cent = bc.value(c); var d = 0.0; var i = 0
          val n = math.min(e.length, cent.length)
          while (i < n) { val x = e(i) - cent(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        (best, bestD)
      }
    }
    val vecs = scratch.persist(df.select(col(vecCol).cast("array<double>").as("__v")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deterministic init: spread starting points with a stride over a
    // hash ranking (stable under repartitioning; no Math.random)
    var centroids: Array[Array[Double]] = vecs
      .withColumn("__h", xxhash64(to_json(col("__v"))))
      .orderBy("__h").limit(k)
      .collect().map(_.getSeq[Double](0).toArray)
    var wcss = List.empty[Double]
    var moved = true
    var it = 0
    while (moved && it < maxIters) {
      val a = vecs.withColumn("__c", nearest(centroids)(col("__v")))
      if (trackWcss)
        wcss ::= a.agg(sum(col("__c._2"))).head().getDouble(0)
      val vsum = udaf(Udafs.VecSum)
      val means = a
        .groupBy(col("__c._1").as("cl")).agg(vsum(col("__v")).as("s"))
        .collect().map { r =>
          val s = r.getStruct(1)
          val (sums, n) = (s.getSeq[Double](0), s.getLong(1))
          (r.getInt(0), sums.map(_ / n).toArray)
        }.toMap
      val next = centroids.indices.map(c => means.getOrElse(c, centroids(c))).toArray
      moved = centroids.zip(next).exists { case (a0, b0) =>
        a0.zip(b0).map { case (x, y) => (x - y) * (x - y) }.sum > tol
      }
      centroids = next
      it += 1
    }
    val assigned = df.withColumn("cluster",
      nearest(centroids)(col(vecCol).cast("array<double>")).getField("_1"))
    KMeansModel(centroids, assigned, wcss.reverse)
  }(m => Seq(m.assigned))

  /** Binned range join (point-in-interval): joins `points` rows whose
    * `pointCol` falls in `[startCol, endCol)` of an `intervals` row,
    * WITHOUT an equi-key — the case where Spark's only built-in plan is
    * a broadcast-nested-loop / cartesian product, which is O(|P|·|I|)
    * compares and requires one side to fit in memory.
    *
    * Rewrite: quantize the domain into `binSize`-wide bins. Each point
    * belongs to exactly ONE bin; each interval is replicated to every
    * bin it overlaps (`sequence` explode — ⌈len/binSize⌉+1 copies). The
    * join becomes a plain shuffle EQUI-join on the bin id plus the
    * residual range predicate, so both sides can be arbitrarily large
    * and each matching pair is emitted exactly once (a point's single
    * bin is matched by the one interval copy in that bin). This is
    * [[graft.plans.RangeJoinRule]]'s rewrite of the plain join, with
    * this call's `binSize` — its `maxBinsPerRow` guard included.
    *
    * Cost model: compares per bin ≈ |points in bin| × |interval copies
    * in bin| — choose `binSize` near the TYPICAL interval length so
    * most intervals replicate ~2× and each point meets only the
    * intervals that could plausibly contain it. A hot bin (data-time
    * skew) is an ordinary join-key skew: AQE skew-join splits it, or
    * pre-salt with [[saltedJoin]].
    *
    * Columns must be integral (cast timestamps to an epoch integer
    * first); other types raise `IllegalArgumentException`. Bins are
    * computed with integral floor-division (`Math.floorDiv(x, bin)`),
    * exact over the whole Long range — a double-division floor
    * goes inexact above 2^53 (epoch-ns longs) and silently drops pairs
    * near bin boundaries. Degenerate intervals (`end <= start`) match
    * nothing and are dropped before the explode.
    */
  def binnedRangeJoin(points: DataFrame, intervals: DataFrame,
                      pointCol: String, startCol: String, endCol: String,
                      binSize: Long): DataFrame = {
    require(binSize > 0, s"binSize must be positive, got $binSize")
    binnedJoin(points.join(intervals,
      col(pointCol) >= col(startCol) && col(pointCol) < col(endCol)), binSize)
  }

  /** Binned interval-OVERLAP join: joins every `left` interval
    * `[lStart, lEnd)` with every `right` interval `[rStart, rEnd)` that
    * overlaps it (`lStart < rEnd AND rStart < lEnd`) — the
    * intervals×intervals sibling of [[binnedRangeJoin]], and the other
    * join shape whose only built-in Spark plan without an equi-key is a
    * broadcast-nested-loop over O(|L|·|R|) compares.
    *
    * Rewrite: both sides are replicated to every `binSize`-wide bin
    * they overlap, the join becomes a shuffle equi-join on the bin id
    * with the overlap condition as residual. Unlike the point case, an
    * overlapping PAIR shares every bin their intersection covers, so a
    * naive bin-join emits duplicates; each pair is emitted exactly once
    * by keeping only the bin containing `greatest(lStart, rStart)` —
    * the later start lies inside BOTH intervals whenever they overlap
    * (it is < both ends), so that bin is always shared and unique.
    * Result is therefore identical to the nested-loop join, row for
    * row, with no post-hoc `distinct`. This is
    * [[graft.plans.RangeJoinRule]]'s overlap rewrite of the plain join.
    *
    * Cost model: compares per bin ≈ |left copies| × |right copies| —
    * pick `binSize` near the typical interval length on the DENSER
    * side so replication stays ~2×. Integral bounds and floor-division
    * binning follow [[binnedRangeJoin]]. Empty and inverted intervals
    * (`end <= start`) match nothing. The four column names must be
    * distinct (alias before calling).
    */
  def binnedOverlapJoin(left: DataFrame, right: DataFrame,
                        lStart: String, lEnd: String,
                        rStart: String, rEnd: String,
                        binSize: Long): DataFrame = {
    require(binSize > 0, s"binSize must be positive, got $binSize")
    require(Set(lStart, lEnd, rStart, rEnd).size == 4,
      s"bound column names must be distinct, got ($lStart,$lEnd)×($rStart,$rEnd)")
    binnedJoin(left.join(right,
      col(lStart) < col(rEnd) && col(rStart) < col(lEnd) &&
        col(lStart) < col(lEnd) && col(rStart) < col(rEnd)), binSize)
  }

  private def binnedJoin(joined: DataFrame, binSize: Long): DataFrame =
    rewriteJoin(joined) { j =>
      graft.plans.RangeJoinRule.rewrite(j, binSize).getOrElse(
        throw new IllegalArgumentException(
          s"binned join needs integral bounds (cast timestamps to an epoch integer): ${j.condition.get.sql}"))
    }

  /** Largest k-means cluster [[semanticDedup]] pairs within; the
    * members of a larger cluster are all kept (the [[capBuckets]] guard).
    */
  val MaxCluster = 4096

  /** The rows of `df` whose bucket — the rows sharing the `bucket`
    * values, null keys included — holds at most `cap` rows: the skew
    * guard of every bucket-pair operator ([[bucketPairs]], and alone the
    * train side of `Llm.contaminationFuzzy` and `Llm.setSimJoin`'s opt-in
    * token cap).
    *
    * Bucket sizes are counted with a whole-partition window: `WindowExec`
    * buffers a partition in a spillable row buffer, so even a 10M-row
    * degenerate bucket (boilerplate documents sharing a band signature, a
    * constant embedding column) cannot OOM an executor. A `collect_list`
    * aggregation buffer does NOT spill, so the cap must run before any
    * per-bucket `collect_list`; it also bounds a hot bucket's quadratic
    * pair volume. Shuffles: one on `bucket`, which a following
    * `groupBy(bucket)` reuses.
    */
  private[graft] def capBuckets(df: DataFrame, bucket: Seq[String], cap: Int): DataFrame =
    df.withColumn("__bn", count(lit(1)).over(Window.partitionBy(bucket.map(col): _*)))
      .filter(col("__bn") <= cap)
      .drop("__bn")

  /** The engine's one capped bucket-pair expander, the candidate step of
    * the near-dup operators (`Llm.minhashPairs`, `Llm.embedPairs`,
    * [[semanticDedup]], `Multimodal.q_mm_phash`): every two rows of `df`
    * that share a bucket of at most `cap` rows ([[capBuckets]]). Output:
    * two structs `a` and `b` of df's non-bucket columns with
    * `a.<id> < b.<id>`, so a null id pairs with nothing. Two rows that
    * share several buckets pair once per bucket.
    *
    * The window count and the `groupBy(bucket)` share one exchange, which
    * carries `df`'s columns: callers project their payload first. Each
    * bucket's `collect_list` expands into its pairs by a double explode;
    * pair volume is Σ|bucket|², never n².
    */
  private[graft] def bucketPairs(df: DataFrame, bucket: Seq[String], id: String,
                                 cap: Int): DataFrame =
    capBuckets(df, bucket, cap)
      .groupBy(bucket.map(col): _*)
      .agg(collect_list(struct(df.columns.filterNot(bucket.contains).map(col): _*)).as("items"))
      .filter(size(col("items")) > 1)
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col(s"a.$id") < col(s"b.$id"))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding corpus, then
    * within each cluster drop every item that has a cosine-similar
    * (`>= threshold`) item with a smaller id. Quadratic work is
    * confined to WITHIN-cluster pairs, so total candidate volume is
    * Σ|cluster|² — pick `k ≈ n / targetClusterSize` to bound it
    * (SemDeDup itself runs k in the tens of thousands at
    * billion-sample scale for exactly this reason).
    *
    * Candidates are the [[bucketPairs]] of each cluster: a cluster over
    * [[MaxCluster]] yields no pair, so its members are all kept. A
    * well-sized k keeps real clusters far under the cap.
    *
    * Keep rule (standard SemDeDup screening, not transitive-closure
    * clustering): item i is dropped iff SOME same-cluster j < i has
    * cos(i,j) >= threshold — each near-dup group keeps exactly its
    * smallest id; chained similars may all collapse onto one keeper.
    *
    * Returns one row per input item: (idCol, cluster, keep).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, threshold: Double,
                    maxIters: Int = 5): DataFrame = {
    val assigned = kMeans(
      df.select(col(idCol), col(vecCol).cast("array<double>").as("__v")),
      "__v", k, maxIters)
      .assigned
      // pair generation reads this twice (pairs + left join back) and it
      // costs a full k×dim scan per row to recompute — materialize once
      .localCheckpoint()
    val dropped = bucketPairs(assigned.select(col(idCol), col("__v"), col("cluster")),
        Seq("cluster"), idCol, MaxCluster)
      .filter(graft.functions.Vec.cosine(col("a.__v"), col("b.__v")) >= threshold)
      .select(col(s"b.$idCol").as("__dup_id")).distinct()
    assigned.join(dropped, col(idCol) === col("__dup_id"), "left")
      .select(col(idCol), col("cluster"), col("__dup_id").isNull.as("keep"))
  }

  /** Distributed triangle counting over an undirected edge list — the
    * classic two-equi-join formulation: canonicalize every edge to
    * (a < b), build wedges by joining edges on the shared middle node,
    * close each wedge against the edge set. Both joins are plain
    * shuffle equi-joins on node ids. Wedge volume under id-orientation
    * is Σ deg(v)² over LOW-id endpoints — fine on bounded-degree
    * graphs, quadratic on a power-law hub that happens to have a low
    * id. `orientByDegree = true` re-orients every edge low-degree →
    * high-degree ((deg, id)-lexicographic, a total order) before the
    * wedge join: each triangle then forms its single wedge at its
    * minimum-(deg,id) corner, whose out-degree is provably O(√m), so
    * wedge volume is bounded by O(m^1.5) REGARDLESS of skew — the
    * standard node-iterator++ bound. Output is IDENTICAL either way
    * (asserted in ScaleSpec on a skewed star fixture): triangles are
    * re-attributed to their smallest node id after closing, so the
    * orientation is an execution detail, not a semantics change.
    *
    * Returns (a, n_tri): triangles counted at their smallest node.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String,
                    orientByDegree: Boolean = false): DataFrame = {
    val canon = edges.select(
      least(col(srcCol), col(dstCol)).as("a"),
      greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    if (!orientByDegree) {
      val wedge = canon.as("e1")
        .join(canon.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("wa"), col("e1.b").as("wb"), col("e2.b").as("wc"))
      wedge.join(canon.as("e3"),
          col("wa") === col("e3.a") && col("wc") === col("e3.b"), "left_semi")
        .groupBy("wa").agg(count(lit(1)).as("n_tri"))
        .select(col("wa").as("a"), col("n_tri"))
    } else {
      val deg = canon.select(col("a").as("v")).union(canon.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      // orient u→w iff (deg u, u) < (deg w, w); two broadcast-friendly
      // joins attach endpoint degrees (deg is ≤ |V| rows, node-id keyed)
      val oriented = canon
        .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("a"))
            .otherwise(col("b")).as("s"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("b"))
            .otherwise(col("a")).as("t"))
      // wedges at the minimum-(deg,id) corner; t1 < t2 dedups the
      // unordered pair, and (t1, t2) is already canonical for the
      // (a < b) closing semi-join
      val wedge = oriented.as("e1")
        .join(oriented.as("e2"), col("e1.s") === col("e2.s"))
        .filter(col("e1.t") < col("e2.t"))
        .select(col("e1.s").as("u"), col("e1.t").as("v"), col("e2.t").as("w"))
      wedge.join(canon.as("e3"),
          col("v") === col("e3.a") && col("w") === col("e3.b"), "left_semi")
        .groupBy(least(col("u"), col("v")).as("a")) // v < w, so min id = least(u, v)
        .agg(count(lit(1)).as("n_tri"))
    }
  }

  /** Two-hop neighborhood census (friends-of-friends): per vertex, the
    * count of vertices reachable in exactly two hops that are neither
    * the vertex itself nor a direct neighbor. `edges` must already hold
    * BOTH directions of every undirected edge (deduplicated).
    *
    * Shape: adjacency self-join on the middle vertex (Σ deg(m)² pair
    * volume), distinct, one anti-join against direct edges. On a
    * power-law graph a single hub middle contributes deg(hub)² pairs —
    * `degreeCap > 0` EXCLUDES wedges whose middle has degree above the
    * cap (the standard supernode guard; the alternative, mirroring hub
    * adjacency lists, keeps exactness at far higher cost). Capped
    * semantics: reachability via low-degree middles only — a DOCUMENTED
    * under-count whose pair set is a subset of the exact census
    * (asserted in ScaleSpec), the trade training-data graph pipelines
    * take because hub-mediated co-occurrence carries no signal.
    */
  def twoHopCensus(edges: DataFrame, srcCol: String, dstCol: String,
                   degreeCap: Int = 0): DataFrame = {
    val und = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val bSide = if (degreeCap <= 0) und else {
      val ok = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") <= degreeCap).select("v")
      und.join(ok, col("src") === col("v"), "left_semi")
    }
    val two = und.as("a").join(bSide.as("b"), col("a.dst") === col("b.src"))
      .filter(col("b.dst") =!= col("a.src"))
      .select(col("a.src").as("a"), col("b.dst").as("c"))
      .distinct()
    two.join(und.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"), "left_anti")
      .groupBy("a").agg(count(lit(1)).as("n_two_hop"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007, Phys. Rev. E
    * 76) with a DETERMINISTIC tie-break: every node starts labeled by
    * its own id; each round every node adopts the most frequent label
    * among its neighbors' PREVIOUS-round labels, ties broken by MIN
    * label (the randomized original is useless as a gate — and at
    * 100 TB a retry-stable community assignment is the point). A FIXED
    * iteration count keeps the recursion oracle-unrollable; callers
    * wanting convergence loop until the label frame reaches a fixed
    * point. Per round: one equi-join of the m-row symmetrized edge
    * list against the n-row label frame, one (node, label) count agg,
    * one degree-bounded top-1 window — never node × node. Rounds are
    * checkpointed lazily, as in [[hits]].
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3): DataFrame = Scratch.scope { scratch =>
    // symmetrize + dedupe: neighbors see each other in both directions
    val ud = scratch.checkpoint(edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .union(edges.select(col(dstCol).as("__src"), col(srcCol).as("__dst")))
      .distinct())
    val nodes = scratch.checkpoint(ud.select(col("__src").as("id")).distinct())
    var labels = nodes.withColumn("label", col("id"))
    val w = Window.partitionBy("__src").orderBy(col("__c").desc, col("__nl").asc)
    for (_ <- 1 to iters) {
      val counted = ud
        .join(labels.select(col("id"), col("label").as("__nl")),
          col("__dst") === col("id"))
        .groupBy(col("__src"), col("__nl")).agg(count(lit(1)).as("__c"))
      labels = scratch.checkpoint(counted
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__src").as("id"), col("__nl").as("label")), eager = false)
    }
    if (iters > 0) labels.count() // materialize the whole round chain in one job
    labels
  }(Seq(_))

  /** Distributed PageRank over an edge list (damped, fixed iteration
    * count — link/citation authority scoring). Per iteration: one
    * equi-join of the (edge, out-degree) relation against current ranks
    * and one partial+final aggregation on the destination — rank rows
    * only, never the raw graph, move through the shuffle. The edge ×
    * out-degree relation is materialized ONCE (`localCheckpoint`; at
    * cluster scale, a persisted/bucketed table on `src`, which also
    * co-locates every iteration's join). Contributions accumulate as
    * DECIMAL so results are partitioning-independent (same property as
    * [[graft.ops.Relational.dsum]]). Dangling nodes contribute nothing
    * (standard per-node formulation: `(1-d) + d·Σ contrib`).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, damping: Double = 0.85): DataFrame = Scratch.scope { scratch =>
    val deg = edges.groupBy(col(srcCol).as("__s")).agg(count(lit(1)).as("__outdeg"))
    val e = scratch.checkpoint(edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .join(deg, col("__src") === col("__s")).drop("__s"))
    val nodes = scratch.checkpoint(edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id"))).distinct())
    var ranks = nodes.withColumn("rank", lit(1.0))
    // lazy round checkpoints, as in [[hits]]
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks, col("__src") === col("id"))
        .groupBy(col("__dst"))
        .agg(sum((col("rank") / col("__outdeg")).cast(DecimalType(28, 12))).as("__c"))
      ranks = scratch.checkpoint(nodes.join(contrib, col("id") === col("__dst"), "left")
        .select(col("id"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("__c").cast("double"), lit(0.0))).as("rank")),
        eager = false)
    }
    if (iters > 0) ranks.count() // materialize the whole round chain in one job
    ranks
  }(Seq(_))

  /** HITS hubs & authorities (Kleinberg 1999, JACM 46(5) §3) with a
    * FIXED iteration count and NO per-round normalization: starting
    * from all-ones, each round is a_k(v) = Σ_{u→v} h_{k-1}(u) then
    * h_k(u) = Σ_{u→v} a_k(v) — every intermediate is an exact INTEGER
    * (sums of integers), so both engines agree bit-for-bit without any
    * DECIMAL scaffolding, and on a bounded-degree graph the magnitudes
    * stay far below 2^53 (growth ≤ (d_in·d_out)^iters per round pair).
    * Normalization does not change the ranking HITS exists to produce;
    * callers wanting unit scores divide by the max once at the end
    * (the gate reports both). Same loop as [[pageRank]]: a checkpoint
    * per round, two shuffles per round (group on dst, group on src),
    * never node × node.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 5): DataFrame = Scratch.scope { scratch =>
    val e = scratch.checkpoint(edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst")))
    val nodes = scratch.checkpoint(edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id"))).distinct())
    var scores = nodes.select(col("id"), lit(1L).as("hub"), lit(1L).as("auth"))
    // LAZY checkpoints through the fixed-iteration loop: each round's
    // checkpoint still truncates the CATALYST plan immediately (withA
    // feeds both the hub pass and the round output, so an
    // uncheckpointed plan doubles per round), but nothing materializes
    // until ONE count() at loop exit — iters eager-materialization jobs
    // collapse into a single job whose stages are the same shuffles.
    // Storage holds all rounds' node-frames during that job (id+2 longs
    // per node per round).
    for (_ <- 1 to iters) {
      // authority pass: a(v) = Σ hub of in-neighbors
      val aNew = e.join(scores.select(col("id"), col("hub")), col("__src") === col("id"))
        .groupBy(col("__dst")).agg(sum(col("hub")).as("__a"))
      val withA = nodes.join(aNew, col("id") === col("__dst"), "left")
        .select(col("id"), coalesce(col("__a"), lit(0L)).as("auth"))
      // hub pass: h(u) = Σ NEW authority of out-neighbors
      val hNew = e.join(withA.select(col("id").as("__aid"), col("auth")),
          col("__dst") === col("__aid"))
        .groupBy(col("__src")).agg(sum(col("auth")).as("__h"))
      scores = scratch.checkpoint(withA.join(hNew, col("id") === col("__src"), "left")
        .select(col("id"), coalesce(col("__h"), lit(0L)).as("hub"), col("auth")),
        eager = false)
    }
    if (iters > 0) scores.count() // materialize the whole round chain in one job
    scores
  }(Seq(_))
}
