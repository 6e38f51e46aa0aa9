package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

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
    *
    * Shape: (1) the per-group counts (one scan-stage aggregate, unless
    * the caller supplies them) and the quota relation are collected —
    * both are group-cardinality-sized by contract — and the driver
    * joins them, checks the allocation hygiene, and sizes a per-group
    * hash THRESHOLD at ~2× the quota plus a small-group cushion;
    * (2) the prefilter keeps only rows whose hash prefix falls below it
    * — a scan-stage cut against the broadcast stats table, so the
    * per-group rank window sees ~2·n_h rows instead of the stratum;
    * (3) the draw is still EXACT: the survivor
    * set is downward-closed in the hash order (a 60-bit numeric prefix
    * of the md5 hex is order-consistent with it), so the n_h lowest
    * survivors ARE the n_h lowest rows whenever the group kept ≥
    * min(n_h, group size) survivors — which a per-group COUNT CHECK
    * verifies, falling back to the exact whole-group rank for only the
    * (overwhelmingly rare: the cut is Binomial with mean 2·n_h + 16)
    * groups that miss. The check is one grouped count over the survivor
    * checkpoint, compared on the driver; the fallback branch never
    * enters the plan when no group misses.
    *
    * Actions: the survivor checkpoint and the miss check, plus the count
    * aggregate when `groupCounts` is absent; a local-relation quota or
    * count input (the Neyman allocation) is read without a job. In the
    * release pipeline the sampling step (allocation + sampler) fires 8
    * jobs per warm run over sf0.001, where the checkpointed stats table,
    * its two hygiene actions and a miss-check join made it 20.
    *
    * `quotas`: Left(k) = flat per-group quota; Right(df) = per-group
    * allocation relation (groupCols + `n_h`), one row per group — it
    * must COVER every group in the data exactly once: a missing or
    * duplicated allocation row fails loudly (a silent inner join here
    * would shrink or duplicate the sample with no signal). Group keys
    * match with SQL equality, so a null key never finds its quota.
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
                  oversample: Double = 2.0, cushion: Double = 16.0,
                  groupCounts: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val grp = groupCols.map(col)
    val k = groupCols.size
    def key(r: Row): Seq[Any] = (0 until k).map(r.get)
    val counts = groupCounts.getOrElse(
      df.groupBy(grp: _*).agg(count(lit(1)).as("__grp_n")))
      .select(grp :+ col("__grp_n"): _*)
    val keyFields = counts.schema.fields.take(k).toSeq
    // the left join of the counts with the quotas, on the driver:
    // (key, __grp_n, n_h) with a null n_h where no quota row matched
    val (nhField, joined) = quotas match {
      case Left(q) =>
        (StructField("n_h", LongType, nullable = false),
          counts.collect().toSeq.map(r => (key(r), r.get(k), q: Any)))
      case Right(q) =>
        val qdf = q.select(grp :+ col("n_h"): _*)
        val byKey = qdf.collect().toSeq.groupBy(key)
        (qdf.schema("n_h"), counts.collect().toSeq.flatMap { r =>
          val g = key(r)
          val hits = if (g.contains(null)) Nil else byKey.getOrElse(g, Nil)
          if (hits.isEmpty) Seq((g, r.get(k), null))
          else hits.map(h => (g, r.get(k), h.get(k)))
        })
    }
    // allocation-relation hygiene: a group the quota relation missed
    // surfaces as a null n_h, a duplicated allocation row as a doubled
    // group — both are caller bugs that would otherwise shrink/duplicate
    // the sample SILENTLY
    def groupList(gs: Seq[Seq[Any]]): String = gs.take(5).map(_.mkString("/")).mkString(", ")
    if (quotas.isRight) {
      val bad = joined.collect { case (g, _, null) => g }
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"quotaSample: quota relation is missing allocation rows for groups " +
          s"${groupList(bad)} ... — every group in " +
          "the data needs exactly one n_h row")
      val dup = joined.groupBy(_._1).collect { case (g, rs) if rs.size > 1 => g }.toSeq
      if (dup.nonEmpty) throw new IllegalArgumentException(
        s"quotaSample: quota relation has duplicate allocation rows for groups " +
          s"${groupList(dup)} ... — the join would " +
          "duplicate survivors")
    }
    // __needed = least(n_h, __grp_n); __thresh is the 60-bit hash cut:
    // least(1.0, (n_h·oversample + cushion) / __grp_n) · 16^15 as a long
    // (the first 15 hex chars of the md5 as an integer; equal-length
    // lowercase hex compares identically as string or number). The same
    // double operations as the SQL expressions, so the same bits; NaN
    // orders above 1.0 there, as in Spark's least.
    val hexSpan = 1152921504606846976L // 16^15 = 2^60
    val statRows = joined.map { case (g, grpN, nh) =>
      val n = grpN.asInstanceOf[Number].longValue
      val h = nh.asInstanceOf[Number]
      val frac = (h.doubleValue * oversample + cushion) / n.toDouble
      val cut = if (frac.isNaN || frac > 1.0) 1.0 else frac
      Row.fromSeq(g ++ Seq(grpN, nh, math.min(h.longValue, n), (cut * hexSpan.toDouble).toLong))
    }
    val stats = spark.createDataFrame(java.util.Arrays.asList(statRows: _*),
      StructType(keyFields ++ Seq(counts.schema("__grp_n"), nhField,
        StructField("__needed", LongType), StructField("__thresh", LongType))))
    val hv = conv(substring(hash, 1, 15), 16, 10).cast("long")
    // the survivor cut is ~ groups·(2·n_h+16) rows — dim-sized by
    // construction, so one checkpoint lets the rank, the count check,
    // and the final action share ONE corpus scan
    val surv = df
      .join(broadcast(stats), groupCols)
      .filter(hv < col("__thresh"))
      .localCheckpoint()
    val w = Window.partitionBy(grp: _*).orderBy(hash +: tie: _*)
    val ranked = surv
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= col("__needed"))
    // count check: a group is exact iff it kept at least `needed`
    // survivors (downward-closure makes the lowest `needed` global)
    val got = surv.groupBy(grp: _*).agg(count(lit(1)))
      .collect().map(r => key(r) -> r.getLong(k)).toMap
    val missRows = statRows.filter(r => got.getOrElse(key(r), 0L) < r.getLong(k + 2))
      .map(r => Row.fromSeq(key(r)))
    val out =
      if (missRows.isEmpty) ranked
      else {
        // exact fallback for ONLY the missed groups: whole-group rank,
        // fed through a broadcast semi-join BELOW the window
        val missDf = spark.createDataFrame(
          java.util.Arrays.asList(missRows: _*), StructType(keyFields))
        val exact = df
          .join(broadcast(missDf), groupCols, "left_semi")
          .join(broadcast(stats), groupCols)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= col("__needed"))
        ranked.join(broadcast(missDf), groupCols, "left_anti")
          .unionByName(exact)
      }
    out.drop("__grp_n", "__needed", "__thresh")
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

  /** Shared prep of the terasort helpers: returns `(statsSource,
    * sorted, checkpoint)` where `sorted` carries the partition-unit
    * column `pid` in sorted order and `statsSource` yields the same
    * `pid` → rows mapping cheaply for the offset pass; both read ONE
    * materialization.
    *
    * Two shapes:
    *
    * - `bucketKey == null` (legacy): range-partition on the order keys,
    *   `spark_partition_id()` as `pid`, checkpoint the SORTED rows.
    *   Correct for any order, but the pid window downstream pays a
    *   planner-inserted second full exchange + re-sort:
    *   `RangePartitioning(order)` does not satisfy
    *   `ClusteredDistribution(pid)` (the planner cannot know pid is
    *   constant per partition) — the r15 CumProbe finding.
    *
    * - `bucketKey != null` (ONE-SHUFFLE): `bucketKey` must be a
    *   NON-NULL double-valued expression over `df`'s columns that is
    *   monotone NON-DECREASING w.r.t. the total `order` (direction
    *   included — negate for desc; compose ties as
    *   `leading + fraction` with [[hexFrac]]/[[strFrac]]). Rows carry
    *   an ORDINAL bucket id (codegen binary search against quantile
    *   boundaries of `bucketKey` — sampled from the pre-sort
    *   checkpoint when `bucketBoundaries` is null, so the sampling
    *   pass reads cached blocks, not the input subtree), and
    *   `repartitionByRange(bucket)` IS a distribution the pid window
    *   accepts: the window and everything after it ride the terasort's
    *   own exchange, nothing re-shuffles. Ties in `bucketKey` never
    *   split across buckets, so heavy ties bound parallelism — refine
    *   the proxy with a tiebreak fraction when the leading key is
    *   tie-heavy. Offsets aggregate over the PRE-SORT checkpoint
    *   (bucket id is a row function, not a placement), saving the
    *   n-row sorted checkpoint the legacy shape pays.
    */
  private def terasortPrep(df: DataFrame, order: Seq[Column], parts: Int,
                           bucketKey: Column, bucketBoundaries: Array[Double],
                           pid: String): (DataFrame, DataFrame) = {
    if (bucketKey == null) {
      val sorted = df.repartitionByRange(parts, order: _*)
        .sortWithinPartitions(order: _*)
        .withColumn(pid, spark_partition_id())
        .localCheckpoint()
      (sorted, sorted)
    } else {
      val src0 = df.withColumn("__bk", bucketKey.cast("double")).localCheckpoint()
      val bounds = (if (bucketBoundaries != null) bucketBoundaries
        else {
          // ≥4 buckets per partition so the range packer can balance
          // multi-bucket partitions (hash placement collides ~Poisson;
          // ordinal ranges pack evenly — the r15 q_peak_concurrency fix)
          val m = 4 * parts
          src0.stat.approxQuantile("__bk",
            (1 until m).map(_.toDouble / m).toArray, 0.001)
        }).distinct.sorted
      val bucket =
        if (bounds.isEmpty) lit(0)
        else org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.BucketIndex(
            org.apache.spark.sql.GraftSqlBridge.expression(col("__bk")),
            bounds))
      val src = src0.withColumn(pid, bucket).drop("__bk")
      val sorted = src.repartitionByRange(parts, col(pid))
        .sortWithinPartitions(col(pid) +: order: _*)
      (src, sorted)
    }
  }

  /** Deterministic global row-sequencing: assigns `posCol` = 1..N in the
    * total order of `order`, WITHOUT funnelling the dataset through a
    * single task (the partition-less `row_number()` window plan). Shape:
    * range-partition on the order keys, sort within partitions, then add
    * each partition's start offset to the per-partition `row_number` —
    * the offsets are a P-row driver-side cumulative sum over partition
    * counts (the same per-partition-stats footprint AQE collects), so
    * every stage is wide. This is the terasort ranking recipe: the sort
    * is range-partitioned and spillable, exactly the 100 TB shape.
    *
    * Positions depend only on the total order, never on the sampled
    * range boundaries, so output is reproducible across partitionings,
    * retries, and cluster sizes. `order` must be a TOTAL order (add a
    * unique tiebreak) or positions within ties are nondeterministic.
    *
    * Pass `bucketKey` (a non-null double proxy monotone in `order` —
    * see [[terasortPrep]]) to take the ONE-SHUFFLE path: without it the
    * pid window pays a hidden second full exchange + re-sort. The
    * checkpointed input (sorted rows legacy; pre-sort rows bucketed) is
    * materialized once; release via [[Llm.unpersistCheckpoint]].
    */
  def globalSequence(df: DataFrame, order: Seq[Column],
                     posCol: String, numPartitions: Int = 0,
                     bucketKey: Column = null,
                     bucketBoundaries: Array[Double] = null): DataFrame = {
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val (statsSrc, sorted) =
      terasortPrep(df, order, parts, bucketKey, bucketBoundaries, "__gs_pid")
    val counts = statsSrc.groupBy("__gs_pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) => val o = acc; acc += n; (pid, o) }
    import spark.implicits._
    val offsetsDf = offsets.toSeq.toDF("__gs_pid", "__gs_off")
    // window partitioned by pid: parallelism = P, never a global funnel
    val w = Window.partitionBy("__gs_pid").orderBy(order: _*)
    sorted.join(broadcast(offsetsDf), Seq("__gs_pid"))
      .withColumn(posCol, col("__gs_off") + row_number().over(w))
      .drop("__gs_pid", "__gs_off")
  }

  /** Deterministic global running sum: `cumCol` = Σ `value` over all rows
    * at-or-before the current row in the total order of `order`, WITHOUT
    * the partition-less `sum().over(Window.orderBy(...))` plan that
    * funnels the dataset through one task. Same terasort shape as
    * [[globalSequence]]: range-partition on the order keys, sort within
    * partitions, run the running sum per partition, then add each
    * partition's start offset — the offsets are a P-row driver-side
    * cumulative sum over per-partition totals (the same footprint AQE's
    * partition statistics already collect), accumulated in BigDecimal so
    * DECIMAL/long sums stay exact. Optionally also attaches the grand
    * total as `totalCol` (free: it is the final driver accumulator),
    * replacing the `sum().over(Window.partitionBy(lit(1)))` total-window
    * anti-pattern.
    *
    * `order` must be a TOTAL order (add a unique tiebreak) or the running
    * sum at tied rows is nondeterministic. `value` must be an expression
    * over `df`'s columns whose `sum()` is exact under reordering (long /
    * decimal — for double/float the offsets accumulate in Double and the
    * usual float-sum caveats apply, but NaN/Infinity partition sums pass
    * through rather than erroring).
    *
    * The sorted input is localCheckpoint'ed once so the offset pass and
    * the output pass read the same materialization; callers running this
    * repeatedly can release the blocks afterwards via
    * [[Llm.unpersistCheckpoint]] (same contract as [[globalSequence]]).
    * Pass `bucketKey` (monotone double proxy of `order`, nulls
    * disallowed — see [[terasortPrep]]) for the ONE-SHUFFLE path that
    * elides the hidden pid exchange + re-sort.
    */
  def globalCumSum(df: DataFrame, order: Seq[Column], value: Column,
                   cumCol: String, totalCol: String = null,
                   numPartitions: Int = 0,
                   bucketKey: Column = null,
                   bucketBoundaries: Array[Double] = null): DataFrame = {
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val (statsSrc, sorted) =
      terasortPrep(df, order, parts, bucketKey, bucketBoundaries, "__cs_pid")
    val stats = statsSrc.groupBy("__cs_pid").agg(sum(value).as("__cs_sum"))
    val sumType = stats.schema("__cs_sum").dataType
    val fractional = sumType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => true
      case _ => false
    }
    import spark.implicits._
    // exact types (long/decimal) accumulate in BigDecimal; double/float
    // accumulate in Double so NaN/Infinity partition sums flow through
    // instead of exploding inside BigDecimal's string parser
    val (offsetsDf, totalStr) = if (fractional) {
      val perPart = stats.collect()
        .map { r =>
          val s = r.get(1) match {
            case null      => 0.0
            case n: Number => n.doubleValue()
          }
          (r.getInt(0), s)
        }
        .sortBy(_._1)
      var acc = 0.0
      val offsets = perPart.map { case (pid, sm) => val o = acc; acc += sm; (pid, o) }
      (offsets.toSeq.toDF("__cs_pid", "__cs_off_d")
         .select(col("__cs_pid"), col("__cs_off_d").cast(sumType).as("__cs_off")),
       acc.toString)
    } else {
      val perPart = stats.collect()
        .map { r =>
          val s = r.get(1) match {
            case null                    => java.math.BigDecimal.ZERO
            case b: java.math.BigDecimal => b
            case n: Number               => new java.math.BigDecimal(n.toString)
          }
          (r.getInt(0), s)
        }
        .sortBy(_._1)
      var acc = java.math.BigDecimal.ZERO
      val offsets = perPart.map { case (pid, sm) => val o = acc; acc = acc.add(sm); (pid, o) }
      // offsets travel as strings and are cast back to the exact sum type —
      // decimal/long round-trip losslessly through their canonical string form
      (offsets.toSeq.map { case (pid, o) => (pid, o.toPlainString) }
         .toDF("__cs_pid", "__cs_off_s")
         .select(col("__cs_pid"), col("__cs_off_s").cast(sumType).as("__cs_off")),
       acc.toPlainString)
    }
    // window partitioned by pid: parallelism = P, never a global funnel
    val w = Window.partitionBy("__cs_pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sorted.join(broadcast(offsetsDf), Seq("__cs_pid"))
      .withColumn(cumCol, (col("__cs_off") + sum(value).over(w)).cast(sumType))
      .drop("__cs_pid", "__cs_off")
    if (totalCol == null) cum
    else cum.withColumn(totalCol, lit(totalStr).cast(sumType))
  }

  /** Multi-column form of [[globalCumSum]]: one range sort, one P-row
    * driver collect, N running sums — for operators that need several
    * synchronized cumulative counters over ONE total order (e.g. a
    * per-category CDF grid for a KS statistic). Values must be exact
    * (long/decimal) expressions; offsets accumulate in BigDecimal and
    * round-trip through canonical strings, as in [[globalCumSum]].
    * Same localCheckpoint contract — release via
    * [[Llm.unpersistCheckpoint]] when run repeatedly — and the same
    * optional one-shuffle `bucketKey` path (see [[terasortPrep]]).
    */
  def globalCumSums(df: DataFrame, order: Seq[Column],
                    values: Seq[(Column, String)],
                    numPartitions: Int = 0,
                    bucketKey: Column = null,
                    bucketBoundaries: Array[Double] = null): DataFrame = {
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val (statsSrc, sorted) =
      terasortPrep(df, order, parts, bucketKey, bucketBoundaries, "__mcs_pid")
    val sumCols = values.zipWithIndex.map { case ((v, _), i) => sum(v).as(s"__mcs_s$i") }
    val stats = statsSrc.groupBy("__mcs_pid").agg(sumCols.head, sumCols.tail: _*)
    val sumTypes = values.indices.map(i => stats.schema(s"__mcs_s$i").dataType)
    val perPart = stats.collect()
      .map { r =>
        val sums = values.indices.map { i =>
          r.get(i + 1) match {
            case null                    => java.math.BigDecimal.ZERO
            case b: java.math.BigDecimal => b
            case n: Number               => new java.math.BigDecimal(n.toString)
          }
        }
        (r.getInt(0), sums)
      }
      .sortBy(_._1)
    val accs = Array.fill(values.size)(java.math.BigDecimal.ZERO)
    val offsets = perPart.map { case (pid, sums) =>
      val o = accs.toSeq.map(_.toPlainString)
      values.indices.foreach(i => accs(i) = accs(i).add(sums(i)))
      Row.fromSeq(pid +: o)
    }
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__mcs_pid",
        org.apache.spark.sql.types.IntegerType) +:
      values.indices.map(i => org.apache.spark.sql.types.StructField(
        s"__mcs_o$i", org.apache.spark.sql.types.StringType)))
    val offsetsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.toSeq, 1), offSchema)
    val w = Window.partitionBy("__mcs_pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    values.zipWithIndex.foldLeft(
      sorted.join(broadcast(offsetsDf), Seq("__mcs_pid"))) {
        case (acc, ((v, name), i)) =>
          acc.withColumn(name,
            (col(s"__mcs_o$i").cast(sumTypes(i)) + sum(v).over(w)).cast(sumTypes(i)))
      }
      .drop("__mcs_pid" +: values.indices.map(i => s"__mcs_o$i"): _*)
  }

  /** Per-GROUP extremes of a global running sum WITHOUT materializing
    * the running sum: one terasort, then ONE fused pass (per-partition
    * window running sum feeding a map-side partial agg in the same
    * stage) reduces the n input rows to a P×|groups| micro-table. The
    * partition offsets are recovered from that micro-table itself (the
    * per-partition `value` totals, summed in pid order, BigDecimal-
    * exact) — so, unlike [[globalCumSum]] followed by a groupBy, there
    * is NO second scan of the sorted rows, no n-row localCheckpoint,
    * and no broadcast join back onto n rows. Correct because the
    * offset is constant within a partition, so the group's max of the
    * GLOBAL running sum decomposes exactly:
    * max_g(cum) = max_p(offset_p + maxLocalCum_{p,g}).
    *
    * `groups` are (expression, outputName) pairs; `extraSums` are
    * (expression, outputName) pairs summed per group (sums re-aggregate
    * losslessly across the two levels; a non-decomposable agg does
    * not belong here). `value` and every extraSum must be exact
    * (long/decimal); `order` must totally order rows or running sums
    * at ties are nondeterministic. Output: one row per group —
    * group columns ++ `maxCol` ++ extraSum columns. The micro-table
    * (P·|groups| rows, localCheckpoint'ed once so the offset pass and
    * the final rollup read one materialization) is the only driver /
    * broadcast footprint — the same class as [[globalCumSum]]'s P-row
    * offset pass.
    */
  def globalCumMaxPerGroup(df: DataFrame, order: Seq[Column], value: Column,
                           groups: Seq[(Column, String)], maxCol: String,
                           extraSums: Seq[(Column, String)] = Nil,
                           numPartitions: Int = 0,
                           keyBoundaries: Array[Double] = null): DataFrame = {
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val groupNames = groups.map(_._2)
    // ONE-SHUFFLE terasort: a `spark_partition_id()` column after
    // `repartitionByRange` does NOT satisfy the pid window's
    // ClusteredDistribution (the planner cannot know pid is constant
    // per partition), so that spelling pays a hidden SECOND full
    // exchange + re-sort on hashpartitioning(pid) — the r15 taskstats
    // found it as the skewed 294k-ms stage behind q_peak_concurrency.
    // With caller-provided quantile `keyBoundaries` of the LEADING
    // order key (plain ascending numeric; cheap to sample from the
    // pruned source scan) the rows carry an ORDINAL bucket id instead:
    // `repartitionByRange` on that id is a RangePartitioning that DOES
    // satisfy the window's distribution, and the (bucket, order)
    // partition sort is its required ordering — so the window and the
    // micro-agg ride the terasort's own exchange, nothing re-shuffles.
    // Boundaries should be ≥4× the partition count so the range
    // packer balances multi-bucket partitions (same-bucket ties never
    // split — a bucket is a function of the key). Pass null to take
    // the original range-partition path (correct for any order,
    // one planner-inserted pid exchange + sort extra).
    val bucketed = if (keyBoundaries != null && keyBoundaries.nonEmpty) {
      val bounds = keyBoundaries.distinct.sorted
      // bucket assignment is a codegen binary-search kernel — both
      // SQL-level spellings (interpreted higher-order aggregate; a
      // when-tree that blows the stage past codegen method limits)
      // measured 2-4× slower end to end at sf100 (see BucketIndex)
      val bucket = org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.BucketIndex(
          org.apache.spark.sql.GraftSqlBridge.expression(
            order.head.cast("double")), bounds))
      df.withColumn("__gm_pid", bucket)
        .repartitionByRange(parts, col("__gm_pid"))
        .sortWithinPartitions(col("__gm_pid") +: order: _*)
    } else
      df.repartitionByRange(parts, order: _*)
        .sortWithinPartitions(order: _*)
        .withColumn("__gm_pid", spark_partition_id())
    val w = Window.partitionBy("__gm_pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prepared = groups.foldLeft(
      bucketed
        .withColumn("__gm_cum", sum(value).over(w))
        .withColumn("__gm_v", value)) { case (d, (c, n)) => d.withColumn(n, c) }
    val microAggs = Seq(max("__gm_cum").as("__gm_max"),
      sum("__gm_v").as("__gm_sum")) ++
      extraSums.map { case (c, n) => sum(c).as(n) }
    val micro = prepared
      .groupBy(("__gm_pid" +: groupNames).map(col): _*)
      .agg(microAggs.head, microAggs.tail: _*)
      .localCheckpoint()
    val sumType = micro.schema("__gm_sum").dataType
    val perPart = micro.groupBy("__gm_pid").agg(sum("__gm_sum").as("__gm_t"))
      .collect()
      .map { r =>
        val s = r.get(1) match {
          case null                    => java.math.BigDecimal.ZERO
          case b: java.math.BigDecimal => b
          case n: Number               => new java.math.BigDecimal(n.toString)
        }
        (r.getInt(0), s)
      }
      .sortBy(_._1)
    var acc = java.math.BigDecimal.ZERO
    val offsets = perPart.map { case (pid, sm) =>
      val o = acc; acc = acc.add(sm); (pid, o.toPlainString)
    }
    import spark.implicits._
    val offsetsDf = offsets.toSeq.toDF("__gm_pid", "__gm_off_s")
      .select(col("__gm_pid"), col("__gm_off_s").cast(sumType).as("__gm_off"))
    val finalAggs = Seq(
      max((col("__gm_off") + col("__gm_max")).cast(sumType)).as(maxCol)) ++
      extraSums.map { case (_, n) => sum(col(n)).as(n) }
    micro.join(broadcast(offsetsDf), Seq("__gm_pid"))
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
                          maxIter: Int = 20): DataFrame = {
    // materialize the symmetric edge list ONCE — edges may be an
    // expensive pipeline (e.g. minhash candidate generation), and every
    // iteration joins against it
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .localCheckpoint()
    var labels = nodes.select(col(nodeCol).as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    // the previous round's checkpoint blocks are dead once the new round
    // materializes — release them or storage grows linearly in iterations
    var prevCkpt = labels
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
      val compressed = hopped.as("h")
        .join(hopped.select(col("id").as("lid"), col("label").as("llabel")).as("l2"),
          col("h.label") === col("l2.lid"), "left")
        .select(col("h.id").as("id"),
          least(col("h.label"), coalesce(col("llabel"), col("h.label"))).as("label"),
          col("h.changed"))
        .localCheckpoint(eager = false)
      // the convergence probe IS the materialization job (bpeTrain's
      // fused-round discipline): a count() aggregate touches every
      // partition, so the lazily-marked checkpoint persists fully as a
      // side effect and the round costs ONE job instead of an eager
      // checkpoint job + an isEmpty probe. Only then are the previous
      // round's blocks dead.
      converged = compressed.filter(col("changed")).count() == 0L
      Llm.unpersistCheckpoint(prevCkpt)
      prevCkpt = compressed
      labels = compressed.drop("changed")
      i += 1
    }
    // silent non-convergence would split real components and (in dedup)
    // retain duplicates — fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — raise maxIter")
    Llm.unpersistCheckpoint(sym) // the returned labels no longer read it
    labels
  }

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
    * driver-sized except the per-round removed COUNT. Rounds are
    * checkpointed with the [[connectedComponents]] release discipline
    * (superseded survivor/edge checkpoints freed as soon as the next
    * round materializes; the per-round removed sets stay alive — they
    * ARE the result). Real graphs peel in few rounds (degeneracy
    * ordering is shallow); a pathological chain unravels one layer per
    * round, hence the loud `maxRounds` guard instead of a silent
    * truncation.
    *
    * The returned frame READS the round checkpoints, which otherwise
    * stay pinned until GC reclaims the RDDs — a long-lived session
    * calling this repeatedly should use [[kCoreWithRelease]] (a
    * (result, release) pair) and call release() once the result is
    * consumed/persisted.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 100): DataFrame =
    kCoreWithRelease(edges, srcCol, dstCol, k, maxRounds)._1

  /** [[kCore]] with an explicit checkpoint-release handle: release()
    * frees every checkpoint block the result depends on (per-round
    * removed sets + the final survivor set). Call it only AFTER the
    * result has been consumed (collected, written, or re-checkpointed) —
    * the frame is unreadable afterwards.
    */
  def kCoreWithRelease(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
                       maxRounds: Int = 100): (DataFrame, () => Unit) = {
    require(k >= 1, "kCore needs k >= 1")
    var live = edges.select(col(srcCol).as("a"), col(dstCol).as("b")).localCheckpoint()
    var survivors = live.select(col("a").as("id")).distinct().localCheckpoint()
    var removed = List.empty[DataFrame]
    // superseded survivor/edge checkpoints awaiting release: lazily-
    // checkpointed frames from round r are only fully persisted once
    // round r+1's probe job has scanned them, so their parents are
    // released one round late (the bpeTrain shift-by-one discipline)
    var pendingRelease: List[DataFrame] = Nil
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val deg = live.groupBy("a").agg(count(lit(1)).as("deg"))
      // left join: a survivor with NO surviving edges has degree 0
      val rem = survivors.join(deg, col("id") === col("a"), "left")
        .filter(coalesce(col("deg"), lit(0L)) < k)
        .select(col("id"))
        .localCheckpoint(eager = false) // alive until the final union — it IS output
      // the probe IS the materialization job: count() touches every
      // partition of rem AND (through its lineage) of the previous
      // round's lazy survivor/edge checkpoints — one job per round
      // instead of three eager checkpoint jobs + an isEmpty probe
      val remEmpty = rem.count() == 0L
      pendingRelease.foreach(Llm.unpersistCheckpoint)
      pendingRelease = Nil
      if (remEmpty) {
        done = true
        Llm.unpersistCheckpoint(rem) // empty probe frame: not output
      } else {
        removed ::= rem.withColumn("peeled_round", lit(round.toLong))
        val prevSurv = survivors
        val prevLive = live
        survivors = prevSurv.join(rem, Seq("id"), "left_anti")
          .localCheckpoint(eager = false)
        live = prevLive
          .join(rem.select(col("id").as("a")), Seq("a"), "left_anti")
          .join(rem.select(col("id").as("b")), Seq("b"), "left_anti")
          .localCheckpoint(eager = false)
        pendingRelease = List(prevSurv, prevLive)
      }
    }
    if (!done)
      throw new IllegalStateException(
        s"kCore(k=$k) did not converge in $maxRounds peel rounds — raise maxRounds")
    // the final edge checkpoint is not part of the result — free it now
    Llm.unpersistCheckpoint(live)
    val core = survivors.withColumn("peeled_round", lit(0L))
    val pinned = survivors :: removed
    (removed.foldLeft(core)(_ unionByName _),
      () => pinned.foreach(Llm.unpersistCheckpoint))
  }

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
    val bf = dim.stat.bloomFilter(dimKey, expectedKeys, fpp)
    val bc = fact.sparkSession.sparkContext.broadcast(bf)
    import org.apache.spark.sql.types._
    val keep = fact.schema(factKey).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        udf { k: java.lang.Long => k != null && bc.value.mightContainLong(k) }
          .apply(col(factKey).cast("long"))
      case StringType =>
        udf { k: String => k != null && bc.value.mightContainString(k) }
          .apply(col(factKey))
      case t => throw new IllegalArgumentException(s"bloom key type $t unsupported")
    }
    fact.filter(keep).join(dim, col(factKey) === dim(dimKey), joinType)
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
             tol: Double = 1e-9, trackWcss: Boolean = false): KMeansModel = {
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
    val vecs = df.select(col(vecCol).cast("array<double>").as("__v")).cache()
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
    vecs.unpersist()
    KMeansModel(centroids, assigned, wcss.reverse)
  }

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
    * bin is matched by the one interval copy in that bin).
    *
    * Cost model: compares per bin ≈ |points in bin| × |interval copies
    * in bin| — choose `binSize` near the TYPICAL interval length so
    * most intervals replicate ~2× and each point meets only the
    * intervals that could plausibly contain it. A hot bin (data-time
    * skew) is an ordinary join-key skew: AQE skew-join splits it, or
    * pre-salt with [[saltedJoin]].
    *
    * Columns must be integer-valued (cast timestamps to an epoch
    * integer first). Bins are computed with integral floor-division
    * (`(x - pmod(x, bin)) div bin`), exact over the whole Long range —
    * a double-division floor goes inexact above 2^53 (epoch-ns longs)
    * and silently drops pairs near bin boundaries. Degenerate
    * intervals (`end <= start`) match nothing and are dropped before
    * the explode.
    */
  def binnedRangeJoin(points: DataFrame, intervals: DataFrame,
                      pointCol: String, startCol: String, endCol: String,
                      binSize: Long): DataFrame = {
    require(binSize > 0, s"binSize must be positive, got $binSize")
    // floor(x / binSize) in pure Long arithmetic: x - pmod(x, bin) is
    // exactly divisible by bin, so `div`'s truncation direction is moot
    def bin(c: Column): Column = {
      val x = c.cast("long")
      call_function("div", x - pmod(x, lit(binSize)), lit(binSize))
    }
    val p = points.withColumn("__pbin", bin(col(pointCol)))
    val i = intervals
      .filter(col(endCol) > col(startCol))
      .withColumn("__ibin", explode(sequence(
        bin(col(startCol)),
        // end is EXCLUSIVE: the last candidate bin is the one holding
        // end-1, so an interval ending exactly on a bin boundary does
        // not replicate into the bin it cannot match
        bin(col(endCol) - 1))))
    p.join(i, col("__pbin") === col("__ibin") &&
        col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__pbin", "__ibin")
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
    * row, with no post-hoc `distinct`.
    *
    * Cost model: compares per bin ≈ |left copies| × |right copies| —
    * pick `binSize` near the typical interval length on the DENSER
    * side so replication stays ~2×. Integral floor-division binning
    * (exact over the whole Long range) and the half-open degenerate
    * drop follow [[binnedRangeJoin]]. The four column names must be
    * distinct (alias before calling).
    */
  def binnedOverlapJoin(left: DataFrame, right: DataFrame,
                        lStart: String, lEnd: String,
                        rStart: String, rEnd: String,
                        binSize: Long): DataFrame = {
    require(binSize > 0, s"binSize must be positive, got $binSize")
    require(Set(lStart, lEnd, rStart, rEnd).size == 4,
      s"bound column names must be distinct, got ($lStart,$lEnd)×($rStart,$rEnd)")
    def bin(c: Column): Column = {
      val x = c.cast("long")
      call_function("div", x - pmod(x, lit(binSize)), lit(binSize))
    }
    val l = left.filter(col(lEnd) > col(lStart))
      .withColumn("__lbin", explode(sequence(bin(col(lStart)), bin(col(lEnd) - 1))))
    val r = right.filter(col(rEnd) > col(rStart))
      .withColumn("__rbin", explode(sequence(bin(col(rStart)), bin(col(rEnd) - 1))))
    l.join(r, col("__lbin") === col("__rbin") &&
        col(lStart) < col(rEnd) && col(rStart) < col(lEnd) &&
        // emit-once: only in the bin holding the later start
        col("__lbin") === bin(greatest(col(lStart), col(rStart))))
      .drop("__lbin", "__rbin")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding corpus, then
    * within each cluster drop every item that has a cosine-similar
    * (`>= threshold`) item with a smaller id. Quadratic work is
    * confined to WITHIN-cluster pairs, so total candidate volume is
    * Σ|cluster|² — pick `k ≈ n / targetClusterSize` to bound it
    * (SemDeDup itself runs k in the tens of thousands at
    * billion-sample scale for exactly this reason).
    *
    * Skew safety: clusters over `maxCluster` are EXCLUDED from pair
    * generation (their members are all kept) via a spillable window
    * count before the non-spilling `collect_list`, the same guard as
    * the LSH dedup buckets — a degenerate cluster (e.g. a constant
    * embedding column) cannot OOM an executor or go quadratic. A
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
                    maxIters: Int = 5,
                    maxCluster: Int = 4096): DataFrame = {
    val assigned = kMeans(
      df.select(col(idCol), col(vecCol).cast("array<double>").as("__v")),
      "__v", k, maxIters)
      .assigned
      // pair generation reads this twice (pairs + left join back) and it
      // costs a full k×dim scan per row to recompute — materialize once
      .localCheckpoint()
    val wc = Window.partitionBy("cluster")
    val dropped = assigned
      .withColumn("__cn", count(lit(1)).over(wc))
      .filter(col("__cn") <= maxCluster)
      .drop("__cn")
      .groupBy("cluster")
      .agg(collect_list(struct(col(idCol), col("__v"))).as("items"))
      .filter(size(col("items")) > 1)
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
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
    * one degree-bounded top-1 window — never node × node. Same
    * checkpoint-release loop discipline as [[pageRank]].
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3): DataFrame = {
    // symmetrize + dedupe: neighbors see each other in both directions
    val ud = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .union(edges.select(col(dstCol).as("__src"), col(srcCol).as("__dst")))
      .distinct().localCheckpoint()
    val nodes = ud.select(col("__src").as("id")).distinct().localCheckpoint()
    var labels = nodes.withColumn("label", col("id"))
    val w = Window.partitionBy("__src").orderBy(col("__c").desc, col("__nl").asc)
    // lazy round checkpoints + one forced materialization at exit — see
    // [[hits]] for the discipline (iters jobs collapse into one)
    val roundCkpts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to iters) {
      val counted = ud
        .join(labels.select(col("id"), col("label").as("__nl")),
          col("__dst") === col("id"))
        .groupBy(col("__src"), col("__nl")).agg(count(lit(1)).as("__c"))
      labels = counted
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__src").as("id"), col("__nl").as("label"))
        .localCheckpoint(eager = false)
      roundCkpts += labels
    }
    if (iters > 0) {
      labels.count() // materialize the whole round chain in one job
      roundCkpts.dropRight(1).foreach(Llm.unpersistCheckpoint)
      Llm.unpersistCheckpoint(ud)
      Llm.unpersistCheckpoint(nodes)
    }
    labels
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, damping: Double = 0.85): DataFrame = {
    val deg = edges.groupBy(col(srcCol).as("__s")).agg(count(lit(1)).as("__outdeg"))
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .join(deg, col("__src") === col("__s")).drop("__s")
      .localCheckpoint()
    val nodes = edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id"))).distinct().localCheckpoint()
    var ranks = nodes.withColumn("rank", lit(1.0))
    // lazy round checkpoints + one forced materialization at exit — see
    // [[hits]] for the discipline (iters jobs collapse into one)
    val roundCkpts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks, col("__src") === col("id"))
        .groupBy(col("__dst"))
        .agg(sum((col("rank") / col("__outdeg")).cast(DecimalType(28, 12))).as("__c"))
      ranks = nodes.join(contrib, col("id") === col("__dst"), "left")
        .select(col("id"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("__c").cast("double"), lit(0.0))).as("rank"))
        .localCheckpoint(eager = false)
      roundCkpts += ranks
    }
    if (iters > 0) {
      ranks.count() // materialize the whole round chain in one job
      roundCkpts.dropRight(1).foreach(Llm.unpersistCheckpoint)
      Llm.unpersistCheckpoint(e)
      Llm.unpersistCheckpoint(nodes)
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg 1999, JACM 46(5) §3) with a
    * FIXED iteration count and NO per-round normalization: starting
    * from all-ones, each round is a_k(v) = Σ_{u→v} h_{k-1}(u) then
    * h_k(u) = Σ_{u→v} a_k(v) — every intermediate is an exact INTEGER
    * (sums of integers), so both engines agree bit-for-bit without any
    * DECIMAL scaffolding, and on a bounded-degree graph the magnitudes
    * stay far below 2^53 (growth ≤ (d_in·d_out)^iters per round pair).
    * Normalization does not change the ranking HITS exists to produce;
    * callers wanting unit scores divide by the max once at the end
    * (the gate reports both). Same loop discipline as [[pageRank]]:
    * per-round localCheckpoint with superseded-round release, two
    * shuffles per round (group on dst, group on src), never
    * node × node.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 5): DataFrame = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .localCheckpoint()
    val nodes = edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id"))).distinct().localCheckpoint()
    var scores = nodes.select(col("id"), lit(1L).as("hub"), lit(1L).as("auth"))
    // LAZY checkpoints through the fixed-iteration loop (the bpeTrain
    // discipline, driver-probe-free variant): each round's checkpoint
    // still truncates the CATALYST plan immediately (withA feeds both
    // the hub pass and the round output, so an uncheckpointed plan
    // doubles per round), but nothing materializes until ONE count() at
    // loop exit — iters eager-materialization jobs collapse into a
    // single job whose stages are the same shuffles. Storage holds all
    // rounds' node-frames during that job (id+2 longs per node per
    // round); every superseded round is released right after the force.
    val roundCkpts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
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
      scores = withA.join(hNew, col("id") === col("__src"), "left")
        .select(col("id"), coalesce(col("__h"), lit(0L)).as("hub"), col("auth"))
        .localCheckpoint(eager = false)
      roundCkpts += scores
    }
    if (iters > 0) {
      scores.count() // materialize the whole round chain in one job
      roundCkpts.dropRight(1).foreach(Llm.unpersistCheckpoint)
      Llm.unpersistCheckpoint(e)
      Llm.unpersistCheckpoint(nodes)
    }
    scores
  }
}
