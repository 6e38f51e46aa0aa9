package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Fluent syntax for the engine's scale operators: `import
  * graft.ops.syntax._` puts them on `DataFrame` directly, so pipeline
  * code reads like the native API it extends —
  *
  * {{{
  * import graft.ops.syntax._
  * docs.hashSample(Seq(col("doc_id")), 10)
  *     .dedupKeepFirst(Seq(col("text")), Seq(col("doc_id")))
  *     .upsertInto(base, Seq("doc_id"))
  * }}}
  *
  * Pure forwarding — every method delegates to the [[Scale]]/[[Sinks]]
  * implementations (single source of truth for semantics and the
  * 100 TB design notes documented there).
  */
object syntax {

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    /** [[Scale.hashSample]]: reproducible, key-consistent sampling. */
    def hashSample(keys: Seq[Column], percent: Double): DataFrame =
      Scale.hashSample(df, keys, percent)

    /** [[Scale.dedupKeepFirst]]: deterministic keep-min-tiebreaker dedup. */
    def dedupKeepFirst(keys: Seq[Column], tieBreaker: Seq[Column]): DataFrame =
      Scale.dedupKeepFirst(df, keys, tieBreaker)

    /** [[Scale.upsert]] with `df` as the update set. */
    def upsertInto(base: DataFrame, keys: Seq[String]): DataFrame =
      Scale.upsert(base, df, keys)

    /** [[Scale.topKPerGroup]]: salted two-phase per-group top-k. */
    def topKPerGroup(groupCols: Seq[Column], orderCols: Seq[Column], k: Int,
                     saltSrc: Seq[Column], salts: Int = 32): DataFrame =
      Scale.topKPerGroup(df, groupCols, orderCols, k, saltSrc, salts)

    /** [[Scale.asofJoin]] with `df` as the left (probe) side. */
    def asofJoin(right: DataFrame, key: String, leftTs: String, rightTs: String,
                 payloadCols: Seq[String]): DataFrame =
      Scale.asofJoin(df, right, key, leftTs, rightTs, payloadCols)

    /** [[Scale.saltedJoin]] with `df` as the big (skewed) side. */
    def saltedJoin(small: DataFrame, keys: Seq[String], saltSrc: Seq[Column],
                   salts: Int = 16, joinType: String = "inner"): DataFrame =
      Scale.saltedJoin(df, small, keys, saltSrc, salts, joinType)

    /** [[Scale.bloomPrefilterJoin]] with `df` as the fact side. */
    def bloomJoin(dim: DataFrame, factKey: String, dimKey: String,
                  expectedKeys: Long = 1000000L, fpp: Double = 0.01,
                  joinType: String = "inner"): DataFrame =
      Scale.bloomPrefilterJoin(df, dim, factKey, dimKey, expectedKeys, fpp, joinType)

    /** [[Scale.binnedRangeJoin]] with `df` as the point side. */
    def binnedRangeJoin(intervals: DataFrame, pointCol: String,
                        startCol: String, endCol: String, binSize: Long): DataFrame =
      Scale.binnedRangeJoin(df, intervals, pointCol, startCol, endCol, binSize)

    /** [[Scale.semanticDedup]]: SemDeDup k-means-bucketed cosine screen. */
    def semanticDedup(idCol: String, vecCol: String, k: Int, threshold: Double,
                      maxIters: Int = 5): DataFrame =
      Scale.semanticDedup(df, idCol, vecCol, k, threshold, maxIters)

    /** [[Scale.triangleCount]] over `df` as an edge list. */
    def triangleCount(srcCol: String, dstCol: String): DataFrame =
      Scale.triangleCount(df, srcCol, dstCol)

    /** [[Llm.incrementalDedup]] with `df` as the new batch. */
    def incrementalDedup(idCol: String, keyCol: String, index: DataFrame): DataFrame =
      Llm.incrementalDedup(df, idCol, keyCol, index)

    /** [[Scale.binnedOverlapJoin]] with `df` as the left interval side. */
    def binnedOverlapJoin(right: DataFrame, lStart: String, lEnd: String,
                          rStart: String, rEnd: String, binSize: Long): DataFrame =
      Scale.binnedOverlapJoin(df, right, lStart, lEnd, rStart, rEnd, binSize)

    /** [[Llm.setSimJoin]]: exact Jaccard ≥ t self-join of `df`. */
    def setSimSelfJoin(idCol: String, textCol: String, t: Double,
                       maxToken: Int = Int.MaxValue): DataFrame =
      Llm.setSimJoin(df, idCol, textCol, t, maxToken)

    /** [[Llm.contaminationFuzzy]] with `df` as the training corpus. */
    def fuzzyDecontaminate(eval_ : DataFrame, threshold: Double): DataFrame =
      Llm.contaminationFuzzy(df, eval_, threshold)

    /** [[Sinks.rangeSortedParquet]]: sort-key-skippable layout. */
    def writeRangeSorted(path: String, byCol: String, files: Int): Unit =
      Sinks.rangeSortedParquet(df, path, byCol, files)

    /** [[Scale.quotaSample]]: prefiltered per-group fixed-N draw. */
    def quotaSample(groupCols: Seq[String], hash: Column, tie: Seq[Column],
                    quotas: Either[Long, DataFrame]): DataFrame =
      Scale.quotaSample(df, groupCols, hash, tie, quotas)

    /** [[Scale.kCore]]: iterative k-core peeling (undirected edge list). */
    def kCore(srcCol: String, dstCol: String, k: Int): DataFrame =
      Scale.kCore(df, srcCol, dstCol, k)

    /** [[Sinks.zOrderedParquet]]: two-dimension-skippable layout. */
    def writeZOrdered(path: String, c1: String, c2: String, files: Int): Unit =
      Sinks.zOrderedParquet(df, path, c1, c2, files)
  }
}
