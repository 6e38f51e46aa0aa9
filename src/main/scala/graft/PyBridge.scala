package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Py4J-friendly entry points for the PySpark facade
  * (`python/graft_py.py`). The reference's audience writes Python
  * (dpp.py is a Python DSL), so the operator library is callable from
  * a stock `pyspark` session whose JVM has the graft classes on the
  * classpath (`--jars` / `spark.driver.extraClassPath`). Scala objects
  * compile with static forwarders, so `spark._jvm.graft.PyBridge.x(...)`
  * resolves directly; everything here takes/returns only Java-friendly
  * types (String, Array, DataFrame) — no Scala collections or
  * function values cross the bridge.
  */
object PyBridge {

  /** All registered operator queries, sorted (the SURVEY §2.B surface). */
  def queryNames(): Array[String] = SparkEntry.queries.keys.toArray.sorted

  /** Run one registered operator query over a testdata-layout dir. */
  def runQuery(spark: SparkSession, name: String, sfDir: String): DataFrame = {
    val q = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown graft query '$name' (see queryNames())"))
    q(spark, sfDir)
  }

  /** DuckDB-equivalent oracle SQL for a query, or null when the query
    * is hash-/approx-dependent (no SQL oracle by design).
    */
  def oracleSql(name: String): String =
    SparkEntry.oracleSql.getOrElse(name, null)

  /** The flagship DPP-orchestrated entry query. */
  def entry(spark: SparkSession): DataFrame = SparkEntry.entry(spark)

  /** The engine's session conf ([[GraftSession.conf]]): what the Python
    * facade sets on its session builder before the session starts.
    */
  def engineConf(): java.util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    GraftSession.conf.asJava
  }

  /** Engine wiring (native SQL functions, as-of strategy, bloom/range
    * join rules, text-kernel rewrites) for a session built without
    * `spark.sql.extensions=graft.functions.GraftExtensions`. Idempotent.
    */
  def install(spark: SparkSession): Unit = GraftSession.install(spark)

  // ------------------------------------------------------------------
  // Pipeline-AUTHORING operator endpoints (r15): the engine operators a
  // Python author composes between pyspark transforms when re-authoring
  // the release pipeline (python/author_pipeline_release.py). Each is a
  // thin Java-friendly wrapper over the exact call the Scala gate
  // (ops.Llm.releasePipeline) makes — same defaults, same column
  // contracts — so a Python-authored pipeline can hash-match the gate.
  // ------------------------------------------------------------------

  /** Versioned ATOMIC snapshot commit; returns the committed version. */
  def snapshotCommit(spark: SparkSession, df: DataFrame, path: String): Int =
    ops.Sinks.Snapshots.commit(spark, df, path)

  /** Read a snapshot table's tip (time travel: use snapshotReadVersion). */
  def snapshotRead(spark: SparkSession, path: String): DataFrame =
    ops.Sinks.Snapshots.read(spark, path)

  /** Time-travel read of a committed snapshot version. */
  def snapshotReadVersion(spark: SparkSession, path: String, version: Int): DataFrame =
    ops.Sinks.Snapshots.read(spark, path, Some(version))

  /** Bind a SQL-addressable name for [[snapshotMergeSql]] in `spark`. */
  def snapshotRegisterTable(spark: SparkSession, name: String, path: String): Unit =
    ops.Sinks.Snapshots.registerTable(spark, name, path)

  /** Route a verbatim SQL `MERGE INTO` statement (conditional clauses,
    * SET lists, and DELETE included) to the snapshot tier's CDC fold.
    */
  def snapshotMergeSql(spark: SparkSession, sql: String): Int =
    ops.Sinks.Snapshots.mergeSql(spark, sql)

  /** MinHash-LSH near-dup victims over a `(doc_id, text)` frame: the
    * distinct higher-id side of every verified pair at `threshold` —
    * anti-join these ids to drop near-duplicates, exactly the release
    * pipeline's dedupNear stage.
    */
  def minhashDropIds(df: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    ops.Llm.minhashPairs(df.select("doc_id", "text"), threshold)
      .select(col("id2").as("doc_id")).distinct()
  }

  /** Neyman-allocation stratified sample of `budget` docs by `source`
    * over a `(doc_id, source, n_chars, text, lang)` frame — the release
    * pipeline's neymanSample stage ([[ops.Llm.releaseSample]]): the
    * sample carries the card features (`n_tokens`, `k`) in place of
    * `text`.
    */
  def neymanSample(df: DataFrame, budget: Long): DataFrame =
    ops.Llm.releaseSample(df, budget)

  /** Corpus card over a `(source, lang, n_chars, n_tokens, k)` feature
    * frame (the output of [[neymanSample]]), materialized as a local
    * relation sorted by source (one row per source — bounded): the
    * release pipeline's corpusCard stage ([[ops.Llm.cardLocal]]).
    */
  def corpusCardFrame(spark: SparkSession, df: DataFrame): DataFrame =
    ops.Llm.cardLocal(df)
}
