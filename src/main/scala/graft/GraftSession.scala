package graft

import org.apache.spark.sql.SparkSession

/** The library's session factory: one place for the configuration that
  * matters at cluster scale, documented per knob. Local test/bench
  * runners and a 1000-executor deployment differ only in `master` and
  * the parallelism numbers.
  */
object GraftSession {

  /** Workload-tier resource profile: the executor heap the tier wants
    * plus the session conf that goes with it. On a cluster the heap maps
    * to `spark.executor.memory` of the pool the job is submitted to; a
    * LOCAL session cannot resize its own JVM, so local runners
    * (graft.Bench) re-exec themselves with `-Xmx` = `heap` when asked
    * for a profile (SPARK_GRAFT_PROFILE).
    */
  final case class Profile(heap: String, conf: Map[String, String])

  /** The two memory regimes one suite provably contains (PERF.md round-6
    * sf10 sweep) — sizing the heap to the workload tier, made
    * executable:
    *
    *  - `explode`: GC-bound explode/window tiers (LSH banding, bucket
    *    windows, pair generation). MODEST heaps win: q_dedup_minhash at
    *    sf10 measured 9.6 s at 16 g vs 120 s at 48 g — G1 old-gen churn
    *    over billions of short-lived bucket/pair objects degrades ~12×
    *    when a big heap defers collection. `spark.memory.fraction` is
    *    lowered so more of the modest heap is young-gen headroom for
    *    that transient garbage rather than pinned execution memory.
    *
    *  - `widejoin`: spill-bound wide merge joins (q_tpch_q21ish's 4-way
    *    60M-row self-join: 23.8 s at 48 g — linear — vs 25× the sf1
    *    time at 24 g). The BIG heap wins, and `spark.memory.fraction`
    *    is raised so the extra memory actually lands in the unified
    *    execution pool the sort-merge buffers draw from.
    *
    * On a 1000-executor deployment these are submit-time pool choices
    * (per-executor-pool heap sizing), not per-process flags.
    */
  val profiles: Map[String, Profile] = Map(
    "default" -> Profile("", Map.empty),
    "explode" -> Profile("16g", Map("spark.memory.fraction" -> "0.5")),
    "widejoin" -> Profile("48g", Map("spark.memory.fraction" -> "0.7")))

  /** @param cpus       local core count (ignored when master is set externally)
    * @param partitions shuffle fan-out. Rule of thumb at scale: 2-3× total
    *                   executor cores, and ≥ (largest shuffled stage bytes /
    *                   200 MB) so partitions fit in memory; AQE coalesces
    *                   the small ones back down at runtime.
    * @param profile    workload-tier profile name from [[profiles]]
    *                   ("" / "default" = none) — applies the tier's conf;
    *                   the tier's HEAP is the caller's job (cluster:
    *                   executor pool; local: JVM -Xmx, see graft.Bench).
    */
  def local(cpus: Int = 4, partitions: Int = 0, profile: String = ""): SparkSession = {
    val p = if (partitions > 0) partitions else cpus
    var b = configure(SparkSession.builder().master(s"local[$cpus]"), p)
    if (profile.nonEmpty)
      profiles.getOrElse(profile,
          sys.error(s"unknown graft profile '$profile' (have: ${profiles.keys.mkString(", ")})"))
        .conf.foreach { case (k, v) => b = b.config(k, v) }
    val spark = b.getOrCreate()
    install(spark)
    spark
  }

  /** Engine wiring for sessions built WITHOUT
    * `spark.sql.extensions=graft.functions.GraftExtensions`: registers
    * the native SQL functions, the as-of join strategy, and the
    * bloom-prefilter + binned-range join rules through the public
    * runtime hooks (FunctionRegistry / experimental.extraStrategies /
    * experimental.extraOptimizations). Idempotent.
    */
  def install(spark: SparkSession): Unit = {
    graft.functions.Vec.register(spark)
    graft.plans.Asof.ensureRegistered(spark)
    graft.plans.BloomJoin.ensureRegistered(spark)
    graft.plans.RangeJoin.ensureRegistered(spark)
    graft.plans.TextKernelRewrite.ensureRegistered(spark)
  }

  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    // deterministic timestamps across engines (DuckDB oracle parity)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", shufflePartitions)
    // AQE: runtime re-planning — coalesces small post-shuffle partitions,
    // splits skewed ones, and switches SMJ→broadcast when a side turns
    // out tiny. Default-on in Spark 4; pinned here because the engine's
    // scale story depends on it.
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // keep scan tasks ~128 MB so a 100 TB table yields bounded task counts
    // without giant per-task memory footprints
    .config("spark.sql.files.maxPartitionBytes", String.valueOf(128L * 1024 * 1024))
    // Below this reduce-partition count the sort-shuffle manager takes the
    // bypass-merge path: one DiskBlockObjectWriter PER REDUCE PARTITION PER
    // MAP TASK — an M×R file-create storm (measured r15-opt: the
    // q_peak_concurrency 128×128 range exchange spent ~600 ms/task on file
    // ops, 78 s of task time where the serialized writer needs 6.8 s; the
    // whole-bench 32-core leg pays it on every exchange). The serialized
    // (UnsafeShuffleWriter) path writes ONE data+index file per map task at
    // any R, so it never enters that regime; bypass stays for genuinely
    // tiny fan-outs where its no-sort write is the textbook win. Scale-
    // neutral: at production fan-outs (R > 200) bypass never fires anyway.
    .config("spark.shuffle.sort.bypassMergeThreshold", "8")
    // some events.parquet vintages carry TIMESTAMP(NANOS), which
    // Spark's reader rejects; read nanos as raw longs (Tables.events
    // normalizes either encoding). Set once here so table reads are
    // order-independent — never mutated per-read.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Generated-class cache: a warm session re-running a pipeline must
    // find every whole-stage/expression class it compiled last run.
    // Spark's default (100 entries, split LRU over 4 Guava segments of
    // ~25) is below one pipeline's working set: measured ~184 entries
    // per q_pipeline_release run (perfbench curate) and ~87 for the
    // star_join queries, so every warm iteration re-ran janino on ~180
    // (curate) / 15-47 (star_join) classes. An entry is one (source,
    // thread context class loader) pair: a stage compiled on the driver
    // and in its tasks takes two. Static conf: it only takes effect when
    // set before the session starts.
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
    // The cache is keyed by source text, and a whole-stage class name
    // carries its codegen stage id by default — which AQE assigns in
    // stage-completion order, so the same stage can come back as
    // Stage6 or Stage8 and miss (measured: 6 classes recompiled in some
    // warm release runs). Without the id in the name, identical stages
    // share one class; the id stays in the plan string and the
    // generated code's `codegenStageId` comment.
    .config("spark.sql.codegen.useIdInClassName", "false")
    .config("spark.ui.enabled", "false")

  /** Generated-class cache size set by [[configure]]: ~5× the largest
    * measured working set, so no Guava segment overflows. Measured cost
    * ~23 KB of retained heap per entry (perfbench curate
    * `peak_heap_mb` +1.9 MB for +84 entries), which bounds the cache at
    * ~23 MB of driver heap when full.
    */
  val CodegenCacheEntries = 1000

  /** SQL extension registration for spark-submit deployments:
    * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
    */
  val ExtensionsClass = "graft.functions.GraftExtensions"
}
