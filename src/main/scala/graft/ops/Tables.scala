package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._

/** Parquet table readers over the driver-generated star schema
  * (TESTDATA.md / FIXTURES.md). Catalyst pushes filters and prunes
  * columns into these scans; at cluster scale the same call reads a
  * partitioned table, so nothing here assumes single-file inputs.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths)` with the schema read from one footer
    * on the driver. Spark's own inference reads that same single footer
    * inside a one-task Spark job: a job submission plus scheduling gap
    * per read (~30 ms of job time and a ~50 ms driver gap each, 14 of
    * star_join's 39 jobs per iteration) for a few KB of metadata the
    * driver can read directly. The file is the one Spark's non-merging
    * inference picks — `_common_metadata`, else `_metadata`, else the
    * first data file in path order — and the converter honours the
    * session's Parquet confs, so the frame's schema is the inferred one.
    * Partition columns are still discovered from the directory names by
    * the read itself. Schema-merging reads
    * (`spark.sql.parquet.mergeSchema`), streaming file-sink outputs
    * (committed files come from the sink's log, not the listing) and
    * inputs with no readable footer (missing or empty paths, skipped
    * corrupt files) go to Spark unchanged, errors included.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val schema =
      if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
      else {
        val conf = GraftParquetBridge.hadoopConf(spark)
        val leaves = paths.flatMap { p =>
          val path = new Path(p)
          Option(path.getFileSystem(conf).globStatus(path)).toSeq.flatten
        }.flatMap(root => GraftParquetBridge.leafFiles(conf, root.getPath))
          .sortBy(_.getPath.toString)
        val (summaries, data) = leaves.partition(f => SummaryFiles.contains(f.getPath.getName))
        SummaryFiles.flatMap(n => summaries.find(_.getPath.getName == n)).headOption
          .orElse(data.headOption)
          .filterNot(_ => GraftParquetBridge.isStreamingSinkOutput(spark, conf, paths))
          .flatMap(GraftParquetBridge.footerSchema(spark, conf, _))
      }
    schema.fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
  }

  /** Parquet summary files, in the order Spark's inference prefers them. */
  private val SummaryFiles = Seq("_common_metadata", "_metadata")

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** `events.ts` arrives in one of two parquet encodings depending on
    * the generator vintage, and BOTH are normalized here to the same
    * two-column contract:
    *   - `ts_ns` LongType: exact epoch nanoseconds (use for ordering /
    *     as-of comparisons that must match a ns-precision oracle —
    *     DuckDB's `epoch_ns()` yields the identical value for either
    *     encoding);
    *   - `ts` TimestampType: microsecond instant (use for window() /
    *     session_window()).
    *
    * Encodings: TIMESTAMP(NANOS) — finer than Spark's microsecond
    * `TimestampType`, rejected by the reader unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set once in
    * GraftSession.configure, never mutated here) surfaces it as a raw
    * LongType of nanos; or plain TIMESTAMP(MICROS), which Spark reads
    * as timestamp (NTZ when the file is written without UTC
    * normalization — cast to TimestampType interprets the wall-clock in
    * the session's UTC zone, matching DuckDB's naive-timestamp reads).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) as raw longs
        raw.withColumn("ts_ns", col("ts").cast("long"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // TIMESTAMP(MICROS), tz-less or instant
        val tsMicro = col("ts").cast(org.apache.spark.sql.types.TimestampType)
        raw.withColumn("ts_ns", unix_micros(tsMicro) * lit(1000L))
          .withColumn("ts", tsMicro)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
