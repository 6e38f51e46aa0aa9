package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Minimal bridge into the Parquet source's driver-usable internals —
  * the same shim pattern as `org.apache.spark.sql.GraftSqlBridge`.
  * `graft.ops.Tables.parquet` uses it to resolve a read's schema from
  * one footer on the driver instead of through Spark's one-task
  * schema-inference job. Nothing else crosses the boundary.
  */
object GraftParquetBridge {

  /** The session's Hadoop conf (session-level `spark.hadoop.*` and
    * `fs.*` overrides included), as Spark's own readers build it.
    */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Leaf files under `root` (a qualified path), listed on the calling
    * thread with Spark's own hidden-path filter (`_SUCCESS`,
    * `_temporary/`, `.crc` … dropped; `_metadata` and
    * `_common_metadata` kept), as the file index's list-files path
    * does. Empty when `root` does not exist.
    */
  def leafFiles(conf: Configuration, root: Path): Seq[FileStatus] =
    HadoopFSUtils.listFiles(root, conf, (_: Path) => true).flatMap(_._2)

  /** True when `paths` is one streaming file sink's output directory:
    * its committed files are the ones in its `_spark_metadata` log, not
    * whatever a directory listing finds (a failed batch leaves files).
    */
  def isStreamingSinkOutput(spark: SparkSession, conf: Configuration,
                            paths: Seq[String]): Boolean =
    FileStreamSink.hasMetadata(paths, conf,
      spark.asInstanceOf[classic.SparkSession].sessionState.conf)

  /** Spark schema of one Parquet data or summary file, read from its
    * footer with the converter confs of Spark's schema inference
    * (`nanosAsLong`, `binaryAsString`, `int96AsTimestamp`,
    * `inferTimestampNTZ`). None when the footer is unreadable and
    * `spark.sql.files.ignoreCorruptFiles` skips it.
    */
  def footerSchema(spark: SparkSession, conf: Configuration,
                   file: FileStatus): Option[StructType] = {
    val ignoreCorrupt =
      spark.asInstanceOf[classic.SparkSession].sessionState.conf.ignoreCorruptFiles
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file), ignoreCorrupt), spark)
  }
}
