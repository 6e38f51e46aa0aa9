package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites — the library's own factory
  * with a slightly wider shuffle fan-out to exercise multi-partition
  * paths.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4, partitions = 8)

  /** The smallest scale of the shared fixture tables (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"
}
