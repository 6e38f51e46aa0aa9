package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The scratch owner frees what a failed operator made. */
class ScratchSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("a scope whose body throws frees every block it made") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val pre = persisted
    val boom = intercept[IllegalStateException] {
      Scratch.scope { scratch =>
        val cached = scratch.persist(spark.range(100).withColumn("sq", col("id") * col("id")),
          StorageLevel.MEMORY_AND_DISK)
        assert(cached.count() == 100)
        val ckpt = scratch.checkpoint(cached.filter(col("id") % 2 === 0))
        assert(ckpt.count() == 50)
        assert((persisted -- pre).size == 2, "the body made one cached table and one checkpoint")
        throw new IllegalStateException("boom")
      }(_ => Nil)
    }
    assert(boom.getMessage == "boom")
    assert((persisted -- pre).isEmpty, s"blocks left after the throw: ${persisted -- pre}")
    assert(spark.sharedState.cacheManager.isEmpty, "the cached table stayed in the session")
  }
}
