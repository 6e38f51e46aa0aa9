package graft.ops

import java.nio.file.Files

import org.apache.spark.SparkTestHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet` resolves a read's schema from one footer on the
  * driver: the frame must carry exactly the schema Spark's own
  * inference job would have produced, without running that job.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = graft.TestSpark.sf0001
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def sameSchema(paths: String*): Unit = {
    val inferred = spark.read.parquet(paths: _*).schema
    assert(Tables.parquet(spark, paths: _*).schema == inferred, paths.mkString(","))
  }

  /** Spark jobs started while `body` runs (listener bus drained on both sides). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    SparkTestHooks.drainListeners(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; SparkTestHooks.drainListeners(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("footer schema equals Spark's inferred schema for every testdata table") {
    tables.foreach(t => sameSchema(s"$sf/$t.parquet"))
  }

  test("TIMESTAMP(NANOS) events read as raw longs, as under Spark's inference") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_tables_nanos_").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); " +
        "required binary event_type (STRING); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("event_type", "view"))
    finally w.close()
    sameSchema(s"$dir/events.parquet")
    assert(Tables(spark, dir, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(Tables.events(spark, dir).select("ts_ns").head().getLong(0) == 1700000000123456789L)
  }

  test("footer schema matches for snapshot read-backs and partitioned directories") {
    import spark.implicits._
    val snap = Files.createTempDirectory("graft_tables_snap_").toString + "/t"
    Sinks.Snapshots.commit(spark, Seq((1L, "a", 0.5)).toDF("id", "v", "w"), snap)
    Sinks.Snapshots.commit(spark, Seq((2L, "b", 1.5)).toDF("id", "v", "w"), snap)
    def dataDirs: Seq[String] = new java.io.File(s"$snap/data").listFiles()
      .map(_.getPath).sorted.toSeq
    sameSchema(dataDirs.last)
    sameSchema(dataDirs: _*)
    assert(Sinks.Snapshots.read(spark, snap).schema ==
      spark.read.parquet(dataDirs.last).schema)
    assert(Sinks.Snapshots.readLog(spark, snap).schema ==
      spark.read.parquet(dataDirs: _*).schema)
    assert(Sinks.Snapshots.readLog(spark, snap).count() == 2)

    val part = Files.createTempDirectory("graft_tables_part_").toString
    Sinks.partitionedParquet(Tables.events(spark, sf), part, "event_type")
    sameSchema(part)
    val read = Tables.parquet(spark, part)
    assert(read.schema.last.name == "event_type", "partition column comes last")
    assert(read.count() == Tables.events(spark, sf).count())
  }

  test("a streaming file sink's output is read through its commit log") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tables_sink_").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("id", "v").writeStream.format("parquet")
      .option("checkpointLocation", s"$base/ckpt").start(s"$base/out")
    in.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable(); q.stop()
    // a file no batch committed (a failed batch's leftover) sorts first
    Seq(("x", 1.0)).toDF("other", "w").coalesce(1).write.parquet(s"$base/stray")
    val stray = new java.io.File(s"$base/stray").listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(stray.toPath, java.nio.file.Paths.get(s"$base/out/part-0-stray.parquet"))
    sameSchema(s"$base/out")
    assert(Tables.parquet(spark, s"$base/out").count() == 2)
  }

  test("building the frame runs no Spark job; Spark's inference does") {
    val paths = tables.map(t => s"$sf/$t.parquet")
    assert(jobsDuring(paths.foreach(p => Tables.parquet(spark, p).schema)) == 0)
    assert(jobsDuring(spark.read.parquet(paths.head).schema) > 0,
      "the probe must see Spark's one-task schema-inference job")
  }

  test("inputs with no footer fail with Spark's own AnalysisException") {
    val empty = Files.createTempDirectory("graft_tables_empty_").toString
    def condition(read: => DataFrame): String =
      intercept[AnalysisException](read).getCondition
    assert(condition(Tables.parquet(spark, empty)) ==
      condition(spark.read.parquet(empty)))
    val missing = s"$empty/missing"
    assert(condition(Tables.parquet(spark, missing)) ==
      condition(spark.read.parquet(missing)))
  }
}
