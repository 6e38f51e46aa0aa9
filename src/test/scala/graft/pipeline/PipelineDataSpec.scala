package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Tables

/** The pipeline layer orchestrating real relational work over the
  * TPC-H-ish tables (SURVEY.md §1.4: slots are lazy DataFrames, the DSL
  * is the orchestration). Complements PipelineSpec's 1-row scalar ports.
  */
class PipelineDataSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("flagship entry: DPP sequence drives join→filter→agg, rows > 0") {
    val out = graft.SparkEntry.entry(spark)
    assert(out.columns.toSeq == Seq("o_orderpriority", "revenue", "n"))
    assert(out.count() > 0)
  }

  test("branch computes independent aggregates; PREV fans both into a join") {
    val p = DPP("orders" -> Tables.orders(spark, sf), "customer" -> Tables.customer(spark, sf))
    p.branch(
      p.orders >> fn("byCust")(
        _.groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))) >> p.ordAgg,
      p.customer >> fn("slim")(_.select(col("c_custkey"), col("c_mktsegment"))) >> p.custSlim,
    )
    p.all(Prev >> fanIn1("joinUp") { case Seq(a, b) =>
      b.join(a, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(sum(coalesce(col("n_orders"), lit(0L))).as("total_orders"))
    } >> p.bySegment)
    val segs = p("bySegment").collect()
    assert(segs.length > 0)
    val totalViaPipeline = segs.map(_.getLong(1)).sum
    assert(totalViaPipeline == Tables.orders(spark, sf).count())
  }

  test("select routes on a data-dependent condition (count action)") {
    val p = DPP("li" -> Tables.lineitem(spark, sf))
    p.select(
      (p.li >> fn("flagBig")(_.withColumn("size_class", lit("big"))) >> p.result,
        (ctx: CtxView) => ctx("li").count() > 1000),
      (p.li >> fn("flagSmall")(_.withColumn("size_class", lit("small"))) >> p.result,
        (_: CtxView) => true),
    )
    assert(p("result").select("size_class").head().getString(0) == "big")
  }

  test("materialize runs branch lineages as concurrent Spark actions") {
    val p = DPP("orders" -> Tables.orders(spark, sf), "li" -> Tables.lineitem(spark, sf))
    p.branch(
      p.orders >> fn("hi")(_.filter(col("o_totalprice") > 100000)) >> p.expensive,
      p.li >> fn("big")(_.filter(col("l_quantity") > 40)) >> p.bulky,
    )
    val counts = p.materialize(Seq("expensive", "bulky"), parallel = true)
    assert(counts("expensive") ==
      Tables.orders(spark, sf).filter(col("o_totalprice") > 100000).count())
    assert(counts("bulky") ==
      Tables.lineitem(spark, sf).filter(col("l_quantity") > 40).count())
  }

  test("release pipeline: corpus-snapshot rescans in the composed plan stay bounded") {
    // Each corpus-snapshot scan is a full corpus read at 100 TB — the
    // composed release pipeline must never silently regress toward
    // rescan-per-stage. The slots before the exact dedup read the
    // snapshot once; the exact dedup's slot is its checkpoint of the
    // survivors' texts, 0 times; the near-dup stage reads the snapshot
    // once, to re-attach payloads to its checkpointed survivor ids (the
    // LSH pairs themselves read the survivor-text checkpoint); the sampling
    // stage's internal localCheckpoint barrier cuts lineage, so
    // everything downstream (incl. the published card) reads it 0 times.
    val base = java.nio.file.Files.createTempDirectory("graft_release_")
    try {
      val p = graft.ops.Llm.releasePipeline(spark, sf, base)
      def snapScans(slot: String): Int =
        p(slot).queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.relation.isInstanceOf[
                 org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
               r.relation.asInstanceOf[
                 org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                 .location.rootPaths.exists(_.toString.contains("corpus_snapshot")) => r
        }.size
      assert(snapScans("normed") == 1 && snapScans("kept") == 1,
        "the stages before the exact dedup must read the snapshot once")
      assert(snapScans("uniq") == 0, "the exact dedup must read its checkpoint, not the snapshot")
      assert(snapScans("deduped") == 1,
        s"near-dup stage rescans regressed: ${snapScans("deduped")} != 1")
      assert(snapScans("sampled") == 0 && snapScans("result") == 0,
        "the sampling barrier must cut corpus lineage; the published card reads only the card snapshot")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("release pipeline: document text crosses no shuffle; 3 queries scan the snapshot") {
    // The exact dedup and the sample cut decide on keys: the dedup picks
    // min doc_id per norm_key on narrow rows, and the sampler ranks the
    // card features, not the text. Every query of the run is checked,
    // the ones behind the steps' checkpoints and collects included. The
    // snapshot is scanned by the survivor-text checkpoint, the survivor
    // re-attach of the Neyman allocation and the sampler's survivor cut.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.ExecutedPlans.Adaptive
    // the steps run as the pipeline is built; the result is a local relation
    val base = java.nio.file.Files.createTempDirectory("graft_release_")
    try {
      val (p, plans) =
        graft.ExecutedPlans.of(spark)(graft.ops.Llm.releasePipeline(spark, sf, base))
      val textExchanges = plans.flatMap(Adaptive.collect(_) {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "text") => e
      })
      assert(textExchanges.isEmpty,
        s"exchanges carrying text:\n${textExchanges.mkString("\n")}")
      val snapQueries = plans.count(q => Adaptive.find(q) {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.contains("corpus_snapshot"))
        case _ => false
      }.isDefined)
      assert(snapQueries <= 3, s"$snapQueries queries scan the corpus snapshot")
      assert(p("result").collect().nonEmpty)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("release pipeline: a step that throws leaves no scratch directory behind") {
    // a missing input throws at the first step; q_pipeline_release owns
    // the snapshot directory and deletes it however the run ends
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchDirs = tmp.listFiles().map(_.getName).filter(_.startsWith("graft_release_")).toSet
    val before = scratchDirs
    val noDocs = java.nio.file.Files.createTempDirectory("graft_no_documents_")
    try {
      intercept[Exception](graft.ops.Llm.q_pipeline_release(spark, noDocs.toString))
      assert((scratchDirs -- before).isEmpty, s"left behind: ${scratchDirs -- before}")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(noDocs.toFile)
  }

  test("laziness: pipeline steps build ONE fused Catalyst plan (no mid-pipeline actions)") {
    val p = DPP("li" -> Tables.lineitem(spark, sf))
    p.sequence(
      p.li >> fn("filter")(_.filter(col("l_quantity") > 10)) >> p.a,
      Prev >> fn("project")(_.select("l_orderkey", "l_extendedprice")) >> p.b,
      Prev >> fn("agg")(_.groupBy("l_orderkey").agg(sum("l_extendedprice").as("s"))) >> p.c,
    )
    val plan = p("c").queryExecution.optimizedPlan.toString()
    // filter and projection from separate pipeline steps must fuse into
    // the scan: one relation node, filter visible in the optimized plan
    assert(plan.contains("Filter") || plan.contains("PushedFilters"))
    assert("Relation".r.findAllIn(plan).size == 1, "steps must not materialize intermediates")
  }
}
