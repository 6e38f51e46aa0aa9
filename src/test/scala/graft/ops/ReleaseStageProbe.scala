package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Scratch probe: per-stage wall budget of the composed release
  * pipeline (VERDICT r12 #5 — "which stage dominates at scale:
  * snapshot round-trips or LSH verify?"). Replays the EXACT
  * [[Llm.releasePipeline]] stage functions with a `localCheckpoint`
  * barrier after each, so a stage's wall is its own work, not upstream
  * recompute. `sbt "Test/runMain graft.ops.ReleaseStageProbe <sfDir>"`.
  *
  * Also dumps the corpus-snapshot rescan count of the production
  * composition's `sampled` slot (the PipelineDataSpec bound's measured
  * source).
  */
object ReleaseStageProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/repo/target/testdata/sf1"
    val spark = graft.GraftSession.local(12)
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark
    val base = java.nio.file.Files.createTempDirectory("graft_release_probe_")
    val corpusSnap = s"$base/corpus_snapshot"
    val cardSnap = s"$base/release_card"

    var checkpoints = List.empty[DataFrame]
    def stage(name: String)(f: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = f.localCheckpoint() // barrier: materialize THIS stage
      checkpoints ::= out
      println(f"[stage] $name%-14s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (${out.count()} rows)")
      out
    }

    val ingested = stage("ingest") {
      val df = Tables.documents(s, d)
      Sinks.Snapshots.commit(s, df, corpusSnap)
      Sinks.Snapshots.read(s, corpusSnap)
    }
    val normed = stage("normalize")(ingested
      .withColumn("norm_key", md5(lower(trim(regexp_replace(
        regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " +", " ")))))
      .withColumn("n_tok", size(split(col("text"), " "))))
    val kept = stage("quality")(normed
      .filter(col("lang").isin("es", "de", "zh") && col("n_tok") >= 5))
    val uniq = stage("dedupExact")(Llm.releaseDedupExact(kept))
    val deduped = stage("dedupNear") {
      val drop = Llm.minhashPairs(uniq, threshold = 0.5)
        .select(col("id2").as("doc_id")).distinct()
      ingested.join(uniq.select("doc_id").join(drop, Seq("doc_id"), "left_anti"),
        Seq("doc_id"), "left_semi")
    }
    val sampled = stage("neymanSample")(Llm.releaseSample(deduped, 200L))
    val card = stage("corpusCard")(Llm.cardLocal(sampled))
    stage("publish") {
      Sinks.Snapshots.commit(s, card.coalesce(1), cardSnap)
      val back = Sinks.Snapshots.read(s, cardSnap)
      Llm.sortedBySource(back.collect(), back.schema, s)
    }

    // rescans of the corpus snapshot inside the PRODUCTION (un-barriered)
    // composition — what the 100 TB story actually pays per stage slot
    val base2 = java.nio.file.Files.createTempDirectory("graft_release_")
    val p = Llm.releasePipeline(s, "/root/testdata/sf0.001", base2)
    for (slot <- Seq("normed", "kept", "uniq", "deduped", "sampled", "result")) {
      val n = p(slot).queryExecution.optimizedPlan.collect {
        case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] &&
          r.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
            .exists(_.toString.contains("corpus_snapshot")) => r
      }.size
      println(s"[rescans] $slot: $n corpus-snapshot scans")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(base2.toFile)
    checkpoints.foreach(df => df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false)))
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    spark.stop()
  }
}
