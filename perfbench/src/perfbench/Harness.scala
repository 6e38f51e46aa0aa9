package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, OracleSql, SparkEntry}
import graft.ops.{Llm, Relational, Scale, Tables}

/** Benchmark JVM. `Harness <workload> <dataDir> <workDir> <seconds> <trace>`
  * brings a session up, prints READY, runs one cold iteration, then warm
  * iterations for `seconds` (at least `MinWarm`), and writes
  * `<workDir>/result.json` plus the outputs the correctness check reads
  * under `<workDir>/out/`. With trace = 1 two of the five warm iterations
  * are traced, so the tracing overhead is measured in the same process.
  */
object Harness {
  val Cores = 4
  /** Warm iterations an untraced run measures at least; a traced run
    * measures five (two traced, three untraced). curate's first warm
    * iteration is still markedly slower (JIT), so its median needs three.
    */
  val MinWarm = Map("curate" -> 3, "star_join" -> 2)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new File(path), value)

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, seconds, trace) = args
    val t0 = System.nanoTime()
    val spark = GraftSession.local(Cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    println("READY")
    Console.flush()
    new Run(spark, workload, data, work, seconds.toDouble, trace == "1", sessionS).go()
    spark.stop()
  }
}

/** One unit of work inside an iteration: its kind, latency and outcome. */
final case class Op(kind: String, ms: Double, ok: Boolean)

final class Run(spark: SparkSession, workload: String, data: String, work: String,
                seconds: Double, traced: Boolean, sessionS: Double) {
  private val tracer = new Tracer(spark)
  private val written = new WrittenBytes(spark)
  private val ops = mutable.ArrayBuffer.empty[(Int, Op)]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var mismatches = 0
  /** name → (rows, schema) of the latest successful iteration. */
  private val outputs = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  private val firstOutputs = mutable.Map.empty[String, Seq[Row]]
  private var iter = 0

  /** Time one call and record it as an op of `kind`. */
  private def op(kind: String, layer: String, driverLayer: String = null)(body: => Unit): Unit = {
    val t = System.nanoTime()
    val ok = try { tracer.span(layer, kind, driverLayer)(body); true } catch {
      case e: Throwable =>
        errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        false
    }
    ops += ((iter, Op(kind, (System.nanoTime() - t) / 1e6, ok)))
  }

  /** Collect a query's result and keep it for the correctness check. Its
    * rows must repeat exactly in every iteration.
    */
  private def keep(name: String, df: DataFrame): Unit = {
    val rows = df.collect()
    outputs(name) = (rows, df.schema)
    firstOutputs.get(name) match {
      case None => firstOutputs(name) = rows.toSeq
      case Some(first) if first != rows.toSeq =>
        mismatches += 1
        errors += s"$name: rows differ from the first iteration"
      case _ =>
    }
  }

  // ---- workloads ----------------------------------------------------------

  private val StarQueries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_tpch_q3ish" -> Relational.q_tpch_q3ish,
    "q_tpch_q5ish" -> Relational.q_tpch_q5ish,
    "q_tpch_q18ish" -> Relational.q_tpch_q18ish,
    "q_join_bloom" -> Relational.q_join_bloom)

  /** Bytes of input one iteration is handed: the whole dataset. */
  private val inputBytes: Long = new File(data).listFiles()
    .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("truth"))
    .map(_.length).sum

  private def iteration(): Unit = workload match {
    case "curate" =>
      op("Llm.q_pipeline_release", "llm", driverLayer = "pipeline") {
        keep("q_pipeline_release", Llm.q_pipeline_release(spark, data))
      }
    case "star_join" =>
      StarQueries.foreach { case (name, q) => op(name, "relational")(keep(name, q(spark, data))) }
  }

  /** The release pipeline's stages up to its near-duplicate drop, run
    * again outside the timed iterations through the same public functions
    * and parameters: quality filter, exact dedup on the normalized text,
    * then MinHash-LSH over the survivors, which drops the larger id of
    * every verified pair (Jaccard >= 0.5). Writes each survivor with
    * whether it was dropped (`out/near_dedup`), from which the check
    * computes the share of planted near-duplicate pairs removed.
    *
    * The traced run also reports what the pipeline call hides: its
    * normalize, quality and exact-dedup steps are lazy, so their work
    * runs inside the dedupNear step's jobs. It times the normalize kernel
    * over the corpus and the exact dedup alone, and counts the LSH
    * candidate and verified pairs.
    */
  private def nearDedup(): Unit = {
    def timed[A](key: String)(body: => A): A = {
      val t = System.nanoTime()
      val r = body
      if (traced) tracer.put(key, (System.nanoTime() - t) / 1e9)
      r
    }
    val docs = Tables.documents(spark, data)
    timed("functions.normalize_s") {
      docs.agg(sum(length(graft.functions.Vec.normText(col("text"))))).collect()
    }
    val kept = docs
      .filter(col("lang").isin("es", "de", "zh") && size(split(col("text"), " ")) >= 5)
      .select(col("doc_id"), col("text"), md5(graft.functions.Vec.normText(col("text"))).as("k"))
      .localCheckpoint()
    val uniq = timed("scale.dedup_exact_s") {
      Scale.dedupKeepFirst(kept, Seq(col("k")), Seq(col("doc_id")))
        .select("doc_id", "text").localCheckpoint()
    }
    val pairs = Llm.minhashPairs(uniq, threshold = 0.5)
    val dropped = pairs.select(col("id2").as("doc_id"), lit(true).as("dropped")).distinct()
    uniq.select("doc_id").join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dropped"), lit(false)).as("dropped"))
      .coalesce(1).write.parquet(s"$work/out/near_dedup")
    if (traced) {
      val cand = Llm.minhashBucketStats(uniq)
        .select(col("candidate_pairs").cast("double")).head().getDouble(0)
      val near = pairs.count().toDouble
      tracer.put("llm.lsh_candidate_pairs", cand)
      tracer.put("llm.near_dup_pairs", near)
      tracer.put("llm.lsh_precision", if (cand > 0) near / cand else 0.0)
    }
    Llm.unpersistCandidates()
  }

  // ---- the run ---------------------------------------------------------------

  def go(): Unit = {
    val heap = new HeapWatch
    val walls = mutable.ArrayBuffer.empty[(Int, Boolean, Double)] // iter, traced, s
    def timedIteration(traceIt: Boolean): Double = {
      if (traceIt) tracer.begin(iter)
      val a = Tracer.now()
      val t = System.nanoTime()
      iteration()
      val s = (System.nanoTime() - t) / 1e9
      if (traceIt) tracer.end(iter, a, Tracer.now())
      s
    }
    val cold = timedIteration(traceIt = false)
    iter += 1
    collect()
    val w0 = written.bytes()
    var inBytes = 0L
    val minWarm = if (traced) 5 else Harness.MinWarm(workload)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || walls.size < minWarm) {
      // after one more warm-up iteration: untraced, traced, traced,
      // untraced, ... so both halves see the same share of the JIT trend
      val traceIt = traced && walls.nonEmpty && Set(1, 2)((walls.size - 1) % 4)
      inBytes += inputBytes
      walls += ((iter, traceIt, timedIteration(traceIt)))
      iter += 1
      collect()
      heap.sample()
    }
    val writtenBytes = written.bytes() - w0
    if (workload == "curate") nearDedup()
    writeOutputs()
    writeOracles()

    val untracedWalls = walls.filter(!_._2).map(_._3)
    val tracedWalls = walls.filter(_._2).map(_._3)
    val pairedWalls = walls.drop(1).filter(!_._2).map(_._3)
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else tracer.report(Harness.Cores) ++ Map(
        "session.self_s" -> sessionS,
        "trace.overhead_frac" -> (median(tracedWalls) / median(pairedWalls) - 1.0)) ++
        (if (workload != "star_join") Nil else StarQueries.map { case (name, _) =>
          s"relational.${name}_s" ->
            median(ops.collect { case (i, o) if i > 0 && o.kind == name => o.ms / 1000 })
        })
    Harness.writeJson(s"$work/result.json", Map(
      "cold_wall_s" -> cold,
      "walls_s" -> untracedWalls,
      "traced_walls_s" -> tracedWalls,
      "peak_heap_mb" -> heap.peakMb,
      "written_bytes" -> writtenBytes,
      "input_bytes" -> inBytes,
      "ops_attempted" -> ops.size,
      "ops_failed" -> ops.count(!_._2.ok),
      "mismatches" -> mismatches,
      "errors" -> errors,
      "layers" -> layers))
    if (traced) Harness.writeJson(s"$work/spans.json", tracer.spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start,
      "end_ms" -> s.end, "parent" -> s.parent, "iter" -> s.iter)))
  }

  /** Full collections between iterations until the heap stops shrinking
    * (two to five): the first lets Spark's ContextCleaner drop the finished
    * iteration's shuffle, broadcast and checkpoint state, later ones collect
    * what it released, which on a busy machine can take more than one
    * round. Every iteration then starts from the same heap.
    */
  private def collect(): Unit = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def usedAfterGc(): Long = {
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed
    }
    var prev = usedAfterGc()
    var used = usedAfterGc()
    var rounds = 2
    while (rounds < 5 && used < prev * 0.98) {
      prev = used
      used = usedAfterGc()
      rounds += 1
    }
  }

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def writeOutputs(): Unit = {
    outputs.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(s"$work/out/$name")
    }
  }

  /** The repository's DuckDB oracles for the queries this workload runs. */
  private def writeOracles(): Unit = {
    val names = workload match {
      case "curate" => Map("q_pipeline_release" -> OracleSql.pipelineRelease)
      case "star_join" => StarQueries.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap
    }
    Harness.writeJson(s"$work/oracles.json", names)
  }
}

/** Peak old-generation heap after GC: sampled right after the second of
  * the two full collections the harness forces between warm iterations,
  * when only what the engine still holds remains. (Young collections are
  * left out: their old-generation figure depends on when they run.)
  */
final class HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private var peak = 0L

  def sample(): Unit =
    oldGen.flatMap(p => Option(p.getCollectionUsage)).foreach(u => peak = math.max(peak, u.getUsed))
  def peakMb: Double = peak / 1048576.0
}

/** Bytes the engine has written: files through Hadoop's local file system
  * (table data, manifests, checksums) plus shuffle and spill files, summed
  * from task metrics: what the engine wrote, without the process's other
  * writes (logs and the like), so one input gives the same figure on
  * every run.
  */
final class WrittenBytes(spark: SparkSession) extends SparkListener {
  private val shuffle = new java.util.concurrent.atomic.AtomicLong
  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.diskBytesSpilled)
    }

  def bytes(): Long = {
    PerfbenchBus.drain(spark.sparkContext)
    Tracer.fsBytesWritten() + shuffle.get
  }
}
