package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One harness span: a call from the benchmark into one layer's public
  * functions. `layer` owns the Spark jobs fired inside it; `driverLayer`
  * owns the span's driver time that no job covers.
  */
final case class Span(id: Int, parent: Int, iter: Int, layer: String,
                      driverLayer: String, name: String, start: Long, var end: Long)

final case class JobRec(id: Int, iter: Int, span: Int, start: Long, var end: Long,
                        layer: String, label: String, singleTask: Boolean)

/** Traced-run recorder. Spans are kept in memory and written out when
  * the run ends; Spark-listener counters and plan-shape counts are
  * collected only while an iteration is traced (`begin` .. `end`), so
  * untraced iterations of the same process pay nothing but the span
  * bookkeeping.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private var stack = List.empty[Span]
  private var iter = -1 // the traced iteration; -1: not tracing
  /** Counters every traced iteration measures, on every workload. */
  private val c = mutable.Map.from(Counters.map(_ -> 0.0))
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val iterWindows = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val fixed = mutable.Map.empty[String, Double]
  private var fsMark = 0L
  private var gcMark = 0L

  /** Run `body` as a span of `layer`. Jobs it fires carry the span id in
    * a thread-local property, which the listener maps back to the layer.
    */
  def span[A](layer: String, name: String, driverLayer: String = null)(body: => A): A =
    if (iter < 0) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), iter, layer,
        Option(driverLayer).getOrElse(layer), name, now(), 0L)
      synchronized { spans += s }
      stack ::= s
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = now()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Start tracing iteration `i`. Events still queued from earlier work
    * are delivered first, before the listeners attach; jobs of this
    * iteration carry its id in a thread-local property.
    */
  def begin(i: Int): Unit = {
    PerfbenchBus.drain(sc)
    sc.addSparkListener(this)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(this)
    sc.setLocalProperty(IterKey, i.toString)
    fsMark = fsBytesWritten()
    gcMark = gcMillis()
    iter = i
  }

  /** Close iteration `i`, whose timed body ran over [start, stop] ms.
    * Every event it posted is delivered before the listeners detach.
    */
  def end(i: Int, start: Long, stop: Long): Unit = {
    iter = -1
    sc.setLocalProperty(IterKey, null)
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(this)
    synchronized {
      c("sinks.bytes_written") += fsBytesWritten() - fsMark
      c("exec.gc_s") += (gcMillis() - gcMark) / 1000.0
      iterWindows += ((i, start, stop))
    }
  }

  /** A per-run value measured outside the traced iterations. */
  def put(key: String, v: Double): Unit = synchronized { fixed(key) = v }

  // ---- Spark listener ------------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val label = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).fold(-1)(_.toInt)
    val jobIter = props.flatMap(p => Option(p.getProperty(IterKey))).fold(-1)(_.toInt)
    val layer =
      if (label.startsWith("dpp:")) DppStepLayer.getOrElse(label.stripPrefix("dpp:"), "pipeline")
      else if (span >= 0) spans(span).layer
      else "harness"
    jobs += JobRec(e.jobId, jobIter, span, e.time, e.time, layer, label,
      e.stageInfos.forall(_.numTasks <= 1))
    c("exec.jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c("exec.stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("exec.tasks") += 1
    if (e.reason != org.apache.spark.Success) c("exec.failed_tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("exec.task_s") += m.executorRunTime / 1000.0
      c("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("exec.spill_bytes") += m.diskBytesSpilled
      c("tables.input_bytes") += m.inputMetrics.bytesRead
      c("tables.input_rows") += m.inputMetrics.recordsRead
      if (m.inputMetrics.bytesRead > 0) c("tables.scan_tasks") += 1
      if (m.outputMetrics.recordsWritten > 0) c("sinks.files_written") += 1
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  // ---- plan shapes ---------------------------------------------------------

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    def exprCount(p: LogicalPlan)(f: PartialFunction[Expression, Int]): Int =
      p.collectWithSubqueries { case n => n.expressions.map(_.collect(f).sum).sum }.sum
    val textKernel: PartialFunction[Expression, Int] = {
      case _: graft.functions.NormText | _: graft.functions.CountRuns |
           _: graft.functions.WordStats => 1
    }
    val bloom: PartialFunction[Expression, Int] = { case _: BloomFilterMightContain => 1 }
    val opt = qe.optimizedPlan
    val texts = exprCount(opt)(textKernel) - exprCount(qe.analyzed)(textKernel)
    val blooms = exprCount(opt)(bloom) - exprCount(qe.analyzed)(bloom)
    val ranges = opt.collectWithSubqueries {
      case g: Generate if g.generatorOutput.exists(_.name == "__graft_ibin") => 1
    }.sum
    val exec = qe.executedPlan
    val smj = collectWithSubqueries(exec) { case _: SortMergeJoinExec => 1 }.size
    val bhj = collectWithSubqueries(exec) { case _: BroadcastHashJoinExec => 1 }.size
    val phases = qe.tracker.phases
    val optMs = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    synchronized {
      c("plans.text_rewrites") += math.max(0, texts)
      c("plans.bloom_fires") += math.max(0, blooms)
      c("plans.range_fires") += ranges
      c("plans.smj_count") += smj
      c("plans.bhj_count") += bhj
      c("plans.optimize_s") += optMs / 1000.0
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  // ---- report ----------------------------------------------------------------

  /** Per-iteration averages over the traced iterations, plus each layer's
    * self time: every millisecond of a traced iteration goes to the layer
    * of the running Spark job (latest started), else to the innermost
    * span's driver layer, else to the harness. A metric of work the
    * workload did not do (no such DPP step, span or layer time) is left
    * out rather than reported as 0.
    */
  def report(cores: Int): Map[String, Double] = synchronized {
    val n = math.max(1, iterWindows.size)
    val out = mutable.Map.empty[String, Double]
    c.foreach { case (k, v) => out(k) = v / n }
    val wall = iterWindows.map { case (_, a, b) => (b - a) / 1000.0 }.sum
    out("exec.busy_frac") = if (wall > 0) c("exec.task_s") / (wall * cores) else 0.0
    val tracedJobs = jobs.filter(_.iter >= 0)
    out("exec.serial_job_s") =
      tracedJobs.filter(_.singleTask).map(j => (j.end - j.start) / 1000.0).sum / n
    out("exec.skew") = stageTasks.values.maxByOption(_.sum).map { ts =>
      val s = ts.sorted
      def q(p: Double) = s(math.min(s.size - 1, (p * s.size).toInt)).toDouble
      if (q(0.5) > 0) q(0.95) / q(0.5) else 1.0
    }.getOrElse(1.0)
    val tracedSpans = spans.filter(_.iter >= 0)
    /** Wall of the union of the matching jobs, if any ran. */
    def jobWall(p: JobRec => Boolean): Option[Double] = {
      val js = tracedJobs.filter(p)
      if (js.isEmpty) None
      else Some(unionLength(js.map(j => (j.start, j.end)).toSeq) / 1000.0 / n)
    }
    def step(names: String*)(j: JobRec) = names.exists(s => j.label == s"dpp:$s")
    val dpp = tracedJobs.filter(_.label.startsWith("dpp:"))
    if (dpp.nonEmpty) {
      out("pipeline.eager_jobs") = dpp.size.toDouble / n
      out("pipeline.steps") = dpp.map(j => (j.iter, j.label)).distinct.size.toDouble / n
    }
    Seq(
      "scale.quota_sample_s" -> jobWall(step("neymanSample")),
      "llm.minhash_s" -> jobWall(step("dedupNear")),
      "llm.card_s" -> jobWall(step("corpusCard")),
      "sinks.commit_s" -> jobWall(step("ingest", "publish"))
    ).foreach { case (k, v) => v.foreach(out(k) = _) }
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    iterWindows.foreach { case (i, a, b) =>
      val js = tracedJobs.filter(_.iter == i)
      val ss = tracedSpans.filter(_.iter == i)
      val cuts = (Seq(a, b) ++ js.flatMap(j => Seq(j.start, j.end)) ++
        ss.flatMap(s => Seq(s.start, s.end))).filter(t => t >= a && t <= b).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(x, y) if y > x =>
          val mid = (x + y) / 2.0
          val layer = js.filter(j => j.start <= mid && mid < j.end).maxByOption(_.start)
            .map(_.layer)
            .orElse(ss.filter(s => s.start <= mid && mid < s.end).maxByOption(_.start)
              .map(_.driverLayer))
            .getOrElse("harness")
          self(layer) += (y - x) / 1000.0
        case _ =>
      }
    }
    self.foreach { case (l, v) => out(s"$l.self_s") = v / n }
    // driver time inside the pipeline call that no job covers
    self.get("pipeline").foreach(v => out("pipeline.plan_s") = v / n)
    (out ++ fixed).toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val IterKey = "perfbench.iter"

  /** Listener and plan counters, summed over the traced iterations. */
  val Counters: Seq[String] = Seq(
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks", "exec.task_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.gc_s",
    "tables.input_bytes", "tables.input_rows", "tables.scan_tasks",
    "sinks.bytes_written", "sinks.files_written",
    "plans.text_rewrites", "plans.bloom_fires", "plans.range_fires", "plans.smj_count",
    "plans.bhj_count", "plans.optimize_s")

  /** DPP step labels of the release pipeline → the layer doing the work. */
  val DppStepLayer: Map[String, String] = Map(
    "ingest" -> "sinks", "publish" -> "sinks",
    "normalize" -> "functions", "quality" -> "functions",
    "dedupExact" -> "scale", "neymanSample" -> "scale",
    "dedupNear" -> "llm", "corpusCard" -> "llm")

  def now(): Long = System.currentTimeMillis()

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Bytes written through Hadoop's local file system: table data files,
    * manifests and their checksums.
    */
  def fsBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).fold(0L)(_.longValue)

  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
