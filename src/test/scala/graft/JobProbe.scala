package graft

/** Scratch probe: per-JOB wall/task-time attribution with job callsites
  * — the tier-boundary tool StageProbe lacks (broadcast-future stages
  * all share one useless callsite; jobs carry the driver-side action
  * that triggered them). Runs one registered query (1 warm run on the
  * warm dir + 1 measured run on the target), then prints every job of
  * the measured run in submission order: id, wall (submit→end), task
  * count, task-time sum, stage count, and the job's callsite. The
  * header line carries the measured run's codegen compile count next to
  * its job count: a warm run that still compiles means the generated-
  * class cache is thrashing.
  *
  * `SPARK_GRAFT_CPUS=32 java -cp <test-classes:classes:spark jars>
  *   graft.JobProbe <name> <sfDir> [warmDir]`
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val d = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTITIONS", "0").toInt
    val spark = GraftSession.local(cpus, parts)
    spark.sparkContext.setLogLevel("ERROR")
    case class Job(var callsite: String, var submitted: Long, var ended: Long,
                   var stages: Set[Int])
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, Job]
    val stageTasks = new scala.collection.mutable.HashMap[Int, (Int, Long)]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(j.jobId) = Job(
            Option(j.properties).flatMap(p =>
              Option(p.getProperty("spark.job.description"))
                .orElse(Option(p.getProperty("callSite.short")))).getOrElse("?"),
            j.time, 0L, j.stageIds.toSet)
        }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.synchronized(jobs.get(j.jobId).foreach(_.ended = j.time))
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null && t.taskInfo.successful) stageTasks.synchronized {
          val (n, s) = stageTasks.getOrElse(t.stageId, (0, 0L))
          stageTasks(t.stageId) = (n + 1, s + t.taskInfo.duration)
        }
    })
    val warm = if (args.length > 2) args(2) else d
    SparkEntry.queries(name)(spark, warm).count()
    jobs.synchronized(jobs.clear()); stageTasks.synchronized(stageTasks.clear())
    val c0 = org.apache.spark.SparkTestHooks.codegenCompiles
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, d).count()
    val wall = (System.nanoTime() - t0) / 1e9
    val compiles = org.apache.spark.SparkTestHooks.codegenCompiles - c0
    Thread.sleep(300) // listener bus drain
    println(f"[jobprobe] $name wall=$wall%.2f s rows=$n cpus=$cpus parts=$parts " +
      f"jobs=${jobs.size} compiles=$compiles")
    var wallSum = 0L
    jobs.synchronized(jobs.toSeq).foreach { case (id, j) =>
      val (nt, sum) = j.stages.toSeq
        .map(sid => stageTasks.synchronized(stageTasks.getOrElse(sid, (0, 0L))))
        .foldLeft((0, 0L)) { case ((a, b), (c, dd)) => (a + c, b + dd) }
      val w = if (j.ended > 0) j.ended - j.submitted else -1
      if (w > 0) wallSum += w
      println(f"[jobprobe] job=$id%-4d wall=$w%-6d ms tasks=$nt%-5d tasksum=$sum%-8d ms " +
        f"stages=${j.stages.size}%-3d ${j.callsite}")
    }
    println(f"[jobprobe] job-wall-sum=$wallSum ms (serial driver actions ≈ this)")
    spark.stop()
  }
}
