package graft.dev

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev-only: per-Spark-job breakdown of one gated query's wall time.
  * Installs a listener recording every job's (id, label — the job
  * description, else its result stage's call site, else, when that
  * call site is a thread-pool frame (AQE submits its query-stage jobs
  * from Spark's pool), the call site of the job's SQL execution —,
  * wall seconds,
  * stage task-time sum) while the query runs at bench
  * parallelism, then prints the jobs in submission order plus the
  * driver-side gap (wall not covered by any job = planning, commit
  * protocol, footer reads, sleeps).
  * Usage: runMain graft.dev.JobProfileProbe <query> [sfDir] [cpus]
  */
object JobProfileProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q01_pricing_summary")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warmup: classloading/codegen paid outside the profiled window
    graft.SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    // "warm" arg: run the SAME query once untimed first, so the
    // profiled run shows the marginal (gate-loop-like) shape
    if (args.contains("warm"))
      graft.SparkEntry.queries(name)(spark, sfDir).count()

    final case class Job(id: Int, var desc: String, start: Long,
                         var end: Long = -1L, var taskMs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    // SQL execution id -> its call site (description, else the first
    // non-pool line of the long form)
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    def poolFrame(site: String): Boolean =
      site.contains("CompletableFuture.java")
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage (the job's last) is named after the
        // action's call site, e.g. "collect at GraftTable.scala:3648"
        val props = Option(e.properties)
        val site = e.stageInfos.maxBy(_.stageId).name
        val d = props
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(
            if (!poolFrame(site)) site
            else props
              .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
              .flatMap(id => Option(execSite.get(id.toLong)))
              .getOrElse(site))
        jobs.put(e.jobId, Job(e.jobId, d, e.time))
        order.add(e.jobId)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          val site = (s.description +: s.details.split("\n").toSeq)
            .map(_.trim).find(l => l.nonEmpty && !poolFrame(l))
          site.foreach(execSite.put(s.executionId, _))
        case _ => ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val j = stageToJob.get(e.stageInfo.stageId)
        val job = if (j != null) jobs.get(j) else null
        if (job != null)
          job.taskMs += e.stageInfo.taskMetrics.executorRunTime
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.currentTimeMillis()
    val rows = graft.SparkEntry.queries(name)(spark, sfDir).count()
    val wall = System.currentTimeMillis() - t0
    // let the async listener bus drain before reading
    Thread.sleep(1500)
    spark.sparkContext.removeSparkListener(listener)
    println(f"QUERY $name  wall ${wall / 1000.0}%.2f s  $rows rows")
    import scala.jdk.CollectionConverters._
    var covered = 0L
    var lastEnd = t0
    var gapBefore = 0L
    order.asScala.toSeq.flatMap(id => Option(jobs.get(id))).foreach { j =>
      val dur = (if (j.end > 0) j.end else System.currentTimeMillis()) - j.start
      covered += dur
      val gap = j.start - lastEnd
      gapBefore += math.max(0, gap)
      lastEnd = math.max(lastEnd, if (j.end > 0) j.end else j.start)
      val desc = if (j.desc.length > 70) j.desc.take(70) else j.desc
      println(f"  job ${j.id}%4d  ${dur / 1000.0}%7.2f s  gapBefore ${math.max(0, gap) / 1000.0}%6.2f s  taskSum ${j.taskMs / 1000.0}%7.2f s  $desc")
    }
    println(f"  jobs wall sum ${covered / 1000.0}%.2f s; driver gaps sum ${gapBefore / 1000.0}%.2f s (of ${wall / 1000.0}%.2f s)")
    spark.stop()
  }
}
