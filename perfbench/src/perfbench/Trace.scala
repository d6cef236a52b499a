package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one request (a micro-batch or a SQL
  * statement) share `trace`; `parent` is the span that caused this one. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span store, written out when the run ends. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  def add(parent: Long, trace: String, name: String, startMs: Double, endMs: Double): Long = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, parent, trace, name, startMs, endMs))
    id
  }

  def all: Seq[Span] = buf.asScala.toSeq

  /** total self time per span name: each span's duration minus the part
    * of its interval that its children cover */
  def selfTimes: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Spans.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a })
        s.ms - covered
      }.sum
    }
  }

  def write(path: String): Unit = {
    val lines = all.sortBy(s => (s.startMs, s.id)).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)) + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString)
  }
}

object Spans {
  /** total length of the union of intervals */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Spark jobs, stages and tasks as the scheduler reports them. Jobs carry
  * the submitting thread's `perfbench.tag` local property (a statement id)
  * and the streaming batch id, so they can be attributed to the request
  * that caused them. */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, tag: String, batch: Long, startMs: Long, stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final class Stage {
    var tasks = 0L; var taskMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L
    val readPerTask = mutable.ArrayBuffer.empty[Long]
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val tag = p.flatMap(x => Option(x.getProperty(ExecListener.TagKey))).getOrElse("")
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, Job(e.jobId, tag, batch, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = stages.computeIfAbsent(e.stageId, _ => new Stage)
    s.synchronized {
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val r = m.shuffleReadMetrics.totalBytesRead
      s.shuffleRead += r
      if (r > 0) s.readPerTask += r
    }
  }

  def select(p: Job => Boolean): Seq[Job] = jobs.values().asScala.filter(p).toSeq.sortBy(_.id)

  /** jobs, tasks, task ms, GC ms, shuffle bytes and reducer skew over `js` */
  def metrics(prefix: String, js: Seq[Job]): Seq[Metric] = {
    val ss = js.flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id)))
    val skews = ss.filter(_.readPerTask.length > 1).map { s =>
      s.readPerTask.max.toDouble / Stats.mean(s.readPerTask.map(_.toDouble).toSeq)
    }
    Seq(
      Metric(s"$prefix.jobs", js.length, "count"),
      Metric(s"$prefix.tasks", ss.map(_.tasks).sum.toDouble, "count"),
      Metric(s"$prefix.task_ms", ss.map(_.taskMs).sum.toDouble, "ms"),
      Metric(s"$prefix.gc_ms", ss.map(_.gcMs).sum.toDouble, "ms"),
      Metric(s"$prefix.shuffle_write_bytes", ss.map(_.shuffleWrite).sum.toDouble, "bytes"),
      Metric(s"$prefix.shuffle_read_bytes", ss.map(_.shuffleRead).sum.toDouble, "bytes"),
      Metric(s"$prefix.reduce_skew", if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio"))
  }
}

object ExecListener {
  val TagKey = "perfbench.tag"
}

/** Catalyst phase times (`qe.tracker`) and the paths of the files the
  * scans opened, per executed query, in delivery order. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class Qe(funcName: String, phases: Map[String, (Long, Long)], files: Set[String])
  val events = new ConcurrentLinkedQueue[Qe]()

  /** file-source scans directly, and row scans through their RDD: a
    * GraftCatalog SELECT reads through a V1 relation whose RDD holds the
    * parquet scan of the files the table's pruning kept */
  private def files(plan: SparkPlan): Set[String] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => PlanListener.rddFiles(s.inputRDD)
      case s: RowDataSourceScanExec => PlanListener.rddFiles(s.rdd)
    }.flatten.toSet

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val f = try files(qe.executedPlan) catch { case _: Throwable => Set.empty[String] }
    events.add(Qe(funcName, phases, f))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** take and clear everything delivered so far */
  def drainEvents(): Seq[Qe] = {
    val out = mutable.ArrayBuffer.empty[Qe]
    var e = events.poll()
    while (e != null) { out += e; e = events.poll() }
    out.toSeq
  }
}

object PlanListener {
  /** a file path as a plain local path, whichever form it was given in */
  def path(f: String): String = new org.apache.hadoop.fs.Path(f).toUri.getPath

  /** paths of the files every file scan in `rdd`'s lineage reads */
  def rddFiles(rdd: RDD[_]): Set[String] = {
    val seen = mutable.HashSet.empty[Int]
    val out = mutable.HashSet.empty[String]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) {
      r match {
        case f: FileScanRDD => f.filePartitions.foreach(_.files.foreach(pf => out += pf.toPath.toUri.getPath))
        case _ =>
      }
      r.dependencies.foreach(d => walk(d.rdd))
    }
    walk(rdd)
    out.toSet
  }
}

/** Streaming progress events with their arrival time. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()

  /** data batches delivered so far, oldest first, with arrival time (ms) */
  def batches: Seq[(Long, StreamingQueryProgress)] =
    progress.asScala.toSeq.filter(_._2.numInputRows > 0).sortBy(_._1)
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    progress.add((System.currentTimeMillis(), e.progress))
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** The traced run's three listeners, registered together from here. */
final class Tracer(val spark: SparkSession) {
  val spans = new Spans
  val exec = new ExecListener
  val plans = new PlanListener
  val streams = new ProgressListener
  private var sessions = List.empty[SparkSession]

  def start(sqlSessions: SparkSession*): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(streams)
    sessions = sqlSessions.toList
    sessions.foreach(_.listenerManager.register(plans))
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.streams.removeListener(streams)
    sessions.foreach(_.listenerManager.unregister(plans))
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
