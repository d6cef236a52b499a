package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Helpers for the stream workload: waiting on progress,
  * reading a checkpoint's logs, and the per-trigger layer metrics. */
object Streams {

  def nowMs: Double = System.nanoTime() / 1e6

  /** trigger start of a progress report, epoch ms */
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  def endMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution")

  /** completed batches so far (data batches only), oldest first */
  def batches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)

  /** poll until `done` holds for the query's completed batches */
  def await(q: StreamingQuery, what: String, timeoutMs: Long)
           (done: Seq[StreamingQueryProgress] => Boolean): Seq[StreamingQueryProgress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var bs = batches(q)
    while (!done(bs)) {
      q.exception.foreach(e => throw new IllegalStateException(s"query failed while $what", e))
      if (!q.isActive) throw new IllegalStateException(s"query stopped while $what")
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out while $what")
      Thread.sleep(5)
      bs = batches(q)
    }
    bs
  }

  /** batch ids present in a checkpoint log directory (offsets or commits) */
  def logIds(ckpt: String, log: String): Seq[Long] = {
    val d = Paths.get(ckpt, log)
    if (!Files.isDirectory(d)) Nil
    else Files.list(d).iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map(_.toLong).toSeq.sorted
  }

  /** the source end offset (as its JSON text) logged for batch `id` */
  def loggedOffset(ckpt: String, id: Long): String =
    Files.readAllLines(Paths.get(ckpt, "offsets", id.toString)).asScala.last.trim

  /** layer metrics over a run of completed batches: sources, micro-batch
    * phases and the state store, by the names the benchmark reports; all 0
    * when no batch ran. Phase times are means per batch (the engine reports
    * whole ms). */
  def layerMetrics(bs: Seq[StreamingQueryProgress],
                   newestScheduledMs: StreamingQueryProgress => Long): Seq[Metric] = {
    def perBatch(f: StreamingQueryProgress => Double) = Stats.mean(bs.map(f))
    val trig = bs.map(p => dur(p, "triggerExecution").toDouble)
    val idle = bs.sliding(2).collect { case Seq(a, b) => (startMs(b) - endMs(a)).toDouble }.toSeq
    val st = bs.flatMap(_.stateOperators.headOption)
    // the source's own latestOffset/getBatch phases are reported in whole ms
    // and read 0 for this source; its spans still appear in the trace
    Seq(Metric("src.rows_in", bs.map(_.numInputRows.toDouble).sum, "rows"),
      Metric("src.lag_ms", perBatch(p => (startMs(p) - newestScheduledMs(p)).toDouble), "ms"),
      Metric("mb.batches", bs.length, "count"),
      Metric("mb.trigger_p50_ms", Stats.medianOrZero(trig), "ms"),
      Metric("mb.trigger_max_ms", (0.0 +: trig).max, "ms"),
      Metric("mb.planning_ms", perBatch(dur(_, "queryPlanning").toDouble), "ms"),
      Metric("mb.wal_ms", perBatch(dur(_, "walCommit").toDouble), "ms"),
      Metric("mb.commit_ms", perBatch(dur(_, "commitOffsets").toDouble), "ms"),
      Metric("mb.idle_ms", Stats.medianOrZero(idle), "ms"),
      Metric("mb.add_batch_ms", perBatch(dur(_, "addBatch").toDouble), "ms"),
      Metric("state.rows_total", st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows"),
      Metric("state.rows_updated", Stats.mean(st.map(_.numRowsUpdated.toDouble)), "rows"),
      Metric("state.commit_ms", Stats.mean(st.map(_.commitTimeMs.toDouble)), "ms"),
      Metric("state.updates_ms", Stats.mean(st.map(_.allUpdatesTimeMs.toDouble)), "ms"),
      Metric("state.memory_bytes", st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "bytes"))
  }

  /** spans of one micro-batch: the batch, its phases laid out in the order
    * the engine runs them, and the jobs and sink call inside addBatch */
  def batchSpans(spans: Spans, p: StreamingQueryProgress, jobs: Seq[(Long, Long)],
                 sink: Option[(Double, Double)]): Unit = {
    val trace = s"batch-${p.batchId}"
    val s0 = startMs(p).toDouble
    val root = spans.add(0, trace, "micro-batch", s0, s0 + dur(p, "triggerExecution"))
    var t = s0
    var addBatch = 0L
    Seq("latestOffset" -> "source.latest_offset", "walCommit" -> "offset_wal",
      "getBatch" -> "source.get_batch", "queryPlanning" -> "planning",
      "addBatch" -> "add_batch", "commitOffsets" -> "commit_log").foreach { case (k, n) =>
      val d = dur(p, k)
      val id = spans.add(root, trace, n, t, t + d)
      if (k == "addBatch") addBatch = id
      t += d
    }
    val sinkId = sink.map { case (a, b) => spans.add(addBatch, trace, "sink", a, b) }
    jobs.foreach { case (a, b) =>
      val parent = sink.filter { case (sa, sb) => a >= sa && b <= sb }.flatMap(_ => sinkId)
      spans.add(parent.getOrElse(addBatch), trace, "job", a.toDouble, b.toDouble)
    }
  }
}
