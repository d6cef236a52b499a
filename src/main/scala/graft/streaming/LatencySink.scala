package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.slf4j.LoggerFactory

/** Latency/throughput-measuring blackhole sink — the Spark analog of the
  * reference's DummyLatencyCountingSink.java:32-81 wired via foreachBatch.
  *
  * Per stamped record it logs `LATENCY <sinkId> <emit_ts> <now> <lat_ms>`
  * (reference :63-65 logs the same triple; collect_latencies.sh:16
  * derives latency = cur_time - timestamp downstream — we log it
  * directly too). Per batch it logs
  * `THROUGHPUT <sinkId> <now> <records> <records_per_sec>` where record
  * counts are scaled back to words by samplePeriod (reference :68-79
  * scales by timestampInterval/sentenceSize).
  *
  * The stamped stream is 1/samplePeriod of the word stream, so the
  * per-batch collect() is tiny by construction — the data plane is
  * dropped distributively (blackhole), matching the reference sink.
  */
final class LatencySink(sinkId: Int, samplePeriod: Int,
                        csvPath: Option[String] = None) extends Serializable {

  @transient private lazy val log = LoggerFactory.getLogger("graft.LatencySink")
  @volatile private var lastBatchNanos: Long = System.nanoTime()

  /** foreachBatch function for the statefulCounts (sampled) stream. */
  def apply(batch: Dataset[WordCount], batchId: Long): Unit = {
    // ~1/samplePeriod of words; statefulCounts emits only stamped rows,
    // so the unstamped guard runs on the driver, off the executor plan
    val stamped = batch.collect().filter(_.ts != -1L)
    val now = System.currentTimeMillis()
    if (log.isWarnEnabled) stamped.foreach { wc =>
      log.warn(s"LATENCY $sinkId ${wc.ts} $now ${now - wc.ts}")
    }
    // CSV shape of the reference harness (collect_latencies.sh:9,16):
    // sink_id,timestamp,cur_time,latency
    csvPath.foreach { path =>
      val lines = stamped.map(wc => s"$sinkId,${wc.ts},$now,${now - wc.ts}\n")
      if (lines.nonEmpty) synchronized {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(path), lines.mkString,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
    }
    val nowN = System.nanoTime()
    val elapsedSec = (nowN - lastBatchNanos) / 1e9
    lastBatchNanos = nowN
    val scaledRecords = stamped.length.toLong * samplePeriod
    if (elapsedSec > 0) {
      log.warn(f"THROUGHPUT $sinkId $now $scaledRecords ${scaledRecords / elapsedSec}%.1f")
    }
  }

  /** Generic blackhole for the update-mode aggregate stream: consumes the
    * batch distributively (no driver materialization), logs row count. */
  def blackhole(batch: DataFrame, batchId: Long): Unit = {
    val n = batch.count()
    log.warn(s"THROUGHPUT $sinkId ${System.currentTimeMillis()} $n updated-keys")
  }
}
