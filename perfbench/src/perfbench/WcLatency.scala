package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{LatencySink, SentenceGen, WordCount, WordCountPipeline}

/** `wc-latency`: the reference latency experiment as an open loop.
  * `ms-rate` releases 500 sentences/s of 100 words on a wall-clock
  * schedule that does not slow when the engine does; every 4th sentence
  * is stamped with its scheduled emit time and its tokens flow through
  * tokenize → statefulCounts → LatencySink (CSV). A latency sample is sink
  * arrival minus scheduled emit of one stamped sentence: its tokens all
  * reach the sink in the same call, so they are one observation, not 100. */
object WcLatency {
  val Rate = 500
  val SamplePeriod = 4
  val Partitions = 4
  val SubWindows = 4

  final class Run(val query: StreamingQuery, val startMs: Long, val csv: String,
                  val ckpt: String, val sinkCalls: mutable.ArrayBuffer[(Long, Double, Double)]) {
    /** scheduled emit ms of source row `idx` (the ms-rate schedule) */
    def scheduled(idx: Long): Long = startMs + idx * 1000L / Rate
  }

  def start(spark: SparkSession, a: Args, n: Int, traced: () => Boolean): Run = {
    val ckpt = s"${a.work}/wc-latency-ckpt-$n"
    val csv = s"${a.work}/wc-latency-$n.csv"
    val startMs = System.currentTimeMillis()
    val rate = spark.readStream.format("ms-rate")
      .option("rowsPerSecond", Rate.toLong)
      .option("numPartitions", Partitions)
      .option("startTimestampMs", startMs)
      .load()
    val tokens = WordCountPipeline.tokenize(
      Gen.sentences(spark, rate, a.seed, SamplePeriod, Partitions))
    val sink = new LatencySink(sinkId = 0, samplePeriod = SamplePeriod, csvPath = Some(csv))
    val calls = mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val q = WordCountPipeline.statefulCounts(tokens).writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[WordCount], id: Long) =>
        val t0 = System.currentTimeMillis().toDouble
        sink(b, id)
        if (traced()) calls.synchronized(calls += ((id, t0, System.currentTimeMillis().toDouble)))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    new Run(q, startMs, csv, ckpt, calls)
  }

  /** (scheduled ms, latency ms) of every token the sink recorded */
  def arrivals(csv: String): Seq[(Long, Long)] =
    if (!Files.exists(Paths.get(csv))) Nil
    else Files.readAllLines(Paths.get(csv)).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val f = l.split(',')
      (f(1).toLong, f(3).toLong)
    }

  def run(spark: SparkSession, a: Args): Outcome = {
    spark.conf.set("spark.sql.shuffle.partitions", Partitions)
    @volatile var tracing = false
    // set-up: build the input and the query, start it, wait for its first
    // commit; Main.Setups times, keeping the last query running
    val setups = mutable.ArrayBuffer.empty[Double]
    var r: Run = null
    (1 to Main.Setups).foreach { n =>
      if (r != null) r.query.stop()
      val t0 = Streams.nowMs
      r = start(spark, a, n, () => tracing)
      Streams.await(r.query, "starting", 60000)(_.nonEmpty)
      setups += (Streams.nowMs - t0) / 1000.0
    }
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    // measured window: stamped sentences scheduled in [ws, we)
    val ws = System.currentTimeMillis() + 100
    val we = ws + a.seconds * 1000L
    val half = ws + a.seconds * 500L
    tracer.foreach { t =>
      while (System.currentTimeMillis() < half) Thread.sleep(5)
      t.start(); tracing = true
    }
    val needed = (we - r.startMs) * Rate / 1000 + 1
    val bs = Streams.await(r.query, "measuring", a.seconds * 1000L + 60000)(
      _.lastOption.exists(_.sources.head.endOffset.toLong >= needed))
    r.query.stop()
    tracing = false
    tracer.foreach(_.stop())

    // correctness: every stamped token of every committed sentence arrived once
    val committed = Streams.logIds(r.ckpt, "commits").max
    val end = Streams.loggedOffset(r.ckpt, committed).toLong
    val aborted = Streams.logIds(r.ckpt, "offsets").max > committed
    val dict = SentenceGen.dictionary()
    val expected = mutable.HashMap.empty[Long, Int]
    (0L until end by SamplePeriod.toLong).foreach { idx =>
      expected(r.scheduled(idx)) = Gen.tokens(Gen.sentence(a.seed, idx, dict)).size
    }
    val all = arrivals(r.csv)
    // a batch the stop interrupted may have reached the sink uncommitted
    val arrived = if (aborted) all.filter(_._1 <= r.scheduled(end - 1)) else all
    val problems = Checks.exactlyOnce(expected, arrived.map(_._1))
    val got = arrived.groupBy(_._1).map { case (ts, v) => ts -> v.length }
    val failedSentences = expected.count { case (ts, n) => got.getOrElse(ts, 0) != n }

    // one latency per stamped sentence (the latest of its tokens)
    val perSentence = arrived.groupMapReduce(_._1)(_._2)(math.max).toSeq
    def window(lo: Long, hi: Long) = perSentence.filter { case (ts, _) => ts >= lo && ts < hi }
      .map(_._2.toDouble)
    val lat = window(ws, we)
    // each statistic is the median of its value over SubWindows equal slices
    // of the window, so a few seconds of host noise move at most one slice
    val slices = (0 until SubWindows).map(i =>
      window(ws + (we - ws) * i / SubWindows, ws + (we - ws) * (i + 1) / SubWindows))
    def sliced(f: Seq[Double] => Double) = Stats.median(slices.map(f))
    val detail = Map("samples" -> lat.length, "slice_samples" -> slices.map(_.length),
      "latency_p50_ms" -> sliced(Stats.median),
      // whole window, one sample per sentence (Stats.tail: None below 1,000)
      "latency_p99_ms" -> Stats.tail(lat, 99),
      "setup_s" -> setups.toSeq, "batches" -> bs.length, "committed_rows" -> end)
    val e2e = Seq(
      Metric("latency_mean_ms", sliced(Stats.mean), "ms"),
      Metric("setup_s", Stats.median(setups.toSeq), "s"))

    val layer = tracer.map { t =>
      val tb = t.streams.batches.map(_._2)
      val jobs = t.exec.select(j => j.batch >= 0 && j.endMs > 0)
      val calls = r.sinkCalls.synchronized(r.sinkCalls.toList)
      tb.foreach { p =>
        Streams.batchSpans(t.spans, p,
          jobs.filter(_.batch == p.batchId).map(j => (j.startMs, j.endMs)),
          calls.find(_._1 == p.batchId).map(c => (c._2, c._3)))
      }
      Streams.layerMetrics(tb, p => r.scheduled(p.sources.head.endOffset.toLong - 1)) ++
        t.exec.metrics("exec", jobs.filter(j => tb.exists(_.batchId == j.batch))) ++
        Layers.sink(calls.map(c => c._3 - c._2),
          arrived.count { case (ts, _) => ts >= half && ts < we }) ++
        TableDml.LayerRecorder.metrics(Nil) ++
        Layers.overhead(untraced = window(ws, half), traced = window(half, we))
    }
    Outcome(attempted = expected.size, failed = failedSentences, problems = problems,
      e2e = e2e, layer = layer.getOrElse(Nil), detail = detail, tracer = tracer)
  }
}
