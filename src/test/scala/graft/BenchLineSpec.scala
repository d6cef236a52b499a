package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stdout-tail contract that finally made the driver's bench
  * parser succeed in round 4: the LAST line Bench prints must be pure
  * JSON and fit comfortably inside the parser's bounded (~2000-char)
  * tail window, for the REAL registered query-name set — so adding
  * queries can never silently push the artifact back to `parsed: null`.
  * Also pins the prefix-fallback dedup (duplicate JSON keys would drop
  * a timing). */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  // THE builder main() uses, fed worst realistic widths (8-digit
  // words/s, 4-digit latencies) — so a field added to extrasJson is
  // automatically under this spec's length budget
  // worst realistic widths: 8-digit words/s, one failed run per set
  // (max-length cause strings land only in the full line)
  private def rs(v: Double) = Bench.RunSet(v, 0.87, Seq(v, 0.0, v * 0.5),
    Seq("run2: no steady window: 1/2 steady batches in 38.2s (firstDelay 31.0s)"),
    Seq("run1: 9 steady batches over 10.2s, mean 1133 ms/batch, gc 210ms (2% of wall)",
        "run2: no steady batches (firstDelay 31.0s)",
        "run3: 4 steady batches over 10.8s, mean 2700 ms/batch, gc 4320ms (40% of wall)"))
  private val extras = Bench.extrasJson(
    hdfs = rs(13606060d), rocks = rs(11008300d),
    skew = rs(13606060d), recovery = rs(11008300d),
    recoverySec = 12.34,
    lat = Bench.LatencyStats(p50 = 1509.0, p95 = 1223.0,
      meanBatchMs = 1234.0, backlogBatches = 123L),
    // compact line carries only the COUNTS (gate retries, requeues);
    // the per-query notes ride the full line's tail end (see
    // Bench.main's field-order comment)
    gateRetryCount = 133, requeueCount = 4)
  private val extrasC = Bench.extrasJson(
    hdfs = rs(13606060d), rocks = rs(11008300d),
    skew = rs(13606060d), recovery = rs(11008300d),
    recoverySec = 12.34,
    lat = Bench.LatencyStats(p50 = 1509.0, p95 = 1223.0,
      meanBatchMs = 1234.0, backlogBatches = 123L),
    gateRetryCount = 133, requeueCount = 4, compactSpreads = true)
  private val extrasU = Bench.extrasJson(
    hdfs = rs(13606060d), rocks = rs(11008300d),
    skew = rs(13606060d), recovery = rs(11008300d),
    recoverySec = 12.34,
    lat = Bench.LatencyStats(p50 = 1509.0, p95 = 1223.0,
      meanBatchMs = 1234.0, backlogBatches = 123L),
    gateRetryCount = 133, requeueCount = 4, compactStreams = true)
  private val extrasU2 = Bench.extrasJson(
    hdfs = rs(13606060d), rocks = rs(11008300d),
    skew = rs(13606060d), recovery = rs(11008300d),
    recoverySec = 12.34,
    lat = Bench.LatencyStats(p50 = 1509.0, p95 = 1223.0,
      meanBatchMs = 1234.0, backlogBatches = 123L),
    gateRetryCount = 133, requeueCount = 4, ultraMinimal = true)
  private val fullExtras = Bench.runsJson(Seq(
    "stream_words_per_sec" -> rs(13606060d),
    "stream_words_per_sec_rocksdb" -> rs(11008300d),
    "stream_words_per_sec_skew20" -> rs(13606060d),
    "stream_words_per_sec_recovery" -> rs(11008300d)))

  test("retry rule reads the prior round's per-query times") {
    // against the REAL newest BENCH_r*.json in the repo root (the
    // driver artifact the forked test/bench JVMs see as cwd): the
    // parse must find the parsed-block queries map, not the escaped
    // stdout tail, and the cascade-aware lookup must resolve full
    // query names to its prefix keys — gate_retries:0 on a quiet run
    // is only meaningful if this path demonstrably works
    val prior = Bench.priorRoundTimes()
    assert(prior.size > 50, s"expected a full queries map, got ${prior.size}")
    assert(prior.keys.forall(k => !k.contains("\\")), "matched the escaped tail")
    val d07 = Bench.priorTimeFor(prior, "d07_dup_clusters")
    assert(d07.isDefined && d07.get > 0.0)
    assert(Bench.priorTimeFor(prior, "zz99_not_a_query").isEmpty)
  }

  test("loadavg is captured and parseable in the full artifact line") {
    val la = Bench.loadavg()
    // this sandbox is Linux: expect the three /proc/loadavg figures
    if (new java.io.File("/proc/loadavg").exists) {
      val parts = la.split(" ")
      assert(parts.length == 3 && parts.forall(_.toDouble >= 0.0), la)
    } else assert(la == "unavailable" || la.toDouble >= 0.0)
    // the full line (main's composition) carries both fields as JSON
    val fullOnly = fullExtras +
      s""","loadavg_start":"$la","loadavg_end":"$la""""
    val (full, _) =
      Bench.buildLines(Seq("q01_x" -> 1.0), extras, fullOnly, "/sf")
    val node = mapper.readTree(full)
    assert(node.get("loadavg_start").asText() == la)
    assert(node.get("loadavg_end").asText() == la)
  }

  test("requeue fields ride every line form; threshold sits below core count") {
    // round-14 verdict #3: the requeue machinery must be visible in the
    // artifact — the COUNT on whichever compact step fires, the notes
    // (both readings + both loadavg snapshots) on the full line's tail
    for (ex <- Seq(extras, extrasC, extrasU))
      assert(mapper.readTree(s"{$ex}").get("requeues").asInt() === 4, ex)
    // the ultra-minimal step folds the counts into "rq":[gate, requeue]
    assert(mapper.readTree(s"{$extrasU2}").get("rq").get(1).asInt() === 4)
    val fullOnly = fullExtras +
      s""","requeue_threshold":4.0,"requeue_notes":{"hdfs":""" +
      """"spread 1.00 max 2750000 at loadavg 7.91: backed off 45s to """ +
      """2.10, requeue read 12100000, kept max 12100000 spread 0.77"}"""
    val (full, _) =
      Bench.buildLines(Seq("q01_x" -> 1.0), extras, fullOnly, "/sf")
    val node = mapper.readTree(full)
    assert(node.get("requeue_notes").get("hdfs").asText()
      .contains("backed off"))
    assert(node.get("requeue_threshold").asDouble() === 4.0)
    // threshold: floored at 3, scaled off the worker count, and always
    // far below the core count (co-tenant damage is contention, not
    // CPU saturation)
    assert(Bench.requeueThreshold(8) === 3.0)
    assert(Bench.requeueThreshold(32) === 4.0)
    assert(Bench.requeueThreshold(256) === 32.0)
    // the numeric 1-min loadavg parses on this box
    if (new java.io.File("/proc/loadavg").exists)
      assert(Bench.loadavg1() >= 0.0)
  }

  test("requeue merges like a fourth bestOf run and skips clean/quiet sets") {
    val spark = SparkTestSession.spark
    val notes = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // suspicious set (dead run, spread 0.87) + "loaded box" (threshold
    // below any real loadavg; zero wait so backOff returns instantly):
    // the extra reading becomes run4 and max/spread recompute over all
    val bad = rs(2750000d)
    val (merged, payload) = Bench.requeueWith(spark, "hdfs",
      (bad, Some("old")), threshold = -2.0, notes, maxWaitMs = 0L) {
      (12100000d, "new")
    }
    assert(merged.max === 12100000d)
    assert(merged.runs.size === 4 && merged.runs.last === 12100000d)
    assert(merged.stats.size === 4 &&
      merged.stats.last.startsWith("run4 (requeue):"))
    assert(payload.contains("new"), "the better attempt's payload wins")
    assert(notes.size === 1 && notes.head._1 == "hdfs" &&
      notes.head._2.contains("backed off"))
    // a worse requeue reading keeps the prior max AND payload
    val (kept, keptPayload) = Bench.requeueWith(spark, "skew20",
      (bad, Some("old")), threshold = -2.0,
      scala.collection.mutable.ArrayBuffer.empty, maxWaitMs = 0L) {
      (1000d, "worse")
    }
    assert(kept.max === bad.max && keptPayload.contains("old"))
    // a clean set (no failures, tight spread) never requeues...
    val clean = Bench.RunSet(9e6, 0.05, Seq(9e6, 8.7e6, 8.9e6),
      Seq.empty, Seq("run1: ok", "run2: ok", "run3: ok"))
    val (same, _) = Bench.requeueWith(spark, "x", (clean, None),
      threshold = -2.0, notes, maxWaitMs = 0L) {
      fail("a clean set must not re-run"); (0d, ())
    }
    assert(same eq clean)
    // ...and neither does a suspicious set on a QUIET box
    val (sameQuiet, _) = Bench.requeueWith(spark, "x", (bad, None),
      threshold = 1e9, notes, maxWaitMs = 0L) {
      fail("a quiet box must not re-run"); (0d, ())
    }
    assert(sameQuiet eq bad)
  }

  test("last line carries EVERY query at realistic widths") {
    // realistic worst case: every gated query simultaneously at 2-digit
    // seconds (the slowest real query to date is ~14 s) — the compact
    // line must keep the full per-query breakdown
    val results = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 13.57912)
    val (_, last) =
      Bench.buildLines(results, extras, fullExtras, "/root/testdata/sf0.1",
        extrasCompact = extrasC, extrasUltra = extrasU,
        extrasUltra2 = extrasU2)
    assert(last.length <= 1800, s"compact line ${last.length} chars")
    val node = mapper.readTree(last)
    assert(node.get("queries").size() === results.size,
      "a timing was lost to a duplicate key or a premature cascade step")
    // whichever extras step fired, the throughput maxima are present —
    // verbose keys or the ultra-compact "wps" array (round 13: 161
    // realistic-width queries need the folded form)
    assert(node.has("stream_words_per_sec") || node.has("wps"),
      "throughput figures must ride the tail line in some form")
    if (node.has("wps")) {
      assert(node.get("wps").size() === 4)
      assert(node.get("wps").get(1).asLong() === 11008300L)
      assert(node.get("lat").size() === 4)
      // spreads ride until the ULTRA-MINIMAL step, which folds the
      // retry counts into "rq" instead (round 18: 183 queries) — one
      // of the two diagnostics forms must be on the line
      assert(node.has("spreads") || node.get("rq").size() === 2)
    }
  }

  test("last line fits the driver's tail window for all registered queries") {
    // PATHOLOGICAL widths: every query simultaneously at 4-digit
    // seconds. The line must stay parseable and keep at least the
    // per-family breakdown (round 9: 122 worst-case-width queries
    // overflowed the short-prefix step by ~6 chars — the family-sum
    // step is the principled last resort before dropping detail)
    val results = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 1234.56789)
    val (full, last) =
      Bench.buildLines(results, extras, fullExtras, "/root/testdata/sf0.1",
        extrasCompact = extrasC, extrasUltra = extrasU,
        extrasUltra2 = extrasU2)
    assert(last.length <= 1800, s"compact line ${last.length} chars")
    val node = mapper.readTree(last)
    assert(node.get("metric").asText() === "total")
    assert(node.get("queries").size() > 0,
      "per-query detail must degrade to family sums, not vanish")
    assert(node.get("queries").has("q") && node.get("queries").has("x"),
      "family breakdown missing from the last-resort step")
    assert(node.get("stream_words_per_sec_recovery").asLong() === 11008300L)
    // the per-run evidence parses as JSON and lands in the FULL line
    // only (the bounded tail line must not carry unbounded cause text)
    val fullNode = mapper.readTree(full)
    assert(fullNode.get("queries").size() === results.size)
    assert(fullNode.get("stream_words_per_sec_rocksdb_runs").size() === 3)
    assert(fullNode.get("stream_words_per_sec_rocksdb_run_errors")
      .get(0).asText().startsWith("run2:"))
    // per-run attribution (round-9): one stats line per attempt —
    // including slow-but-ALIVE runs, which carry no run_errors entry
    assert(fullNode.get("stream_words_per_sec_rocksdb_run_stats").size() === 3)
    assert(fullNode.get("stream_words_per_sec_rocksdb_run_stats")
      .get(2).asText().contains("gc"))
    assert(node.get("stream_words_per_sec_rocksdb_runs") == null)
    assert(node.get("stream_words_per_sec_rocksdb_run_stats") == null)
  }

  test("sub-second queries never print 0 on the compact line") {
    // round-19 (VERDICT #3): at the integer-second cascade steps ~50
    // sub-second queries printed as 0 and the driver's PERF comparator
    // (0 = absent) misread them as dropped_from_bench. The adaptive
    // rungs give sub-second values one decimal (floored at 0.1) while
    // keeping integer seconds elsewhere — at the realistic value mix
    // the line must fit AND carry no 0 entries for queries that ran.
    // realistic-plus-margin mix: ~a third of the registry sub-second
    // (r18's quiet run had 27%; each sub-second entry costs +2 chars at
    // the adaptive rung). A registry where HALF the queries run
    // sub-second outgrows the 1800 budget at this rung and falls back
    // to the integer steps — a documented degradation, not a contract.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (i % 6 match {
        case 0 => 0.32   // the previously-invisible sub-second rows
        case 1 => 0.04   // sub-100ms: display floor 0.1, never 0.0
        case 2 | 3 => 3.7
        case _ => 9.6
      })
    }
    val (_, last) = Bench.buildLines(results, extras, fullExtras,
      "/root/testdata/sf0.1", extrasCompact = extrasC,
      extrasUltra = extrasU, extrasUltra2 = extrasU2)
    assert(last.length <= 1800, s"compact line ${last.length} chars")
    val qs = mapper.readTree(last).get("queries")
    assert(qs.size() === results.size,
      "a timing was lost to a duplicate key or a premature cascade step")
    import scala.jdk.CollectionConverters._
    qs.fields().asScala.foreach { e =>
      assert(e.getValue.asDouble() > 0.0,
        s"${e.getKey} printed 0 for a query that ran")
    }
  }

  test("an exact 0.0 prints 0.0 on the adaptive rung, never the floor") {
    // the sub-second mix above lands on the adaptive rung (whole
    // seconds print as integers); a timing of exactly 0 must print
    // 0.0 there, like every other rung, not a fabricated 0.1
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i == 0) 0.0 else i % 6 match {
        case 0 | 1 => 0.32
        case 2 | 3 => 3.7
        case _ => 9.6
      })
    }
    val (_, last) = Bench.buildLines(results, extras, fullExtras,
      "/data/testdata/sf0.1", extrasCompact = extrasC,
      extrasUltra = extrasU, extrasUltra2 = extrasU2)
    import scala.jdk.CollectionConverters._
    val qs = mapper.readTree(last).get("queries").fields().asScala
      .map(e => e.getValue.asText).toSeq
    assert(qs.size === results.size)
    assert(qs.contains("4") && qs.contains("10"),
      s"expected the adaptive rung (integer seconds): $last")
    assert(qs.count(_ == "0.0") == 1 && !qs.contains("0.1"), last)
  }

  test("prefix fallback disambiguates shared prefixes") {
    // enough 30-char names to blow the 1800 budget and force the
    // prefix fallback, with three sharing the "q23" prefix
    val names = Seq("q23_alpha_variant", "q23_beta_variant", "q23_gamma") ++
      (1 to 90).map(i => f"zz$i%03d_some_quite_long_query_name")
    val results = names.map(_ -> 9.87)
    val (_, last) = Bench.buildLines(results, extras, fullExtras, "/sf",
      extrasCompact = extrasC)
    assert(last.length <= 1800)
    val qs = mapper.readTree(last).get("queries")
    assert(qs.size() === results.size, "duplicate prefix dropped a timing")
    assert(qs.has("q23") && qs.has("q23-2") && qs.has("q23-3"))
  }
}
