package graft.operators

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QuerySpec, Tables}
import graft.streaming.{Sentence, WordCountPipeline}

/** Structured-Streaming operators surfaced through the driver gate.
  *
  * Each op stages a test table to a parquet directory and replays it
  * through `readStream` with `maxFilesPerTrigger=1` — one micro-batch
  * per staged file, the lake-tailing ingestion shape — and runs a
  * *streaming* stateful computation whose final state must equal the
  * equivalent batch SQL: the DuckDB oracle checks that Spark's
  * incremental state-store execution converges to the relational
  * answer. Nothing is ever collected to the driver — the staging write
  * and the replay are both distributed, so the same harness shape holds
  * at any corpus size. (The engine's production push source is
  * sources.RateSentenceSource; any readStream format slots in here.)
  */
object StreamingOps {

  /** Force multi-write replay order without sleeping between writes:
    * FileStreamSource schedules files in modification-time order, so
    * each staged batch's fresh part-files are explicitly stamped with
    * mtime = batch*1000 ms. Freshly-written parts carry a real (large)
    * mtime; already-stamped ones carry b*1000 and are left alone. */
  private def stampBatch(dir: String, b: Int): Unit = {
    import java.nio.file.{Files => F, Paths}
    val listing = F.list(Paths.get(dir))
    try listing.forEach { f =>
      val n = f.getFileName.toString
      if (n.startsWith("part-") &&
          F.getLastModifiedTime(f).toMillis > 1000000L)
        F.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(b * 1000L))
    } finally listing.close()
  }

  /** stage `df` as `files` parquet files; tail it as a stream, one file
    * per micro-batch */
  private[operators] def stagedStream(spark: SparkSession, df: DataFrame,
                           files: Int): DataFrame = {
    val staged = graft.util.Scratch.shmDir("graft-stage")
    df.repartition(files).write.mode("overwrite").parquet(staged)
    spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
  }

  /** run a streaming query to a memory sink until the staged input
    * drains; returns the result table (complete mode: final state;
    * append mode: all emitted rows).
    *
    * State parallelism: the gate replays stage KB-scale batches, so a
    * 32-way session default means each micro-batch pays 32 state-store
    * commits per stateful operator (×2 sides ×2 stores for a
    * stream-stream join) for microscopic per-partition work — at sf0.1
    * that overhead WAS the query time (w08/w10 ≈ 7-8 s). The stream's
    * state partitioning is capped at 8 here (captured by the query at
    * start, recorded in its checkpoint; results are partition-count-
    * invariant). A production deployment sizes this to its key volume —
    * that is the knob, this is the gate's honest setting for tiny state. */
  private def runComplete(spark: SparkSession, agg: DataFrame,
                          prefix: String, mode: String = "complete"): DataFrame = {
    val qname = prefix + UUID.randomUUID().toString.replace("-", "")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(8, saved.toInt).toString)
    try {
      val query = agg.writeStream
        .outputMode(mode).format("memory").queryName(qname)
        // tmpfs checkpoint (round-18 optim): the drained-and-discarded
        // gate checkpoint otherwise lands in java.io.tmpdir (ext4) and
        // every micro-batch pays offset-WAL/commit/state-delta fsyncs
        // against the host's disk — see Scratch.shmDir
        .option("checkpointLocation",
          graft.util.Scratch.shmDir("graft-w-ckpt"))
        .start()
      try query.processAllAvailable() finally query.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    spark.table(qname)
  }

  /** run `body` on the RocksDB state-store backend (the shared w12/w23
    * provider flip, factored in round 19). Changelog checkpointing
    * (`...rocksdb.changelogCheckpointing.enabled=true`) was TRIED here
    * per the round-19 brief and reverted on measurement: at the gate's
    * KB-scale state the full-snapshot commit is already trivial, and
    * the changelog's extra per-commit file write read +0.6 s on w12 /
    * flat on w23 in the quiet A/B bench — the lever only pays at
    * production state sizes, where the deployment sets it themselves. */
  private def withRocksDb[A](spark: SparkSession)(body: => A): A = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val savedP = spark.conf.get(providerKey,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.set(providerKey, savedP)
  }

  /** w01 — the reference's stateful word count (SURVEY §2.1 #4-6) run as
    * a streaming query over the documents corpus, replayed in two
    * micro-batches to exercise StateStore save/restore between batches.
    * Final counts ≡ batch q14. */
  private def w01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = stagedStream(spark,
      Tables.documents(spark, dir).select(col("text")), files = 2)
    val sentences = stream
      .select(lit(-1L).as("ts"), col("text").as("sentence"),
              lit(0).as("sourceId")).as[Sentence]
    val counts = WordCountPipeline.runningCounts(
      WordCountPipeline.tokenize(sentences))
    runComplete(spark, counts.toDF(), "w01_")
      .select(col("word"), col("count").as("cnt"))
  }

  /** w02 — streaming event-time tumbling-window aggregation over the
    * events stream (three replayed micro-batches). Final windows ≡ batch
    * q13. */
  private def w02(spark: SparkSession, dir: String): DataFrame = {
    val stream = stagedStream(spark,
      Tables.events(spark, dir).select(col("ts"), col("event_type"), col("value")),
      files = 3)
    val agg = stream
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_v"))
    runComplete(spark, agg, "w02_")
      .select(col("hour_start"), col("event_type"), col("n"), col("sum_v"))
  }

  /** w03 — streaming gap-based session windows (session_window operator).
    * Three replayed batches; session merging runs in the state store.
    * session_window.end == last event + gap, so the oracle is the batch
    * sessionization CTE (x02) with `session_end + gap`. */
  private def w03(spark: SparkSession, dir: String): DataFrame = {
    val stream = stagedStream(spark,
      Tables.events(spark, dir).select(col("ts"), col("user_id")), files = 3)
    val agg = stream
      .groupBy(session_window(col("ts"), s"${ScaleOps.gapMinutes} minutes"),
               col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
              col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end_gap"),
              col("n_events"))
    runComplete(spark, agg, "w03_")
  }

  private val w03Sql =
    s"""${ScaleOps.sessionCte}
       |SELECT user_id, session_start,
       |  session_end + INTERVAL ${ScaleOps.gapMinutes} MINUTE AS session_end_gap,
       |  n_events
       |FROM agg""".stripMargin

  /** w04 — the rate-controlled sentence source itself, profiled through
    * one deterministic micro-batch (Trigger.Once, epoch-0 schedule).
    * Sentence CONTENT is seeded generator output (not SQL-expressible),
    * but the profile is exact arithmetic over (rate, samplePeriod,
    * numPartitions, sentenceSize): one batch of `rate` rows, sourceId =
    * idx % numPartitions, a stamp on every samplePeriod-th idx, and
    * exactly sentenceSize single-space-joined words per sentence (the
    * synthesized dictionary has no empty/whitespace entries) — so the
    * oracle is a VALUES literal of that arithmetic, and a generator that
    * drifted on rate, stamping cadence, partition fan-out, or sentence
    * shape fails the hash. */
  private def w04(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.RateSentenceSource
    val sentences = RateSentenceSource.stream(
      spark, rate = 1000, sentenceSize = 10, samplePeriod = 100,
      numPartitions = 4, dictSize = 10000, startTimestampMs = 0L)
    val profile = sentences
      .groupBy(col("sourceId").as("source_id"))
      .agg(count(lit(1)).as("n_sentences"),
           sum(size(split(col("sentence"), "\\s+"))).as("n_words"),
           sum(when(col("ts") =!= -1L, 1L).otherwise(0L)).as("n_stamped"))
    val qname = "w04_" + UUID.randomUUID().toString.replace("-", "")
    val query = profile.writeStream
      .outputMode("complete").format("memory").queryName(qname)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .option("checkpointLocation",
        graft.util.Scratch.shmDir("graft-w04-ckpt"))
      .start()
    query.awaitTermination()
    spark.table(qname)
  }

  /** idx 0..999; source = idx%4; stamps at idx%100==0 — all multiples of
    * 100 are ≡ 0 (mod 4), so all 10 stamps land on source 0 */
  private val w04Sql =
    """SELECT * FROM (VALUES
      |  (0, 250, 2500, 10),
      |  (1, 250, 2500, 0),
      |  (2, 250, 2500, 0),
      |  (3, 250, 2500, 0))
      |AS t(source_id, n_sentences, n_words, n_stamped)""".stripMargin

  /** w05 — streaming exact dedup: `dropDuplicates` over the normalized
    * fingerprint with the seen-set in the state store. The staged corpus
    * is written WITH duplicates (two full-corpus files plus a half-corpus
    * replay file → 3 micro-batches); exactly the distinct fingerprints
    * must come out. */
  private def w05(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("text"))
    val staged = graft.util.Scratch.shmDir("graft-stage")
    docs.repartition(2).write.mode("overwrite").parquet(staged)
    // replayed duplicates: append half the corpus as an extra file —
    // its fingerprints are already in the state store when it arrives
    docs.where(pmod(xxhash64(col("text")), lit(2)) === 0)
      .coalesce(1).write.mode("append").parquet(staged)
    val deduped = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
      .select(graft.functions.TextFunctions.normFingerprint(col("text"))
        .as("fp_norm"))
      .dropDuplicates("fp_norm")
    // through runComplete for the 8-way state cap: this query predated
    // it and self-started at the session's 32 shuffle partitions — 32
    // state-store commits per micro-batch for KB-scale state was most
    // of its gate time
    runComplete(spark, deduped, "w05_", mode = "append")
  }

  private val w05Sql =
    """SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_norm
      |FROM documents""".stripMargin

  /** w06 — stream-static enrichment join: the replayed events stream
    * joins the static customer dimension (broadcast per micro-batch —
    * the standard streaming-enrichment shape) and aggregates per
    * segment. Final state ≡ the batch join. */
  private def w06(spark: SparkSession, dir: String): DataFrame = {
    val stream = stagedStream(spark,
      Tables.events(spark, dir).select(col("user_id"), col("value")), files = 3)
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = stream
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2)))
             .cast(DoubleType).as("sum_value"))
    runComplete(spark, agg, "w06_")
  }

  private val w06Sql =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** w07 — file-based streaming source: events replayed through
    * `readStream.parquet` on a staged directory (the lake-tailing
    * ingestion shape), aggregated in complete mode. ≡ batch counts. */
  private def w07(spark: SparkSession, dir: String): DataFrame = {
    val stream = stagedStream(spark, Tables.events(spark, dir), files = 2)
    val agg = stream.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2)))
             .cast(DoubleType).as("sum_value"))
    runComplete(spark, agg, "w07_")
  }

  private val w07Sql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  /** w08 — stream-stream interval join: errors join purchases of the
    * same user within one hour after the purchase, both sides replayed
    * as independent staged streams (2 micro-batches each) so matches
    * span batch boundaries and buffer in the join state store. Inner
    * join without watermark: state is never expired, so the drained
    * result equals the batch interval join exactly. (The watermarked
    * state-expiry variant is pinned separately by StreamStreamJoinSpec.) */
  private def w08(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
    val p = stagedStream(spark,
      ev.filter(col("event_type") === "purchase")
        .select(col("ts").as("p_ts"), col("user_id").as("p_user"),
                col("event_id").as("p_id")), files = 2)
    val e = stagedStream(spark,
      ev.filter(col("event_type") === "error")
        .select(col("ts").as("e_ts"), col("user_id").as("e_user"),
                col("event_id").as("e_id")), files = 2)
    val joined = p.join(e,
      col("p_user") === col("e_user") &&
      col("e_ts") >= col("p_ts") &&
      col("e_ts") < col("p_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("p_id"), col("e_id"), col("p_user").as("user_id"))
    runComplete(spark, joined, "w08_", mode = "append")
  }

  private val w08Sql =
    """SELECT p.event_id AS p_id, e.event_id AS e_id, p.user_id
      |FROM events p JOIN events e
      |  ON p.user_id = e.user_id
      | AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 1 HOUR
      |WHERE p.event_type = 'purchase' AND e.event_type = 'error'""".stripMargin

  /** w09 — watermark finalization semantics, oracle-checked end-to-end
    * in APPEND mode. The events stream replays in two batches with a
    * GUARANTEED order (distinct file mtimes): batch A is 3/4 of the
    * corpus, batch B (containing rows arbitrarily late relative to the
    * post-A watermark) the rest. Append mode emits a window exactly
    * once — when the watermark passes its end (the trailing no-data
    * batch finalizes everything closed by max(all ts) − 10 min); the
    * out-of-order batch-B rows must land in their event-time windows
    * BEFORE finalization, never after (no duplicate or lost windows
    * across the batch boundary). Measured Spark 4.1 semantics, pinned
    * here: late rows for never-emitted windows are admitted and merged
    * (eviction happens at batch end, after input is merged), so every
    * closed window carries its full event-time count — which is exactly
    * what the oracle computes. Boundary edge: second-grained data CAN
    * put the watermark exactly on an hour boundary (max(ts) at
    * hh:10:00), where the oracle's `window_end <= wm` and Spark's
    * eviction comparison must agree — they do: Spark finalizes the
    * window whose end equals the watermark (`<=` semantics), pinned by
    * WatermarkEdgeSpec. */
  private def w09(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("ts"), col("event_type"), col("event_id"))
    val staged = graft.util.Scratch.shmDir("graft-stage")
    ev.where(pmod(col("event_id"), lit(4)) =!= 0)
      .coalesce(1).write.mode("overwrite").parquet(staged)
    stampBatch(staged, 1) // mtime order = batch order (no sleeps)
    ev.where(pmod(col("event_id"), lit(4)) === 0)
      .coalesce(1).write.mode("append").parquet(staged)
    stampBatch(staged, 2)
    val agg = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
      // watermarks demand TIMESTAMP (LTZ); session tz is UTC, so the
      // NTZ↔LTZ casts here and on the output are wall-clock-identical
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "10 minutes")
      // group on the window STRUCT: extracting .start inside groupBy
      // severs the watermark association and append mode is rejected
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runComplete(spark, agg, "w09_", mode = "append")
      .select(col("window.start").cast(TimestampNTZType).as("hour_start"),
              col("event_type"), col("n"))
  }

  private val w09Sql =
    """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
      |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
      |  event_type, COUNT(*) AS n
      |FROM events, wm
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
      |GROUP BY 1, 2""".stripMargin

  /** w10 — WATERMARKED stream-stream interval join, state-expiry
    * semantics oracle-checked end-to-end (w08's gate variant runs
    * unwatermarked and holds state forever; this is the production
    * variant). Both sides carry `withWatermark("…", "10 minutes")`.
    * Spark's exact admission rule (since the SPARK-40925 late-record /
    * eviction split): in micro-batch b, late input is filtered with the
    * LATE-EVENTS watermark — the global watermark as of the END of batch
    * b−2, i.e. wm(b−2) = min over both streams of max(event time in
    * batches ≤ b−2) − delay — one batch STALER than the eviction
    * watermark wm(b−1), so rows that raced the last watermark advance
    * are kept (what makes chained stateful operators safe). For an
    * INNER interval join this admission filter is the entire observable
    * semantic: eviction at the end of batch m uses wm(m−1), so a
    * purchase evicted before batch b has p_ts + 1h ≤ wm(b−2), while any
    * admitted error has e_ts ≥ wm(b−2) — and the join needs
    * e_ts < p_ts + 1h, a contradiction. Eviction can never remove a row
    * an admissible future input could still match; the drained result
    * equals the batch join of admitted rows, which is exactly what the
    * oracle computes, reconstructing wm(k) from the same VALUES.
    *
    * The input is a purpose-built 3-batch replay (literal timestamps,
    * every row hours away from any eviction/admission edge, per-side
    * "clock" rows pinning the watermark after each batch): arrival
    * order is the semantics under test, so the data must control it —
    * the events-table variant with natural arrival stays w08. Pairs
    * planted: two emitted same-batch; one emitted across batches from
    * retained purchase state; one from retained error state; one
    * (105,150) whose error is late vs wm(b−1)=19:50 but ON TIME vs the
    * late-events watermark wm(b−2)=9:50 — emitted, pinning the one-batch
    * lag itself; and one (100,130) DROPPED outright (00:30 < 9:50). */
  private def w10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // (batch, ts, user, id)
    val pRows = Seq(
      (1, "2024-01-01 00:00:00", 1L, 100L), // evicted after wm passes 01:00+
      (1, "2024-01-01 09:58:00", 5L, 105L), // stays in state; its error arrives late
      (1, "2024-01-01 10:00:00", 91L, 191L), // clock; matched next batch
      (2, "2024-01-01 19:30:00", 2L, 200L), // matched same batch AND next batch
      (2, "2024-01-01 20:00:00", 93L, 293L), // clock
      (3, "2024-01-01 19:55:00", 4L, 400L)) // admitted; matches error state
    val eRows = Seq(
      (1, "2024-01-01 00:15:00", 3L, 310L), // unmatched; evicted from state
      (1, "2024-01-01 10:00:00", 92L, 910L), // clock
      (2, "2024-01-01 10:20:00", 91L, 911L), // matches p191 from batch-1 state
      (2, "2024-01-01 19:45:00", 2L, 220L), // matches p200 same batch
      (2, "2024-01-01 19:58:00", 4L, 410L), // buffered; matched by batch-3 p400
      (2, "2024-01-01 20:00:00", 94L, 940L), // clock
      (3, "2024-01-01 00:30:00", 1L, 130L), // LATE (< wm(1)=9:50) → dropped
      (3, "2024-01-01 10:05:00", 5L, 150L), // late vs wm(2), ON TIME vs wm(1) → emitted
      (3, "2024-01-01 20:05:00", 2L, 230L)) // admitted; matches p200 state
    val pDir = graft.util.Scratch.shmDir("graft-w10-p")
    val eDir = graft.util.Scratch.shmDir("graft-w10-e")
    (1 to 3).foreach { b =>
      pRows.filter(_._1 == b).map { case (_, s, u, i) => (t(s), u, i) }
        .toDF("p_ts", "p_user", "p_id")
        .coalesce(1).write.mode("append").parquet(pDir)
      stampBatch(pDir, b)
      eRows.filter(_._1 == b).map { case (_, s, u, i) => (t(s), u, i) }
        .toDF("e_ts", "e_user", "e_id")
        .coalesce(1).write.mode("append").parquet(eDir)
      stampBatch(eDir, b)
    }
    def read(d: String, schema: StructType) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val p = read(pDir, new StructType().add("p_ts", TimestampType)
        .add("p_user", LongType).add("p_id", LongType))
      .withWatermark("p_ts", "10 minutes")
    val e = read(eDir, new StructType().add("e_ts", TimestampType)
        .add("e_user", LongType).add("e_id", LongType))
      .withWatermark("e_ts", "10 minutes")
    val joined = p.join(e,
      col("p_user") === col("e_user") &&
      col("e_ts") >= col("p_ts") &&
      col("e_ts") < col("p_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("p_id"), col("e_id"), col("p_user").as("user_id"))
    runComplete(spark, joined, "w10_", mode = "append")
  }

  /** the same watermark machine, reconstructed relationally: wm(k) =
    * min over both sides of max(event time in batches ≤ k) − 10 min; a
    * batch-b row is admitted iff its event time ≥ the LATE-EVENTS
    * watermark wm(b−2) (one batch staler than the eviction watermark
    * wm(b−1) — SPARK-40925; batches 1-2 see wm ≤ −∞, all admitted);
    * result = interval join of admitted rows (eviction provably cannot
    * drop a pair an admitted row could form — see w10's scaladoc) */
  private val w10Sql =
    """WITH p AS (SELECT * FROM (VALUES
      |    (1, TIMESTAMP '2024-01-01 00:00:00', 1, 100),
      |    (1, TIMESTAMP '2024-01-01 09:58:00', 5, 105),
      |    (1, TIMESTAMP '2024-01-01 10:00:00', 91, 191),
      |    (2, TIMESTAMP '2024-01-01 19:30:00', 2, 200),
      |    (2, TIMESTAMP '2024-01-01 20:00:00', 93, 293),
      |    (3, TIMESTAMP '2024-01-01 19:55:00', 4, 400))
      |  t(b, p_ts, p_user, p_id)),
      |e AS (SELECT * FROM (VALUES
      |    (1, TIMESTAMP '2024-01-01 00:15:00', 3, 310),
      |    (1, TIMESTAMP '2024-01-01 10:00:00', 92, 910),
      |    (2, TIMESTAMP '2024-01-01 10:20:00', 91, 911),
      |    (2, TIMESTAMP '2024-01-01 19:45:00', 2, 220),
      |    (2, TIMESTAMP '2024-01-01 19:58:00', 4, 410),
      |    (2, TIMESTAMP '2024-01-01 20:00:00', 94, 940),
      |    (3, TIMESTAMP '2024-01-01 00:30:00', 1, 130),
      |    (3, TIMESTAMP '2024-01-01 10:05:00', 5, 150),
      |    (3, TIMESTAMP '2024-01-01 20:05:00', 2, 230))
      |  t(b, e_ts, e_user, e_id)),
      |wm AS (SELECT k,
      |    LEAST((SELECT max(p_ts) FROM p WHERE b <= k),
      |          (SELECT max(e_ts) FROM e WHERE b <= k))
      |      - INTERVAL 10 MINUTE AS w
      |  FROM (VALUES (1), (2)) kk(k)),
      |pk AS (SELECT * FROM p
      |  WHERE b <= 2 OR p_ts >= (SELECT w FROM wm WHERE k = b - 2)),
      |ek AS (SELECT * FROM e
      |  WHERE b <= 2 OR e_ts >= (SELECT w FROM wm WHERE k = b - 2))
      |SELECT p_id, e_id, p_user AS user_id
      |FROM pk JOIN ek ON p_user = e_user
      | AND e_ts >= p_ts AND e_ts < p_ts + INTERVAL 1 HOUR""".stripMargin

  /** w11 — BOUNDED-STATE streaming dedup: `dropDuplicatesWithinWatermark`
    * (w05's production variant — w05's plain `dropDuplicates` keeps every
    * fingerprint forever; here the seen-set expires with the watermark,
    * so state is O(keys per delay window) at any stream length). Expiry
    * semantics under test: a key's state lives until the watermark
    * passes first-occurrence ts + delay; a duplicate arriving while the
    * state is live is dropped, and a re-occurrence after expiry is
    * EMITTED AGAIN — re-emission is exactly the bounded-state trade, so
    * the oracle must model it, not just distinct().
    *
    * Like w10, arrival order IS the semantics, so the input is a
    * purpose-built 3-batch replay (literal timestamps, per-batch clock
    * keys pinning the watermark, every comparison ≥ 20 min from any
    * admission/eviction edge). Planted: a same-batch duplicate
    * (dropped), a cross-batch duplicate within delay (dropped — state
    * from batch 1 is evicted only at the end of batch 2, which uses
    * wm(1)), a re-occurrence after expiry (re-emitted), and a late row
    * below the late-events watermark wm(b−2) (dropped outright,
    * SPARK-40925 — same two-batch lag w10 pins). */
  private def w11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // (batch, ts, fp); wm(1) = 01:00 − 10 min = 00:50, wm(2) = 01:20
    val rows = Seq(
      (1, "2024-01-01 00:00:00", "A"), // emitted
      (1, "2024-01-01 00:02:00", "A"), // same-batch dup → dropped
      (1, "2024-01-01 00:03:00", "B"), // emitted; expiry 00:13
      (1, "2024-01-01 00:04:00", "C"), // emitted; expiry 00:14 < wm(1)
      (1, "2024-01-01 01:00:00", "K1"), // clock
      (2, "2024-01-01 00:08:00", "B"), // dup, B-state still live → dropped
      (2, "2024-01-01 01:30:00", "K2"), // clock
      (3, "2024-01-01 01:25:00", "C"), // C-state expired → RE-emitted
      (3, "2024-01-01 00:30:00", "D"), // late: 00:30 < wm(1)=00:50 → dropped
      (3, "2024-01-01 02:00:00", "E"), // emitted
      (3, "2024-01-01 02:10:00", "K3")) // clock
    val dir11 = graft.util.Scratch.shmDir("graft-w11")
    (1 to 3).foreach { b =>
      rows.filter(_._1 == b).map { case (_, s, fp) => (t(s), fp) }
        .toDF("ts", "fp")
        .coalesce(1).write.mode("append").parquet(dir11)
      stampBatch(dir11, b)
    }
    val deduped = spark.readStream
      .schema(new StructType().add("ts", TimestampType).add("fp", StringType))
      .option("maxFilesPerTrigger", 1).parquet(dir11)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
      .select(col("fp"))
    runComplete(spark, deduped, "w11_", mode = "append")
  }

  /** the dedup state machine reconstructed relationally: wm(k) =
    * max(event time in batches ≤ k) − 10 min; a batch-b row is admitted
    * iff ts ≥ wm(b−2) (late-events watermark — w10's machine); a row is
    * emitted iff no earlier admitted same-key row's state is still live
    * when it arrives, where state from an earlier batch is live iff
    * first-ts + 10 min > wm(b−2) (the newest eviction applied before
    * batch b runs at the end of batch b−1 with wm(b−2)) and same-batch
    * predecessors always cover. Missing wm (batches 1-2) ⇒ −∞. Data is
    * built so no key chains more than two generations, so "earlier
    * admitted row" and "earlier emitted row" coincide for every cover. */
  private val w11Sql =
    """WITH r AS (SELECT * FROM (VALUES
      |    (1, 1, TIMESTAMP '2024-01-01 00:00:00', 'A'),
      |    (1, 2, TIMESTAMP '2024-01-01 00:02:00', 'A'),
      |    (1, 3, TIMESTAMP '2024-01-01 00:03:00', 'B'),
      |    (1, 4, TIMESTAMP '2024-01-01 00:04:00', 'C'),
      |    (1, 5, TIMESTAMP '2024-01-01 01:00:00', 'K1'),
      |    (2, 1, TIMESTAMP '2024-01-01 00:08:00', 'B'),
      |    (2, 2, TIMESTAMP '2024-01-01 01:30:00', 'K2'),
      |    (3, 1, TIMESTAMP '2024-01-01 01:25:00', 'C'),
      |    (3, 2, TIMESTAMP '2024-01-01 00:30:00', 'D'),
      |    (3, 3, TIMESTAMP '2024-01-01 02:00:00', 'E'),
      |    (3, 4, TIMESTAMP '2024-01-01 02:10:00', 'K3'))
      |  t(b, seq, ts, fp)),
      |wm AS (SELECT k, max(ts) - INTERVAL 10 MINUTE AS w
      |  FROM r, (VALUES (1), (2)) kk(k) WHERE b <= k GROUP BY k),
      |adm AS (SELECT * FROM r
      |  WHERE b <= 2 OR ts >= (SELECT w FROM wm WHERE k = b - 2))
      |SELECT fp FROM adm a WHERE NOT EXISTS (
      |  SELECT 1 FROM adm p WHERE p.fp = a.fp
      |    AND (p.b < a.b OR (p.b = a.b AND p.seq < a.seq))
      |    AND (p.b = a.b
      |         OR p.ts + INTERVAL 10 MINUTE >
      |            COALESCE((SELECT w FROM wm WHERE k = a.b - 2),
      |                     TIMESTAMP '1970-01-01')))""".stripMargin

  /** ValueState running counter: the reference's keyed `ReducingState`
    * (StatefulWordCount.java:144-150, Count.reduce = v1+v2 at :173-179)
    * expressed in `transformWithState` — Spark 4's arbitrary-stateful
    * API (the successor to flatMapGroupsWithState, SPARK-49564): typed
    * state handles with per-state TTL, timers, and RocksDB-only
    * backing. Emits the new total once per (key, batch) it changes —
    * update-mode cadence, same as `runningCounts`. */
  private class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), (String, Long)] {
    @transient private var total: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[(String, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long)] = {
      var t = if (total.exists()) total.get() else 0L
      rows.foreach(r => t += r._2)
      total.update(t)
      Iterator.single((key, t))
    }
  }

  /** w12 — the stateful word count through `transformWithState` (the
    * engine's third formulation of the reference's ReducingState, after
    * the declarative update-mode agg (w01) and flatMapGroupsWithState):
    * the API a production pipeline reaches for when state needs TTLs,
    * multiple typed handles, or timers that fMGWS cannot express. Two
    * replayed micro-batches exercise ValueState save/restore across
    * batches on the MANDATORY RocksDB backend (transformWithState
    * requires it). Totals are monotone, so max-per-word over the
    * update-mode emissions is the final state, and the oracle is the
    * same batch wordcount as w01 (q14). */
  private def w12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = stagedStream(spark,
      Tables.documents(spark, dir).select(col("text")), files = 2)
    val tokens = stream
      .select(explode(split(col("text"), "\\W+")).as("word"),
              lit(1L).as("cnt"))
      .where(length(col("word")) > 0)
      .as[(String, Long)]
    val counts = tokens.groupByKey(_._1)
      .transformWithState(new RunningCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("word", "cnt")
    val emitted = withRocksDb(spark) {
      runComplete(spark, counts, "w12_", mode = "update")
    }
    emitted.groupBy(col("word")).agg(max(col("cnt")).as("cnt"))
  }

  /** w13 — watermarked stream-stream LEFT OUTER interval join: the
    * missing join mode after w08 (inner, unwatermarked) and w10 (inner,
    * watermarked). Outer-ness is pure eviction semantics: an unmatched
    * left row emits its null-padded result exactly when its state is
    * evicted — the watermark proves no admissible right row can ever
    * match it (e_ts must land in [p_ts, p_ts+1h) but admitted errors
    * have e_ts above the watermark that evicted the purchase). Planted,
    * each ≥ 50 min from any admission/eviction edge:
    *  - p100: partner-less mid-stream → null row emitted at batch-2
    *    eviction (wm(1)); its only candidate e130 arrives batch 3 BELOW
    *    the late-events watermark and is dropped — the null is final,
    *    late partners cannot retract it;
    *  - p293: partner-less at drain → null row from the trailing
    *    no-data batch's eviction at wm(3) — outer rows do not need a
    *    data batch to flush;
    *  - p700/p995: windows still open vs wm(3)=22:50 at drain → NO
    *    emission (outer rows wait for the watermark; query stop drops
    *    open state rather than fabricating nulls);
    *  - matched rows (five inner pairs incl. cross-batch state hits and
    *    the late-but-admissible e150) evict silently — matched state
    *    never null-pads. Right-side unmatched rows emit nothing (left
    *    outer). The oracle reconstructs the same watermark machine as
    *    w10Sql plus the final-watermark null set. */
  private def w13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // (batch, ts, user, id)
    val pRows = Seq(
      (1, "2024-01-01 00:00:00", 1L, 100L), // unmatched → null row (batch-2 eviction)
      (1, "2024-01-01 09:58:00", 5L, 105L), // matched by late-admissible e150
      (1, "2024-01-01 10:00:00", 91L, 191L), // clock; matched from batch-2 e911
      (2, "2024-01-01 19:30:00", 2L, 200L), // matched twice (e220 same batch, e230 next)
      (2, "2024-01-01 20:00:00", 93L, 293L), // clock; unmatched → null row at drain
      (3, "2024-01-01 19:55:00", 4L, 400L), // matches buffered e410 from batch-2 state
      (3, "2024-01-01 22:40:00", 7L, 700L), // window open at drain → NO emission
      (3, "2024-01-01 23:00:00", 95L, 995L)) // clock; window open → NO emission
    val eRows = Seq(
      (1, "2024-01-01 00:15:00", 3L, 310L), // right-side unmatched → nothing
      (1, "2024-01-01 10:00:00", 92L, 910L), // clock
      (2, "2024-01-01 10:20:00", 91L, 911L), // matches p191 from batch-1 state
      (2, "2024-01-01 19:45:00", 2L, 220L), // matches p200 same batch
      (2, "2024-01-01 19:58:00", 4L, 410L), // buffered; matched by batch-3 p400
      (2, "2024-01-01 20:00:00", 94L, 940L), // clock
      (3, "2024-01-01 00:30:00", 1L, 130L), // LATE (< wm(1)=9:50) → dropped; p100 stays null
      (3, "2024-01-01 10:05:00", 5L, 150L), // late vs wm(2), on time vs wm(1) → matches p105
      (3, "2024-01-01 20:05:00", 2L, 230L), // matches p200 state
      (3, "2024-01-01 23:00:00", 96L, 960L)) // clock → wm(3) = 22:50
    val pDir = graft.util.Scratch.shmDir("graft-w13-p")
    val eDir = graft.util.Scratch.shmDir("graft-w13-e")
    (1 to 3).foreach { b =>
      pRows.filter(_._1 == b).map { case (_, s, u, i) => (t(s), u, i) }
        .toDF("p_ts", "p_user", "p_id")
        .coalesce(1).write.mode("append").parquet(pDir)
      stampBatch(pDir, b)
      eRows.filter(_._1 == b).map { case (_, s, u, i) => (t(s), u, i) }
        .toDF("e_ts", "e_user", "e_id")
        .coalesce(1).write.mode("append").parquet(eDir)
      stampBatch(eDir, b)
    }
    def read(d: String, schema: StructType) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val p = read(pDir, new StructType().add("p_ts", TimestampType)
        .add("p_user", LongType).add("p_id", LongType))
      .withWatermark("p_ts", "10 minutes")
    val e = read(eDir, new StructType().add("e_ts", TimestampType)
        .add("e_user", LongType).add("e_id", LongType))
      .withWatermark("e_ts", "10 minutes")
    val joined = p.join(e,
      col("p_user") === col("e_user") &&
      col("e_ts") >= col("p_ts") &&
      col("e_ts") < col("p_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("p_id"), col("e_id"), col("p_user").as("user_id"))
    runComplete(spark, joined, "w13_", mode = "append")
  }

  /** w10Sql's watermark machine + the outer null set: an admitted
    * purchase null-pads iff no admitted error matches it AND its match
    * window closed under the FINAL watermark wm(3) — purchases whose
    * window is still open at drain emit nothing */
  private val w13Sql =
    """WITH p AS (SELECT * FROM (VALUES
      |    (1, TIMESTAMP '2024-01-01 00:00:00', 1, 100),
      |    (1, TIMESTAMP '2024-01-01 09:58:00', 5, 105),
      |    (1, TIMESTAMP '2024-01-01 10:00:00', 91, 191),
      |    (2, TIMESTAMP '2024-01-01 19:30:00', 2, 200),
      |    (2, TIMESTAMP '2024-01-01 20:00:00', 93, 293),
      |    (3, TIMESTAMP '2024-01-01 19:55:00', 4, 400),
      |    (3, TIMESTAMP '2024-01-01 22:40:00', 7, 700),
      |    (3, TIMESTAMP '2024-01-01 23:00:00', 95, 995))
      |  t(b, p_ts, p_user, p_id)),
      |e AS (SELECT * FROM (VALUES
      |    (1, TIMESTAMP '2024-01-01 00:15:00', 3, 310),
      |    (1, TIMESTAMP '2024-01-01 10:00:00', 92, 910),
      |    (2, TIMESTAMP '2024-01-01 10:20:00', 91, 911),
      |    (2, TIMESTAMP '2024-01-01 19:45:00', 2, 220),
      |    (2, TIMESTAMP '2024-01-01 19:58:00', 4, 410),
      |    (2, TIMESTAMP '2024-01-01 20:00:00', 94, 940),
      |    (3, TIMESTAMP '2024-01-01 00:30:00', 1, 130),
      |    (3, TIMESTAMP '2024-01-01 10:05:00', 5, 150),
      |    (3, TIMESTAMP '2024-01-01 20:05:00', 2, 230),
      |    (3, TIMESTAMP '2024-01-01 23:00:00', 96, 960))
      |  t(b, e_ts, e_user, e_id)),
      |wm AS (SELECT k,
      |    LEAST((SELECT max(p_ts) FROM p WHERE b <= k),
      |          (SELECT max(e_ts) FROM e WHERE b <= k))
      |      - INTERVAL 10 MINUTE AS w
      |  FROM (VALUES (1), (2), (3)) kk(k)),
      |pk AS (SELECT * FROM p
      |  WHERE b <= 2 OR p_ts >= (SELECT w FROM wm WHERE k = b - 2)),
      |ek AS (SELECT * FROM e
      |  WHERE b <= 2 OR e_ts >= (SELECT w FROM wm WHERE k = b - 2)),
      |matched AS (SELECT p_id, e_id, p_user AS user_id
      |  FROM pk JOIN ek ON p_user = e_user
      |   AND e_ts >= p_ts AND e_ts < p_ts + INTERVAL 1 HOUR)
      |SELECT p_id, e_id, user_id FROM matched
      |UNION ALL
      |SELECT p_id, CAST(NULL AS BIGINT) AS e_id, p_user AS user_id
      |FROM pk
      |WHERE p_ts + INTERVAL 1 HOUR <= (SELECT w FROM wm WHERE k = 3)
      |  AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.p_id = pk.p_id)""".stripMargin

  /** w14 — STREAMING decontamination: the d08 eval-hygiene step as an
    * ingestion-time filter — the shape a production pipeline actually
    * wants (scan each incoming crawl batch once, at arrival, against a
    * standing benchmark index, instead of re-running batch decon over
    * the accumulated corpus). The benchmark's distinct 8-gram set comes
    * from the STATIC corpus and broadcasts; incoming documents replay
    * as 2 micro-batches, shingle INSIDE the stream (narrow flatMap),
    * meet the grams through a stateless stream-static broadcast join,
    * and fold to per-doc hit counts in the streaming aggregation state.
    * Drained result ≡ batch d08 (same oracle SQL verbatim).
    *
    * 100 TB shape: per-batch cost is the batch's own gram volume —
    * nothing re-scans the standing corpus; the only state is one count
    * per CONTAMINATED doc (the join drops clean docs before the
    * aggregation). */
  private def w14(spark: SparkSession, dir: String): DataFrame = {
    val bench = Dedup.deconBenchGrams(spark, dir)
    val incoming = stagedStream(spark,
      Tables.documents(spark, dir)
        .where(col("doc_id") >= Dedup.BENCH_DOCS)
        .select(col("doc_id"), col("text")), files = 2)
    val hits = Dedup.deconGrams(incoming)
      .join(broadcast(bench), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    runComplete(spark, hits, "w14_")
  }

  /** w15 — STREAMING SCD2 maintenance: x16's daily apply run
    * continuously — the change stream replays as micro-batches and a
    * per-key state machine (`flatMapGroupsWithState`) maintains the
    * type-2 history incrementally. State per key = its own change list
    * (the same per-key bound x13's window and a warehouse MERGE both
    * carry); on every batch that touches a key, the machine folds the
    * new changes in (ts, event_id) order and re-emits the key's
    * corrected intervals in UPDATE mode.
    *
    * Batch-split insensitive BY CONSTRUCTION: the staged replay
    * partitions rows arbitrarily, so changes can arrive out of ts
    * order across batches — each arrival re-derives the key's
    * intervals from full state, and since inserting a change only ever
    * TIGHTENS earlier rows' valid_to (never reopens one), the drained
    * fold `min(valid_to)` per event is the history's fixpoint however
    * the input was sliced. Drained result ≡ the batch x13 derivation
    * (same oracle SQL verbatim), which a spec also pins.
    *
    * 100 TB shape: per-batch cost is the batch's own keys — the
    * standing history never re-scans (it IS the state store, RocksDB
    * in production); emission volume per batch = touched keys' own
    * histories. This is the ingestion-time shape; x16 is the same op
    * as a daily batch merge. */
  private def w15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // 2 replay batches, not 3 (round 19, VERDICT #1a): the fold proof
    // above makes the drained history slicing-INDEPENDENT (each arrival
    // re-derives the key's intervals from full state; valid_to only
    // tightens), so cross-batch state restore is exercised identically
    // by 2 batches while one whole micro-batch's planning + 8-way
    // state-commit round drops out. Oracle hash unchanged (verified).
    val stream = stagedStream(spark,
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts")), files = 2)
    val changes = stream
      .as[(Long, Long, String, Double, java.time.LocalDateTime)]
    // state/change tuple: (event_id, event_type, value, ts)
    val history = changes.groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (key: Long,
         rows: Iterator[(Long, Long, String, Double, java.time.LocalDateTime)],
         state: org.apache.spark.sql.streaming.GroupState[
           Seq[(Long, String, Double, java.time.LocalDateTime)]]) => {
          val prior = state.getOption.getOrElse(Seq.empty)
          val all = (prior ++ rows.map(r => (r._2, r._3, r._4, r._5)))
            .sortBy(c => (c._4, c._1))(
              Ordering.Tuple2(Ordering.fromLessThan[java.time.LocalDateTime](
                _.isBefore(_)), Ordering.Long))
          state.update(all)
          all.iterator.zipWithIndex.map { case (c, i) =>
            (key, c._1, c._2, c._3, c._4,
              if (i + 1 < all.length) Some(all(i + 1)._4) else None)
          }
        })
      .toDF("user_id", "event_id", "event_type", "value",
        "valid_from", "valid_to")
    runComplete(spark, history.toDF(), "w15_", mode = "update")
      // valid_to only tightens as state accumulates, so the min
      // non-null emission per event IS the final interval (null = the
      // event was always the key's open row)
      .groupBy(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("valid_from"))
      .agg(min(col("valid_to")).as("valid_to"))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0))
  }

  /** w16 — STREAMING KMV distinct sketch: x15's k-minimum-values
    * estimator maintained continuously — the live distinct-count
    * dashboard shape, where HLL/KMV sketches actually earn their keep.
    * The change stream replays as micro-batches; a per-group state
    * machine holds ONLY the k smallest key hashes (the whole point:
    * state is 64 longs per group FOREVER, however many billions of
    * rows pass), folds each batch's hashes in, and re-emits the
    * group's running estimate.
    *
    * Batch-split insensitive BY CONSTRUCTION: the k smallest of a
    * union is independent of how the union was sliced, so the drained
    * final state — picked per group by an update-sequence column the
    * state machine stamps — equals the batch sketch over the same
    * rows, whatever the replay order. While the buffer is not yet
    * full it holds EVERY distinct hash seen, so "estimate = buffer
    * size" in that regime is the same exact-count fallback x15's
    * COALESCE takes; both regimes mirror the oracle exactly.
    *
    * 100 TB shape: per-batch cost is the batch's own rows (a narrow
    * hash + the grouped fold); emission is one row per touched group;
    * nothing ever re-scans. The estimate arithmetic replicates x15's
    * bit-for-bit ((k−1)·2^32 / h_k, IEEE double, half-up round) so
    * the streamed number is the batch number, not an approximation of
    * an approximation. */
  private def w16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // 2 replay batches, not 3 (round 19, VERDICT #1a): the k-min of a
    // union is independent of how the union was sliced (the class doc's
    // proof), so 2 batches exercise the same cross-batch fold at one
    // micro-batch less. Oracle hash unchanged (verified).
    val stream = stagedStream(spark,
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("flag"),
                ScaleOps.kmvHash(col("l_orderkey")).as("hv")),
      files = 2)
    val perGroup = stream.as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (flag: String, rows: Iterator[(String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Vector[Long])]) => {
          val (seq, prior) = state.getOption.getOrElse((0L, Vector.empty[Long]))
          // k-min of the union: merge, dedup, keep the K smallest
          val merged = (prior ++ rows.map(_._2))
            .distinct.sorted.take(ScaleOps.KMV_K)
          state.update((seq + 1, merged))
          val est =
            if (merged.length >= ScaleOps.KMV_K)
              math.round((ScaleOps.KMV_K - 1).toDouble * ScaleOps.KMV_MOD /
                merged.last.toDouble)
            else merged.length.toLong
          Iterator.single((flag, seq + 1, est))
        })
      .toDF("flag", "upd_seq", "kmv_estimate")
    runComplete(spark, perGroup, "w16_", mode = "update")
      // final state per group = the emission with the highest sequence
      .groupBy(col("flag"))
      .agg(max_by(col("kmv_estimate"), col("upd_seq")).as("kmv_estimate"))
  }

  /** x15's sketch estimate alone (the streaming op carries no exact
    * count beside it — tracking one would need unbounded state, which
    * is what the sketch exists to avoid) */
  private val w16Sql =
    s"""WITH h AS (
       |  SELECT DISTINCT l_returnflag AS flag,
       |    ${ScaleOps.kmvHashSql("l_orderkey")} AS hv
       |  FROM lineitem),
       |r AS (
       |  SELECT flag, hv,
       |    ROW_NUMBER() OVER (PARTITION BY flag ORDER BY hv) AS rn,
       |    COUNT(*) OVER (PARTITION BY flag) AS nd
       |  FROM h)
       |SELECT flag,
       |  CAST(COALESCE(
       |    CAST(round((${ScaleOps.KMV_K - 1}.0 * ${ScaleOps.KMV_MOD}) /
       |      MAX(CASE WHEN rn = ${ScaleOps.KMV_K} THEN hv END)) AS BIGINT),
       |    MAX(nd)) AS BIGINT) AS kmv_estimate
       |FROM r GROUP BY flag""".stripMargin

  /** w17 — STREAMING as-of enrichment: x21 run continuously — the
    * production shape where an event stream is enriched, at arrival,
    * against a time-versioned dimension (each error matched to the
    * user's latest purchase at-or-before it). The dimension is a
    * STANDING table (cached once, like a warehouse dimension snapshot);
    * each micro-batch runs the NATIVE as-of operator (plans.AsOf, the
    * custom LogicalPlan/Strategy/Exec route) against it inside
    * foreachBatch — the stream-static enrichment pattern, with the
    * operator the composed window formulation can't stream (a running
    * last_value over a union needs the whole history per key; the
    * per-batch as-of needs only the batch).
    *
    * Batch-split insensitive BY CONSTRUCTION: an as-of match depends
    * only on the left row itself and the static dimension, so any
    * slicing of the error stream yields the same enriched union —
    * Round9OpsSpec pins drained ≡ batch x21, and the oracle SQL is
    * x21's verbatim.
    *
    * 100 TB shape: per-batch cost is the batch's own rows exchanged
    * against the dimension (the dimension side is cached and
    * re-partitions once per batch — at production scale it would be
    * bucketed to make that exchange one-sided); no streaming state at
    * all, so there is nothing to bound or time out. */
  private def w17(spark: SparkSession, dir: String): DataFrame = {
    val errors = Tables.events(spark, dir)
      .where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user_id"),
              col("ts").as("purchase_ts"))
      .cache()
    val out = s"${graft.util.Scratch.dir("graft-w17")}/enriched"
    val stream = stagedStream(spark, errors, files = 3)
    val query = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.plans.AsOf.join(batch, purchases,
            leftKey = "user_id", rightKey = "p_user_id",
            leftTs = "ts", rightTs = "purchase_ts",
            rightTie = "purchase_id")
          .select(col("event_id"), col("user_id"), col("ts"),
                  col("purchase_id"), col("purchase_ts"))
          .write.mode("append").parquet(out)
        ()
      }
      .option("checkpointLocation",
        graft.util.Scratch.shmDir("graft-w17-ckpt"))
      .start()
    try query.processAllAvailable() finally query.stop()
    purchases.unpersist()
    spark.read.parquet(out)
  }

  /** The w18 commit protocol, factored out so the idempotency contract
    * is directly testable: commit batch `batchId`'s rows as immutable
    * files under the batch's own deterministic directory, then append
    * manifest version `batchId` listing the CUMULATIVE file set. A
    * replayed already-committed batch (Spark re-delivers the last batch
    * after a failure between the sink commit and the checkpoint write —
    * the exact window exactly-once sinks exist for) is detected by its
    * version row and skipped entirely — the transaction-log pattern of
    * Delta's streaming sink, on the x18-style manifest. */
  private[graft] def w18Commit(root: String, b: DataFrame,
                               batchId: Long): Unit = {
    val spark = b.sparkSession
    val mpath = s"$root/manifest"
    if (new java.io.File(mpath).exists &&
        !spark.read.parquet(mpath)
          .where(col("version") === batchId).isEmpty) return
    b.write.mode("overwrite").parquet(s"$root/batch=$batchId")
    val files = (0L to batchId).flatMap { v =>
      val d = new java.io.File(s"$root/batch=$v")
      if (!d.exists) Seq.empty
      else d.listFiles.toSeq.map(_.getName)
        .filter(_.startsWith("part-")).sorted.map(n => s"$root/batch=$v/$n")
    }
    import spark.implicits._
    files.map((batchId, _)).toDF("version", "file")
      .coalesce(1).write.mode("append").parquet(mpath)
  }

  /** w17's sibling on the WRITE side — STREAMING INGESTION into the
    * table format (the Delta/Iceberg streaming-sink shape, over the
    * x17-x26 manifest layout): each micro-batch lands as immutable
    * files plus a versioned manifest commit, exactly-once by batch-id
    * idempotency (w18Commit). The gated query drains the replay and
    * reads AS OF the latest committed version; oracle = the plain
    * batch aggregate over the full input — however the stream was
    * sliced, the committed table IS the input. Every intermediate
    * version remains time-travel-readable (x18's isolation, acquired
    * continuously), which Round9OpsSpec pins along with the
    * replayed-batch no-op.
    *
    * 100 TB shape: per-batch cost is the batch's own rows + one
    * metadata append; the manifest read in the idempotency check is
    * versions-scale, not data-scale. Compaction of the accumulated
    * small files is exactly x19, and retention of superseded versions
    * exactly x26 — the ops compose into the full lakehouse ingestion
    * loop. */
  private def w18(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.dir("graft-w18")
    val input = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice").cast(DecimalType(18, 2)).as("o_price"))
    val stream = stagedStream(spark, input, files = 3)
    val query = stream.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        w18Commit(root, b, batchId)
        ()
      }
      .option("checkpointLocation",
        graft.util.Scratch.shmDir("graft-w18-ckpt"))
      .start()
    try query.processAllAvailable() finally query.stop()
    val mf = spark.read.parquet(s"$root/manifest")
    val latest = mf.agg(max(col("version"))).head.getLong(0)
    val files = mf.where(col("version") === latest)
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted
    spark.read.parquet(files: _*)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("o_price")).cast(DoubleType).as("sum_price"))
  }

  private val w18Sql =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders GROUP BY 1""".stripMargin

  /** w18's protocol behind the PUBLIC handle (round-9 verdict #7):
    * `GraftTable.streamAppend` is the exactly-once streaming sink —
    * each micro-batch stages immutable files (with their key stats)
    * and commits a manifest version carrying the batch id as a `txn`
    * marker; a replayed batch is detected in the manifests and
    * skipped, with the check re-run inside the CAS loop so even racing
    * deliveries commit once (GraftTableSpec pins the replay no-op).
    * With this the full lakehouse loop — ingest → merge/delete →
    * compact → expire — runs against ONE handle; oracle = the plain
    * batch aggregate (however the stream was sliced, the committed
    * table IS the input). */
  private def w19(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.dir("graft-w19")
    val t = graft.table.GraftTable.open(spark, root, "o_orderkey")
    val input = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice").cast(DecimalType(18, 2)).as("o_price"))
    val stream = stagedStream(spark, input, files = 3)
    val query = stream.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        t.streamAppend(b, batchId)
        ()
      }
      .option("checkpointLocation",
        graft.util.Scratch.shmDir("graft-w19-ckpt"))
      .start()
    try query.processAllAvailable() finally query.stop()
    t.read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("o_price")).cast(DoubleType).as("sum_price"))
  }

  /** exactly-once STREAMING MERGE — the upsert side of w19 (Delta's
    * merge-in-foreachBatch pattern, which is NOT replay-safe as
    * usually written: a batch re-delivered after a failure between
    * sink commit and checkpoint write would double-apply its upserts'
    * side effects on a non-idempotent target; here it cannot, because
    * `GraftTable.merge(b, txn = batchId)` records the batch id as a
    * manifest txn marker and skips an already-committed id, with the
    * check re-run inside the commit CAS loop). Update keys are unique
    * within the delta, so each lands in exactly one micro-batch and
    * the drained table is batch-slicing-independent — oracle = the
    * one-shot relational upsert. With w18/w19 (append), this (upsert)
    * and x33/x34 (consume), the streaming lakehouse loop is closed in
    * both directions through one handle. */
  private def w20(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.dir("graft-w20")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice").cast(DecimalType(18, 2)).as("o_price"))
    val mx = o.agg(max(col("o_orderkey"))).head.getLong(0)
    val t = graft.table.GraftTable.create(spark, root, "o_orderkey",
      o.repartitionByRange(12, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
    val upd = o
      .where(col("o_orderkey") % 37 === 0 && col("o_orderkey") <= mx / 4)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
              (col("o_price") * 2).cast(DecimalType(18, 2)).as("o_price"))
    val stream = stagedStream(spark, upd, files = 3)
    val query = stream.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        t.merge(b, txn = batchId)
        ()
      }
      .option("checkpointLocation",
        graft.util.Scratch.shmDir("graft-w20-ckpt"))
      .start()
    try query.processAllAvailable() finally query.stop()
    t.read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("o_price")).cast(DoubleType).as("sum_price"))
  }

  /** streaming CDC REPLICATION — the READ side of the change-feed loop
    * (Delta CDF's streaming consumption shape, where stream offsets
    * ARE table versions): a mirror table follows the source through
    * the NATIVE `graft-cdf` DSv2 micro-batch source
    * ([[graft.sources.GraftCdfSourceProvider]]) — each micro-batch is
    * a version window's NET feed, applied with `applyChanges(batch,
    * txn = batchId)` — inserts/updates as upserts, deletes as
    * removals, ONE commit per window, idempotent by the txn marker, so
    * a re-delivered batch cannot double-apply (exactly-once
    * replication without distributed transactions — the txn check
    * re-runs inside the commit CAS loop), and a restarted consumer
    * resumes from its own checkpointed VERSION offset with no
    * side-channel coordination (GraftCdfSourceSpec pins the
    * stop/restart contract). The source is w21's own standing mutated
    * table (x33's exact build — v2 merge, v3 MoR delete — at a private
    * root, because a head-following consumer cannot share a table
    * x36's RESTORE mutates); the drained mirror must equal the source
    * head, which is x34's final-state oracle.
    *
    * 100 TB shape: per-version cost is the version's own change volume
    * (the feed reads changed files + new DV targets only) plus a
    * stats-pruned apply that rewrites only files holding affected
    * keys — the mirror never rescans, the source is never re-read
    * beyond its changes. This is the cross-region replica / dev-fork
    * sync pattern every lakehouse deployment runs. */
  /** w21's PRIVATE standing source table (same build as x33Stage,
    * separate root): the graft-cdf source follows the table's HEAD, so
    * sharing x33's table would let x36's RESTORE (head → v4 ≡ v1)
    * silently empty the net feed. Bench pre-stages it untimed. */
  private val w21Staged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def w21Stage(spark: SparkSession, dir: String): String =
    w21Staged.computeIfAbsent(dir, _ =>
      ScaleOps.x33Build(spark, dir, "graft-w21-src"))

  private def w21(spark: SparkSession, dir: String): DataFrame = {
    val srcRoot = w21Stage(spark, dir)
    val src = graft.table.GraftTable.open(spark, srcRoot, "o_orderkey")
    val mirror = graft.table.GraftTable.create(spark,
      graft.util.Scratch.dir("graft-w21"), "o_orderkey", src.read(1))
    // the round-12 shape: offsets ARE table versions — the mirror
    // resumes from its own checkpoint, no side-channel version list
    val stream = spark.readStream.format("graft-cdf")
      .option("path", srcRoot)
      .option("keyCol", "o_orderkey")
      .option("startingVersion", "1")
      .load()
    val query = stream.writeStream
      .option("checkpointLocation", graft.util.Scratch.shmDir("graft-w21-ckpt"))
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        mirror.applyChanges(b, txn = batchId)
        ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
    mirror.read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("o_price")).cast(DoubleType).as("sum_price"))
  }

  /** w19 with the Scala lambda GONE — the registered `graft` format is
    * now a declarative streaming SINK, so ingest is pure configuration:
    * `stream.writeStream.format("graft").option("path", ...)` and the
    * batch read-back is `spark.read.format("graft")` — no handle, no
    * foreachBatch, the exact shape `writeStream.format("delta")` gives
    * Delta users. Exactly-once comes from the same streamAppend txn
    * protocol (the sink passes each micro-batch's id as the
    * idempotency token; GraftStreamSinkSpec pins the replay no-op and
    * the kill/restart resume). Oracle: the plain batch aggregate —
    * however the stream was sliced, the committed table IS the input. */
  private def w22(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.dir("graft-w22")
    val input = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice").cast(DecimalType(18, 2)).as("o_price"))
    val query = stagedStream(spark, input, files = 3)
      .writeStream.format("graft")
      .option("path", root).option("keyCol", "o_orderkey")
      .option("checkpointLocation", graft.util.Scratch.shmDir("graft-w22-ckpt"))
      .start()
    try query.processAllAvailable() finally query.stop()
    spark.read.format("graft")
      .option("path", root).option("keyCol", "o_orderkey").load()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("o_price")).cast(DoubleType).as("sum_price"))
  }

  /** w22's declarative streaming sink through the CATALOG front door
    * (round 16, closing the contract `readStream.table` half-opened:
    * a catalog whose tables stream OUT must stream IN):
    * `df.writeStream.format("graft").toTable("gcat.t")` — no path,
    * no keyCol, no handle (Spark's V1-fallback route requires the
    * format to name the table's provider; location and key resolve
    * from the catalog). Spark routes the V2 table through its V1 fallback
    * (GraftSqlTable.v1Table, the Delta integration shape) onto the
    * registered `graft` sink, so every micro-batch is the SAME
    * exactly-once `streamAppend` txn commit w18/w19/w22 gate — batch
    * id as idempotency token, replay detected inside the commit CAS
    * loop — and the key column resolves from the manifest's key
    * stamp (no option needed). Oracle: the plain batch
    * aggregate — however the stream was sliced, the committed table
    * IS the input; the batch read goes through the same catalog. */
  private def w26(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft_w26",
      classOf[graft.sources.GraftCatalog].getName)
    if (spark.conf.getOption("spark.sql.catalog.graft_w26.warehouse")
          .isEmpty)
      spark.conf.set("spark.sql.catalog.graft_w26.warehouse",
        graft.util.Scratch.dir("graft-w26-wh"))
    spark.sql("DROP TABLE IF EXISTS graft_w26.ord")
    spark.sql("CREATE TABLE graft_w26.ord (o_orderkey BIGINT, " +
      "o_orderstatus STRING, o_price DECIMAL(18,2)) " +
      "TBLPROPERTIES ('key' = 'o_orderkey')")
    val input = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice").cast(DecimalType(18, 2)).as("o_price"))
    val query = stagedStream(spark, input, files = 3)
      .writeStream.format("graft")
      .option("checkpointLocation", graft.util.Scratch.shmDir("graft-w26-ckpt"))
      .toTable("graft_w26.ord")
    try query.processAllAvailable() finally query.stop()
    spark.table("graft_w26.ord")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("o_price")).cast(DoubleType).as("sum_price"))
  }

  /** per-status signed-delta fold: ValueState (n, cents, seq) — `n`
    * and `cents` are the standing COUNT/SUM the feed maintains
    * (+1/+cents for insert/update_postimage rows, −1/−cents for
    * delete/update_preimage — SUM and COUNT are abelian-group
    * aggregates, so subtract-pre + add-post is EXACT); `seq` counts
    * this key's updates so the drain can pick each key's FINAL state
    * from the update-mode emissions with one max_by. */
  private class SignedAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long), (String, Long, Long, Long)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[
      (Long, Long, Long)] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("agg",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[(String, Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Long, Long)] = {
      var (n, c, seq) = if (st.exists()) st.get() else (0L, 0L, 0L)
      rows.foreach { r => n += r._2; c += r._2 * r._3 }
      seq += 1
      st.update((n, c, seq))
      Iterator.single((key, n, c, seq))
    }
  }

  /** w23 — STREAMING STANDING-AGGREGATE MAINTENANCE through the native
    * feed (round-13 verdict #4): x34's exact pre/post-image refresh
    * run CONTINUOUSLY. `readStream.format("graft-cdf")` with
    * `preimages = true` (Delta CDF's update_preimage/update_postimage
    * split) feeds `transformWithState`, which folds each row's signed
    * contribution into per-status ValueState — `startingVersion = 0`
    * bootstraps the state from the v1 snapshot (the initial-snapshot
    * window, all inserts), then `maxVersionsPerBatch = 1` delivers the
    * merge and the MoR delete as separate micro-batches, so the fold
    * crosses batch boundaries through checkpointed state. The drained
    * final state must equal the flat recompute of the head (x34's
    * oracle); GraftCdfSourceSpec pins the restart half — a resumed
    * stream continues from its checkpointed version offset and cannot
    * double-apply a window.
    *
    * 100 TB shape: the dashboard that never rescans — per-trigger cost
    * is one version's change volume + state the size of the GROUP BY
    * key space; the base table is read once, at bootstrap (and a
    * production bootstrap of a pre-existing aggregate would seed state
    * via transformWithState's initial-state overload instead). */
  private def w23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val srcRoot = w21Stage(spark, dir) // read-only follower: shareable
    val stream = spark.readStream.format("graft-cdf")
      .option("path", srcRoot)
      .option("keyCol", "o_orderkey")
      .option("startingVersion", "0")
      .option("maxVersionsPerBatch", "1")
      .option("preimages", "true")
      .load()
    val signed = stream.select(
        col("o_orderstatus"),
        when(col("change_type").isin("insert", "update_postimage"), lit(1L))
          .otherwise(lit(-1L)).as("sign"),
        // exact cents: o_price is DECIMAL(18,2), ×100 is integral
        (col("o_price") * 100).cast("long").as("cents"))
      .as[(String, Long, Long)]
    val folded = signed.groupByKey(_._1)
      .transformWithState(new SignedAggProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("o_orderstatus", "n", "cents", "seq")
    val emitted = withRocksDb(spark) {
      runComplete(spark, folded, "w23_", mode = "update")
    }
    // each key's FINAL state is its max-seq emission; exact cents
    // reconstruct the decimal sum, double-cast only at the edge
    emitted.groupBy(col("o_orderstatus"))
      .agg(max_by(struct(col("n"), col("cents")), col("seq")).as("f"))
      .select(col("o_orderstatus"),
        col("f.n").as("n_rows"),
        (col("f.cents").cast(DecimalType(20, 0)) / 100)
          .cast(DecimalType(18, 2)).cast(DoubleType).as("sum_price"))
      .where(col("n_rows") > 0)
  }

  /** w24 — STREAMING HEAVY HITTERS: the Misra–Gries frequent-items
    * summary (the other classic bounded-state streaming sketch beside
    * w16's KMV) maintained continuously over the word stream — "which
    * terms dominate the feed right now" with state capped at
    * [[MG_CAPACITY]] counters per shard FOREVER, however many billions
    * of tokens pass. Sharded by word hash across [[MG_SHARDS]] state
    * groups (each word lives in exactly one shard, so shard summaries
    * union losslessly and the state machine parallelizes like any
    * keyed aggregation); the final answer is the global top
    * [[MG_TOP]] by tracked count.
    *
    * EXACTNESS REGIME (what makes the oracle a hash-match and the
    * emission batch-split-insensitive): while a shard tracks fewer
    * than MG_CAPACITY distinct words, Misra–Gries never decrements —
    * every tracked count is the exact count and the fold is a plain
    * sum, independent of batch slicing. The documents fixture has ~31
    * distinct words, far under 64×8, so the gated query runs in that
    * regime and must reproduce the exact batch top-k. At production
    * vocabulary the SAME operator degrades gracefully to the classic
    * guarantee instead (count underestimates by at most
    * stream_len/CAPACITY per shard; every true heavy hitter above
    * that threshold stays tracked) — the knob is capacity, not the
    * operator. */
  private val MG_CAPACITY = 64
  private val MG_SHARDS = 8
  private val MG_TOP = 10

  private def w24(spark: SparkSession, dir: String): DataFrame =
    // global top-k over the union of shard summaries — ≤ shards ×
    // capacity rows BY CONSTRUCTION (the sketch's whole point), so one
    // bounded sort_array fold ranks them without an unpartitioned
    // window (negated count makes the ascending struct order
    // n desc, word asc)
    w24Probe(spark, dir, MG_CAPACITY, MG_SHARDS)
      .select(struct((-col("n")).as("negn"), col("word"),
        col("n")).as("s"))
      .agg(sort_array(collect_list(col("s"))).as("all"))
      .select(posexplode(slice(col("all"), 1, MG_TOP)))
      .select(col("col.word").as("word"), (col("pos") + 1).as("rnk"),
              col("col.n").as("n_occurrences"))

  /** the sketch with tunable capacity/shards (the probe knob, s04Probe
    * style): returns every shard's FINAL tracked (shard, word, n) —
    * the gated w24 takes the global top-k; HeavyHittersSpec runs a
    * starved capacity to pin the degraded regime's invariants */
  private[graft] def w24Probe(spark: SparkSession, dir: String,
                              capacity: Int, shards: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val stream = stagedStream(spark,
      Tables.documents(spark, dir).select(col("text")), files = 3)
    val sentences = stream
      .select(lit(-1L).as("ts"), col("text").as("sentence"),
              lit(0).as("sourceId")).as[Sentence]
    val words = WordCountPipeline.tokenize(sentences)
      .select(pmod(hash(col("word")), lit(shards)).as("shard"),
              col("word"))
      .as[(Int, String)]
    val perShard = words.groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (shard: Int, rows: Iterator[(Int, String)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Map[String, Long])]) => {
          val (seq, prior) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          // Misra–Gries fold: tracked → +1; room → track at 1; full →
          // decrement every counter, dropping zeros (never taken in
          // the exact regime — see the class doc)
          var counters = prior
          rows.foreach { case (_, w) =>
            counters.get(w) match {
              case Some(n) => counters = counters.updated(w, n + 1)
              case None if counters.size < capacity =>
                counters = counters.updated(w, 1L)
              case None =>
                counters = counters.iterator
                  .map { case (k, n) => k -> (n - 1) }
                  .filter(_._2 > 0).toMap
            }
          }
          state.update((seq + 1, counters))
          // emit the shard's whole (bounded) summary, stamped with the
          // update sequence so the drain picks each shard's FINAL one
          counters.iterator.map { case (w, n) => (shard, seq + 1, w, n) }
        })
      .toDF("shard", "upd_seq", "word", "n")
    val emitted = runComplete(spark, perShard, "w24_", mode = "update")
    // final state per shard = its max-seq emission
    emitted
      .withColumn("mx", max(col("upd_seq"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))))
      .where(col("upd_seq") === col("mx"))
      .select(col("shard"), col("word"), col("n"))
  }

  /** the exact batch top-k over q14's tokenization — valid as the
    * oracle because the fixture runs the sketch in its exact regime */
  private val w24Sql =
    s"""WITH tok AS (
       |  SELECT unnest(string_split_regex(text, '\\W+')) AS word
       |  FROM documents),
       |c AS (
       |  SELECT word, COUNT(*) AS n FROM tok
       |  WHERE length(word) > 0 GROUP BY word)
       |SELECT word, rnk, CAST(n AS BIGINT) AS n_occurrences FROM (
       |  SELECT word, n,
       |    ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rnk
       |  FROM c) t
       |WHERE rnk <= $MG_TOP""".stripMargin

  /** w25 — STREAMING QUANTILES: the Ben-Haim/Tom-Tov streaming
    * histogram (the mergeable bounded-state quantile summary — the
    * classic sketch behind Spark's own approx decision-tree splits;
    * "A Streaming Parallel Decision Tree Algorithm", JMLR 2010)
    * maintained continuously over the token-length stream — "what do
    * the stream's length quantiles look like right now" with state
    * capped at [[QS_CAPACITY]] (value, count) bins per shard FOREVER.
    * Values shard by hash (each distinct value lives in exactly one
    * shard, so shard histograms union losslessly); the final answer
    * reads the union — ≤ shards × capacity rows BY CONSTRUCTION —
    * with one bounded cumulative pass.
    *
    * EXACTNESS REGIME (same gating discipline as w24): while a shard
    * holds fewer than QS_CAPACITY distinct values, no bins ever
    * merge — the histogram IS the exact value-count map and the
    * emission is batch-split-insensitive, so the gated query (token
    * lengths: ~15 distinct values, far under 64×4) must reproduce the
    * exact discrete quantiles (smallest value whose cumulative count
    * reaches ⌈q·N⌉ — percentile_disc semantics, computed identically
    * in both engines). At production cardinality the SAME operator
    * degrades gracefully: a full shard merges its two CLOSEST bins
    * into a count-weighted centroid (the BT update), preserving total
    * count exactly and value order monotonically — the knob is
    * capacity, not the operator. QuantileSketchSpec pins the starved
    * regime's invariants (bins bounded, mass preserved, quantiles
    * monotone and in-range). */
  private val QS_CAPACITY = 64
  private val QS_SHARDS = 4
  private val QS_QUANTILES = Seq(0.25, 0.5, 0.75, 0.9)

  private def w25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = w25Probe(spark, dir, QS_CAPACITY, QS_SHARDS)
    // union the shard histograms (bounded), then one cumulative pass;
    // the summary is ≤ shards × capacity rows, so the unpartitioned
    // window is a constant-size fold, not a data-scale sort
    val merged = hist.groupBy(col("value"))
      .agg(sum(col("n")).as("n"))
    val cum = merged.select(col("value"), col("n"),
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("value"))).as("cum"),
        sum(col("n")).over().as("tot"))
    val qs = QS_QUANTILES.toDF("q")
    qs.crossJoin(cum)
      .where(col("cum") >= ceil(col("q") * col("tot")))
      .groupBy(col("q"))
      .agg(min(col("value")).cast("long").as("value"),
           max(col("tot")).as("n_total"))
  }

  /** the sketch with tunable capacity/shards (probe knob): returns
    * every shard's FINAL (value, n) bins — the gated w25 computes
    * quantiles over their union; the spec starves capacity to pin the
    * degraded (merging) regime */
  private[graft] def w25Probe(spark: SparkSession, dir: String,
                              capacity: Int, shards: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val stream = stagedStream(spark,
      Tables.documents(spark, dir).select(col("text")), files = 3)
    val sentences = stream
      .select(lit(-1L).as("ts"), col("text").as("sentence"),
              lit(0).as("sourceId")).as[Sentence]
    val lens = WordCountPipeline.tokenize(sentences)
      .select(length(col("word")).cast("double").as("v"))
      .select(pmod(hash(col("v")), lit(shards)).as("shard"), col("v"))
      .as[(Int, Double)]
    val perShard = lens.groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (shard: Int, rows: Iterator[(Int, Double)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Map[Double, Long])]) => {
          val (seq, prior) = state.getOption
            .getOrElse((0L, Map.empty[Double, Long]))
          var bins = prior
          rows.foreach { case (_, v) =>
            bins.get(v) match {
              case Some(n) => bins = bins.updated(v, n + 1)
              case None =>
                bins = bins.updated(v, 1L)
                // BT update: past capacity, fold the two CLOSEST bins
                // into their count-weighted centroid (never taken in
                // the exact regime — see the class doc)
                if (bins.size > capacity) {
                  val s = bins.toSeq.sortBy(_._1)
                  val i = s.indices.init
                    .minBy(j => s(j + 1)._1 - s(j)._1)
                  val (v1, n1) = s(i); val (v2, n2) = s(i + 1)
                  val c = (v1 * n1 + v2 * n2) / (n1 + n2)
                  // look up c in the map AFTER removing the merged
                  // bins: the centroid can round exactly onto v1/v2,
                  // and the stale lookup would double-count its mass
                  val rest = bins - v1 - v2
                  bins = rest.updated(c, rest.getOrElse(c, 0L) + n1 + n2)
                }
            }
          }
          state.update((seq + 1, bins))
          bins.iterator.map { case (v, n) => (shard, seq + 1, v, n) }
        })
      .toDF("shard", "upd_seq", "value", "n")
    val emitted = runComplete(spark, perShard, "w25_", mode = "update")
    emitted
      .withColumn("mx", max(col("upd_seq"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard"))))
      .where(col("upd_seq") === col("mx"))
      .select(col("shard"), col("value"), col("n"))
  }

  /** exact discrete quantiles over the same tokenization — valid as
    * the oracle because the fixture runs the sketch in its exact
    * regime; the ⌈q·N⌉ rule is spelled out identically in both
    * engines (never a built-in whose rounding could differ) */
  private val w25Sql =
    """WITH tok AS (
      |  SELECT length(unnest(string_split_regex(text, '\W+'))) AS len
      |  FROM documents),
      |c AS (
      |  SELECT len, COUNT(*) AS n FROM tok WHERE len > 0 GROUP BY len),
      |cum AS (
      |  SELECT len, SUM(n) OVER (ORDER BY len) AS cum,
      |    (SELECT SUM(n) FROM c) AS tot FROM c)
      |SELECT CAST(q AS DOUBLE) AS q, CAST(MIN(len) AS BIGINT) AS value,
      |  CAST(MAX(tot) AS BIGINT) AS n_total
      |FROM (VALUES (0.25), (0.5), (0.75), (0.9)) qs(q), cum
      |WHERE cum >= CEIL(q * tot)
      |GROUP BY 1""".stripMargin

  private val w20Sql =
    """WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders),
      |base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS o_price FROM orders),
      |merged AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 37 = 0 AND o_orderkey <= m.mx // 4
      |      THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
      |    CASE WHEN o_orderkey % 37 = 0 AND o_orderkey <= m.mx // 4
      |      THEN CAST(o_price * 2 AS DECIMAL(18,2)) ELSE o_price END
      |      AS o_price
      |  FROM base, m)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(o_price) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("w01_stream_wordcount", w01, Some(Relational.q14Sql)),
    QuerySpec("w02_stream_window_agg", w02, Some(Relational.q13Sql)),
    QuerySpec("w03_stream_session_window", w03, Some(w03Sql)),
    QuerySpec("w04_rate_source_profile", w04, Some(w04Sql)),
    QuerySpec("w05_stream_dedup", w05, Some(w05Sql)),
    QuerySpec("w06_stream_static_join", w06, Some(w06Sql)),
    QuerySpec("w07_stream_file_source", w07, Some(w07Sql)),
    QuerySpec("w08_stream_stream_join", w08, Some(w08Sql)),
    QuerySpec("w09_stream_late_data", w09, Some(w09Sql)),
    QuerySpec("w10_stream_stream_watermarked_join", w10, Some(w10Sql)),
    QuerySpec("w11_stream_dedup_watermarked", w11, Some(w11Sql)),
    QuerySpec("w12_stream_transform_with_state", w12, Some(Relational.q14Sql)),
    QuerySpec("w13_stream_stream_left_outer_join", w13, Some(w13Sql)),
    QuerySpec("w14_stream_decontaminate", w14, Some(Dedup.d08Sql)),
    QuerySpec("w15_stream_scd2", w15, Some(ScaleOps.x13Sql)),
    QuerySpec("w16_stream_kmv_sketch", w16, Some(w16Sql)),
    QuerySpec("w17_stream_asof_enrich", w17, Some(ScaleOps.x21Sql)),
    QuerySpec("w18_stream_table_ingest", w18, Some(w18Sql)),
    QuerySpec("w19_stream_table_api_ingest", w19, Some(w18Sql)),
    QuerySpec("w20_stream_merge_upsert", w20, Some(w20Sql)),
    QuerySpec("w21_stream_cdc_replication", w21, Some(ScaleOps.x34Sql)),
    QuerySpec("w22_format_stream_sink", w22, Some(w18Sql)),
    QuerySpec("w23_stream_incremental_aggregate", w23, Some(ScaleOps.x34Sql)),
    QuerySpec("w24_stream_heavy_hitters", w24, Some(w24Sql)),
    QuerySpec("w25_stream_quantile_sketch", w25, Some(w25Sql)),
    QuerySpec("w26_catalog_stream_sink", w26, Some(w18Sql)))
}
