package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.table.GraftTable

/** Contracts of the `graft` STREAMING SINK the gated w22 hash cannot
  * see: exactly-once contents across stop/restart on one checkpoint,
  * the replayed-batch no-op (batch id as the txn idempotency token),
  * and the declarative-surface guardrails (append-only, no
  * partitionBy). */
class GraftStreamSinkSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ks: Range) = ks.map(k => (k.toLong, s"s$k")).toDF("k", "v")

  /** drain the staged dir into the graft table once (one file per
    * micro-batch), against a fixed checkpoint */
  private def drain(staged: String, ckpt: String, root: String): Unit = {
    val q = spark.readStream
      .schema(rows(1 to 1).schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
      .writeStream.format("graft")
      .option("path", root).option("keyCol", "k")
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  test("stream → graft sink: every row exactly once across restarts") {
    val staged = graft.util.Scratch.dir("graft-sink-staged")
    val ckpt = graft.util.Scratch.dir("graft-sink-ckpt")
    val root = graft.util.Scratch.dir("graft-sink-tbl")
    rows(1 to 30).repartition(3).write.mode("append").parquet(staged)
    drain(staged, ckpt, root)
    val t = GraftTable.open(spark, root, "k")
    assert(t.read().select("k").as[Long].collect().sorted.toSeq ==
      (1L to 30L), "each staged row lands exactly once")
    val headAfterFirst = t.head
    assert(headAfterFirst >= 1)

    // restart with NO new input: the checkpoint already covers every
    // file — nothing re-committed, head unchanged
    drain(staged, ckpt, root)
    assert(t.head == headAfterFirst, "an empty restart must not commit")

    // new input after the restart: ONLY the new rows append
    rows(31 to 40).coalesce(1).write.mode("append").parquet(staged)
    drain(staged, ckpt, root)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq ==
      (1L to 40L), "a resumed stream appends only the new window")
  }

  test("a re-delivered batch id commits once (sink-level idempotency)") {
    val root = graft.util.Scratch.dir("graft-sink-replay")
    val sink = new GraftStreamSink(spark.sqlContext, root, "k")
    sink.addBatch(0L, rows(1 to 5))
    val t = GraftTable.open(spark, root, "k")
    val head = t.head
    // Spark re-delivers the last batch after a failure between sink
    // commit and checkpoint write: same id, same (or equal) data
    sink.addBatch(0L, rows(1 to 5))
    assert(t.head == head, "the replayed batch must not commit again")
    assert(t.read().count() == 5)
    sink.addBatch(1L, rows(6 to 8))
    assert(t.read().count() == 8, "the NEXT id commits normally")
  }

  test("writeStream.toTable streams into a catalog table exactly once (w26)") {
    spark.conf.set("spark.sql.catalog.gsink",
      classOf[GraftCatalog].getName)
    if (spark.conf.getOption("spark.sql.catalog.gsink.warehouse").isEmpty)
      spark.conf.set("spark.sql.catalog.gsink.warehouse",
        graft.util.Scratch.dir("graft-sinkcat-wh"))
    spark.sql("DROP TABLE IF EXISTS gsink.t")
    spark.sql("CREATE TABLE gsink.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    val staged = graft.util.Scratch.dir("graft-tosink-staged")
    val ckpt = graft.util.Scratch.dir("graft-tosink-ckpt")
    rows(1 to 30).repartition(3).write.mode("append").parquet(staged)
    def drainToTable(): Unit = {
      // NO path, NO keyCol: the catalog identifier is the whole
      // configuration (location from the pointer, key from the
      // manifest's key stamp, through the V1 fallback). format
      // must name the provider — Spark's writeToV1Table refuses a
      // writer whose source differs from the table's provider.
      val q = spark.readStream.schema(rows(1 to 1).schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .toTable("gsink.t")
      try q.processAllAvailable() finally q.stop()
    }
    drainToTable()
    assert(spark.table("gsink.t").select("k").as[Long]
      .collect().sorted.toSeq == (1L to 30L),
      "drained table ≡ batch input")
    val wh = spark.conf.get("spark.sql.catalog.gsink.warehouse")
    val loc = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$wh/t/catalog.conf")).linesIterator.drop(1).next().trim
    val t = GraftTable.open(spark, loc, "k")
    val head0 = t.head
    // replayed restart on the same checkpoint: nothing re-commits
    drainToTable()
    assert(t.head == head0, "an empty restart must not commit")
    // resumed ingest appends only the new window, through the catalog
    rows(31 to 40).coalesce(1).write.mode("append").parquet(staged)
    drainToTable()
    assert(spark.table("gsink.t").select("k").as[Long]
      .collect().sorted.toSeq == (1L to 40L))
    // ...and the streamed-into table still streams OUT
    assert(spark.sql("SELECT COUNT(*) FROM gsink.t").head.getLong(0) == 40)
  }

  test("the sink resolves its key from the manifest stamp (round 18)") {
    // the sink reads the SAME kind="keyrec" stamp the catalog loads
    // resolve, so sink and catalog cannot disagree. The engine writes
    // no key.conf side file; plant a WRONG one to prove a stray file
    // is ignored.
    spark.sql("DROP TABLE IF EXISTS gsink.ks")
    spark.sql("CREATE TABLE gsink.ks (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    val wh = spark.conf.get("spark.sql.catalog.gsink.warehouse")
    val loc = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$wh/ks/catalog.conf")).linesIterator.drop(1).next().trim
    // a stray key.conf naming a different key than the manifest
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$loc/.key.conf.crc"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$loc/key.conf"), "v")
    val staged = graft.util.Scratch.dir("graft-kstamp-staged")
    val ckpt = graft.util.Scratch.dir("graft-kstamp-ckpt")
    rows(1 to 5).coalesce(1).write.mode("append").parquet(staged)
    def drain(): Unit = {
      val q = spark.readStream.schema(rows(1 to 1).schema)
        .parquet(staged)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .toTable("gsink.ks")
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(spark.table("gsink.ks").count() == 5,
      "the sink must key on the stamp, not the stale key.conf")
    // a keyed read through the handle works under the STAMPED key
    val t = GraftTable.open(spark, loc, "k")
    assert(t.readMatchingKeys(
      spark.range(2, 3).selectExpr("id AS k")).count() == 1)
  }

  test("append-only surface: Update/Complete and partitionBy rejected") {
    val p = new GraftTableSourceProvider
    val opts = Map("path" -> graft.util.Scratch.dir("graft-sink-opts"),
      "keyCol" -> "k")
    intercept[IllegalArgumentException] {
      p.createSink(spark.sqlContext, opts, Nil, OutputMode.Complete())
    }
    intercept[IllegalArgumentException] {
      p.createSink(spark.sqlContext, opts, Nil, OutputMode.Update())
    }
    intercept[IllegalArgumentException] {
      p.createSink(spark.sqlContext, opts, Seq("v"), OutputMode.Append())
    }
    // the happy path constructs
    p.createSink(spark.sqlContext, opts, Nil, OutputMode.Append())
  }
}
