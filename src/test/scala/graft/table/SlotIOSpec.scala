package graft.table

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.table.GraftTable.FileRef

/** Round-18 optimization pin: manifest slot I/O moved off Spark jobs
  * onto a driver-local parquet codec ([[SlotIO]]) — KB-MB of metadata
  * per slot does not justify a Spark job of driver latency per touch.
  * The on-disk format is UNCHANGED; these round-trips prove it in both
  * directions (SlotIO-written slots read identically through Spark's
  * parquet reader, Spark-written current slots decode identically
  * through SlotIO), and a narrower pre-current slot is refused. */
class SlotIOSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val refs = Seq(
    FileRef("/d/a.parquet", "data", 1L, 9L,
      stats = Map("k" -> (1L, 9L), "x" -> (-5L, 5L)),
      sstats = Map("s" -> ("aa", "zz")),
      rows = 10L, bytes = 1234L, ts = 77L,
      nstats = Map("k" -> 0L, "s" -> 3L),
      zgen = 2L, schemaJson = """{"type":"struct","fields":[]}"""),
    FileRef("/d/b.parquet", "dv", 0L, 4L),
    FileRef("txn:ckpt", "txn", -1L, -1L),
    FileRef("txn:5", "txn", 5L, 5L))

  test("SlotIO-written slot reads back identically via SlotIO and Spark") {
    val dir = graft.util.Scratch.dir("graft-slotio-rt") + "/v1"
    val conf = spark.sessionState.newHadoopConf()
    SlotIO.write(dir, refs, txn = 5L, ts = 99L, conf)
    // driver-local read
    val (got, txn, ts) = SlotIO.read(dir, conf)
    // the commit ts stamps every row, exactly as the old projection did
    assert(got.sortBy(_.file) == refs.map(_.copy(ts = 99L)).sortBy(_.file))
    assert(txn == 5L && ts == 99L)
    // Spark read of the same file: every column decodes to the values
    // the old toDF projection wrote
    val df = spark.read.parquet(dir)
    assert(df.schema.fieldNames.toSet == Set("file", "kind", "lo", "hi",
      "txn", "stats", "sstats", "rows", "bytes", "ts", "nstats", "zgen",
      "schema_json"))
    val r = df.where(col("file") === "/d/a.parquet").collect().head
    assert(r.getAs[Long]("txn") == 5L && r.getAs[Long]("ts") == 99L)
    assert(r.getAs[Map[String, org.apache.spark.sql.Row]]("stats")
      .map { case (c, s) => c -> (s.getLong(0), s.getLong(1)) } ==
      Map("k" -> (1L, 9L), "x" -> (-5L, 5L)))
    assert(r.getAs[Map[String, org.apache.spark.sql.Row]]("sstats")
      .map { case (c, s) => c -> (s.getString(0), s.getString(1)) } ==
      Map("s" -> ("aa", "zz")))
    assert(r.getAs[Map[String, Long]]("nstats") == Map("k" -> 0L, "s" -> 3L))
    assert(r.getAs[Long]("rows") == 10L && r.getAs[Long]("bytes") == 1234L)
    assert(r.getAs[Long]("zgen") == 2L)
    assert(r.getAs[String]("schema_json").nonEmpty)
    val empty = df.where(col("file") === "/d/b.parquet").collect().head
    assert(empty.getAs[Map[String, Any]]("stats").isEmpty)
    assert(empty.getAs[Map[String, Any]]("nstats").isEmpty)
  }

  test("Spark-written current-format slots decode via SlotIO") {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    // current tuple projection, exactly what the old tryCommit wrote
    val full = graft.util.Scratch.dir("graft-slotio-legacy") + "/v1"
    refs.map(r => (r.file, r.kind, r.lo, r.hi, 5L, r.stats, r.sstats,
        r.rows, r.bytes, 99L, r.nstats, r.zgen, r.schemaJson))
      .toDF("file", "kind", "lo", "hi", "txn", "stats", "sstats",
        "rows", "bytes", "ts", "nstats", "zgen", "schema_json")
      .coalesce(1).write.parquet(full)
    val (got, txn, ts) = SlotIO.read(full, conf)
    assert(got.map(_.copy(ts = -1L)).sortBy(_.file) ==
      refs.map(_.copy(ts = -1L)).sortBy(_.file))
    assert(got.forall(_.ts == 99L))
    assert(txn == 5L && ts == 99L)
  }

  test("a legacy-narrow slot is refused, naming root, version and columns") {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    // pre-stats, pre-txn era slot: only the first four columns
    val root = graft.util.Scratch.dir("graft-slotio-narrow")
    Seq(("/d/a.parquet", "data", 1L, 9L))
      .toDF("file", "kind", "lo", "hi")
      .coalesce(1).write.parquet(s"$root/commits/v1")
    val e = intercept[IllegalStateException] {
      SlotIO.read(s"$root/commits/v1", conf)
    }
    assert(e.getMessage.contains(s"table $root version 1") &&
      e.getMessage.contains("no txn, stats, sstats, rows, bytes, ts, " +
        "nstats, zgen, schema_json column"), e.getMessage)
  }

  test("a full GraftTable lifecycle on SlotIO slots stays green") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("graft-slotio-life")
    def rows(ks: Long*) = ks.map(k => (k, s"s$k")).toDF("k", "v")
    val t = GraftTable.create(spark, root, "k", rows(1, 2, 3).coalesce(1))
    t.append(rows(4, 5).coalesce(1))
    t.merge(rows(2, 6).coalesce(1).withColumn("v", lit("m")))
    t.delete(col("k") === 1L)
    assert(t.read().select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L, 4L, 5L, 6L))
    assert(t.read().where(col("k") === 2L).select("v")
      .collect().head.getString(0) == "m")
    // time travel across the SlotIO-written history
    assert(t.read(1).count() == 3L)
  }
}
