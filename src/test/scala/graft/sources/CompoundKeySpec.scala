package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.table.GraftTable

/** Compound business keys (x62): `TBLPROPERTIES ('key' = 'a,b')` —
  * the synthesized order-preserving `__gkey` storage column, hidden
  * from SQL, filled on every catalog write path, keying the engine's
  * single-key machinery. Pins: the full DML lifecycle, the hidden
  * column, MERGE read-set pruning on the two-column key
  * (file-hiding), streaming ingest, and the guard surface. */
class CompoundKeySpec extends AnyFunSuite {

  private lazy val spark = {
    val s = graft.util.ExtSession(SparkTestSession.spark)
    s.conf.set("spark.sql.catalog.ck",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.ck.warehouse",
      graft.util.Scratch.dir("graft-compound-wh"))
    s
  }
  import scala.jdk.CollectionConverters._

  private def locationOf(name: String): String = {
    val wh = spark.conf.get("spark.sql.catalog.ck.warehouse")
    val lines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$wh/$name/catalog.conf")).linesIterator
    lines.next(); lines.next().trim
  }

  test("compound-key lifecycle: create/insert/select/delete/update/merge") {
    spark.sql("DROP TABLE IF EXISTS ck.t1")
    spark.sql("CREATE TABLE ck.t1 (a BIGINT, b BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'a,b')")
    assert(spark.table("ck.t1").columns.toSeq == Seq("a", "b", "v"),
      "the synthesized storage key must stay hidden from SQL")
    spark.sql("INSERT INTO ck.t1 VALUES (1, 1, 'x'), (1, 2, 'y'), " +
      "(2, 1, 'z'), (2, 2, 'w')")
    assert(spark.sql("SELECT * FROM ck.t1").columns.toSeq ==
      Seq("a", "b", "v"))
    // the storage side really carries the key (engine-keyed __gkey)
    val t = GraftTable.open(spark, locationOf("t1"), "__gkey")
    assert(t.read().columns.contains("__gkey"))
    // single-column predicates work (and prune via per-column stats)
    spark.sql("DELETE FROM ck.t1 WHERE b = 2 AND a = 1")
    assert(spark.table("ck.t1").count() == 3)
    spark.sql("UPDATE ck.t1 SET v = 'u' WHERE a = 2 AND b = 1")
    assert(spark.sql("SELECT v FROM ck.t1 WHERE a = 2 AND b = 1")
      .head.getString(0) == "u")
    // MERGE on the two-column business key: one equality per part
    spark.sql("""CREATE OR REPLACE TEMP VIEW ck_d1 AS SELECT * FROM
      VALUES (1L, 1L, 'm', 'U'), (2L, 2L, 'd', 'D'), (3L, 3L, 'n', 'I')
      AS d(da, db, dv, op)""")
    spark.sql("""MERGE INTO ck.t1 t USING ck_d1 d
      ON t.a = d.da AND t.b = d.db
      WHEN MATCHED AND d.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = d.dv
      WHEN NOT MATCHED THEN INSERT (a, b, v) VALUES (d.da, d.db, d.dv)""")
    val got = spark.table("ck.t1").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got == Map((1L, 1L) -> "m", (2L, 1L) -> "u", (3L, 3L) -> "n"))
    // exactly-once versioned history carries
    assert(t.head >= 5)
  }

  test("MERGE on a compound key reads only key-range-overlapping files") {
    spark.sql("DROP TABLE IF EXISTS ck.t2")
    spark.sql("CREATE TABLE ck.t2 (a BIGINT, b BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'a,b')")
    // four ingest batches over disjoint `a` ranges: the DEFAULT
    // standing clustering (the key parts) makes each file tight on
    // (a, b) — and the fixed-width integer encoding makes __gkey's
    // string bounds agree with (a, b) order
    spark.range(200).selectExpr("id DIV 25 AS a", "id % 25 AS b",
      "id AS v").createOrReplaceTempView("ck_src")
    for (g <- 0 until 4)
      spark.sql(s"INSERT INTO ck.t2 SELECT * FROM ck_src " +
        s"WHERE a DIV 2 = $g")
    val t = GraftTable.open(spark, locationOf("t2"), "__gkey")
    val files = t.filesOf(t.head).filter(_.contains("/data/"))
    assert(files.size >= 3, s"fixture needs several files: ${files.size}")
    val (cand, rest) = files.partition(f =>
      spark.read.parquet(f).where(col("a") === 0 && col("b") <= 3)
        .limit(1).collect().nonEmpty)
    assert(cand.nonEmpty && rest.nonEmpty,
      s"clustering must localize the delta: ${cand.size}/${files.size}")
    spark.sql("""CREATE OR REPLACE TEMP VIEW ck_d2 AS SELECT * FROM
      VALUES (0L, 1L, 100L), (0L, 3L, 300L), (99L, 99L, 1L)
      AS d(da, db, amt)""")
    rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try spark.sql("""MERGE INTO ck.t2 t USING ck_d2 d
      ON t.a = d.da AND t.b = d.db
      WHEN MATCHED THEN UPDATE SET v = d.amt
      WHEN NOT MATCHED THEN INSERT (a, b, v) VALUES (d.da, d.db, d.amt)""")
    finally rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    val got = spark.table("ck.t2").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((0L, 1L)) == 100L && got((0L, 3L)) == 300L &&
      got((99L, 99L)) == 1L && got.size == 201)
    assert(rest.toSet.subsetOf(t.filesOf(t.head).toSet),
      "unmatched files carry by reference")
  }

  test("compound-key streaming ingest through toTable is exactly once") {
    spark.sql("DROP TABLE IF EXISTS ck.t3")
    spark.sql("CREATE TABLE ck.t3 (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('key' = 'a,b')")
    val staged = graft.util.Scratch.dir("graft-ck-staged")
    val ckpt = graft.util.Scratch.dir("graft-ck-ckpt")
    import spark.implicits._
    (1L to 20L).map(i => (i / 5, i % 5)).toDF("a", "b")
      .repartition(2).write.mode("append").parquet(staged)
    def drain(): Unit = {
      val q = spark.readStream
        .schema(Seq((1L, 1L)).toDF("a", "b").schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .toTable("ck.t3")
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(spark.table("ck.t3").count() == 20)
    val t = GraftTable.open(spark, locationOf("t3"), "__gkey")
    val h = t.head
    drain() // replay: nothing re-commits
    assert(t.head == h && spark.table("ck.t3").count() == 20)
  }

  test("the compound-key guard surface names its invariants") {
    spark.sql("DROP TABLE IF EXISTS ck.t4")
    spark.sql("CREATE TABLE ck.t4 (a BIGINT, b STRING, v STRING) " +
      "TBLPROPERTIES ('key' = 'a,b')")
    spark.sql("INSERT INTO ck.t4 VALUES (1, 'x', 'v1')")
    // updating a key part would strand the row under a stale key
    val e1 = intercept[Exception] {
      spark.sql("UPDATE ck.t4 SET a = 2 WHERE b = 'x'")
    }
    assert(e1.getMessage.contains("key column"))
    // a MERGE must equate EVERY part
    spark.sql("CREATE OR REPLACE TEMP VIEW ck_d4 AS " +
      "SELECT * FROM VALUES (1L, 'q') AS d(da, dv)")
    val e2 = intercept[Exception] {
      spark.sql("MERGE INTO ck.t4 t USING ck_d4 d ON t.a = d.da " +
        "WHEN MATCHED THEN UPDATE SET v = d.dv")
    }
    assert(e2.getMessage.contains("EACH key column"))
    // dropping a part refuses
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE ck.t4 DROP COLUMN b")
    }
    assert(e3.getMessage.contains("compound-key component"))
    // NULL and separator-carrying parts refuse at write time
    val e4 = intercept[Exception] {
      spark.sql("INSERT INTO ck.t4 VALUES (2, NULL, 'v')")
    }
    assert(e4.getMessage.contains("NULL"))
    // negative integral parts encode order-preservingly (round 17
    // lifted the old refusal: '-' + the −Long.MinValue bias)
    spark.sql("INSERT INTO ck.t4 VALUES (-2, 'y', 'vneg')")
    assert(spark.sql("SELECT v FROM ck.t4 WHERE a = -2 AND b = 'y'")
      .head.getString(0) == "vneg")
    // the reserved storage name refuses at CREATE
    val e6 = intercept[Exception] {
      spark.sql("CREATE TABLE ck.bad (__gkey BIGINT, b BIGINT) " +
        "TBLPROPERTIES ('key' = '__gkey,b')")
    }
    assert(e6.getMessage.contains("reserved"))
    // a renamed part keeps working: the pointer stores physical names
    spark.sql("ALTER TABLE ck.t4 RENAME COLUMN b TO bk")
    spark.sql("INSERT INTO ck.t4 VALUES (3, 'z', 'v3')")
    assert(spark.sql("SELECT v FROM ck.t4 WHERE a = 3 AND bk = 'z'")
      .head.getString(0) == "v3")
  }

  test("readStream.table on a compound table hides the storage key") {
    spark.sql("DROP TABLE IF EXISTS ck.t6")
    spark.sql("CREATE TABLE ck.t6 (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('key' = 'a,b')")
    spark.sql("INSERT INTO ck.t6 VALUES (1, 1), (1, 2)")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val ckpt = graft.util.Scratch.dir("graft-ck-rs-ckpt")
    def drain(): Unit = {
      val q = spark.readStream.table("ck.t6")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            assert(!b.columns.contains("__gkey"),
              "the storage key must not leak into the stream")
            b.collect().foreach(r => seen.add((r.getLong(0), r.getLong(1))))
            ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // snapshot bootstrap
    assert(seen.asScala.toSeq.sorted == Seq((1L, 1L), (1L, 2L)))
    spark.sql("INSERT INTO ck.t6 VALUES (2, 1)")
    drain() // append window
    assert(seen.asScala.toSeq.sorted ==
      Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("negative integer key parts order, merge, and prune") {
    spark.sql("DROP TABLE IF EXISTS ck.t7")
    spark.sql("CREATE TABLE ck.t7 (a BIGINT, b BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'a,b')")
    // `a` spans the sign boundary; four ingest batches over disjoint
    // ranges (default standing clustering = the key parts)
    spark.range(200).selectExpr("id - 100 AS a", "id % 5 AS b",
      "id AS v").createOrReplaceTempView("ck_src7")
    for (g <- 0 until 4)
      spark.sql(s"INSERT INTO ck.t7 SELECT * FROM ck_src7 " +
        s"WHERE (a + 100) DIV 50 = $g")
    // the biased encoding orders ACROSS the sign boundary:
    // lexicographic __gkey order must equal numeric tuple order
    val t = GraftTable.open(spark, locationOf("t7"), "__gkey")
    val ordered = t.read().orderBy(col("__gkey")).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ordered == ordered.sorted,
      "lexicographic __gkey order must equal numeric (a, b) order")
    // a merge touching only negative keys reads only the files
    // holding them — proven by hiding every other file
    val files = t.filesOf(t.head).filter(_.contains("/data/"))
    val (cand, rest) = files.partition(f =>
      spark.read.parquet(f)
        .where(col("a") === -100 || col("a") === -99)
        .limit(1).collect().nonEmpty)
    assert(cand.nonEmpty && rest.nonEmpty,
      s"clustering must localize the delta: ${cand.size}/${files.size}")
    spark.sql("""CREATE OR REPLACE TEMP VIEW ck_d7 AS SELECT * FROM
      VALUES (-100L, 0L, 777L), (-99L, 1L, 888L), (-500L, 1L, 999L)
      AS d(da, db, amt)""")
    rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try spark.sql("""MERGE INTO ck.t7 t USING ck_d7 d
      ON t.a = d.da AND t.b = d.db
      WHEN MATCHED THEN UPDATE SET v = d.amt
      WHEN NOT MATCHED THEN INSERT (a, b, v) VALUES (d.da, d.db, d.amt)""")
    finally rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    val got = spark.table("ck.t7").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((-100L, 0L)) == 777L && got((-99L, 1L)) == 888L &&
      got((-500L, 1L)) == 999L && got.size == 201)
    assert(rest.toSet.subsetOf(t.filesOf(t.head).toSet),
      "unmatched files carry by reference")
  }

  test("a key-changing compound REPLACE crash heals at load") {
    // the REPLACE crash window (storage committed, pointer rewrite
    // lost): the synthesized __gkey survives every compound replace,
    // so only the parts tell the keys apart — and the stamp names them
    spark.sql("DROP TABLE IF EXISTS ck.kw")
    spark.sql("CREATE TABLE ck.kw (a BIGINT, b BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'a,b')")
    spark.sql("INSERT INTO ck.kw VALUES (1, 1, 10), (2, 2, 20)")
    val wh = spark.conf.get("spark.sql.catalog.ck.warehouse")
    val confP = java.nio.file.Paths.get(s"$wh/kw/catalog.conf")
    val oldConf = java.nio.file.Files.readAllBytes(confP)
    spark.sql("CREATE OR REPLACE TABLE ck.kw " +
      "TBLPROPERTIES ('key' = 'c,d') AS " +
      "SELECT * FROM VALUES (5L, 5L, 1L), (6L, 6L, 2L) AS s(c, d, n)")
    java.nio.file.Files.write(confP, oldConf)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$wh/kw/.catalog.conf.crc"))
    // loads heal onto the replace commit's key stamp 'c,d': new
    // schema serves, keyed mutation works on the healed parts
    assert(spark.table("ck.kw").columns.toSeq == Seq("c", "d", "n"))
    assert(spark.table("ck.kw").count() == 2)
    spark.sql("DELETE FROM ck.kw WHERE c = 5 AND d = 5")
    assert(spark.table("ck.kw").count() == 1)
  }

  test("compound-key CTAS and REPLACE ride the staged path") {
    spark.sql("DROP TABLE IF EXISTS ck.t5")
    spark.sql("CREATE TABLE ck.t5 TBLPROPERTIES ('key' = 'g,i') AS " +
      "SELECT id DIV 3 AS g, id AS i, id * 2 AS v FROM RANGE(9)")
    assert(spark.table("ck.t5").count() == 9)
    assert(spark.table("ck.t5").columns.toSeq == Seq("g", "i", "v"))
    spark.sql("CREATE OR REPLACE TABLE ck.t5 " +
      "TBLPROPERTIES ('key' = 'x,y') AS " +
      "SELECT id AS x, id AS y FROM RANGE(4)")
    assert(spark.table("ck.t5").columns.toSeq == Seq("x", "y"))
    assert(spark.table("ck.t5").count() == 4)
    spark.sql("INSERT INTO ck.t5 VALUES (9, 9)")
    spark.sql("DELETE FROM ck.t5 WHERE x = 0")
    assert(spark.table("ck.t5").count() == 4)
  }
}
