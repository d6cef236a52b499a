package graft.sources

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.table.GraftTable

/** Contracts of the `graft` batch source the gated x42 hash cannot
  * see: the SQL `USING graft` view route, versionAsOf time travel,
  * column pruning reaching the inner parquet scan, filter-pushdown
  * value-correctness, and DV application riding the format read. */
class GraftTableSourceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture(): GraftTable = {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-batch-src"), "k",
      (1L to 50L).map(k => (k, k % 7, s"s$k")).toDF("k", "g", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    t.merge(Seq((3L, 0L, "U3")).toDF("k", "g", "v"))   // v2
    t.delete(col("k") % 10 === 0, mode = "mor")        // v3: DV
    t
  }

  private def read(t: GraftTable, extra: (String, String)*) = {
    val base = spark.read.format("graft")
      .option("path", t.root).option("keyCol", "k")
    extra.foldLeft(base)((r, kv) => r.option(kv._1, kv._2)).load()
  }

  test("format read equals the handle read, DVs and merges applied") {
    val t = fixture()
    val viaFormat = read(t).collect().map(_.toSeq).toSet
    val viaHandle = t.read().collect().map(_.toSeq).toSet
    assert(viaFormat == viaHandle)
    assert(read(t).where(col("k") === 3).head.getString(2) == "U3")
    assert(read(t).where(col("k") === 10).count() == 0, "DV must apply")
    // versionAsOf time travel through the format option
    val v1 = read(t, "versionAsOf" -> "1")
    assert(v1.count() == 50)
    assert(v1.where(col("k") === 3).head.getString(2) == "s3")
  }

  test("CREATE TEMPORARY VIEW USING graft serves pure-SQL consumers") {
    val t = fixture()
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_src_view
      USING graft OPTIONS (path '${t.root}', keyCol 'k')""")
    val n = spark.sql(
      "SELECT COUNT(*) AS n FROM graft_src_view WHERE g = 0")
      .head.getLong(0)
    val expect = t.read().where(col("g") === 0).count()
    assert(n == expect)
    spark.sql("DROP VIEW graft_src_view")
  }

  test("a loaded DataFrame is a pinned snapshot across concurrent commits") {
    val t = fixture()
    val df = read(t)                      // relation pins head = v3 here
    val before = df.collect().map(_.toSeq).toSet
    t.merge(Seq((999L, 0L, "LATE")).toDF("k", "g", "v")) // v4 after load
    assert(df.collect().map(_.toSeq).toSet == before,
      "re-executing a loaded DataFrame must re-read the pinned version")
    assert(read(t).where(col("k") === 999).count() == 1,
      "a FRESH load sees the new head")
  }

  test("pushed filters FILE-SKIP through the format — stats and bloom") {
    val t = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-batch-src-skip"), "k")
    t.indexBloom(Seq("tok"))
    t.append((1L to 200L).map(k => (k, md5hex(k.toString))).toDF("k", "tok")
      .repartitionByRange(5, col("k")).sortWithinPartitions("k"))
    val files = t.filesOf(2)
    // key-range pruning: a k <= 10 query needs only the first file —
    // hide every other data file and the format read must not notice
    def hidden(fs: Seq[String])(body: => Unit): Unit = {
      import java.nio.file.{Files, Paths}
      fs.foreach(f => Files.move(Paths.get(f), Paths.get(f + ".h")))
      try body finally fs.foreach(f =>
        Files.move(Paths.get(f + ".h"), Paths.get(f)))
    }
    // load (schema resolution reads every footer) BEFORE hiding; only
    // the pruned EXECUTION runs with files gone
    val q = spark.read.format("graft")
      .option("path", t.root).option("keyCol", "k").load()
      .where(col("k") <= 10)
    hidden(files.drop(1)) { assert(q.count() == 10) }
    // bloom pruning: a token point lookup through PURE SQL opens only
    // the files whose filters might contain it
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_skip_view
      USING graft OPTIONS (path '${t.root}', keyCol 'k')""")
    val tok7 = md5hex("7")
    // hide everything EXCEPT the single file holding k=7 and the
    // query must still answer (the bloom pruned the rest)
    val holdingFile = {
      import org.apache.spark.sql.functions.input_file_name
      spark.read.parquet(files: _*).withColumn("__f", input_file_name())
        .where(col("k") === 7).head.getString(2)
        .replaceFirst("^file:(//)?", "")
    }
    hidden(files.filterNot(_ == holdingFile)) {
      val got = spark.sql(
        s"SELECT k FROM graft_skip_view WHERE tok = '$tok7'")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(7L), s"bloom file skip through SQL: $got")
    }
    spark.sql("DROP VIEW graft_skip_view")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("readChangeFeed serves the batch net feed through the format") {
    val t = fixture() // v1 create, v2 merge (U3), v3 MoR delete k%10
    def feed(extra: (String, String)*) = {
      val base = spark.read.format("graft")
        .option("path", t.root).option("keyCol", "k")
        .option("readChangeFeed", "true")
      extra.foldLeft(base)((r, kv) => r.option(kv._1, kv._2)).load()
    }
    val net = feed("startingVersion" -> "1")
      .select(col("k"), col("change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(net == Seq((3L, "update"), (10L, "delete"), (20L, "delete"),
      (30L, "delete"), (40L, "delete"), (50L, "delete")),
      s"the (1, head] net window through the format: $net")
    // bootstrap window: the endingVersion snapshot as inserts
    val boot = feed("endingVersion" -> "1")
    assert(boot.where(col("change_type") =!= "insert").count() == 0)
    assert(boot.count() == 50)
    // startingTimestamp resolves through the in-commit stamps
    val viaTs = feed("startingTimestamp" ->
      GraftTable.open(spark, t.root, "k").commitTimestampOf(1).toString)
    assert(viaTs.count() == net.size)
  }

  test("the relation reports manifest bytes, so small views broadcast") {
    val t = fixture()
    val view = read(t)
    val big = spark.range(0, 200000).toDF("k")
    val plan = big.join(view, "k")
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("BroadcastHashJoin"),
      s"a KB-scale graft view must broadcast, not shuffle:\n$plan")
    val expect = t.filesOf(t.head).map(f =>
      new java.io.File(f).length).sum
    assert(t.bytesOf() == expect, "bytesOf must equal the on-disk sum")
  }

  test("column pruning reaches the inner scan; filters stay correct") {
    val t = fixture()
    // a 1-column projection must not read the other columns: the inner
    // plan's parquet ReadSchema carries exactly the requested column
    val plan = read(t).select(col("g"))
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("ReadSchema") && !plan.contains("struct<k:"),
      s"projection must prune k from the parquet read:\n$plan")
    // pushable and unpushable filters agree with the handle read
    for (pred <- Seq(col("k") <= 20 && col("g") === 1,
                     col("v").startsWith("s1"),
                     !(col("k") < 40) || col("g").isin(2L, 3L))) {
      assert(read(t).where(pred).collect().map(_.toSeq).toSet ==
             t.read().where(pred).collect().map(_.toSeq).toSet, s"$pred")
    }
  }

  test("the catalog and the format read one snapshot alike") {
    spark.conf.set("spark.sql.catalog.gsrc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsrc.warehouse",
      graft.util.Scratch.dir("graft-route-parity-wh"))
    def locationOf(name: String): String = {
      val wh = spark.conf.get("spark.sql.catalog.gsrc.warehouse")
      val lines = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$wh/$name/catalog.conf")).linesIterator
      lines.next(); lines.next().trim
    }
    /** `name` as a USING graft view over its storage root */
    def view(name: String, keyCol: String, version: Option[Long]): String = {
      val asOf = version.fold("")(v => s", versionAsOf '$v'")
      spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ${name}_fmt USING graft
        OPTIONS (path '${locationOf(name)}', keyCol '$keyCol'$asOf)""")
      s"${name}_fmt"
    }
    def same(cols: String, catalog: String, format: String,
             preds: Seq[String]): Unit = preds.foreach { p =>
      def q(rel: String) = spark.sql(s"SELECT $cols FROM $rel WHERE $p")
        .collect().map(_.toSeq).toSet
      val (c, f) = (q(catalog), q(format))
      assert(c.nonEmpty && c == f, s"$catalog vs $format WHERE $p")
    }
    val preds = Seq("k = 801", "k BETWEEN 300 AND 420",
      "k > 1500 AND g = 3")

    // one 16-file key-range table, then an update and a delete
    spark.sql("DROP TABLE IF EXISTS gsrc.par")
    spark.sql("CREATE TABLE gsrc.par (k BIGINT, g BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    (1L to 1600L).map(k => (k, k % 7, s"s$k")).toDF("k", "g", "v")
      .repartitionByRange(16, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("par_src")
    spark.sql("INSERT INTO gsrc.par SELECT * FROM par_src")
    val t = GraftTable.open(spark, locationOf("par"), "k")
    val v0 = t.head
    assert(t.filesOf(v0).count(_.contains("/data/")) == 16)
    t.merge(Seq((801L, 0L, "U"), (350L, 3L, "U")).toDF("k", "g", "v"))
    t.delete(col("k") % 10 === 0)
    same("*", "gsrc.par", view("par", "k", None), preds)
    same("*", s"gsrc.par VERSION AS OF $v0", view("par", "k", Some(v0)),
      preds)
    def v801(rel: String) =
      spark.sql(s"SELECT v FROM $rel WHERE k = 801").head.getString(0)
    assert(v801("gsrc.par") == "U" && v801(s"gsrc.par VERSION AS OF $v0") ==
      "s801", "each version is served")

    // a compound key: the catalog hides the storage column, so the
    // format route is compared over the user columns
    spark.sql("DROP TABLE IF EXISTS gsrc.parc")
    spark.sql("CREATE TABLE gsrc.parc (k BIGINT, b STRING, g BIGINT) " +
      "TBLPROPERTIES ('key' = 'k,b')")
    spark.sql("INSERT INTO gsrc.parc SELECT k, v, g FROM par_src")
    assert(spark.table("gsrc.parc").columns.toSeq == Seq("k", "b", "g"))
    same("k, b, g", "gsrc.parc", view("parc", CompoundKey.KeyName, None),
      preds)
  }

  test("a keyless load of a fresh root refuses cleanly, creating nothing") {
    // round-18 self-review: the key-stamp probe must not crash on a
    // root with no commit log (manifestOf on a missing slot), and
    // must not leave directories behind on a mistyped path — the
    // friendly keyCol refusal is the contract
    val spark = SparkTestSession.spark
    val root = graft.util.Scratch.dir("graft-fresh-root") + "/nothere"
    val e = intercept[Exception] {
      spark.read.format("graft").option("path", root).load()
    }
    assert(e.getMessage.contains("keyCol"), e.getMessage)
    assert(!new java.io.File(root, "commits").exists(),
      "a failed keyless resolve must not create the commit log")
  }
}
