package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.table.GraftTable

/** ANSI UPDATE / DELETE / MERGE INTO on catalog tables (x59, x63,
  * x64, x66, x67): the injected resolution rule compiles resolved
  * row-level statements onto the handle's stats-pruned verbs. Pins:
  * end-to-end semantics for every clause shape (subquery conditions
  * included), the PRUNED read sets (file-hiding), the group-based
  * rewrite (unmatched files carry by reference), schema evolution's
  * O(metadata) widening, the cardinality violation, and the refusal
  * surface. */
class GraftRowLevelSqlSpec extends AnyFunSuite {

  /** the extensions-bearing session on the shared test context */
  private lazy val spark = {
    val s = graft.util.ExtSession(SparkTestSession.spark)
    s.conf.set("spark.sql.catalog.rl",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.rl.warehouse",
      graft.util.Scratch.dir("graft-rowlevel-wh"))
    s
  }

  private def locationOf(name: String): String = {
    val wh = spark.conf.get("spark.sql.catalog.rl.warehouse")
    val lines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$wh/$name/catalog.conf")).linesIterator
    lines.next(); lines.next().trim
  }

  /** fresh keyed table `rl.<name>` holding (k, v, w) for k in 1..n,
    * ingested as `files` range-partitioned files */
  private def fixture(name: String, n: Int = 100, files: Int = 8): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS rl.$name")
    spark.sql(s"CREATE TABLE rl.$name (k BIGINT, v BIGINT, w STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.range(1, n + 1)
      .selectExpr("id AS k", "id * 10 AS v", "'o' AS w")
      .repartitionByRange(files, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView(s"${name}_src")
    spark.sql(s"INSERT INTO rl.$name SELECT * FROM ${name}_src")
  }

  private def rows(name: String): Map[Long, (Long, String)] =
    spark.table(s"rl.$name").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  test("UPDATE ... SET ... WHERE runs through pure SQL with old-row RHS") {
    fixture("u1", n = 10, files = 2)
    // swap-shape RHS: both assignments read the OLD row
    spark.sql("UPDATE rl.u1 SET v = v + 1, w = CASE WHEN v >= 50 " +
      "THEN 'hi' ELSE 'lo' END WHERE k % 2 = 0")
    val got = rows("u1")
    assert(got(2L) == (21L, "lo") && got(4L) == (41L, "lo") &&
      got(6L) == (61L, "hi") && got(10L) == (101L, "hi"))
    assert(got(3L) == (30L, "o"), "non-matching rows carry verbatim")
    // no WHERE: every row
    spark.sql("UPDATE rl.u1 SET w = 'all'")
    assert(spark.table("rl.u1").where(col("w") =!= "all").count() == 0)
  }

  test("MERGE INTO: conditional UPDATE / DELETE / INSERT, both-sides RHS") {
    fixture("m1", n = 20, files = 2)
    // op D → delete; op U → update off BOTH rows; fresh keys → insert
    spark.sql("""CREATE OR REPLACE TEMP VIEW m1_delta AS
      SELECT * FROM VALUES
        (2L,  'D', 0L),
        (4L,  'U', 7L),
        (5L,  'U', 100L),
        (21L, 'I', 1L),
        (22L, 'I', 2L)
      AS d(dk, op, amt)""")
    spark.sql("""MERGE INTO rl.m1 t USING m1_delta d ON t.k = d.dk
      WHEN MATCHED AND d.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = t.v + d.amt, w = d.op
      WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (d.dk, d.amt, 'n')""")
    val got = rows("m1")
    assert(!got.contains(2L), "matched D row deleted")
    assert(got(4L) == (47L, "U") && got(5L) == (150L, "U"),
      "matched U rows updated with target+source RHS")
    assert(got(21L) == (1L, "n") && got(22L) == (2L, "n"),
      "unmatched source rows inserted")
    assert(got(3L) == (30L, "o") && got.size == 21,
      "untouched rows carry; 20 - 1 + 2 = 21")
  }

  test("MERGE reads ONLY key-range-overlapping files and carries the rest") {
    fixture("m2", n = 100, files = 8)
    val t = GraftTable.open(spark, locationOf("m2"), "k")
    val before = t.filesOf(t.head).filter(_.contains("/data/"))
    assert(before.size >= 8)
    // which files hold the delta's keys (1..5): read each alone
    val lowKeys = (1L to 5L).toSet
    val (cand, rest) = before.partition(f =>
      spark.read.parquet(f).select(col("k")).collect()
        .exists(r => lowKeys.contains(r.getLong(0))))
    assert(cand.nonEmpty && rest.size >= 6,
      s"fixture must localize the delta: ${cand.size}/${before.size}")
    spark.sql("""CREATE OR REPLACE TEMP VIEW m2_delta AS
      SELECT * FROM VALUES (1L, 11L), (5L, 55L), (101L, 1L)
      AS d(dk, amt)""")
    // hide every non-candidate file: MERGE succeeding proves the
    // matched-target read and the rewrite OPEN none of them
    rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try spark.sql("""MERGE INTO rl.m2 t USING m2_delta d ON t.k = d.dk
      WHEN MATCHED THEN UPDATE SET v = d.amt
      WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (d.dk, d.amt, 'n')""")
    finally rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    val got = rows("m2")
    assert(got(1L)._1 == 11L && got(5L)._1 == 55L && got(101L)._1 == 1L)
    assert(got.size == 101)
    // group-based rewrite: every hidden (non-matched) file carries BY
    // REFERENCE into the new version
    val after = t.filesOf(t.head).toSet
    assert(rest.toSet.subsetOf(after),
      "unmatched files must carry by reference, never rewrite")
  }

  test("SET * and INSERT * expand by name; SQL:2003 cardinality violates") {
    fixture("m3", n = 10, files = 1)
    spark.sql("""CREATE OR REPLACE TEMP VIEW m3_delta AS
      SELECT * FROM VALUES (3L, 333L, 's'), (11L, 111L, 's')
      AS d(k, v, w)""")
    spark.sql("MERGE INTO rl.m3 t USING m3_delta d ON t.k = d.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val got = rows("m3")
    assert(got(3L) == (333L, "s") && got(11L) == (111L, "s"))
    // two source rows onto one key → the cardinality violation
    spark.sql("""CREATE OR REPLACE TEMP VIEW m3_dup AS
      SELECT * FROM VALUES (3L, 1L, 'a'), (3L, 2L, 'b') AS d(k, v, w)""")
    val e = intercept[Exception] {
      spark.sql("MERGE INTO rl.m3 t USING m3_dup d ON t.k = d.k " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(e.getMessage.contains("cardinality"),
      s"wanted the cardinality violation, got: ${e.getMessage}")
  }

  test("the refusal surface names its alternatives") {
    fixture("m4", n = 5, files = 1)
    spark.sql("CREATE OR REPLACE TEMP VIEW m4_delta AS " +
      "SELECT * FROM VALUES (1L, 2L) AS d(dk, amt)")
    // no key equality in ON
    val e1 = intercept[Exception] {
      spark.sql("MERGE INTO rl.m4 t USING m4_delta d ON t.v = d.amt " +
        "WHEN MATCHED THEN DELETE")
    }
    assert(e1.getMessage.contains("key column"))
    // a NOT MATCHED BY SOURCE clause may only see the target —
    // Spark's own resolution scope enforces it (our command keeps a
    // belt-and-braces check for programmatic plans)
    val e2 = intercept[Exception] {
      spark.sql("MERGE INTO rl.m4 t USING m4_delta d ON t.k = d.dk " +
        "WHEN NOT MATCHED BY SOURCE AND d.amt > 0 THEN DELETE")
    }
    assert(e2.getMessage.contains("cannot be resolved") ||
      e2.getMessage.contains("target"))
    // assigning the key in WHEN MATCHED
    val e3 = intercept[Exception] {
      spark.sql("MERGE INTO rl.m4 t USING m4_delta d ON t.k = d.dk " +
        "WHEN MATCHED THEN UPDATE SET k = d.dk + 100")
    }
    assert(e3.getMessage.contains("key column"))
    // UPDATE of the key through the UPDATE statement (engine refusal)
    val e4 = intercept[Exception] {
      spark.sql("UPDATE rl.m4 SET k = k + 1 WHERE k = 1")
    }
    assert(e4.getMessage.contains("key column") ||
      e4.getMessage.contains("merge"))
    // extra ON conjuncts compose; a matched-but-filtered row does not
    // delete (residual conditions reach the join)
    spark.sql("MERGE INTO rl.m4 t USING m4_delta d " +
      "ON t.k = d.dk AND t.v > 1000 WHEN MATCHED THEN DELETE")
    assert(rows("m4").contains(1L),
      "the residual conjunct must filter the match")
  }

  test("WHEN NOT MATCHED BY SOURCE compiles on the table side, pruned") {
    fixture("m7", n = 100, files = 8)
    spark.sql("CREATE OR REPLACE TEMP VIEW m7_active AS " +
      "SELECT * FROM VALUES (1L), (2L), (3L), (4L), (5L) AS d(ak)")
    val t = GraftTable.open(spark, locationOf("m7"), "k")
    val files = t.filesOf(t.head).filter(_.contains("/data/"))
    // the statement's read set = the matched keys (1..5) plus rows
    // satisfying the OR of the BY SOURCE conditions (k > 80): hide
    // every file holding NEITHER — the merge succeeding pins both
    // pruned reads at once
    val (cand, rest) = files.partition { f =>
      val ks = spark.read.parquet(f).select(col("k"))
        .collect().map(_.getLong(0))
      ks.exists(_ <= 5) || ks.exists(_ > 80)
    }
    assert(cand.nonEmpty && rest.nonEmpty,
      s"fixture must leave hideable files: ${cand.size}/${files.size}")
    rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try spark.sql("""MERGE INTO rl.m7 t USING m7_active a ON t.k = a.ak
      WHEN MATCHED THEN UPDATE SET v = 0
      WHEN NOT MATCHED BY SOURCE AND t.k > 90 THEN DELETE
      WHEN NOT MATCHED BY SOURCE AND t.k > 80 THEN UPDATE SET w = 'x'""")
    finally rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    val got = rows("m7")
    assert((1L to 5L).forall(k => got(k)._1 == 0L),
      "matched rows update")
    assert((91L to 100L).forall(k => !got.contains(k)),
      "unmatched rows satisfying the first BY SOURCE clause delete")
    assert((81L to 90L).forall(k => got(k) == (k * 10, "x")),
      "the second BY SOURCE clause catches the rest of its range")
    assert(got(50L) == (500L, "o") && got.size == 90,
      "rows matching no clause carry untouched")
    // ...and a key assignment in a BY SOURCE update refuses
    val e = intercept[Exception] {
      spark.sql("MERGE INTO rl.m7 t USING m7_active a ON t.k = a.ak " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = k + 1000")
    }
    assert(e.getMessage.contains("key column"))
  }

  test("BY SOURCE matches on the FULL ON condition (residual conjuncts)") {
    fixture("m9", n = 10, files = 1)
    // source carries keys 1..4; the residual conjunct t.v >= 30
    // fails for keys 1,2 (v = 10, 20) — SQL:2003/Delta matching says
    // those rows are NOT matched by source and receive the BY SOURCE
    // clause, even though their keys appear in the source
    spark.sql("CREATE OR REPLACE TEMP VIEW m9_active AS " +
      "SELECT * FROM VALUES (1L), (2L), (3L), (4L) AS d(ak)")
    spark.sql("""MERGE INTO rl.m9 t USING m9_active a
      ON t.k = a.ak AND t.v >= 30
      WHEN MATCHED THEN UPDATE SET w = 'A'
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET w = 'X'""")
    val got = rows("m9")
    assert(got(3L)._2 == "A" && got(4L)._2 == "A",
      "rows satisfying key equality AND the residual are matched")
    assert(got(1L)._2 == "X" && got(2L)._2 == "X",
      "key-matched rows FAILING the residual conjunct take BY SOURCE")
    assert((5L to 10L).forall(k => got(k)._2 == "X"),
      "rows with no source key take BY SOURCE")
    // a key addressed by BOTH an INSERT (its source row key-matched
    // but residual-failed) and a BY SOURCE clause raises the
    // cardinality violation — two rows cannot land under one key
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO rl.m9 t USING m9_active a
        ON t.k = a.ak AND t.v >= 99999
        WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (a.ak, 0L, 'i')
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET w = 'y'""")
    }
    assert(e.getMessage.contains("cardinality"),
      s"wanted the cardinality violation, got: ${e.getMessage}")
  }

  test("MERGE WITH SCHEMA EVOLUTION: O(metadata) widening, pruned read") {
    fixture("m8", n = 100, files = 8)
    val t = GraftTable.open(spark, locationOf("m8"), "k")
    val headBefore = t.head
    val filesBefore = t.filesOf(headBefore).filter(_.contains("/data/"))
    // source carries an extra column `lang` the target lacks
    spark.sql("""CREATE OR REPLACE TEMP VIEW m8_delta AS
      SELECT * FROM VALUES
        (1L,   111L, 'u', 'fr'),
        (101L, 1L,   'n', 'de')
      AS d(k, v, w, lang)""")
    // hide every file not holding the matched key (1): the evolved
    // merge's read set must be UNCHANGED by the width change
    val (cand, rest) = filesBefore.partition(f =>
      spark.read.parquet(f).select(col("k")).collect()
        .exists(_.getLong(0) == 1L))
    assert(cand.nonEmpty && rest.size >= 6,
      s"fixture must localize the delta: ${cand.size}/${filesBefore.size}")
    rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO rl.m8 t
      USING m8_delta d ON t.k = d.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    finally rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    // the widened schema landed as its OWN commit between the old
    // head and the merge commit, with ZERO data-file rewrites
    assert(t.head == headBefore + 2,
      "evolution = one O(metadata) commit, merge = one data commit")
    assert(t.filesOf(headBefore + 1).filter(_.contains("/data/"))
        .toSet == filesBefore.toSet,
      "the width change must rewrite NO data files")
    val got = spark.table("rl.m8").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(got(1L) == ((111L, "u", "fr")),
      "SET * covers the evolved column on the matched row")
    assert(got(101L) == ((1L, "n", "de")),
      "INSERT * carries the evolved column")
    assert(got(50L) == ((500L, "o", null)) && got.size == 101,
      "pre-evolution rows read NULL in the new column")
    // unmatched files carry by reference through the evolved merge
    assert(rest.toSet.subsetOf(t.filesOf(t.head).toSet),
      "unmatched files must carry by reference, never rewrite")
    // EXPLICIT assignments to the not-yet-existing column also
    // resolve (Spark defers them until its evolution rule widens the
    // target): a second evolving merge adds `score` via UPDATE SET
    spark.sql("""CREATE OR REPLACE TEMP VIEW m8_delta2 AS
      SELECT * FROM VALUES (2L, 0.5D), (102L, 0.9D) AS d(k, score)""")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO rl.m8 t
      USING m8_delta2 d ON t.k = d.k
      WHEN MATCHED THEN UPDATE SET score = d.score
      WHEN NOT MATCHED THEN INSERT (k, score) VALUES (d.k, d.score)""")
    val withScore = spark.table("rl.m8")
      .where(col("k").isin(1L, 2L, 102L))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(withScore(2L) == 0.5 && withScore(102L) == 0.9,
      "explicit assignments must cover the evolved column")
    assert(withScore(1L) == null,
      "rows the second merge did not touch read NULL in it")
  }

  test("INSERT onto a residual-failed EXISTING key upserts (documented)") {
    // the documented key-addressed delta (class scaladoc): a WHEN NOT
    // MATCHED INSERT whose key exists but failed the residual ON
    // conjuncts REPLACES the stored row under that key — an upsert
    // table cannot hold the duplicate row SQL:2003 would produce.
    // Pinned here so the deviation is loud, next to the
    // insert+by-source collision that DOES raise the violation.
    fixture("m10", n = 5, files = 1)
    spark.sql("CREATE OR REPLACE TEMP VIEW m10_d AS " +
      "SELECT * FROM VALUES (2L) AS d(dk)")
    spark.sql("MERGE INTO rl.m10 t USING m10_d d " +
      "ON t.k = d.dk AND t.v > 999 " +
      "WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (d.dk, 0L, 'i')")
    val got = rows("m10")
    assert(got(2L) == ((0L, "i")),
      "the key-addressed upsert replaces the stored row")
    assert(got.size == 5, "no duplicate row lands under the key")
  }

  test("an INSERT keyed off another source column upserts its existing key") {
    // the ON key is d.a but the INSERT keys its row by d.b: d.b = 95 is
    // an existing key in a file holding no matched row, so the commit
    // must still rewrite that file — the upsert replaces the row
    fixture("gk", n = 100, files = 8)
    spark.sql("CREATE OR REPLACE TEMP VIEW gk_d AS SELECT * FROM VALUES " +
      "(999L, 95L, 'N'), (5L, 5L, 'U') AS d(a, b, tag)")
    spark.sql("""MERGE INTO rl.gk t USING gk_d d ON t.k = d.a
      WHEN MATCHED THEN UPDATE SET w = d.tag
      WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (d.b, -1L, d.tag)""")
    assert(spark.table("rl.gk").where(col("k") === 95L).count() == 1,
      "one row under the inserted existing key")
    val got = rows("gk")
    assert(got(95L) == ((-1L, "N")) && got(5L) == ((50L, "U")))
    assert(got.size == 100)
  }

  /** the stage names of the Spark jobs `body` starts: every job
    * between two marker jobs (the listener bus delivers events in
    * order, so once the closing marker is seen every job before it
    * has been) */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("job-budget-"))
          .getOrElse(e.stageInfos.map(_.name).mkString("[", ", ", "]")))
        ()
      }
    }
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      ()
    }
    sc.addSparkListener(l)
    try {
      marker("job-budget-open")
      body
      marker("job-budget-close")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains("job-budget-close") &&
             System.nanoTime() < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      val s = seen.asScala.toSeq
      assert(s.contains("job-budget-close"), "listener never caught up")
      s.slice(s.indexOf("job-budget-open") + 1,
        s.indexOf("job-budget-close"))
    } finally sc.removeSparkListener(l)
  }

  test("a keyed MERGE runs <= 10 jobs and rewrites exactly the matched files") {
    // 16 key-range files over the even keys 2..3200; the MERGE deletes
    // and updates keys spread over ten files and inserts odd keys that
    // fall inside five OTHER files' ranges (candidates, never matched)
    spark.sql("DROP TABLE IF EXISTS rl.jb")
    spark.sql("CREATE TABLE rl.jb (k BIGINT, v BIGINT, w STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.range(1, 1601).selectExpr("id * 2 AS k", "id AS v", "'o' AS w")
      .repartitionByRange(16, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("jb_src")
    spark.sql("INSERT INTO rl.jb SELECT * FROM jb_src")
    val del = Seq(10L, 610L, 1210L, 1810L, 2410L)
    val upd = Seq(300L, 900L, 1500L, 2100L, 2700L)
    val ins = Seq(501L, 1101L, 1701L, 2301L, 2901L)
    spark.createDataFrame(
        del.map((_, "D", 7L)) ++ upd.map((_, "U", 7L)) ++ ins.map((_, "I", 7L)))
      .toDF("dk", "op", "amt").createOrReplaceTempView("jb_d")
    val t = GraftTable.open(spark, locationOf("jb"), "k")
    val v0 = t.head
    def norm(f: String) = f.replaceFirst("^file:(//)?", "")
    def filesAt(v: Long): Set[String] = t.read(v).inputFiles.map(norm).toSet
    val holders = t.read(v0).where(col("k").isin(del ++ upd: _*))
      .select(input_file_name()).distinct().collect()
      .map(r => norm(r.getString(0))).toSet
    assert(filesAt(v0).size == 16 && holders.size == 10)
    val jobs = jobsOf(spark.sql("""MERGE INTO rl.jb t USING jb_d d
      ON t.k = d.dk
      WHEN MATCHED AND d.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = t.v + d.amt, w = 'merged'
      WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (d.dk, d.amt, 'ins')"""))
    assert(jobs.size <= 10,
      s"the MERGE ran ${jobs.size} Spark jobs: ${jobs.mkString("; ")}")
    assert(t.head == v0 + 1)
    assert(filesAt(v0) -- filesAt(v0 + 1) == holders,
      "the commit removes exactly the files holding a matched key")
    val got = rows("jb")
    assert(del.forall(k => !got.contains(k)))
    assert(upd.forall(k => got(k) == ((k / 2 + 7L, "merged"))))
    assert(ins.forall(k => got(k) == ((7L, "ins"))))
    assert(got.size == 1600)
  }

  test("DELETE covers arbitrary expressions and subquery conditions") {
    fixture("m11", n = 100, files = 8)
    // beyond the V1 Filter language (SupportsDelete's limit): modulo
    // routes to the handle's stats-pruned COW delete
    spark.sql("DELETE FROM rl.m11 WHERE k % 10 = 0")
    assert(rows("m11").size == 90)
    // a SUBQUERY condition (the erasure-list shape) is ONE atomic
    // applyChanges commit
    spark.sql("CREATE OR REPLACE TEMP VIEW m11_subj AS " +
      "SELECT * FROM VALUES (1L), (2L), (3L) AS s(sk)")
    val t = GraftTable.open(spark, locationOf("m11"), "k")
    val h = t.head
    spark.sql("DELETE FROM rl.m11 WHERE k IN (SELECT sk FROM m11_subj)")
    assert(t.head == h + 1, "a subquery DELETE is one atomic commit")
    val got = rows("m11")
    assert(got.size == 87 && !got.contains(1L) && !got.contains(3L))
    // EXPLAIN stays lazy
    spark.sql("EXPLAIN DELETE FROM rl.m11 " +
      "WHERE k IN (SELECT sk FROM m11_subj)").collect()
    assert(t.head == h + 1, "EXPLAIN must not execute the delete")
  }

  test("a subquery DELETE's pushed conjuncts still prune the read set") {
    fixture("m12", n = 100, files = 8)
    val t = GraftTable.open(spark, locationOf("m12"), "k")
    val files = t.filesOf(t.head).filter(_.contains("/data/"))
    val (cand, rest) = files.partition(f =>
      spark.read.parquet(f).select(col("k")).collect()
        .exists(_.getLong(0) <= 5))
    assert(cand.nonEmpty && rest.size >= 6,
      s"fixture must localize the range: ${cand.size}/${files.size}")
    spark.sql("CREATE OR REPLACE TEMP VIEW m12_subj AS " +
      "SELECT * FROM VALUES (2L), (4L) AS s(sk)")
    // hide every file outside k <= 5: the snapshot read's pushed
    // conjunct and the applyChanges candidate read must open none
    rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try spark.sql("DELETE FROM rl.m12 " +
      "WHERE k <= 5 AND k IN (SELECT sk FROM m12_subj)")
    finally rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    val got = rows("m12")
    assert(got.size == 98 && !got.contains(2L) && !got.contains(4L))
    assert(rest.toSet.subsetOf(t.filesOf(t.head).toSet),
      "files outside the pushed range carry by reference")
  }

  test("UPDATE covers subquery conditions: old-row RHS, pruned, guarded") {
    fixture("m13", n = 100, files = 8)
    val t = GraftTable.open(spark, locationOf("m13"), "k")
    val files = t.filesOf(t.head).filter(_.contains("/data/"))
    val (cand, rest) = files.partition(f =>
      spark.read.parquet(f).select(col("k")).collect()
        .exists(_.getLong(0) <= 5))
    assert(cand.nonEmpty && rest.size >= 6,
      s"fixture must localize the range: ${cand.size}/${files.size}")
    spark.sql("CREATE OR REPLACE TEMP VIEW m13_subj AS " +
      "SELECT * FROM VALUES (2L), (4L) AS s(sk)")
    rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try spark.sql("UPDATE rl.m13 SET v = v + 1, w = 'sq' " +
      "WHERE k <= 5 AND k IN (SELECT sk FROM m13_subj)")
    finally rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    val got = rows("m13")
    assert(got(2L) == ((21L, "sq")) && got(4L) == ((41L, "sq")),
      "matched rows update with old-row right-hand sides")
    assert(got(3L) == ((30L, "o")) && got.size == 100,
      "unmatched rows carry verbatim")
    assert(rest.toSet.subsetOf(t.filesOf(t.head).toSet),
      "files outside the pushed range carry by reference")
    // the key refusal holds on the subquery route too
    val e = intercept[Exception] {
      spark.sql("UPDATE rl.m13 SET k = k + 1 " +
        "WHERE k IN (SELECT sk FROM m13_subj)")
    }
    assert(e.getMessage.contains("key column"))
  }

  test("subquery UPDATE/DELETE are ROW-addressed on duplicate-key tables") {
    // reachable state: INSERT INTO a keyed table is a raw APPEND, so
    // a key can hold several rows; ANSI DML addresses ROWS, and a
    // condition that splits a key's rows must never drop the
    // unmatched siblings (the round-17 verdict's row-loss edge)
    fixture("m14", n = 20, files = 2)
    spark.sql("INSERT INTO rl.m14 SELECT k, v + 1, 'dup' " +
      "FROM rl.m14 WHERE k IN (2, 4)")
    assert(spark.table("rl.m14").count() == 22)
    spark.sql("CREATE OR REPLACE TEMP VIEW m14_subj AS " +
      "SELECT * FROM VALUES (2L), (4L) AS s(sk)")
    def all(): Seq[(Long, Long, String)] =
      spark.table("rl.m14").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // residual-splitting UPDATE: matches only the 'o' row under each
    // duplicated key — the 'dup' sibling must CARRY, not vanish
    spark.sql("UPDATE rl.m14 SET v = v + 100 " +
      "WHERE k IN (SELECT sk FROM m14_subj) AND w = 'o'")
    val u = all()
    assert(u.size == 22, "no row may be lost by a split update")
    assert(u.contains((2L, 120L, "o")) && u.contains((2L, 21L, "dup")))
    assert(u.contains((4L, 140L, "o")) && u.contains((4L, 41L, "dup")))
    // residual-splitting DELETE: removes only the 'dup' siblings
    spark.sql("DELETE FROM rl.m14 " +
      "WHERE k IN (SELECT sk FROM m14_subj) AND w = 'dup'")
    val d = all()
    assert(d.size == 20 && d.contains((2L, 120L, "o")) &&
      d.contains((4L, 140L, "o")) && !d.exists(_._3 == "dup"))
    // FULL duplicates subtract by COUNT (exceptAll): two identical
    // rows under one key both match and both update
    spark.sql("INSERT INTO rl.m14 SELECT k, v, w FROM rl.m14 WHERE k = 6")
    spark.sql("UPDATE rl.m14 SET w = 'twin' " +
      "WHERE k IN (SELECT sk + 2 FROM m14_subj WHERE sk = 4)")
    assert(all().count(_ == ((6L, 60L, "twin"))) == 2)
    // the pure-key GDPR erasure shape still removes the whole group
    spark.sql("DELETE FROM rl.m14 " +
      "WHERE k IN (SELECT sk + 2 FROM m14_subj WHERE sk = 4)")
    assert(all().size == 19 && !all().exists(_._1 == 6L))
  }

  test("uncorrelated scalar subqueries in assignments evaluate once") {
    fixture("m15", n = 10, files = 2)
    // plain-condition route: the scalar reads the PRE-update snapshot
    spark.sql("UPDATE rl.m15 SET v = (SELECT MAX(v) FROM rl.m15) + 1 " +
      "WHERE k <= 2")
    val got = rows("m15")
    assert(got(1L)._1 == 101L && got(2L)._1 == 101L,
      "scalar = pre-update MAX(v) = 100, evaluated once")
    assert(got(3L)._1 == 30L)
    // subquery CONDITION and scalar ASSIGNMENT in one statement
    spark.sql("CREATE OR REPLACE TEMP VIEW m15_subj AS " +
      "SELECT * FROM VALUES (4L), (5L) AS s(sk)")
    spark.sql("UPDATE rl.m15 SET w = 'sq', " +
      "v = (SELECT COUNT(*) FROM m15_subj) " +
      "WHERE k IN (SELECT sk FROM m15_subj)")
    assert(rows("m15")(4L) == ((2L, "sq")) &&
      rows("m15")(5L) == ((2L, "sq")))
    // MERGE clause VALUES lift too — UPDATE and INSERT sides
    spark.sql("CREATE OR REPLACE TEMP VIEW m15_delta AS " +
      "SELECT * FROM VALUES (1L), (99L) AS d(dk)")
    spark.sql("MERGE INTO rl.m15 t USING m15_delta d ON t.k = d.dk " +
      "WHEN MATCHED THEN UPDATE SET v = (SELECT MIN(sk) FROM m15_subj) " +
      "WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES " +
      "(d.dk, (SELECT MAX(sk) FROM m15_subj), 'ins')")
    assert(rows("m15")(1L)._1 == 4L)
    assert(rows("m15")(99L) == ((5L, "ins")))
    // ...and in MERGE clause CONDITIONS (WHEN MATCHED AND <scalar>)
    spark.sql("MERGE INTO rl.m15 t USING m15_delta d ON t.k = d.dk " +
      "WHEN MATCHED AND t.v < (SELECT MAX(sk) FROM m15_subj) " +
      "THEN UPDATE SET w = 'cond'")
    assert(rows("m15")(1L) == ((4L, "cond")),
      "v=4 < max(sk)=5: the lifted condition scalar must gate the clause")
    assert(rows("m15")(99L) == ((5L, "ins")),
      "v=5 is not < 5: the clause must not fire")
    // an EMPTY scalar is NULL (the ANSI contract)
    spark.sql("UPDATE rl.m15 SET w = " +
      "(SELECT w FROM rl.m15 WHERE k = 12345) WHERE k = 3")
    assert(rows("m15")(3L)._2 == null)
    // more than one row raises the cardinality violation
    val e = intercept[Exception] {
      spark.sql("UPDATE rl.m15 SET v = (SELECT sk FROM m15_subj) " +
        "WHERE k = 3")
    }
    assert(e.getMessage.contains("more than one row"), e.getMessage)
    // CORRELATED scalars in assignments compile since round 18
    // (x70, the dedicated test below): k=3 has no m15_subj row, so
    // the per-row scalar is NULL — the ANSI empty-scalar contract
    spark.sql("UPDATE rl.m15 SET v = " +
      "(SELECT MAX(sk) FROM m15_subj WHERE sk = k) WHERE k = 3")
    assert(spark.table("rl.m15").where("k = 3 AND v IS NULL")
      .count() == 1)
    // ...and in NOT MATCHED BY SOURCE conditions AND assignment
    // values (round-18 self-review: the scalar-slot fill must reach
    // this clause family too — it used to index into Nil and crash)
    spark.sql("MERGE INTO rl.m15 t USING m15_delta d ON t.k = d.dk " +
      "WHEN NOT MATCHED BY SOURCE AND v < (SELECT MIN(sk) FROM " +
      "m15_subj) THEN UPDATE SET w = " +
      "(SELECT CONCAT('b', MAX(sk)) FROM m15_subj)")
    val nm = spark.table("rl.m15").where("k IN (4, 5)").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(nm == Map(4L -> "b5", 5L -> "b5"),
      "v=2 < min(sk)=4: the lifted NMBS scalars must fire")
    assert(spark.table("rl.m15").where("k = 1 AND w = 'cond'")
      .count() == 1, "source-matched rows carry")
  }

  test("correlated subquery assignments compute per-row values") {
    fixture("m16", n = 10, files = 2)
    spark.sql("CREATE OR REPLACE TEMP VIEW m16_sums AS " +
      "SELECT * FROM VALUES (1L, 5L), (1L, 7L), (2L, 11L), (4L, 1L) " +
      "AS s(sk, amt)")
    // null-safe reader: k=3 legitimately holds a NULL v below
    def m16: Map[Long, (Option[Long], String)] =
      spark.table("rl.m16").collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
          r.getString(2))).toMap
    // per-row aggregate: each matched row's own delta sum; a matched
    // row with NO source rows (k=3) gets NULL — ANSI scalar semantics
    spark.sql("UPDATE rl.m16 SET v = " +
      "(SELECT SUM(amt) FROM m16_sums WHERE sk = k) WHERE k <= 4")
    val got = m16
    assert(got(1L)._1 == Some(12L) && got(2L)._1 == Some(11L) &&
      got(4L)._1 == Some(1L))
    assert(got(3L)._1.isEmpty, "no source rows for k=3: NULL lands")
    assert(got(5L) == ((Some(50L), "o")), "rows outside WHERE carry")
    // old-row RHS composes with the correlated scalar, beside a
    // subquery CONDITION in the same statement
    spark.sql("UPDATE rl.m16 SET v = v + " +
      "(SELECT MAX(amt) FROM m16_sums WHERE sk = k), w = 'c' " +
      "WHERE k IN (SELECT sk FROM m16_sums)")
    val g2 = m16
    assert(g2(1L) == ((Some(19L), "c")) && g2(2L) == ((Some(22L), "c")) &&
      g2(4L) == ((Some(2L), "c")))
    // ROW-addressed on duplicate-key tables: the sibling under a
    // matched key failing the residual carries verbatim
    spark.sql("INSERT INTO rl.m16 SELECT 4L, 999L, 'dup'")
    spark.sql("UPDATE rl.m16 SET v = " +
      "(SELECT SUM(amt) FROM m16_sums WHERE sk = k) " +
      "WHERE k = 4 AND w = 'c'")
    val four = spark.table("rl.m16").where("k = 4").collect()
      .map(r => (r.getLong(1), r.getString(2))).toSet
    assert(four == Set((1L, "c"), (999L, "dup")),
      "the residual-failing sibling must carry, the matched row update")
    // key columns refuse assignment on this route too
    val e = intercept[Exception] {
      spark.sql("UPDATE rl.m16 SET k = " +
        "(SELECT MAX(sk) FROM m16_sums WHERE sk = k)")
    }
    assert(e.getMessage.contains("cannot UPDATE key column"),
      e.getMessage)
  }

  test("correlated EXISTS / NOT EXISTS conditions address rows") {
    fixture("m17", n = 10, files = 2)
    spark.sql("CREATE OR REPLACE TEMP VIEW m17_subj AS " +
      "SELECT * FROM VALUES (2L), (5L) AS s(sk)")
    // the x67 filtered-read route plans the correlated EXISTS as a
    // semi join (RewritePredicateSubquery) — the doc'd GDPR shape
    spark.sql("UPDATE rl.m17 SET w = 'e' WHERE EXISTS " +
      "(SELECT 1 FROM m17_subj WHERE sk = k)")
    val u = rows("m17")
    assert(u(2L)._2 == "e" && u(5L)._2 == "e")
    assert(u(3L)._2 == "o", "non-existing keys carry")
    // NOT EXISTS beside a pushable conjunct (anti-join shape)
    spark.sql("DELETE FROM rl.m17 WHERE NOT EXISTS " +
      "(SELECT 1 FROM m17_subj WHERE sk = k) AND k > 8")
    val left = rows("m17")
    assert(left.size == 8 && !left.contains(9L) && !left.contains(10L),
      "only subj-less keys above 8 delete")
  }

  test("row-addressed UPDATE and DELETE analyze to one command") {
    fixture("m20", n = 10, files = 2)
    spark.sql("CREATE OR REPLACE TEMP VIEW m20_subj AS " +
      "SELECT * FROM VALUES (4L), (5L) AS s(sk)")
    spark.sql("DROP TABLE IF EXISTS rl.m20s")
    spark.sql("CREATE TABLE rl.m20s (k BIGINT, " +
      "s STRUCT<x: BIGINT, y: STRING>) TBLPROPERTIES ('key' = 'k')")
    def analyzed(stmt: String): String = {
      val plan = spark.sql(s"EXPLAIN EXTENDED $stmt").head.getString(0)
      plan.substring(plan.indexOf("== Analyzed Logical Plan =="),
        plan.indexOf("== Optimized Logical Plan =="))
    }
    // a subquery condition (x67), correlated and struct-field
    // assignments (x70/x71), a subquery DELETE (x66)
    for (stmt <- Seq(
        "UPDATE rl.m20 SET w = 'sq' WHERE k IN (SELECT sk FROM m20_subj)",
        "UPDATE rl.m20 SET v = (SELECT MAX(sk) FROM m20_subj WHERE sk = k)",
        "UPDATE rl.m20s SET s.x = s.x + 1 WHERE k = 1",
        "DELETE FROM rl.m20 WHERE k IN (SELECT sk FROM m20_subj)")) {
      val a = analyzed(stmt)
      assert(a.contains("GraftSqlRowAddressedCommand"), s"$stmt:\n$a")
    }
    // subquery-free statements keep the stats-pruned handle verbs
    assert(analyzed("UPDATE rl.m20 SET v = (SELECT MAX(sk) FROM m20_subj)")
      .contains("GraftSqlUpdateCommand"))
    assert(analyzed("DELETE FROM rl.m20 WHERE k % 2 = 0")
      .contains("GraftSqlDeleteCommand"))
    // an uncorrelated scalar returning two rows inside a row-addressed
    // UPDATE: Spark's own runtime check raises the cardinality
    // violation, and nothing commits
    val t = GraftTable.open(spark, locationOf("m20"), "k")
    val h = t.head
    val e = intercept[Exception] {
      spark.sql("UPDATE rl.m20 SET v = (SELECT sk FROM m20_subj) " +
        "WHERE k IN (SELECT sk FROM m20_subj)")
    }
    val states = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).collect {
        case st: org.apache.spark.SparkThrowable => st.getSqlState
      }.toSeq
    assert(states.contains("21000"), s"SQLSTATEs $states: ${e.getMessage}")
    assert(e.getMessage.toLowerCase.contains("more than one row"),
      e.getMessage)
    assert(t.head == h && rows("m20")(4L) == ((40L, "o")))
  }

  test("struct-field assignments patch fields through UPDATE") {
    spark.sql("DROP TABLE IF EXISTS rl.m19")
    spark.sql("CREATE TABLE rl.m19 (k BIGINT, " +
      "s STRUCT<x: BIGINT, y: STRING>, w STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO rl.m19 SELECT id, " +
      "named_struct('x', id * 2, 'y', 'a'), 'o' FROM range(1, 6)")
    // nested + top-level in one statement, old-row RHS
    spark.sql("UPDATE rl.m19 SET s.x = s.x + 100, w = 'n' WHERE k <= 2")
    val r = spark.sql("SELECT k, s.x, s.y, w FROM rl.m19 ORDER BY k")
      .collect()
    assert(r(0).getLong(1) == 102L && r(0).getString(3) == "n")
    assert(r(1).getLong(1) == 104L && r(1).getString(2) == "a",
      "unassigned fields carry")
    assert(r(2).getLong(1) == 6L && r(2).getString(3) == "o",
      "unmatched rows carry")
    // two fields of one struct, one fed by a correlated scalar
    spark.sql("CREATE OR REPLACE TEMP VIEW m19_s AS " +
      "SELECT * FROM VALUES (4L, 9L) AS t(sk, amt)")
    spark.sql("UPDATE rl.m19 SET s.y = 'z', " +
      "s.x = (SELECT MAX(amt) FROM m19_s WHERE sk = k) WHERE k = 4")
    val r4 = spark.sql("SELECT s.x, s.y FROM rl.m19 WHERE k = 4")
      .collect().head
    assert(r4.getLong(0) == 9L && r4.getString(1) == "z")
    // assigning a column AND its fields in one statement refuses
    val e = intercept[Exception] {
      spark.sql("UPDATE rl.m19 SET s = named_struct('x', 1L, 'y', 'q')" +
        ", s.x = 2 WHERE k = 1")
    }
    assert(e.getMessage.toLowerCase.contains("assign"), e.getMessage)
    // MERGE clauses patch fields too: matched, by-source, and the
    // INSERT whole-column discipline
    spark.sql("CREATE OR REPLACE TEMP VIEW m19_d AS " +
      "SELECT * FROM VALUES (2L, 50L), (9L, 90L) AS t(dk, amt)")
    spark.sql("MERGE INTO rl.m19 t USING m19_d d ON t.k = d.dk " +
      "WHEN MATCHED THEN UPDATE SET s.x = d.amt, w = 'm' " +
      "WHEN NOT MATCHED THEN INSERT (k, s, w) VALUES " +
      "(d.dk, named_struct('x', d.amt, 'y', 'i'), 'i') " +
      "WHEN NOT MATCHED BY SOURCE AND k = 1 THEN UPDATE SET s.y = 'b'")
    val m = spark.sql("SELECT k, s.x, s.y, w FROM rl.m19")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
    assert(m(2L) == ((50L, "a", "m")), "matched patch carries y")
    assert(m(9L) == ((90L, "i", "i")), "insert lands the whole struct")
    assert(m(1L)._2 == "b", "by-source patch lands")
    val e2 = intercept[Exception] {
      spark.sql("MERGE INTO rl.m19 t USING m19_d d ON t.k = d.dk " +
        "WHEN NOT MATCHED THEN INSERT (k, s.x, w) VALUES " +
        "(d.dk, d.amt, 'i')")
    }
    assert(e2.getMessage.contains("INSERT assigns whole columns"),
      e2.getMessage)
  }

  test("SET col = DEFAULT resolves the declared default in UPDATE and MERGE") {
    spark.sql("DROP TABLE IF EXISTS rl.m18")
    spark.sql("CREATE TABLE rl.m18 (k BIGINT, v BIGINT DEFAULT 7, " +
      "w STRING) TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO rl.m18 SELECT id, id * 10, 'o' " +
      "FROM range(1, 6)")
    // Spark resolves DEFAULT against the catalog schema's
    // CURRENT_DEFAULT metadata before the row-level rule fires — the
    // declared default must land, not NULL
    spark.sql("UPDATE rl.m18 SET v = DEFAULT WHERE k = 2")
    assert(rows("m18")(2L) == ((7L, "o")))
    spark.sql("CREATE OR REPLACE TEMP VIEW m18_d AS " +
      "SELECT * FROM VALUES (3L), (9L) AS x(dk)")
    spark.sql("MERGE INTO rl.m18 t USING m18_d d ON t.k = d.dk " +
      "WHEN MATCHED THEN UPDATE SET v = DEFAULT " +
      "WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (d.dk, DEFAULT, 'i')")
    assert(rows("m18")(3L) == ((7L, "o")) && rows("m18")(9L) == ((7L, "i")))
    assert(rows("m18")(4L) == ((40L, "o")), "unmatched rows carry")
  }

  test("statements build lazily: EXPLAIN runs no commit") {
    fixture("m5", n = 4, files = 1)
    val t = GraftTable.open(spark, locationOf("m5"), "k")
    val head0 = t.head
    spark.sql("EXPLAIN UPDATE rl.m5 SET v = 0 WHERE k = 1").collect()
    spark.sql("CREATE OR REPLACE TEMP VIEW m5_delta AS " +
      "SELECT * FROM VALUES (1L) AS d(dk)")
    spark.sql("EXPLAIN MERGE INTO rl.m5 t USING m5_delta d " +
      "ON t.k = d.dk WHEN MATCHED THEN DELETE").collect()
    assert(t.head == head0, "EXPLAIN must not execute the mutation")
    assert(rows("m5").size == 4)
  }
}
