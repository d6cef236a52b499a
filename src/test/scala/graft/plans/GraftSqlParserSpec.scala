package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The injected-parser contract: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` answers GRAFT commands
  * through plain `spark.sql`, while every other statement delegates to
  * Spark's parser untouched. */
class GraftSqlParserSpec extends AnyFunSuite {

  private lazy val base = SparkTestSession.spark
  import base.implicits._

  /** a second session on the SAME SparkContext, built with the
    * extensions conf (the production injection route); the shared test
    * session is restored as active/default afterwards */
  private lazy val ext: SparkSession = {
    base // force creation first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a STATIC conf read from the
    // SparkContext at session build — on a pre-existing context (this
    // test JVM's) it cannot apply, so the session uses the documented
    // programmatic route: Builder.withExtensions(new GraftExtensions),
    // the exact same entry-point class the conf route instantiates
    try SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private def fixture(): String = {
    val t = graft.table.GraftTable.create(base,
      graft.util.Scratch.dir("graft-sqlparser"), "k",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1))
    t.merge(Seq((2L, "B2"), (4L, "d")).toDF("k", "v"))
    t.root
  }

  test("GRAFT CHANGES runs end-to-end through the injected spark.sql route") {
    val root = fixture()
    val out = ext.sql(s"GRAFT CHANGES '$root' KEY k FROM 1 TO 2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((2L, "B2", "update"), (4L, "d", "insert")))
    // preimage variant through the same syntax
    val pre = ext.sql(s"GRAFT CHANGES '$root' KEY k FROM 1 TO 2 WITH PREIMAGES")
      .where(col("change_type").startsWith("update"))
      .count()
    assert(pre == 2, "WITH PREIMAGES must split the update into two rows")
  }

  test("GRAFT HISTORY lists versions through spark.sql") {
    val root = fixture()
    val h = ext.sql(s"GRAFT HISTORY '$root'")
    assert(h.columns.toSeq ==
      Seq("version", "n_data_files", "n_dv_files", "txn",
        "n_rows", "bytes", "commit_ts"))
    assert(h.count() == 2)
    // round-12 manifest counts surface as per-version live-row totals
    assert(h.orderBy("version").collect().map(_.getAs[Long]("n_rows"))
      .toSeq == Seq(3L, 4L))
  }

  test("GRAFT DELETE/RESTORE mutate on execution — and ONLY on execution") {
    val root = fixture() // v1: {1a 2b 3c}, v2: merge {2→B2, +4d}
    def tbl = graft.table.GraftTable.open(base, root, "k")
    // EXPLAIN builds and formats the Command node without running it
    val plan = ext.sql(s"EXPLAIN GRAFT DELETE FROM '$root' KEY k WHERE k = 2")
      .head.getString(0)
    assert(plan.contains("GraftDeleteCommand"),
      "EXPLAIN must show the lazily-run command node")
    assert(tbl.head == 2, "EXPLAIN must be side-effect free")
    assert(tbl.read().count() == 4)
    // execution mutates and reports the committed version
    val v = ext.sql(s"GRAFT DELETE FROM '$root' KEY k WHERE k = 2")
      .head.getLong(0)
    assert(v == 3 && tbl.head == 3)
    assert(tbl.read().select(col("k")).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 3L, 4L))
    // the MoR cost model rides the same verb
    ext.sql(s"GRAFT DELETE FROM '$root' KEY k USING MOR WHERE v = 'c'")
    assert(tbl.head == 4 && tbl.deletionVectorsOf(4).nonEmpty)
    assert(tbl.filesOf(4) == tbl.filesOf(3), "MoR must rewrite nothing")
    assert(tbl.read().select(col("k")).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 4L))
    // RESTORE rolls back as a new commit; EXPLAIN of it is also inert
    ext.sql(s"EXPLAIN FORMATTED GRAFT RESTORE '$root' TO 2").collect()
    assert(tbl.head == 4)
    val rv = ext.sql(s"GRAFT RESTORE '$root' TO 2").head.getLong(0)
    assert(rv == 5 && tbl.read().count() == 4)
    assert(tbl.read().where(col("k") === 2).head.getString(1) == "B2")
  }

  test("MERGE/OPTIMIZE/CLUSTER/VACUUM run the whole lifecycle from SQL") {
    val root = fixture() // v1 {1a 2b 3c}, v2 merge {2→B2, +4d}
    def tbl = graft.table.GraftTable.open(base, root, "k")
    // EXPLAIN of a merge is inert: neither the table nor the source
    // query executes
    ext.sql(s"EXPLAIN GRAFT MERGE INTO '$root' KEY k " +
      "USING SELECT 9L AS k, 'z' AS v").collect()
    assert(tbl.head == 2, "EXPLAIN GRAFT MERGE must be side-effect free")
    // the merge source is arbitrary SQL resolved at run time
    val v = ext.sql(s"GRAFT MERGE INTO '$root' KEY k USING " +
      "SELECT * FROM VALUES (1L, 'A1'), (9L, 'NEW') AS t(k, v)")
      .head.getLong(0)
    assert(v == 3 && tbl.read().count() == 5)
    assert(tbl.read().where(col("k") === 1).head.getString(1) == "A1")
    // TXN makes the SQL merge replay-idempotent
    ext.sql(s"GRAFT MERGE INTO '$root' KEY k TXN 77 USING " +
      "SELECT 2L AS k, 'T2' AS v").collect()
    assert(tbl.head == 4)
    ext.sql(s"GRAFT MERGE INTO '$root' KEY k TXN 77 USING " +
      "SELECT 2L AS k, 'XX' AS v").collect()
    assert(tbl.head == 4, "replayed TXN must not commit")
    assert(tbl.read().where(col("k") === 2).head.getString(1) == "T2")
    // reorganization + retention verbs: rows never change
    val rows = tbl.read().collect().map(_.toSeq).toSet
    ext.sql(s"GRAFT OPTIMIZE '$root' TARGET 1 FILES").collect()
    assert(tbl.head == 5 && tbl.read().collect().map(_.toSeq).toSet == rows)
    ext.sql(s"GRAFT CLUSTER '$root' BY (k) TARGET 2 FILES").collect()
    assert(tbl.head == 6 && tbl.read().collect().map(_.toSeq).toSet == rows)
    val deleted = ext.sql(s"GRAFT VACUUM '$root' KEEP 1").head.getLong(0)
    assert(deleted > 0, "superseded files must vacuum")
    assert(tbl.read().collect().map(_.toSeq).toSet == rows)
  }

  test("CREATE/APPEND ingest from SQL; USING graft reads back — zero Scala") {
    val root = graft.util.Scratch.dir("graft-sql-create")
    // EXPLAIN of CREATE on a fresh root is inert: no version appears
    ext.sql(s"EXPLAIN GRAFT CREATE '$root' KEY k USING SELECT 1L AS k")
      .collect()
    assert(graft.table.GraftTable.open(base, root, "k").head == 0,
      "EXPLAIN GRAFT CREATE must not create anything")
    // the whole ingest-and-read loop in SQL text + a format string
    val v1 = ext.sql(s"GRAFT CREATE '$root' KEY k " +
      "RANGE CLUSTER INTO 2 FILES USING " +
      "SELECT * FROM VALUES (1L,'a'),(2L,'b'),(3L,'c'),(4L,'d') AS t(k,v)")
      .head.getLong(0)
    assert(v1 == 1)
    val t = graft.table.GraftTable.open(base, root, "k")
    assert(t.filesOf(1).size == 2, "RANGE CLUSTER must lay out 2 files")
    val v2 = ext.sql(s"GRAFT APPEND INTO '$root' KEY k USING " +
      "SELECT 5L AS k, 'e' AS v").head.getLong(0)
    assert(v2 == 2)
    ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_sql_loop
      USING graft OPTIONS (path '$root', keyCol 'k')""")
    assert(ext.sql("SELECT COUNT(*) AS n FROM graft_sql_loop")
      .head.getLong(0) == 5)
    ext.sql("DROP VIEW graft_sql_loop")
  }

  test("GRAFT CLONE forks a zero-copy table; EXPLAIN stays side-effect-free") {
    val root = fixture()
    val dst = graft.util.Scratch.dir("graft-sqlparser-clone")
    graft.util.Scratch.deleteTree(java.nio.file.Paths.get(dst))
    ext.sql(s"EXPLAIN GRAFT CLONE '$root' KEY k INTO '$dst'").collect()
    assert(!new java.io.File(s"$dst/commits/v1").exists,
      "EXPLAIN must not create the clone")
    assert(ext.sql(s"GRAFT CLONE '$root' KEY k INTO '$dst'")
      .head.getLong(0) == 1)
    // read back through the graft source: the clone serves the
    // source-head state by reference
    ext.sql(s"""CREATE OR REPLACE TEMP VIEW graft_clone_view
      USING graft OPTIONS (path '$dst', keyCol 'k')""")
    val rows = ext.sql("SELECT k, v FROM graft_clone_view ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // clone of the older version through the VERSION clause
    val dst2 = graft.util.Scratch.dir("graft-sqlparser-clone2")
    graft.util.Scratch.deleteTree(java.nio.file.Paths.get(dst2))
    ext.sql(s"GRAFT CLONE '$root' KEY k INTO '$dst2' VERSION 1")
    assert(graft.table.GraftTable.open(ext, dst2, "k").read().count() == 3)
  }

  test("GRAFT DETAIL summarizes the head from metadata") {
    val root = fixture()
    val d = ext.sql(s"GRAFT DETAIL '$root'").head
    assert(d.getAs[String]("root") == root)
    assert(d.getAs[Long]("version") == 2L)
    assert(d.getAs[Long]("oldest_version") == 1L)
    assert(d.getAs[Long]("n_rows") == 4L)
    assert(d.getAs[Long]("bytes") > 0L)
    assert(d.getAs[Long]("commit_ts") > 0L)
    assert(d.getAs[String]("check_constraints") == "")
    assert(d.getAs[String]("reader_features") == "")
    assert(d.getAs[String]("auto_compact") == "")
  }

  test("GRAFT INDEX declares a bloom index; point lookups prune through it") {
    val root = graft.util.Scratch.dir("graft-sql-index")
    // EXPLAIN is inert: no config appears
    ext.sql(s"EXPLAIN GRAFT INDEX '$root' BLOOM (tok)").collect()
    assert(graft.table.GraftTable.open(base, root, "k")
      .bloomConfig().isEmpty, "EXPLAIN GRAFT INDEX must not write config")
    assert(ext.sql(s"GRAFT INDEX '$root' BLOOM (tok) FPP 0.02")
      .head.getLong(0) == 1L)                          // v1: the index
    ext.sql(s"GRAFT CREATE '$root' KEY k USING " +     // v2: the data
      "SELECT id AS k, md5(CAST(id AS STRING)) AS tok FROM range(1, 101)")
    val t = graft.table.GraftTable.open(base, root, "k")
    assert(t.bloomConfig().contains((Seq("tok"), 0.02)))
    assert(t.bloomSidecarsOf(2).nonEmpty,
      "the SQL-created table must stage a bloom sidecar")
    val tok7 = java.security.MessageDigest.getInstance("MD5")
      .digest("7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(t.readWhere(col("tok") === tok7).count() == 1)
  }

  test("GRAFT RESTORE TO TIMESTAMP resolves through the commit stamps") {
    val root = fixture() // v1 create, v2 merge
    val t = graft.table.GraftTable.open(base, root, "k")
    val ts1 = t.commitTimestampOf(1)
    assert(ext.sql(s"GRAFT RESTORE '$root' TO TIMESTAMP $ts1")
      .head.getLong(0) == 3L, "the restore commits a NEW version")
    assert(t.read().collect().map(_.toSeq).toSet ==
           t.read(1).collect().map(_.toSeq).toSet,
      "the head must equal the as-of snapshot")
  }

  test("GRAFT CONSTRAINT gates SQL ingest; DROP re-opens it") {
    val root = graft.util.Scratch.dir("graft-sql-check")
    assert(ext.sql(
      s"GRAFT CONSTRAINT '$root' ADD amt_nonneg CHECK (amt >= 0)")
      .head.getLong(0) == 1L)
    ext.sql(s"GRAFT CREATE '$root' KEY k USING " +
      "SELECT id AS k, id * 10 AS amt FROM range(1, 11)")
    intercept[IllegalArgumentException] {
      ext.sql(s"GRAFT APPEND INTO '$root' KEY k USING " +
        "SELECT 99L AS k, -1L AS amt").collect()
    }
    val t = graft.table.GraftTable.open(base, root, "k")
    // v1 is the constraint's metadata-only commit, v2 the CREATE
    assert(t.head == 2, "the violating SQL append must not commit")
    // the drop is a VERSIONED metadata commit (round 15: racing
    // writers must see constraint changes as commit conflicts) — v3
    assert(ext.sql(s"GRAFT CONSTRAINT '$root' DROP amt_nonneg")
      .head.getLong(0) == 0L)
    assert(t.head == 3, "a constraint change claims a version slot")
    ext.sql(s"GRAFT APPEND INTO '$root' KEY k USING " +
      "SELECT 99L AS k, -1L AS amt").collect()
    assert(t.head == 4)
    // bad expression syntax fails AT PARSE, like any SQL statement
    intercept[Exception] {
      ext.sql(s"GRAFT CONSTRAINT '$root' ADD broken CHECK (amt >=)")
    }
    // ...and so does a DELETE predicate typo (an unparsable WHERE
    // would otherwise fold to Unknown in PredicateTree and surface
    // only at execution, after pruning was already disabled)
    intercept[Exception] {
      ext.sql(s"GRAFT DELETE FROM '$root' KEY k WHERE amt >=")
    }
  }

  test("GRAFT ALTER renames/drops columns from SQL; the key guard binds") {
    val root = graft.util.Scratch.dir("graft-sql-colmap")
    ext.sql(s"GRAFT CREATE '$root' KEY k USING " +
      "SELECT id AS k, CAST(id AS STRING) AS v, id * 2 AS extra " +
      "FROM range(1, 6)")
    // rename: a versioned metadata commit; reads serve the new name
    assert(ext.sql(s"GRAFT ALTER '$root' RENAME COLUMN v TO label")
      .head.getLong(0) == 2L)
    val t = graft.table.GraftTable.open(base, root, "k")
    assert(t.read().columns.toSeq == Seq("k", "label", "extra"))
    assert(t.read(1).columns.toSeq == Seq("k", "v", "extra"),
      "time travel below the rename serves the old name")
    // drop: the column stops projecting; the KEY clause binds the guard
    assert(ext.sql(s"GRAFT ALTER '$root' KEY k DROP COLUMN extra")
      .head.getLong(0) == 3L)
    assert(t.read().columns.toSeq == Seq("k", "label"))
    intercept[IllegalArgumentException] {
      ext.sql(s"GRAFT ALTER '$root' KEY k DROP COLUMN k")
    }
    // EXPLAIN over the mutating form stays side-effect-free
    val h = t.head
    ext.sql(s"EXPLAIN GRAFT ALTER '$root' RENAME COLUMN label TO v")
      .collect()
    assert(t.head == h, "EXPLAIN must not run the rename")
  }

  test("GRAFT ALTER ADD COLUMN declares with a type and optional default") {
    val root = graft.util.Scratch.dir("graft-sql-addcol")
    ext.sql(s"GRAFT CREATE '$root' KEY k USING " +
      "SELECT id AS k, CAST(id AS STRING) AS v FROM range(1, 4)")
    assert(ext.sql(
      s"GRAFT ALTER '$root' ADD COLUMN tier STRING DEFAULT 'std'")
      .head.getLong(0) == 2L)
    ext.sql(s"GRAFT APPEND INTO '$root' KEY k USING " +
      "SELECT id AS k, CAST(id AS STRING) AS v FROM range(10, 12)")
    val t = graft.table.GraftTable.open(base, root, "k")
    assert(t.read().columns.toSeq == Seq("k", "v", "tier"))
    val byK = t.read().collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(byK(1L) == null && byK(10L) == "std")
    // a parenthesized DDL type parses; DEFAULT stays optional
    assert(ext.sql(
      s"GRAFT ALTER '$root' ADD COLUMN amt DECIMAL(18,2)")
      .head.getLong(0) > 2L)
    assert(t.read().columns.toSeq == Seq("k", "v", "tier", "amt"))
    // type typos fail AT PARSE, like any SQL
    intercept[Exception] {
      ext.sql(s"GRAFT ALTER '$root' ADD COLUMN bad NOTATYPE")
    }
    // EXPLAIN stays side-effect-free
    val h = t.head
    ext.sql(s"EXPLAIN GRAFT ALTER '$root' ADD COLUMN e2 INT DEFAULT 7")
      .collect()
    assert(t.head == h, "EXPLAIN must not run the add")
  }

  test("GRAFT AUTOCOMPACT arms and disarms the ingest policy") {
    val root = graft.util.Scratch.dir("graft-sql-autocompact")
    ext.sql(s"GRAFT CREATE '$root' KEY k USING " +
      "SELECT id AS k, CAST(id AS STRING) AS v FROM range(1, 4)")
    assert(ext.sql(s"GRAFT AUTOCOMPACT '$root' MIN 3 TARGET 1")
      .head.getLong(0) == 1L)
    val t = graft.table.GraftTable.open(base, root, "k")
    assert(t.autoCompact().contains((3, 64L << 20, 1)))
    // two more 1-file appends cross the threshold: the fold commits
    ext.sql(s"GRAFT APPEND INTO '$root' KEY k USING " +
      "SELECT 10 AS k, 'a' AS v")
    ext.sql(s"GRAFT APPEND INTO '$root' KEY k USING " +
      "SELECT 11 AS k, 'b' AS v")
    assert(t.filesOf(t.head).size <= 2,
      "the policy must have folded (unfolded would be 4+ files)")
    assert(ext.sql(s"GRAFT AUTOCOMPACT '$root' OFF").head.getLong(0) == 0L)
    assert(t.autoCompact().isEmpty)
  }

  test("GRAFT UPDATE/OVERWRITE run the row-update and backfill verbs from SQL") {
    val root = graft.util.Scratch.dir("graft-sql-update")
    ext.sql(s"GRAFT CREATE '$root' KEY k USING " +
      "SELECT id AS k, id * 10 AS a, id * 100 AS b FROM range(1, 21)")
    // multi-assignment with a top-level-comma-safe function call; RHS
    // reads the OLD row (b = a + greatest(a, b) uses pre-update a)
    assert(ext.sql(s"GRAFT UPDATE '$root' KEY k " +
      "SET a = b, b = a + greatest(a, b) WHERE k = 3").head.getLong(0) == 2L)
    val t = graft.table.GraftTable.open(base, root, "k")
    val r3 = t.read().where(col("k") === 3).head
    assert(r3.getLong(1) == 300L && r3.getLong(2) == 330L)
    // the backfill: replace keys <= 5 with a recomputed even-key slice
    assert(ext.sql(s"GRAFT OVERWRITE '$root' KEY k WHERE k <= 5 USING " +
      "SELECT id AS k, id AS a, id AS b FROM range(2, 6, 2)")
      .head.getLong(0) == 3L)
    val keys = t.read().select(col("k")).collect().map(_.getLong(0)).sorted
    assert(keys.toSeq == (Seq(2L, 4L) ++ (6L to 20L)))
    // a replacement row outside the window aborts, table untouched
    intercept[IllegalArgumentException] {
      ext.sql(s"GRAFT OVERWRITE '$root' KEY k WHERE k <= 5 USING " +
        "SELECT 99L AS k, 0L AS a, 0L AS b").collect()
    }
    assert(t.head == 3)
    // parse-time validation: a malformed assignment and a bad RHS both
    // fail AT PARSE, side-effect-free
    intercept[Exception] {
      ext.sql(s"GRAFT UPDATE '$root' KEY k SET a WHERE k = 1")
    }
    intercept[Exception] {
      ext.sql(s"GRAFT UPDATE '$root' KEY k SET a = (b + WHERE k = 1")
    }
    assert(t.head == 3)
  }

  test("everything else delegates to Spark's parser untouched") {
    assert(ext.sql("SELECT 1 + 1 AS two").head.getInt(0) == 2)
    // the injected functions ride the same extensions entry point
    assert(ext.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head.getDouble(0) == 11.0)
    // malformed GRAFT text is NOT half-parsed: it falls through to the
    // delegate, which rejects it as the non-SQL it is
    intercept[Exception] { ext.sql("GRAFT CHANGES oops").collect() }
  }
}
