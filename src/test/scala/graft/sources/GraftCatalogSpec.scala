package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.table.GraftTable

/** The DSv2 catalog contract (GraftCatalog): CREATE/INSERT/SELECT,
  * native VERSION AS OF / TIMESTAMP AS OF time travel, ANSI ALTER
  * TABLE column verbs mapping onto the metadata-only evolution
  * commits, INSERT OVERWRITE as one atomic replace, and table
  * management (list/drop/rename) — all through plain spark.sql
  * against a warehouse directory. */
class GraftCatalogSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.gcat",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse",
      graft.util.Scratch.dir("graft-catalog-wh"))
    s
  }

  /** a table's storage location, read from its pointer conf */
  private def locationOf(name: String): String = {
    val wh = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    val lines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$wh/$name/catalog.conf")).linesIterator
    lines.next(); lines.next().trim
  }

  /** the key, INSERT discipline, CHECK constraints, schema mode,
    * clustering, bloom index and auto-compaction policy live only in the
    * manifest: no storage root carries a side file for any of them */
  private def assertNoKeySideFiles(name: String): Unit =
    Seq("key.conf", "insert.conf", "checks.conf", "schema.conf",
        "cluster.conf", "bloom.conf", "autocompact.conf").foreach { f =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"${locationOf(name)}/$f")),
        s"$name's storage root holds $f")
    }

  test("create/insert/select with version and timestamp time travel") {
    spark.sql("DROP TABLE IF EXISTS gcat.t1")
    spark.sql("CREATE TABLE gcat.t1 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    assert(spark.sql("SELECT * FROM gcat.t1").count() == 0,
      "a created-but-empty table reads as empty under its declared schema")
    // v1 is the CREATE-time declaration commit (schema, no data)
    spark.sql("INSERT INTO gcat.t1 VALUES (1, 'a'), (2, 'b')") // v2
    spark.sql("INSERT INTO gcat.t1 VALUES (3, 'c')")           // v3
    assert(spark.sql("SELECT * FROM gcat.t1").count() == 3)
    assert(spark.sql("SELECT * FROM gcat.t1 VERSION AS OF 2").count() == 2)
    // TIMESTAMP AS OF: the first insert's stamp resolves to it
    val t = GraftTable.open(spark, locationOf("t1"), "k")
    val ts = java.time.Instant.ofEpochMilli(t.commitTimestampOf(2))
    assert(spark.sql(
      s"SELECT * FROM gcat.t1 TIMESTAMP AS OF '$ts'").count() == 2)
    // filters and projections flow through (readWhere underneath)
    assert(spark.sql("SELECT v FROM gcat.t1 WHERE k = 2")
      .head.getString(0) == "b")
    // the DataFrame route reads the same table
    assert(spark.table("gcat.t1").count() == 3)
  }

  test("INSERT OVERWRITE replaces in one commit; history stays readable") {
    spark.sql("DROP TABLE IF EXISTS gcat.t2")
    spark.sql("CREATE TABLE gcat.t2 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.t2 VALUES (1, 'a'), (2, 'b')") // v2
    spark.sql("INSERT OVERWRITE gcat.t2 VALUES (9, 'z')")      // v3
    assert(spark.sql("SELECT * FROM gcat.t2").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "z")))
    assert(spark.sql("SELECT * FROM gcat.t2 VERSION AS OF 2").count() == 2,
      "the overwrite is a new version, not a rewrite of history")
    assert(GraftTable.open(spark, locationOf("t2"), "k").head == 3,
      "INSERT OVERWRITE must be exactly one commit")
  }

  test("ANSI ALTER TABLE column verbs map onto the evolution commits") {
    spark.sql("DROP TABLE IF EXISTS gcat.t3")
    spark.sql("CREATE TABLE gcat.t3 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.t3 VALUES (1, 'a')")             // v2
    spark.sql("ALTER TABLE gcat.t3 RENAME COLUMN v TO label")    // v3
    assert(spark.table("gcat.t3").columns.toSeq == Seq("k", "label"))
    spark.sql("ALTER TABLE gcat.t3 ADD COLUMN tier STRING DEFAULT 'std'") // v4
    spark.sql("INSERT INTO gcat.t3 VALUES (2, 'b', 'gold')")     // v5
    val byK = spark.table("gcat.t3").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(byK(1L) == null && byK(2L) == "gold")
    spark.sql("ALTER TABLE gcat.t3 DROP COLUMN tier")            // v6
    assert(spark.table("gcat.t3").columns.toSeq == Seq("k", "label"))
    // the rename/add really were metadata-only commits
    val t = GraftTable.open(spark, locationOf("t3"), "k")
    assert(t.filesOf(2) == t.filesOf(4),
      "ALTER verbs must not touch a data file")
    // unsupported changes name the GRAFT verb escape hatch
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.t3 SET TBLPROPERTIES ('x' = 'y')")
    }
    assert(e.getMessage.contains("GRAFT"))
  }

  test("ALTER works before the first INSERT (declared-schema bootstrap)") {
    spark.sql("DROP TABLE IF EXISTS gcat.t4")
    spark.sql("CREATE TABLE gcat.t4 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    // both verbs resolve against the CREATE-time declarations — no
    // data file exists yet
    spark.sql("ALTER TABLE gcat.t4 RENAME COLUMN v TO label")
    spark.sql("ALTER TABLE gcat.t4 ADD COLUMN tier STRING DEFAULT 'std'")
    assert(spark.table("gcat.t4").columns.toSeq ==
      Seq("k", "label", "tier"))
    spark.sql("INSERT INTO gcat.t4 VALUES (1, 'a', 'gold')")
    val r = spark.table("gcat.t4").head
    assert(r.getLong(0) == 1 && r.getString(1) == "a" &&
      r.getString(2) == "gold")
  }

  test("snapshot pinning: a loaded DataFrame re-executes against ITS version") {
    spark.sql("DROP TABLE IF EXISTS gcat.tp")
    spark.sql("CREATE TABLE gcat.tp (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    // an EMPTY table serves its declared schema with real columns
    assert(spark.sql("SELECT v FROM gcat.tp").count() == 0)
    spark.sql("INSERT INTO gcat.tp VALUES (1, 'a')")
    val pinned = spark.table("gcat.tp")
    assert(pinned.count() == 1)
    spark.sql("INSERT INTO gcat.tp VALUES (2, 'b')")
    assert(pinned.count() == 1,
      "re-executing a loaded frame must read the SAME snapshot")
    assert(spark.table("gcat.tp").count() == 2, "a fresh load sees the head")
  }

  test("manifest sizeInBytes flows through the shim: small catalog tables broadcast") {
    spark.sql("DROP TABLE IF EXISTS gcat.dim")
    spark.sql("CREATE TABLE gcat.dim (k BIGINT, nm STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.dim VALUES (1, 'a'), (2, 'b')")
    val fact = spark.range(0, 100000)
      .selectExpr("id % 3 AS k", "id AS x")
    val plan = fact.join(spark.table("gcat.dim"), "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a 2-row catalog table must broadcast, got:\n$plan")
  }

  test("a multi-change ALTER is one atomic commit; failures apply nothing") {
    spark.sql("DROP TABLE IF EXISTS gcat.am")
    spark.sql("CREATE TABLE gcat.am (k BIGINT, a STRING, b STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    val t = GraftTable.open(spark, locationOf("am"), "k")
    val h = t.head
    // three changes, ONE commit, sequential semantics (b renames to
    // the name a just vacated... no — a fresh name; the add sees both)
    spark.sql("ALTER TABLE gcat.am ADD COLUMNS (x BIGINT, y STRING)")
    assert(t.head == h + 1, "the batch must be one commit")
    assert(spark.table("gcat.am").columns.toSeq ==
      Seq("k", "a", "b", "x", "y"))
    // a failing batch (second add collides) applies NOTHING
    val h2 = t.head
    intercept[Exception] {
      spark.sql("ALTER TABLE gcat.am ADD COLUMNS (z BIGINT, a STRING)")
    }
    assert(t.head == h2, "a failed batch must not half-apply")
    assert(!spark.table("gcat.am").columns.contains("z"))
    // renaming the KEY column re-points the catalog's key
    spark.sql("ALTER TABLE gcat.am RENAME COLUMN k TO id")
    assert(spark.table("gcat.am").columns.head == "id")
    spark.sql("INSERT INTO gcat.am VALUES (1, 'a', 'b', 2, 'y')")
    assert(spark.sql("SELECT id FROM gcat.am WHERE id = 1").count() == 1)
  }

  test("CTAS creates and loads in one statement; TRUNCATE empties in one commit") {
    spark.sql("DROP TABLE IF EXISTS gcat.ctas")
    spark.sql("CREATE TABLE gcat.ctas TBLPROPERTIES ('key' = 'k') AS " +
      "SELECT id AS k, CAST(id AS STRING) AS v FROM range(1, 6)")
    assert(spark.table("gcat.ctas").count() == 5)
    assert(spark.table("gcat.ctas").columns.toSeq == Seq("k", "v"))
    val t = GraftTable.open(spark, locationOf("ctas"), "k")
    val h = t.head
    spark.sql("TRUNCATE TABLE gcat.ctas")
    assert(spark.table("gcat.ctas").count() == 0)
    assert(t.head == h + 1, "TRUNCATE is exactly one commit")
    assert(spark.sql(s"SELECT * FROM gcat.ctas VERSION AS OF $h")
      .count() == 5, "history survives the truncate")
  }

  test("ANSI DELETE FROM routes to the stats-pruned COW delete commit") {
    spark.sql("DROP TABLE IF EXISTS gcat.del")
    spark.sql("CREATE TABLE gcat.del (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.del SELECT id, CAST(id AS STRING) " +
      "FROM range(1, 11)")
    val t = GraftTable.open(spark, locationOf("del"), "k")
    val h = t.head
    spark.sql("DELETE FROM gcat.del WHERE k >= 8")
    assert(t.head == h + 1, "DELETE is exactly one commit")
    assert(spark.table("gcat.del").count() == 7)
    assert(spark.sql(s"SELECT * FROM gcat.del VERSION AS OF $h")
      .count() == 10, "history survives the delete")
    // NULL three-valued semantics ride the underlying verb
    spark.sql("DELETE FROM gcat.del WHERE v = 'nope'")
    assert(spark.table("gcat.del").count() == 7)
  }

  test("readStream.table follows appends with version offsets; mutations fail loudly") {
    spark.sql("DROP TABLE IF EXISTS gcat.st")
    spark.sql("CREATE TABLE gcat.st (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.st VALUES (1, 'a'), (2, 'b')")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ckpt = graft.util.Scratch.dir("graft-cat-stream-ckpt")
    def drain(): Unit = {
      val q = spark.readStream.table("gcat.st")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.select(col("k")).collect().foreach(r => seen.add(r.getLong(0)))
            ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // bootstrap: the current snapshot streams as the first batch
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.sorted == Seq(1L, 2L))
    spark.sql("INSERT INTO gcat.st VALUES (3, 'c')")
    drain() // restart resumes from the checkpointed version: only v3
    assert(seen.asScala.toSeq.sorted == Seq(1L, 2L, 3L))
    // a row-level mutation makes the table non-append-only for this
    // consumer: the crossing window fails loudly, naming the remedy
    GraftTable.open(spark, locationOf("st"), "k").delete(col("k") === 1)
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty
      else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    val e = intercept[Exception] { drain() }
    assert(msgs(e).exists(_.contains("APPENDS only")),
      s"want the appends-only failure, got: ${msgs(e).mkString(" | ")}")
  }

  test("readStream.table startingVersion: catch-up from a version, no snapshot") {
    spark.sql("DROP TABLE IF EXISTS gcat.sv")
    spark.sql("CREATE TABLE gcat.sv (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")                        // v1 (declare)
    spark.sql("INSERT INTO gcat.sv VALUES (1, 'a')")        // v2
    spark.sql("INSERT INTO gcat.sv VALUES (2, 'b')")        // v3
    spark.sql("INSERT INTO gcat.sv VALUES (3, 'c')")        // v4
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ckpt = graft.util.Scratch.dir("graft-cat-sv-ckpt")
    def drain(): Unit = {
      val q = spark.readStream
        .option("startingVersion", "3")
        .table("gcat.sv")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.select(col("k")).collect().foreach(r => seen.add(r.getLong(0)))
            ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // from v3: ONLY v4's append — no snapshot bootstrap
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.sorted == Seq(3L),
      s"startingVersion=3 must stream only the post-v3 appends, " +
        s"got ${seen.asScala.toSeq.sorted}")
    // restart on the same checkpoint: the checkpointed offset (a
    // version) wins over the option — the windows agree by construction
    spark.sql("INSERT INTO gcat.sv VALUES (4, 'd')")        // v5
    drain()
    assert(seen.asScala.toSeq.sorted == Seq(3L, 4L),
      "a restart resumes at the checkpointed version")
    // startingTimestamp resolves to the version current at the
    // instant (epoch millis, the format route's convention)
    val t = GraftTable.open(spark, locationOf("sv"), "k")
    val seen2 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q2 = spark.readStream
      .option("startingTimestamp", t.commitTimestampOf(3).toString)
      .table("gcat.sv")
      .writeStream
      .option("checkpointLocation", graft.util.Scratch.dir("graft-sv2"))
      .foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(col("k")).collect().foreach(r => seen2.add(r.getLong(0)))
          ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen2.asScala.toSeq.sorted == Seq(3L, 4L),
      s"startingTimestamp at v3's stamp streams v4+v5's appends, " +
        s"got ${seen2.asScala.toSeq.sorted}")
  }

  test("PARTITIONED BY maps onto standing clustering; partition reads prune") {
    spark.sql("DROP TABLE IF EXISTS gcat.pb")
    spark.sql("CREATE TABLE gcat.pb (k BIGINT, c BIGINT, v STRING) " +
      "PARTITIONED BY (c) TBLPROPERTIES ('key' = 'k')")
    assertNoKeySideFiles("pb")
    // 400 rows over 8 partition values, arriving as FOUR ingest
    // batches (the real cadence): each INSERT lays its files out
    // range-clustered on c — AQE sizes partitions by bytes, so a
    // KB-scale batch is one right-sized file with tight c stats
    spark.range(400).selectExpr("id AS k", "id DIV 50 AS c", "'x' AS v")
      .createOrReplaceTempView("pb_src")
    for (b <- 0 until 4)
      spark.sql(s"INSERT INTO gcat.pb SELECT * FROM pb_src " +
        s"WHERE c DIV 2 = $b")
    val t = GraftTable.open(spark, locationOf("pb"), "k")
    val files = t.filesOf(t.head).filter(_.contains("/data/"))
    assert(files.size >= 2, s"fixture needs several files, got ${files.size}")
    // the x17 manifest-pruning proof through catalog DDL: hide every
    // file that holds NO c=0 row; the partition-predicate read
    // succeeding proves the manifest stats pruned them
    val (cand, rest) = files.partition(f =>
      spark.read.parquet(f).where(col("c") === 0).limit(1)
        .collect().nonEmpty)
    assert(cand.nonEmpty && rest.nonEmpty,
      s"ingest-time clustering must localize c=0: ${cand.size}/${files.size}")
    rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try assert(spark.sql(
        "SELECT CAST(COUNT(*) AS BIGINT) FROM gcat.pb WHERE c = 0")
      .head.getLong(0) == 50)
    finally rest.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    // the clustering REPORTS as identity partitioning: DESCRIBE shows
    // it and a static PARTITION clause resolves against it
    assert(spark.sql("DESCRIBE TABLE gcat.pb").collect()
      .exists(r => r.getString(0).contains("Part 0") ||
        (r.getString(0) == "c" && r.getString(1).contains("bigint"))),
      "DESCRIBE must surface the partition column")
    spark.sql("INSERT INTO gcat.pb PARTITION (c = 99) " +
      "SELECT 999 AS k, 'p' AS v")
    assert(spark.sql("SELECT k FROM gcat.pb WHERE c = 99")
      .head.getLong(0) == 999L)
    // CLUSTER BY lands on the same machinery
    spark.sql("DROP TABLE IF EXISTS gcat.cb")
    spark.sql("CREATE TABLE gcat.cb (k BIGINT, c BIGINT) " +
      "CLUSTER BY (c) TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.cb SELECT k, c FROM pb_src")
    assert(spark.table("gcat.cb").count() == 400)
    // non-identity transforms keep the honest refusal
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.pbb (k BIGINT, c BIGINT) " +
        "PARTITIONED BY (bucket(4, c)) TBLPROPERTIES ('key' = 'k')")
    }
    // ALTER TABLE ... CLUSTER BY re-declares the standing clustering;
    // CLUSTER BY NONE clears it; a typo'd column refuses
    spark.sql("ALTER TABLE gcat.cb CLUSTER BY (k)")
    assert(GraftTable.open(spark, locationOf("cb"), "k")
      .clusterBy() == Seq("k"))
    assertNoKeySideFiles("cb")
    spark.sql("ALTER TABLE gcat.cb CLUSTER BY NONE")
    assert(GraftTable.open(spark, locationOf("cb"), "k")
      .clusterBy().isEmpty)
    intercept[Exception] {
      spark.sql("ALTER TABLE gcat.cb CLUSTER BY (nope)")
    }
    // SHOW CREATE TABLE reconstructs the key declaration
    val ddl = spark.sql("SHOW CREATE TABLE gcat.pb").head.getString(0)
    assert(ddl.contains("'key' = 'k'") && ddl.contains("graft"),
      s"SHOW CREATE must carry the key property, got: $ddl")
    // explicit LOCATION refuses loudly (managed storage indirection)
    val eLoc = intercept[Exception] {
      spark.sql("CREATE TABLE gcat.locd (k BIGINT) " +
        "TBLPROPERTIES ('key'='k') LOCATION '/tmp/elsewhere'")
    }
    assert(eLoc.getMessage.contains("MANAGED"))
  }

  test("REPLACE TABLE is atomic: old-or-new, history survives") {
    spark.sql("DROP TABLE IF EXISTS gcat.rp")
    spark.sql("CREATE TABLE gcat.rp (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.rp VALUES (1, 'a'), (2, 'b')") // v2
    val loc = locationOf("rp")
    val preReplace = spark.table("gcat.rp") // pinned at v2
    // CREATE OR REPLACE ... AS SELECT: new schema, new data, ONE commit
    spark.sql("CREATE OR REPLACE TABLE gcat.rp " +
      "TBLPROPERTIES ('key' = 'id') AS " +
      "SELECT id, id * 2 AS twice FROM RANGE(5)")             // v3
    assert(spark.table("gcat.rp").columns.toSeq == Seq("id", "twice"))
    assert(spark.table("gcat.rp").count() == 5)
    // the pre-replace reader still evaluates ITS snapshot (old files
    // retained — never absent)
    assert(preReplace.count() == 2,
      "a reader loaded before the replace sees the OLD table")
    // history survives on the SAME storage: time travel below the
    // replace serves the old schema and data
    val old = spark.sql("SELECT * FROM gcat.rp VERSION AS OF 2")
    assert(old.columns.toSeq == Seq("k", "v") && old.count() == 2)
    assert(locationOf("rp") == loc,
      "REPLACE keeps the storage location — that is what keeps history")
    // REPLACE TABLE (no AS SELECT): declared-only replacement
    spark.sql("REPLACE TABLE gcat.rp (x BIGINT, y STRING) " +
      "TBLPROPERTIES ('key' = 'x')")                          // v4
    assertNoKeySideFiles("rp")
    assert(spark.table("gcat.rp").columns.toSeq == Seq("x", "y"))
    assert(spark.table("gcat.rp").count() == 0)
    // ...and the replaced table ingests/mutates under its new key
    spark.sql("INSERT INTO gcat.rp VALUES (10, 'z'), (11, 'w')")
    spark.sql("DELETE FROM gcat.rp WHERE x = 10")
    assert(spark.table("gcat.rp").collect().map(_.getLong(0)).toSeq ==
      Seq(11L))
    // REPLACE of a missing table refuses; CREATE OR REPLACE creates
    intercept[Exception] {
      spark.sql("REPLACE TABLE gcat.rp_missing (k BIGINT) " +
        "TBLPROPERTIES ('key' = 'k')")
    }
    spark.sql("DROP TABLE IF EXISTS gcat.rp2")
    spark.sql("CREATE OR REPLACE TABLE gcat.rp2 " +
      "TBLPROPERTIES ('key' = 'id') AS SELECT id FROM RANGE(3)")
    assert(spark.table("gcat.rp2").count() == 3)
  }

  test("a FAILED replace leaves the old table intact AND configured") {
    spark.sql("DROP TABLE IF EXISTS gcat.rf")
    spark.sql("CREATE TABLE gcat.rf (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.rf VALUES (1, 10), (2, 20)")
    val t = GraftTable.open(spark, locationOf("rf"), "k")
    t.addCheck("v_pos", "v > 0")
    t.indexBloom(Seq("v"))
    t.setAutoCompact(minSmallFiles = 4)
    // the replacement query fails AT EXECUTION (ANSI divide-by-zero):
    // the old table must survive with its properties still armed — a
    // replace resets them only through its own commit, which a failure
    // never makes
    intercept[Exception] {
      spark.sql("CREATE OR REPLACE TABLE gcat.rf " +
        "TBLPROPERTIES ('key' = 'id') AS " +
        "SELECT id, CAST(1 AS BIGINT) / 0 AS boom FROM RANGE(3)")
    }
    assert(spark.table("gcat.rf").count() == 2,
      "the failed replace must not touch the data")
    assert(t.checks().contains("v_pos"),
      "the failed replace must not strip the survivor's constraints")
    assert(t.bloomConfig().nonEmpty && t.autoCompact().nonEmpty,
      "the failed replace must keep the bloom index and the policy")
    // ...and the constraint still enforces
    intercept[Exception] {
      spark.sql("INSERT INTO gcat.rf VALUES (3, -1)")
    }
    // the replacements below divide by a ROW value, so they fail in
    // the staged commit itself (a constant divisor fails in planning,
    // before the commit runs): one that would have DECLARED upsert
    // leaves the raw append discipline in force
    intercept[Exception] {
      spark.sql("CREATE OR REPLACE TABLE gcat.rf " +
        "TBLPROPERTIES ('key' = 'id', 'insert' = 'upsert') AS " +
        "SELECT id, CAST(1 AS BIGINT) / (id - 1) AS boom FROM RANGE(3)")
    }
    spark.sql("INSERT INTO gcat.rf VALUES (1, 11)")
    assert(spark.table("gcat.rf").count() == 3,
      "the failed replace must not arm the new INSERT discipline")
    // a replace that commits resets both
    spark.sql("CREATE OR REPLACE TABLE gcat.rf " +
      "TBLPROPERTIES ('key' = 'id') AS SELECT id, id AS v FROM RANGE(3)")
    assert(t.bloomConfig().isEmpty && t.autoCompact().isEmpty,
      "a successful replace resets the bloom index and the policy")
    // ...and one that would have dropped upsert keeps it armed
    spark.sql("DROP TABLE IF EXISTS gcat.rfu")
    spark.sql("CREATE TABLE gcat.rfu (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k', 'insert' = 'upsert')")
    spark.sql("INSERT INTO gcat.rfu VALUES (1, 10), (2, 20)")
    intercept[Exception] {
      spark.sql("CREATE OR REPLACE TABLE gcat.rfu " +
        "TBLPROPERTIES ('key' = 'id') AS " +
        "SELECT id, CAST(1 AS BIGINT) / (id - 1) AS boom FROM RANGE(3)")
    }
    spark.sql("INSERT INTO gcat.rfu VALUES (1, 11)")
    val gotU = spark.table("gcat.rfu").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spark.table("gcat.rfu").count() == 2 &&
      gotU == Map(1L -> 11L, 2L -> 20L),
      s"the failed replace must not strip the survivor's upsert " +
        s"discipline (got $gotU)")
  }

  test("RESTORE past a REPLACE brings back the old INSERT discipline") {
    spark.sql("DROP TABLE IF EXISTS gcat.rr")
    spark.sql("CREATE TABLE gcat.rr (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k', 'insert' = 'upsert')")   // v1
    spark.sql("INSERT INTO gcat.rr VALUES (1, 10)")          // v2
    spark.sql("CREATE OR REPLACE TABLE gcat.rr " +
      "TBLPROPERTIES ('key' = 'id') AS " +
      "SELECT id, id * 2 AS twice FROM RANGE(3)")           // v3
    val es = graft.util.ExtSession(spark) // the GRAFT verbs' parser
    es.sql(s"GRAFT RESTORE '${locationOf("rr")}' TO 2")      // v4
    // the restored version serves its own key and schema...
    assert(spark.table("gcat.rr").columns.toSeq == Seq("k", "v"))
    // ...and its own INSERT discipline: a re-ingested key replaces
    spark.sql("INSERT INTO gcat.rr VALUES (1, 11)")
    val got = spark.table("gcat.rr").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spark.table("gcat.rr").count() == 1 && got == Map(1L -> 11L),
      s"the restored upsert table must replace the row, not append a " +
        s"duplicate (got $got)")
  }

  test("RESTORE below a property change brings back that version's setting") {
    spark.sql("DROP TABLE IF EXISTS gcat.rc")
    spark.sql("CREATE TABLE gcat.rc (k BIGINT, c BIGINT) " +
      "CLUSTER BY (c) TBLPROPERTIES ('key' = 'k')")           // v1
    spark.sql("INSERT INTO gcat.rc VALUES (1, 10)")          // v2
    spark.sql("ALTER TABLE gcat.rc CLUSTER BY (k)")          // v3
    val es = graft.util.ExtSession(spark) // the GRAFT verbs' parser
    es.sql(s"GRAFT RESTORE '${locationOf("rc")}' TO 2")      // v4
    val t = GraftTable.open(spark, locationOf("rc"), "k")
    assert(t.clusterBy() == Seq("c"))
    val desc = spark.sql("DESCRIBE TABLE gcat.rc").collect()
      .map(_.getString(0)).toSeq
    assert(desc.dropWhile(_ != "# Partition Information").drop(2)
      .takeWhile(r => r.nonEmpty && !r.startsWith("#")) == Seq("c"),
      s"the restored clustering reports as the partitioning: $desc")
    // a constraint declared through the GRAFT verb on the table's
    // storage root is a manifest row too, and RESTORE below it lifts it
    es.sql(s"GRAFT CONSTRAINT '${locationOf("rc")}' ADD c_pos CHECK (c > 0)")
    assertNoKeySideFiles("rc")
    intercept[Exception] { spark.sql("INSERT INTO gcat.rc VALUES (2, -1)") }
    es.sql(s"GRAFT RESTORE '${locationOf("rc")}' TO 4")      // v6
    spark.sql("INSERT INTO gcat.rc VALUES (2, -1)")
    assert(spark.table("gcat.rc").count() == 2)
    // so are the bloom index and the auto-compaction policy
    es.sql(s"GRAFT INDEX '${locationOf("rc")}' BLOOM (c)")
    es.sql(s"GRAFT AUTOCOMPACT '${locationOf("rc")}' MIN 3")
    assertNoKeySideFiles("rc")
    assert(t.bloomConfig().nonEmpty && t.autoCompact().nonEmpty)
  }

  test("atomic CTAS: the pointer registers only after the data landed") {
    spark.sql("DROP TABLE IF EXISTS gcat.ctas1")
    spark.sql("CREATE TABLE gcat.ctas1 TBLPROPERTIES ('key' = 'id') " +
      "AS SELECT id, id * 10 AS v FROM RANGE(7)")
    assert(spark.table("gcat.ctas1").count() == 7)
    val t = GraftTable.open(spark, locationOf("ctas1"), "id")
    assert(t.head == 2, "declare + data = two commits, both pre-registration")
    // a failing CTAS (unaliased aggregate column) registers NOTHING
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.ctas_bad TBLPROPERTIES ('key'='id') " +
        "AS SELECT id, COUNT(*) FROM RANGE(5) GROUP BY id")
    }
    assert(!spark.catalog.tableExists("gcat.ctas_bad"))
  }

  test("table management: exists, list, drop, rename") {
    spark.sql("DROP TABLE IF EXISTS gcat.m1")
    spark.sql("DROP TABLE IF EXISTS gcat.m2")
    spark.sql("CREATE TABLE gcat.m1 (k BIGINT) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO gcat.m1 VALUES (1)")
    assert(spark.sql("SHOW TABLES IN gcat").collect()
      .map(_.getString(1)).contains("m1"))
    spark.sql("ALTER TABLE gcat.m1 RENAME TO m2")
    assert(spark.table("gcat.m2").count() == 1)
    intercept[Exception] { spark.table("gcat.m1").count() }
    spark.sql("DROP TABLE gcat.m2")
    assert(!spark.sql("SHOW TABLES IN gcat").collect()
      .map(_.getString(1)).contains("m2"))
    // guards: a keyless CREATE fails loudly
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.bad1 (k BIGINT)")
    }
  }

  test("CREATE-time DEFAULT survives into INSERT column-list padding") {
    spark.sql("DROP TABLE IF EXISTS gcat.d1")
    spark.sql("CREATE TABLE gcat.d1 (k BIGINT, v STRING, " +
      "tier STRING DEFAULT 'std') TBLPROPERTIES ('key' = 'k')")
    // the advisor's exact hole: an explicit column list omitting the
    // defaulted column — Spark pads it, and the pad must be the
    // DECLARED default (CURRENT_DEFAULT metadata on schema()), not the
    // NULL the write-time fill can no longer correct (column present)
    spark.sql("INSERT INTO gcat.d1 (k, v) VALUES (1, 'a')")
    // a frame that OMITS the column entirely: write-time fill path
    spark.sql("INSERT INTO gcat.d1 (k, v, tier) VALUES (2, 'b', 'gold')")
    // an EXPLICIT NULL stays NULL (explicit values always win)
    spark.sql("INSERT INTO gcat.d1 VALUES (3, 'c', NULL)")
    val byK = spark.table("gcat.d1").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byK == Map(1L -> "std", 2L -> "gold", 3L -> null))
  }

  test("identifiers resolve case-insensitively, like any metastore") {
    spark.sql("DROP TABLE IF EXISTS gcat.ci1")
    spark.sql("CREATE TABLE gcat.ci1 (k BIGINT) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO gcat.Ci1 VALUES (7)")
    assert(spark.sql("SELECT * FROM gcat.CI1").count() == 1,
      "a differently-cased reference must find the same table")
    // a differently-cased CREATE collides instead of forking a twin
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.CI1 (k BIGINT) TBLPROPERTIES ('key'='k')")
    }
    spark.sql("DROP TABLE gcat.cI1")
    assert(!spark.catalog.tableExists("gcat.ci1"))
  }

  test("key rename is complete at its commit: no pointer rewrite, no window") {
    spark.sql("DROP TABLE IF EXISTS gcat.kr1")
    spark.sql("CREATE TABLE gcat.kr1 (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'id')")
    spark.sql("INSERT INTO gcat.kr1 VALUES (1, 'a')")
    val wh = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    val confPath = java.nio.file.Paths.get(s"$wh/kr1/catalog.conf")
    val confBefore = java.nio.file.Files.readString(confPath)
    spark.sql("ALTER TABLE gcat.kr1 RENAME COLUMN id TO ident")
    // a second rename — the case the old re-point scheme could strand
    // (pointer holding a stale intermediate logical name)
    spark.sql("ALTER TABLE gcat.kr1 RENAME COLUMN ident TO rid")
    assert(java.nio.file.Files.readString(confPath) == confBefore,
      "the pointer persists the key's PHYSICAL name — a logical " +
        "rename must not touch it (the old in-place overwrite was " +
        "the crash window)")
    // loads resolve the logical name from the manifest and every verb
    // speaks it: insert, filter, and a stats-pruned DELETE by key
    spark.sql("INSERT INTO gcat.kr1 VALUES (2, 'b')")
    assert(spark.sql("SELECT v FROM gcat.kr1 WHERE rid = 2")
      .head.getString(0) == "b")
    spark.sql("DELETE FROM gcat.kr1 WHERE rid = 1")
    assert(spark.table("gcat.kr1").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("a failed CREATE leaves nothing registered; the retry succeeds") {
    spark.sql("DROP TABLE IF EXISTS gcat.fc1")
    // passes Spark's checks but fails graft's default validation
    // (one-line constant contract) INSIDE the storage bootstrap — with
    // pointer-first ordering this used to strand a registered,
    // bootstrap-less table that blocked every retry
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.fc1 (k BIGINT, c STRING " +
        "DEFAULT 'a\nb') TBLPROPERTIES ('key' = 'k')")
    }
    assert(!spark.catalog.tableExists("gcat.fc1"),
      "a failed CREATE must not register a pointer")
    spark.sql("CREATE TABLE gcat.fc1 (k BIGINT, c STRING " +
      "DEFAULT 'ab') TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.fc1 (k) VALUES (1)")
    assert(spark.table("gcat.fc1").head.getString(1) == "ab")
  }

  test("LOCATION registers an existing graft root READ-ONLY") {
    spark.sql("DROP TABLE IF EXISTS gcat.xsrc")
    spark.sql("DROP TABLE IF EXISTS gcat.xro")
    spark.sql("CREATE TABLE gcat.xsrc (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.xsrc VALUES (1, 'a'), (2, 'b')") // v2
    spark.sql("INSERT INTO gcat.xsrc VALUES (3, 'c')")           // v3
    val loc = locationOf("xsrc")
    spark.sql(s"CREATE TABLE gcat.xro LOCATION '$loc'")
    // reads and time travel agree with the owning table's handle
    val t = GraftTable.open(spark, loc, "k")
    assert(spark.table("gcat.xro").count() == t.read().count())
    assert(spark.sql("SELECT * FROM gcat.xro VERSION AS OF 2")
      .count() == t.read(2).count())
    assert(spark.sql("SELECT v FROM gcat.xro WHERE k = 2")
      .head.getString(0) == "b")
    // ...and follows the owner's NEW commits (one storage, one truth)
    spark.sql("INSERT INTO gcat.xsrc VALUES (4, 'd')")
    assert(spark.table("gcat.xro").count() == 4)
    // every mutation refuses
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO gcat.xro VALUES (9, 'z')")
    }
    assert(e1.getMessage.toLowerCase.contains("does not support") ||
      e1.getMessage.contains("read-only") ||
      e1.getMessage.contains("READ-ONLY"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.xro ADD COLUMN extra STRING")
    }
    assert(e2.getMessage.contains("READ-ONLY"), e2.getMessage)
    // DROP removes only the pointer; the owning table is untouched
    spark.sql("DROP TABLE gcat.xro")
    assert(spark.table("gcat.xsrc").count() == 4,
      "dropping the registration must not touch the owner's storage")
    assert(GraftTable.open(spark, loc, "k").read().count() == 4)
  }

  test("external registration covers bare roots and streaming reads") {
    // a BARE root created through the handle (no catalog, no key
    // stamp) registers with an explicit TBLPROPERTIES key
    spark.sql("DROP TABLE IF EXISTS gcat.xbare")
    val root = graft.util.Scratch.dir("graft-ext-bare")
    val t = GraftTable.create(spark, root, "k",
      spark.range(1, 6).selectExpr("id AS k", "id * 2 AS v"))
    // without the key it refuses, naming the escape hatch
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE gcat.xbare LOCATION '$root'")
    }
    assert(e.getMessage.contains("key"), e.getMessage)
    spark.sql(s"CREATE TABLE gcat.xbare TBLPROPERTIES ('key' = 'k') " +
      s"LOCATION '$root'")
    assert(spark.table("gcat.xbare").count() == 5)
    // readStream.table through the registration follows the OWNER's
    // commits (snapshot bootstrap, then the owner's append window)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val ckpt = graft.util.Scratch.dir("graft-ext-rs-ckpt")
    def drain(): Unit = {
      val q = spark.readStream.table("gcat.xbare")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(b.count()); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(seen.get() == 5, "snapshot bootstrap through the pointer")
    t.append(spark.range(6, 9).selectExpr("id AS k", "id * 2 AS v"))
    drain()
    assert(seen.get() == 8, "the owner's append flows through")
    spark.sql("DROP TABLE gcat.xbare")
    assert(t.read().count() == 8, "DROP leaves the bare root intact")
  }

  test("a key-changing REPLACE crash before the pointer rewrite heals") {
    spark.sql("DROP TABLE IF EXISTS gcat.kw1")
    spark.sql("CREATE TABLE gcat.kw1 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.kw1 VALUES (1, 10), (2, 20)")
    val wh = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    val confP = java.nio.file.Paths.get(s"$wh/kw1/catalog.conf")
    val oldConf = java.nio.file.Files.readAllBytes(confP)
    // the replace changes the KEY (k → ck) and drops the old key
    // column entirely
    spark.sql("CREATE OR REPLACE TABLE gcat.kw1 " +
      "TBLPROPERTIES ('key' = 'ck') AS " +
      "SELECT v AS ck, v * 2 AS n FROM VALUES (10L), (20L) AS s(v)")
    // simulate the crash window: the replace committed on the
    // storage but the pointer rewrite never happened (the local fs
    // keeps a checksum sidecar — drop it, as a real torn pointer
    // write would)
    java.nio.file.Files.write(confP, oldConf)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$wh/kw1/.catalog.conf.crc"))
    // healing is STRUCTURAL — the replace commit stamped the key into
    // the manifest itself, and loads resolve the key from that stamp
    // alone: reads serve the new schema
    assert(spark.table("gcat.kw1").columns.toSeq == Seq("ck", "n"))
    assert(spark.table("gcat.kw1").count() == 2)
    // ...and writes + keyed mutations run on the healed key
    spark.sql("INSERT INTO gcat.kw1 VALUES (30, 60)")
    assert(spark.table("gcat.kw1").count() == 3)
    spark.sql("DELETE FROM gcat.kw1 WHERE ck = 30")
    assert(spark.table("gcat.kw1").count() == 2)
  }

  test("the manifest key stamp heals the un-heuristic-able crashes") {
    // the two key-changing-REPLACE crash shapes a schema-presence
    // check could never detect (round-17 residuals a/b), closed by the
    // kind="keyrec" manifest row the declaring/replacing commit
    // itself writes: (1) the OLD key column SURVIVES into the new
    // schema — the stale pointer key still passes the presence
    // check; (2) a REORDERED same-part-set compound key — every part
    // (and __gkey) is present under either order.
    val wh = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    def simulateCrash(name: String, oldConf: Array[Byte]): Unit = {
      val confP = java.nio.file.Paths.get(s"$wh/$name/catalog.conf")
      java.nio.file.Files.write(confP, oldConf)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$wh/$name/.catalog.conf.crc"))
    }
    val es = graft.util.ExtSession(spark) // MERGE needs the rules
    // (1) old key column survives: key k → v, column k stays
    spark.sql("DROP TABLE IF EXISTS gcat.ks1")
    spark.sql("CREATE TABLE gcat.ks1 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.ks1 VALUES (1, 10), (2, 20)")
    val conf1 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$wh/ks1/catalog.conf"))
    spark.sql("CREATE OR REPLACE TABLE gcat.ks1 " +
      "TBLPROPERTIES ('key' = 'v') AS " +
      "SELECT * FROM VALUES (1L, 10L), (9L, 90L) AS s(k, v)")
    simulateCrash("ks1", conf1)
    // a MERGE addressed by the NEW key (v): under the stale pointer
    // key the ON condition would refuse ('must contain an equality
    // between EACH key column (k)') and SET k would be illegal
    es.sql("CREATE OR REPLACE TEMP VIEW ks1_d AS " +
      "SELECT * FROM VALUES (10L, 7L) AS d(sv, sk)")
    es.sql("MERGE INTO gcat.ks1 t USING ks1_d d ON t.v = d.sv " +
      "WHEN MATCHED THEN UPDATE SET k = d.sk")
    // the visible column order must SURVIVE the keyed rewrite: the
    // key (v) is column 1, and the pre-round-18 key-first anti-join
    // used to flip the rewritten file's recorded order to (v, k)
    assert(spark.table("gcat.ks1").columns.toSeq == Seq("k", "v"),
      "a keyed mutation must not reorder the visible schema")
    val got1 = spark.table("gcat.ks1").collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(got1 == Map(10L -> 7L, 90L -> 9L),
      s"the stamp must key the merge on v, not the stale pointer k " +
        s"(got $got1)")
    // (2) reordered compound key: (a,b) → (b,a), same columns
    spark.sql("DROP TABLE IF EXISTS gcat.ks2")
    spark.sql("CREATE TABLE gcat.ks2 (a STRING, b BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'a,b')")
    spark.sql("INSERT INTO gcat.ks2 VALUES ('x', 1, 10)")
    val conf2 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$wh/ks2/catalog.conf"))
    spark.sql("CREATE OR REPLACE TABLE gcat.ks2 " +
      "TBLPROPERTIES ('key' = 'b,a') AS " +
      "SELECT * FROM VALUES ('x', 1L, 100L), ('y', 2L, 200L) " +
      "AS s(a, b, v)")
    simulateCrash("ks2", conf2)
    // the synthesized storage key encodes parts IN ORDER: a MERGE
    // upsert under the stale (a,b) order would encode 'x|1' while
    // the table holds '1|x' — a silent DUPLICATE row instead of a
    // replacement
    es.sql("CREATE OR REPLACE TEMP VIEW ks2_d AS " +
      "SELECT * FROM VALUES ('x', 1L, 111L) AS d(da, db, dv)")
    es.sql("MERGE INTO gcat.ks2 t USING ks2_d d " +
      "ON t.a = d.da AND t.b = d.db " +
      "WHEN MATCHED THEN UPDATE SET v = d.dv " +
      "WHEN NOT MATCHED THEN INSERT (a, b, v) VALUES (d.da, d.db, d.dv)")
    val got2 = spark.table("gcat.ks2").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(spark.table("gcat.ks2").count() == 2 &&
      got2(("x", 1L)) == 111L,
      s"the stamp must keep the (b,a) part order (got $got2)")
  }

  test("'insert' = 'upsert' declares a key-consistent INSERT discipline") {
    // the INSERT-INTO-keyed-table story (round 18, x69): the DEFAULT
    // stays a raw append (duplicate keys reachable; row-level DML
    // handles them row-addressed), and a table declaring
    // 'insert'='upsert' gets one-row-per-key as an INVARIANT
    spark.sql("DROP TABLE IF EXISTS gcat.up1")
    spark.sql("CREATE TABLE gcat.up1 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k', 'insert' = 'upsert')")
    assertNoKeySideFiles("up1")
    spark.sql("INSERT INTO gcat.up1 VALUES (1, 10), (2, 20)")
    spark.sql("INSERT INTO gcat.up1 VALUES (2, 22), (3, 30)")
    val got = spark.table("gcat.up1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spark.table("gcat.up1").count() == 3 &&
      got == Map(1L -> 10L, 2L -> 22L, 3L -> 30L),
      s"a re-ingested key must REPLACE, not duplicate (got $got)")
    // a batch carrying duplicate keys refuses loudly — an arbitrary
    // winner would be silent nondeterminism
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gcat.up1 VALUES (5, 1), (5, 2)")
    }
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
    assert(spark.table("gcat.up1").count() == 3, "the refusal commits nothing")
    // the default table keeps the documented raw append
    spark.sql("DROP TABLE IF EXISTS gcat.up2")
    spark.sql("CREATE TABLE gcat.up2 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k')")
    assertNoKeySideFiles("up2")
    spark.sql("INSERT INTO gcat.up2 VALUES (1, 1)")
    spark.sql("INSERT INTO gcat.up2 VALUES (1, 2)")
    assert(spark.table("gcat.up2").count() == 2)
    // the property validates at the front door
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE gcat.up3 (k BIGINT) " +
        "TBLPROPERTIES ('key' = 'k', 'insert' = 'weird')")
    }
    assert(e2.getMessage.contains("'insert'"), e2.getMessage)
    // RTAS can flip the discipline off (and back on)
    spark.sql("CREATE OR REPLACE TABLE gcat.up1 " +
      "TBLPROPERTIES ('key' = 'k') AS SELECT 1L AS k, 1L AS v")
    assertNoKeySideFiles("up1")
    spark.sql("INSERT INTO gcat.up1 VALUES (1, 2)")
    assert(spark.table("gcat.up1").count() == 2,
      "a replace without the property reverts to raw append")
    // compound keys upsert under the synthesized storage key
    spark.sql("DROP TABLE IF EXISTS gcat.up4")
    spark.sql("CREATE TABLE gcat.up4 (a STRING, b BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'a,b', 'insert' = 'upsert')")
    spark.sql("INSERT INTO gcat.up4 VALUES ('x', 1, 10), ('y', 2, 20)")
    spark.sql("INSERT INTO gcat.up4 VALUES ('x', 1, 11)")
    val got4 = spark.table("gcat.up4").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(spark.table("gcat.up4").count() == 2 &&
      got4(("x", 1L)) == 11L, s"compound upsert (got $got4)")
    assertNoKeySideFiles("up4")
    // CTAS and REPLACE in both disciplines leave no side files either
    spark.sql("DROP TABLE IF EXISTS gcat.up6")
    spark.sql("CREATE TABLE gcat.up6 " +
      "TBLPROPERTIES ('key' = 'k', 'insert' = 'upsert') AS " +
      "SELECT 1L AS k, 1L AS v")
    assertNoKeySideFiles("up6")
    spark.sql("DROP TABLE IF EXISTS gcat.up7")
    spark.sql("CREATE TABLE gcat.up7 TBLPROPERTIES ('key' = 'k') AS " +
      "SELECT 1L AS k, 1L AS v")
    assertNoKeySideFiles("up7")
    spark.sql("CREATE OR REPLACE TABLE gcat.up7 " +
      "TBLPROPERTIES ('key' = 'k', 'insert' = 'upsert') AS " +
      "SELECT 2L AS k, 2L AS v")
    assertNoKeySideFiles("up7")
  }

  test("the upsert invariant covers INSERT OVERWRITE and streaming") {
    // round-18 self-review: every write path that can land a batch
    // must hold x69's one-row-per-key invariant, not just the plain
    // INSERT INTO branch
    spark.sql("DROP TABLE IF EXISTS gcat.up5")
    spark.sql("CREATE TABLE gcat.up5 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k', 'insert' = 'upsert')")
    spark.sql("INSERT INTO gcat.up5 VALUES (1, 10)")
    // a clean replacement corpus lands
    spark.sql("INSERT OVERWRITE gcat.up5 VALUES (7, 70), (8, 80)")
    assert(spark.table("gcat.up5").count() == 2)
    // a duplicate-key replacement refuses and commits nothing
    val e = intercept[Exception] {
      spark.sql("INSERT OVERWRITE gcat.up5 VALUES (9, 1), (9, 2)")
    }
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
    val got = spark.table("gcat.up5").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 70L, 8L -> 80L), s"refusal kept v2 (got $got)")
    // a streaming APPEND cannot hold the invariant — it refuses at
    // sink construction, pointing at the merge patterns
    val loc = locationOf("up5")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val e2 = intercept[Exception] {
      src.toDF().toDF("k", "v").writeStream
        .format("graft").option("path", loc)
        .option("checkpointLocation",
          graft.util.Scratch.dir("graft-up5-ckpt"))
        .start()
    }
    assert(e2.getMessage.contains("one-row-per-key"), e2.getMessage)
  }

  test("transaction surface: single-STATEMENT atomicity, by declaration") {
    // SURVEY §2.3 (round 18): multi-statement transactions
    // (BEGIN/COMMIT spanning statements or tables) are OUT OF SCOPE —
    // the engine's contract is Delta's: every statement is ONE atomic,
    // CAS-serialized version commit on its table, and there is no
    // cross-table coordinator (Spark itself has no transaction
    // manager to integrate with). Pin the refusal loudly at the
    // parser so the question is closed on the record, not implicit.
    val es = graft.util.ExtSession(spark) // the injected parser too
    Seq("BEGIN", "BEGIN TRANSACTION", "COMMIT", "ROLLBACK").foreach { stmt =>
      val e = intercept[Exception] { es.sql(stmt) }
      assert(e.isInstanceOf[
          org.apache.spark.sql.catalyst.parser.ParseException] ||
        e.getMessage.toLowerCase.contains("syntax"),
        s"'$stmt' must fail at parse, got: ${e.getMessage.take(120)}")
    }
    // the per-statement contract across TWO tables: two INSERTs are
    // two commits, each independently atomic and visible — there is
    // no state in which either table exposes a partial statement
    spark.sql("DROP TABLE IF EXISTS gcat.tx1")
    spark.sql("DROP TABLE IF EXISTS gcat.tx2")
    spark.sql("CREATE TABLE gcat.tx1 (k BIGINT) TBLPROPERTIES ('key'='k')")
    spark.sql("CREATE TABLE gcat.tx2 (k BIGINT) TBLPROPERTIES ('key'='k')")
    val t1 = GraftTable.open(spark, locationOf("tx1"), "k")
    val t2 = GraftTable.open(spark, locationOf("tx2"), "k")
    val (h1, h2) = (t1.head, t2.head)
    spark.sql("INSERT INTO gcat.tx1 VALUES (1)")
    spark.sql("INSERT INTO gcat.tx2 VALUES (1)")
    assert(t1.head == h1 + 1 && t2.head == h2 + 1,
      "one statement = exactly one version commit per table")
  }

  test("a stale external marker cannot poison a managed CREATE") {
    // a crashed/raced external registration of an older build leaves
    // external.conf with no catalog.conf beside it; a MANAGED create at
    // the same identifier must not load read-only (which would also
    // make DROP leak its storage) — the pointer's own mode line rules
    spark.sql("DROP TABLE IF EXISTS gcat.stale")
    val wh = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$wh/stale"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$wh/stale/external.conf"), "readonly")
    spark.sql("CREATE TABLE gcat.stale (k BIGINT) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.stale VALUES (1)") // writable: managed
    assert(spark.table("gcat.stale").count() == 1)
    val loc = locationOf("stale")
    spark.sql("DROP TABLE gcat.stale")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(loc)),
      "a managed drop must delete its own storage")
  }

  test("pointer mode rides the conf line: marker races cannot flip it") {
    // round 18: ownership (managed/external) is the pointer's own 4th
    // line, written inside the ONE exclusive create — external.conf
    // is never read
    val wh = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    def rewrite(p: java.nio.file.Path, s: String): Unit = {
      java.nio.file.Files.deleteIfExists(
        p.resolveSibling("." + p.getFileName + ".crc"))
      java.nio.file.Files.writeString(p, s)
    }
    // the round-17 advisor's interleaving, post-fix shape: a stray
    // marker landing BESIDE a completed managed pointer (an external
    // loser writing after the managed winner's cleanup) must not
    // flip the table read-only — the `managed` line is authoritative
    spark.sql("DROP TABLE IF EXISTS gcat.mx1")
    spark.sql("CREATE TABLE gcat.mx1 (k BIGINT) " +
      "TBLPROPERTIES ('key' = 'k')")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$wh/mx1/external.conf"), "readonly")
    spark.sql("INSERT INTO gcat.mx1 VALUES (1)") // still WRITABLE
    assert(spark.table("gcat.mx1").count() == 1)
    val mloc = locationOf("mx1")
    spark.sql("DROP TABLE gcat.mx1")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(mloc)),
      "a managed drop must still delete its own storage")
    // a NEW external registration is ONE atomic conf create: no
    // marker file exists to race, strip, or leave half-written —
    // and stripping the (absent) marker cannot make it writable
    spark.sql("DROP TABLE IF EXISTS gcat.mxs")
    spark.sql("DROP TABLE IF EXISTS gcat.mx2")
    spark.sql("CREATE TABLE gcat.mxs (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('key' = 'k')")
    spark.sql("INSERT INTO gcat.mxs VALUES (1, 10)")
    spark.sql(s"CREATE TABLE gcat.mx2 LOCATION '${locationOf("mxs")}'")
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$wh/mx2/external.conf")),
      "external registration must not need a second (marker) write")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.mx2 ADD COLUMN extra STRING")
    }
    assert(e.getMessage.contains("READ-ONLY"), e.getMessage)
    spark.sql("DROP TABLE gcat.mx2")
    assert(spark.table("gcat.mxs").count() == 1)
    // LEGACY pre-flag pointers (3 lines) are refused outright — with
    // the marker beside them or not, no load guesses their mode
    spark.sql("DROP TABLE IF EXISTS gcat.mx3")
    spark.sql(s"CREATE TABLE gcat.mx3 LOCATION '${locationOf("mxs")}'")
    val confP = java.nio.file.Paths.get(s"$wh/mx3/catalog.conf")
    val legacy = java.nio.file.Files.readString(confP)
      .linesIterator.toSeq.dropRight(1).mkString("\n")
    rewrite(confP, legacy)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$wh/mx3/external.conf"), "readonly")
    Seq("SELECT * FROM gcat.mx3", "ALTER TABLE gcat.mx3 ADD COLUMN " +
        "extra STRING", "DROP TABLE gcat.mx3").foreach { stmt =>
      val e2 = intercept[Exception](spark.sql(stmt).collect())
      assert(e2.getMessage.contains(s"catalog pointer $wh/mx3/catalog.conf") &&
        e2.getMessage.contains("no managed/external mode line"),
        e2.getMessage)
    }
    assert(spark.table("gcat.mxs").count() == 1,
      "a refused pointer must leave the owner's storage")
    graft.util.Scratch.deleteTree(java.nio.file.Paths.get(s"$wh/mx3"))
  }
}
