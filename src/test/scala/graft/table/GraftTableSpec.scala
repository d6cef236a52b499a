package graft.table

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Contracts of the public table API that x30's value hash cannot see:
  * version numbering, time travel across mutations, partial-rewrite
  * file diffs, vacuum safety, and commit liveness under a real
  * multi-writer race. */
class GraftTableSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ks: Long*) = ks.map(k => (k, s"s$k")).toDF("k", "v")
  private def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(col("k")).collect().map(_.getLong(0)).sorted.toSeq

  test("lifecycle: every mutation is one version; time travel crosses all of them") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-spec"), "k", rows(1, 2, 3))
    assert(t.head == 1)
    t.append(rows(4, 5))
    assert(t.head == 2)
    t.merge(Seq((2L, "UPDATED"), (6L, "INSERTED")).toDF("k", "v"))
    assert(t.head == 3)
    t.delete(col("k") === 1)
    assert(t.head == 4)
    t.compact()
    assert(t.head == 5)
    // head: 1 deleted, 2 updated, 6 inserted
    assert(keys(t.read()) == Seq(2L, 3L, 4L, 5L, 6L))
    assert(t.read().where(col("k") === 2).head.getString(1) == "UPDATED")
    // time travel: every intermediate state is still exactly readable
    assert(keys(t.read(1)) == Seq(1L, 2L, 3L))
    assert(keys(t.read(2)) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(t.read(2).where(col("k") === 2).head.getString(1) == "s2")
    assert(keys(t.read(3)) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(keys(t.read(4)) == Seq(2L, 3L, 4L, 5L, 6L))
  }

  test("an append in another column order keeps the table's column order") {
    // the snapshot orders columns by first appearance over its data
    // files, which sort by staged-dir uuid: a file written as (v, k)
    // must not flip a (k, v) table's visible order
    (1 to 8).foreach { i =>
      val t = GraftTable.create(spark,
        graft.util.Scratch.dir(s"graft-tbl-colorder-$i"), "k", rows(1))
      t.append(Seq(("s2", 2L)).toDF("v", "k"))
      assert(t.read().columns.toSeq == Seq("k", "v"), s"table $i")
      assert(t.read().collect().map(r => r.getLong(0) -> r.getString(1))
        .toMap == Map(1L -> "s1", 2L -> "s2"))
    }
  }

  test("merge and delete rewrite only the files that hold matched rows") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-spec"), "k",
      rows(1L to 20L: _*).repartition(4, col("k")))
    val v1 = t.filesOf(1)
    t.merge(Seq((7L, "U")).toDF("k", "v"))
    val v2 = t.filesOf(2)
    // exactly the file(s) holding key 7 left; the rest carried by reference
    assert(v1.intersect(v2).nonEmpty, "untouched files must carry")
    assert(v1.diff(v2).nonEmpty && v1.diff(v2).size < v1.size,
      "only matched files may rewrite")
    t.delete(col("k") === 13)
    val v3 = t.filesOf(3)
    assert(v2.intersect(v3).nonEmpty && v2.diff(v3).size < v2.size)
    assert(keys(t.read()) == ((1L to 20L).filterNot(_ == 13L)))
  }

  test("compaction shrinks the file count without changing a row") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-spec"), "k",
      rows(1L to 12L: _*).repartition(6))
    val before = t.read().collect().map(_.toSeq).toSet
    t.compact(targetFiles = 1)
    assert(t.filesOf(t.head).size < t.filesOf(1).size)
    assert(t.read().collect().map(_.toSeq).toSet == before)
  }

  test("expire vacuums only unreferenced files; the head read is untouched") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-spec"), "k", rows(1, 2, 3))
    t.delete(col("k") === 2) // v2 rewrites everything (single file table)
    val headBefore = t.read().collect().map(_.toSeq).toSet
    val vacuumed = t.expire(keepLast = 1)
    assert(vacuumed.nonEmpty, "v1's superseded files must vacuum")
    vacuumed.foreach(f => assert(!new java.io.File(f).exists))
    t.filesOf(t.head).foreach(f => assert(new java.io.File(f).exists))
    assert(t.read().collect().map(_.toSeq).toSet == headBefore)
  }

  test("6 concurrent appenders all land: no lost updates, no duplicates") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-spec"), "k", rows(0))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 6).map(i => Future { t.append(rows(i.toLong)) })
    Await.result(Future.sequence(fs), 120.seconds)
    assert(t.head == 7, "every writer must win exactly one version")
    assert(keys(t.read()) == (0L to 6L))
  }

  // ---- round-10 contracts ---------------------------------------------

  /** a range-clustered table whose manifest stats make pruning exact */
  private def rangeTable(prefix: String, n: Long = 100L, files: Int = 5) =
    GraftTable.create(spark, graft.util.Scratch.dir(prefix), "k",
      rows(1L to n: _*).repartitionByRange(files, col("k"))
        .sortWithinPartitions("k"))

  test("planning prunes off manifest stats: keys and predicates both") {
    val t = rangeTable("graft-tbl-prune")
    val data = t.manifestOf(1).filter(_.kind == "data")
    assert(data.size >= 4, "fixture needs several range files")
    // delta keys localized to the low range touch a strict subset
    val low = t.pruneByKeys(data, Seq((1L, "u"), (5L, "u")).toDF("k", "v"))
    assert(low.nonEmpty && low.size < data.size,
      s"key-localized delta must prune: ${low.size}/${data.size}")
    // predicate pruning walks the expression tree (And keeps the
    // range half, % is unknown; Not flips soundly)
    val p1 = t.pruneByPredicate(data, col("k") <= 10 && col("k") % 7 === 0)
    assert(p1.nonEmpty && p1.size < data.size)
    val p2 = t.pruneByPredicate(data, !(col("k") <= 80))
    assert(p2.nonEmpty && p2.size < data.size,
      "NOT over a key comparison must still prune the all-below files")
    // a STRING-column predicate prunes off the lexicographic sstats
    // bounds (round 11): kept files are exactly those whose byte-order
    // bounds can contain the literal, and the file physically holding
    // the matching row (k = 7) is among them
    val p3 = t.pruneByPredicate(data, col("v") === "s7")
    val expect3 = data.filter(_.sstats.get("v").forall { case (lo, hi) =>
      FooterStats.byteCompare(lo, "s7") <= 0 &&
      FooterStats.byteCompare("s7", hi) <= 0 }).map(_.file).sorted
    assert(p3 == expect3, "string pruning must keep exactly the sound subset")
    assert(p3.size < data.size, "string stats must really prune")
    val holder = data.filter(r => r.lo <= 7 && 7 <= r.hi).map(_.file)
    assert(holder.nonEmpty && holder.forall(p3.contains),
      "the file holding the matching row must survive pruning")
  }

  test("a key-localized merge READS only range-overlapping files") {
    val t = rangeTable("graft-tbl-read-prune")
    val data = t.manifestOf(1).filter(_.kind == "data")
    val delta = Seq((1L, "U1"), (3L, "U3")).toDF("k", "v")
    val cand = t.pruneByKeys(data, delta).toSet
    assert(cand.nonEmpty && cand.size < data.size)
    // physically hide every NON-candidate file: if any phase of the
    // merge (planning, refinement, rewrite) opened it, the merge would
    // throw — success is proof the files were never read, which is
    // strictly stronger than checking which files were REWRITTEN
    val hidden = data.map(_.file).filterNot(cand)
    hidden.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try t.merge(delta)
    finally hidden.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    assert(t.head == 2)
    assert(keys(t.read()) == (1L to 100L))
    assert(t.read().where(col("k") === 1).head.getString(1) == "U1")
    assert(t.read().where(col("k") === 3).head.getString(1) == "U3")
    // untouched files carried by reference across the commit
    assert(hidden.toSet.subsetOf(t.filesOf(2).toSet))
  }

  test("a NON-key-column delete READS only stats-overlapping files") {
    // the GDPR shape: keyed by row id, CLUSTERED by customer — the
    // delete predicate is over g, not the key, and must still prune
    // via the per-column stats map the manifest carries
    val df = (1L to 100L).map(k => (k, k / 20, s"s$k")).toDF("k", "g", "v")
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-colstats"), "k",
      df.repartitionByRange(5, col("g")).sortWithinPartitions("g"))
    val data = t.manifestOf(1).filter(_.kind == "data")
    assert(data.forall(_.stats.contains("g")),
      "every file must carry per-column stats for g")
    val cand = t.pruneByPredicate(data, col("g") === 2).toSet
    assert(cand.nonEmpty && cand.size < data.size,
      s"a g-localized predicate must prune: ${cand.size}/${data.size}")
    // hide every non-candidate file: the delete succeeding proves the
    // pruned files were never OPENED, not merely never rewritten
    val hidden = data.map(_.file).filterNot(cand)
    hidden.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try t.delete(col("g") === 2)
    finally hidden.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    assert(keys(t.read()) == (1L to 100L).filterNot(k => k / 20 == 2),
      "exactly g == 2 rows must be gone")
    assert(hidden.toSet.subsetOf(t.filesOf(2).toSet),
      "non-candidate files carry by reference")
  }

  test("cluster() z-orders: both dimensions prune after; rows identical") {
    // hash layout: every file spans the full range of both x and y, so
    // nothing prunes before the reorganization
    val df = (1L to 400L).map(k => (k, k % 20, k / 20, s"s$k"))
      .toDF("k", "x", "y", "v")
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-zorder"), "k",
      df.repartition(8, col("k")))
    t.delete(col("k") === 399, mode = "mor") // a pending DV to fold in
    val before = t.manifestOf(t.head).filter(_.kind == "data")
    assert(t.pruneByPredicate(before, col("x") <= 4).size == before.size,
      "hash layout must not prune on x")
    val rowsBefore = t.read().collect().map(_.toSeq).toSet
    t.cluster(Seq("x", "y"), targetFiles = 8)
    val after = t.manifestOf(t.head).filter(_.kind == "data")
    assert(after.forall(_.kind == "data"))
    assert(t.deletionVectorsOf(t.head).isEmpty,
      "clustering folds pending deletion vectors in")
    val px = t.pruneByPredicate(after, col("x") <= 4)
    val py = t.pruneByPredicate(after, col("y") <= 4)
    assert(px.size < after.size, s"x must prune post-cluster: ${px.size}/${after.size}")
    assert(py.size < after.size, s"y must prune post-cluster: ${py.size}/${after.size}")
    assert(t.read().collect().map(_.toSeq).toSet == rowsBefore,
      "clustering may change layout, never rows")
  }

  test("delete keeps NULL-evaluating rows that share a file with a match") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-null"), "k",
      Seq((1L, "x"), (2L, null), (3L, "y")).toDF("k", "v").coalesce(1))
    t.delete(col("v") === "x") // row 2's predicate is NULL, same file
    assert(keys(t.read()) == Seq(2L, 3L),
      "a NULL-predicate row must survive its file's rewrite")
    assert(t.read().where(col("k") === 2).head.isNullAt(1))
  }

  test("MoR delete rewrites nothing; reads match COW row-for-row") {
    val cow = rangeTable("graft-tbl-cow", n = 20L, files = 4)
    val mor = rangeTable("graft-tbl-mor", n = 20L, files = 4)
    val pred = col("k") % 5 === 0
    cow.delete(pred)
    mor.delete(pred, mode = "mor")
    // zero data files rewritten: v2's data file set IS v1's
    assert(mor.filesOf(2) == mor.filesOf(1))
    assert(mor.deletionVectorsOf(2).nonEmpty &&
           mor.deletionVectorsOf(1).isEmpty)
    // cross-mechanism equivalence through the API (the x29 property)
    val expect = (1L to 20L).filterNot(_ % 5 == 0)
    assert(keys(mor.read()) == expect)
    assert(mor.read().collect().map(_.toSeq).toSet ==
           cow.read().collect().map(_.toSeq).toSet)
    // later mutations honor the DV: merging a deleted key re-inserts
    // exactly one copy (the position-deleted original stays dead)
    mor.merge(Seq((5L, "BACK")).toDF("k", "v"))
    assert(mor.read().where(col("k") === 5).count() == 1)
    assert(mor.read().where(col("k") === 5).head.getString(1) == "BACK")
  }

  test("compact folds only small files; big files carry by reference") {
    val root = graft.util.Scratch.dir("graft-tbl-compact")
    val t = GraftTable.create(spark, root, "k",
      rows(1L to 2000L: _*).coalesce(1)) // one big file
    t.append(rows(2001L to 2004L: _*).repartition(4, col("k"))) // fragments
    val big = t.filesOf(1).head
    val bigLen = new java.io.File(big).length()
    t.filesOf(2).filterNot(_ == big).foreach(f =>
      assert(new java.io.File(f).length() < bigLen, "fixture: fragments smaller"))
    t.compact(targetFiles = 1, smallFileBytes = bigLen)
    val v3 = t.filesOf(3)
    assert(v3.contains(big), "an at-size file must carry by reference")
    assert(v3.size < t.filesOf(2).size, "fragments must fold")
    assert(keys(t.read()) == (1L to 2004L))
  }

  test("expire never vacuums a concurrent writer's staged files") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-race"), "k", rows(1, 2, 3))
    t.delete(col("k") === 2) // leaves v1's files unreferenced by head
    // a writer that has finished stage() but not yet published — the
    // exact mid-commit state the round-9 vacuum could corrupt
    val st = t.stageForTest(rows(10, 11))
    val vacuumed = t.expire(keepLast = 1)
    assert(vacuumed.nonEmpty, "v1's superseded files still vacuum")
    st.refs.foreach(r => assert(new java.io.File(r.file).exists,
      "staged-but-uncommitted files must survive expire"))
    assert(!vacuumed.exists(st.refs.map(_.file).contains(_)))
    // the writer then publishes; its files are live and readable
    val v = t.adoptForTest(st)
    assert(keys(t.read(v)) == Seq(1L, 3L, 10L, 11L))
    // once committed (marker cleared) the normal retention rules apply
    t.delete(col("k") === 10)
    val vac2 = t.expire(keepLast = 1)
    assert(t.filesOf(t.head).forall(f => new java.io.File(f).exists))
    assert(keys(t.read()) == Seq(1L, 3L, 11L))
  }

  test("expire(0) is rejected instead of silently vacuuming the head") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-keep"), "k", rows(1))
    intercept[IllegalArgumentException] { t.expire(keepLast = 0) }
    intercept[IllegalArgumentException] { t.expire(keepLast = -3) }
  }

  test("streamAppend: batch-id idempotency makes replays a no-op") {
    val t = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-tbl-stream"), "k")
    assert(t.streamAppend(rows(1, 2), 0L) == 1)
    assert(t.streamAppend(rows(3, 4), 1L) == 2)
    val before = t.read().collect().map(_.toSeq).toSet
    // the replay window: Spark re-delivers the last batch after a
    // failure between sink commit and checkpoint write
    assert(t.streamAppend(rows(3, 4), 1L) == 2, "replay must not commit")
    assert(t.head == 2)
    assert(t.read().collect().map(_.toSeq).toSet == before)
    // drained stream ≡ batch append of the same rows
    assert(keys(t.read()) == Seq(1L, 2L, 3L, 4L))
  }

  test("change feed: append is pure inserts, DV delete is pure deletes") {
    val t = rangeTable("graft-tbl-cdc", n = 20L, files = 4)
    t.append(rows(21L, 22L))
    val c12 = t.changes(1, 2)
    assert(c12.select(col("change_type")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("insert"))
    assert(keys(c12.drop("change_type")) == Seq(21L, 22L))
    // a MoR delete touches no data file — the feed must classify off
    // the new deletion vector over CARRIED files
    t.delete(col("k") % 7 === 0, mode = "mor")
    val c23 = t.changes(2, 3)
    assert(c23.select(col("change_type")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("delete"))
    assert(keys(c23.drop("change_type")) == Seq(7L, 14L, 21L))
    // update-then-delete inside one window nets to a single delete
    // with the fromV preimage; unchanged rewritten rows emit nothing
    t.merge(Seq((3L, "U3"), (4L, "U4")).toDF("k", "v")) // v4
    t.delete(col("k") === 4)                            // v5 (COW)
    val c35 = t.changes(3, 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(c35.toSeq == Seq((3L, "U3", "update"), (4L, "s4", "delete")))
    // Delta-CDF preimage mode: an update splits into its two sides
    val c35p = t.changes(3, 5, preimages = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(r => (r._1, r._3))
    assert(c35p.toSeq == Seq(
      (3L, "U3", "update_postimage"), (3L, "s3", "update_preimage"),
      (4L, "s4", "delete")))
  }

  test("change feed fixpoint: fromV snapshot + feed = toV snapshot") {
    val t = rangeTable("graft-tbl-cdc-fix", n = 30L, files = 3)
    t.merge(Seq((5L, "U5"), (40L, "NEW")).toDF("k", "v"))
    t.delete(col("k") % 11 === 0, mode = "mor")
    t.append(rows(41L, 42L))
    val feed = t.changes(1, t.head).cache()
    val dropKeys = feed
      .where(col("change_type").isin("delete", "update")).select(col("k"))
    val upserts = feed
      .where(col("change_type").isin("insert", "update")).drop("change_type")
    val applied = t.read(1).join(dropKeys, Seq("k"), "left_anti")
      .unionByName(upserts)
    assert(applied.collect().map(_.toSeq).toSet ==
           t.read(t.head).collect().map(_.toSeq).toSet,
      "applying the net feed to v1 must reproduce the head snapshot")
    feed.unpersist()
  }

  test("applyChanges: one commit applies insert+update+delete; replays no-op") {
    val t = rangeTable("graft-tbl-apply", n = 20L, files = 4)
    val feed = Seq(
      (21L, "NEW", "insert"),
      (7L, "U7", "update"),
      (13L, "s13", "delete"),
      (99L, "GONE", "delete") // never existed: must be a no-op row
    ).toDF("k", "v", "change_type")
    val v = t.applyChanges(feed, txn = 42L)
    assert(v == 2, "the whole feed must land as ONE commit")
    assert(keys(t.read()) == ((1L to 21L).filterNot(_ == 13L)))
    assert(t.read().where(col("k") === 7).head.getString(1) == "U7")
    // exactly-once by txn: a replayed feed cannot double-apply
    assert(t.applyChanges(feed, txn = 42L) == 2)
    assert(t.head == 2)
    // untouched files carried by reference (stats-pruned planning)
    assert(t.filesOf(1).intersect(t.filesOf(2)).nonEmpty,
      "files holding no feed key must carry")
  }

  test("applyChangesRowAddressed: siblings carry, old images leave by count") {
    // duplicate-key table (raw-append shape): key 5 holds two rows
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-rowaddr"), "k", rows(1, 2, 3, 4, 5))
    t.append(Seq((5L, "dup")).toDF("k", "v"))
    // UPDATE shape: the matched old image (5,"s5") is replaced by its
    // postimage; the unmatched sibling (5,"dup") must CARRY
    t.applyChangesRowAddressed(
      post = Seq((5L, "S5!")).toDF("k", "v"),
      oldImages = Seq((5L, "s5")).toDF("k", "v"))
    assert(t.read().where(col("k") === 5).collect().map(_.getString(1))
      .sorted.toSeq == Seq("S5!", "dup"))
    assert(keys(t.read()) == Seq(1L, 2L, 3L, 4L, 5L, 5L))
    // DELETE shape (empty postimages): exactly the old image leaves
    val post0 = Seq.empty[(Long, String)].toDF("k", "v")
    t.applyChangesRowAddressed(post0, Seq((5L, "dup")).toDF("k", "v"))
    assert(t.read().where(col("k") === 5).collect().map(_.getString(1))
      .toSeq == Seq("S5!"))
    // FULL duplicates subtract by COUNT: two identical rows under one
    // key, ONE old image → one survivor
    t.append(Seq((3L, "s3")).toDF("k", "v")) // second identical (3,"s3")
    assert(t.read().where(col("k") === 3).count() == 2)
    t.applyChangesRowAddressed(post0, Seq((3L, "s3")).toDF("k", "v"))
    assert(t.read().where(col("k") === 3).collect().map(_.getString(1))
      .toSeq == Seq("s3"), "one identical duplicate must survive")
    // unmatched keys' rows never rewrite; untouched files carry
    assert(keys(t.read()) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("applyChanges replicates a table through its own change feed") {
    val src = rangeTable("graft-tbl-cdc-src", n = 30L, files = 3)
    src.merge(Seq((5L, "U5"), (40L, "NEW")).toDF("k", "v")) // v2
    src.delete(col("k") % 11 === 0, mode = "mor")           // v3
    src.applyChanges(Seq((6L, "U6", "update"), (40L, "s40", "delete"))
      .toDF("k", "v", "change_type"))                       // v4
    // the mirror follows version-by-version, txn = source version
    val mirror = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-cdc-mirror"), "k", src.read(1))
    (2L to src.head).foreach { v =>
      mirror.applyChanges(src.changes(v - 1, v), txn = v)
    }
    assert(mirror.read().collect().map(_.toSeq).toSet ==
           src.read().collect().map(_.toSeq).toSet,
      "the replicated mirror must equal the source head row-for-row")
    assert(mirror.head == src.head, "one mirror commit per source version")
  }

  test("an empty change-feed window emits no rows, schema intact") {
    val t = rangeTable("graft-tbl-cdc-empty", n = 10L, files = 2)
    t.append(rows(11L))
    val c = t.changes(2, 2)
    assert(c.count() == 0)
    assert(c.columns.toSeq == Seq("k", "v", "change_type"))
  }

  test("history lists every version with its txn marker") {
    val t = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-tbl-hist"), "k")
    t.streamAppend(rows(1).coalesce(1), 7L)
    t.append(rows(2).coalesce(1))
    t.delete(col("k") === 1, mode = "mor")
    val h = t.history().orderBy("version").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(h.toSeq == Seq((1L, 1, 0, 7L), (2L, 2, 0, -1L), (3L, 2, 1, -1L)))
  }

  test("schema evolution: evolved append rewrites nothing, reads unify") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-evolve"), "k",
      rows(1, 2).coalesce(1))
    val v1files = t.filesOf(1)
    val bytesBefore = v1files.map(f =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq)
    // the evolution commit: a wider frame appended through the handle
    t.append(Seq((3L, "s3", "extra3"), (4L, "s4", "extra4"))
      .toDF("k", "v", "w").coalesce(1))
    // old files byte-identical — evolution is O(metadata)
    assert(v1files.map(f =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq)
      == bytesBefore)
    // unified read: NULL where a file predates the column
    val head = t.read()
    assert(head.columns.toSeq == Seq("k", "v", "w"))
    assert(head.where(col("k") === 1).head.isNullAt(2))
    assert(head.where(col("k") === 3).head.getString(2) == "extra3")
    // time travel still serves the pre-evolution schema untouched
    assert(t.read(1).columns.toSeq == Seq("k", "v"))
    // mutations compose across the boundary: a pre-evolution-shaped
    // delta merges with NULL filling the evolved column
    t.merge(Seq((1L, "U1")).toDF("k", "v"))
    assert(t.read().where(col("k") === 1).head.getString(1) == "U1")
    assert(t.read().where(col("k") === 3).head.getString(2) == "extra3")
  }

  test("merge with a txn id is idempotent under replay") {
    val t = rangeTable("graft-tbl-txn-merge", n = 20L, files = 4)
    val delta = Seq((7L, "U7"), (25L, "NEW")).toDF("k", "v")
    assert(t.merge(delta, txn = 42L) == 2)
    val before = t.read().collect().map(_.toSeq).toSet
    // the replay window: the same batch re-delivered must not
    // double-apply (here it WOULD be visible: a second merge re-stages
    // files and bumps the version even when values are unchanged)
    assert(t.merge(delta, txn = 42L) == 2, "replayed txn must not commit")
    assert(t.head == 2)
    assert(t.read().collect().map(_.toSeq).toSet == before)
    // a different txn applies normally
    assert(t.merge(Seq((8L, "U8")).toDF("k", "v"), txn = 43L) == 3)
  }

  test("restore rolls back as a new commit; vacuumed versions refuse") {
    val t = rangeTable("graft-tbl-restore", n = 20L, files = 4)
    t.merge(Seq((7L, "BAD")).toDF("k", "v"))   // v2: the bad batch
    t.delete(col("k") === 3)                   // v3: another one
    val v = t.restore(1)
    assert(v == 4, "restore must be a NEW version, not a rewind")
    // the head is exactly v1 again — same manifest, nothing copied
    assert(t.filesOf(4) == t.filesOf(1))
    assert(keys(t.read()) == (1L to 20L))
    assert(t.read().where(col("k") === 7).head.getString(1) == "s7")
    // history intact: the bad batches still time-travel until expired
    assert(t.read(2).where(col("k") === 7).head.getString(1) == "BAD")
    assert(keys(t.read(3)) == (1L to 20L).filterNot(_ == 3L))
    // a vacuumed version is not restorable — loud, not dangling
    t.delete(col("k") === 5)                   // v5 supersedes v2/v3 files
    t.expire(keepLast = 1)
    intercept[IllegalArgumentException] { t.restore(2) }
  }

  test("contended mutations leave no orphaned data files") {
    val t = rangeTable("graft-tbl-orphan", n = 20L, files = 4)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq(
      Future { t.merge(Seq((7L, "A")).toDF("k", "v")) },
      Future { t.merge(Seq((13L, "B")).toDF("k", "v")) })
    Await.result(Future.sequence(fs), 120.seconds)
    assert(t.head == 3, "both mutators must land")
    assert(t.read().where(col("k") === 7).head.getString(1) == "A")
    assert(t.read().where(col("k") === 13).head.getString(1) == "B")
    // losing CAS attempts must have deleted their staged files: every
    // physical file is referenced by some committed version
    val referenced = (1L to t.head).flatMap(v => t.manifestOf(v).map(_.file)).toSet
    val physical = new java.io.File(s"${t.root}/data").listFiles.toSeq
      .filter(_.isDirectory)
      .flatMap(d => d.listFiles.toSeq.filter(_.getName.startsWith("part-")))
      .map(_.getPath).toSet
    assert(physical.subsetOf(referenced),
      s"orphans: ${(physical -- referenced).toSeq.sorted.take(5)}")
  }

  // ---- round-11 contracts ---------------------------------------------

  test("a DV past the broadcast budget applies per file, with no broadcast") {
    import org.apache.spark.sql.execution.FormattedMode
    val n = 1500000L
    val df = spark.range(n).select(col("id").as("k"), (col("id") % 97).as("g"))
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-bigdv"), "k",
      df.repartitionByRange(4, col("k")))
    t.delete(col("g") =!= 0, mode = "mor") // ~98.97% of rows → ~1.48M positions
    val dvRefs = t.manifestOf(t.head).filter(_.kind == "dv")
    assert(dvRefs.forall(_.hi >= 0), "DV refs must record footer row counts")
    assert(dvRefs.map(_.hi).sum > GraftTable.DvBroadcastPositions,
      s"fixture must exceed the broadcast budget (got ${dvRefs.map(_.hi).sum})")
    val plan = t.read().queryExecution.explainString(FormattedMode)
    assert(!plan.contains("BroadcastExchange"),
      "an unbounded DV must never broadcast — the round-10 scale hazard")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      "the targeted files still anti-join the DV, just shuffled")
    assert(t.read().count() == (n - 1) / 97 + 1, "MoR semantics unchanged")
    // a small DV keeps the broadcast fast path (adaptive, not pessimized)
    val t2 = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-smalldv"), "k", rows(1L to 20L: _*))
    t2.delete(col("k") === 3, mode = "mor")
    assert(t2.read().queryExecution.explainString(FormattedMode)
      .contains("BroadcastExchange"), "small DVs must still broadcast")
    assert(keys(t2.read()) == (1L to 20L).filterNot(_ == 3L))
  }

  test("a delta past the broadcast budget merges with no key-side broadcast") {
    import org.apache.spark.sql.execution.FormattedMode
    val n = 2000000L
    val df = spark.range(n).select(col("id").as("k"),
      (col("id") % 13).cast("string").as("v"))
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-bigdelta"), "k",
      df.repartitionByRange(4, col("k")))
    // a CDC-backfill-sized delta: 1.5M keys > DvBroadcastPositions
    val delta = spark.range(1500000L)
      .select((col("id") * 4 / 3).cast("long").as("k"), lit("U").as("v"))
    val nKeys = delta.count()
    assert(nKeys > GraftTable.DvBroadcastPositions,
      "fixture must exceed the broadcast budget")
    val base = t.manifestOf(1)
    val cand = t.pruneByKeys(base.filter(_.kind == "data"),
      delta.select(col("k")))
    val plan = t.matchedFilesPlan(base, cand, delta.select(col("k")), nKeys)
      .queryExecution.explainString(FormattedMode)
    assert(!plan.contains("BroadcastExchange"),
      "an unbounded delta key set must never broadcast")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      "matched-file discovery still joins, just shuffled")
    // a small delta keeps the broadcast fast path (adaptive, not worse)
    val small = Seq((7L, "S")).toDF("k", "v")
    val planS = t.matchedFilesPlan(base, cand, small.select(col("k")), 1L)
      .queryExecution.explainString(FormattedMode)
    assert(planS.contains("BroadcastExchange"),
      "small deltas must still broadcast")
    // the real merge lands with upsert semantics intact
    t.merge(delta)
    assert(t.read().count() == n, "pure-update delta adds no rows")
    assert(t.read().where(col("v") === "U").count() == 1500000L)
    assert(t.read().where(col("k") === 4L).head.getString(1) == "U")
    assert(t.read().where(col("k") === 3L).head.getString(1) == "3")
  }

  test("change feed spans a schema-evolution window without dropping columns") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-cdf-evo"), "k", rows(1, 2))
    t.append(Seq((3L, "s3", 30L)).toDF("k", "v", "w"))     // v2: evolved file
    // the evolution window's insert feed must CARRY the evolved column
    val c12 = t.changes(1, 2)
    assert(c12.columns.contains("w"),
      "feed must use the union schema of the window, not one file's")
    val ins = c12.where(col("change_type") === "insert").collect()
    assert(ins.length == 1 && ins.head.getAs[Long]("k") == 3L &&
      ins.head.getAs[Long]("w") == 30L)
    // v3 rewrites files of BOTH schemas at once: the removed-file union
    // is heterogeneous and must not throw
    t.delete(col("k") === 1 || col("k") === 3)
    val del = t.changes(2, 3).where(col("change_type") === "delete")
      .collect().map(r => (r.getAs[Long]("k"), Option(r.getAs[Any]("w"))))
      .sortBy(_._1)
    assert(del.map(_._1).toSeq == Seq(1L, 3L))
    assert(del(0)._2.isEmpty, "pre-evolution delete preimage has NULL w")
    assert(del(1)._2.contains(30L), "evolved delete preimage keeps its w")
    // ...and an applyChanges mirror across the SAME evolved window
    // stays row-identical (the w21 replication shape the advisor
    // flagged as diverging)
    val m = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-cdf-evo-mirror"), "k", t.read(1))
    (2L to t.head).foreach(v => m.applyChanges(t.changes(v - 1, v), txn = v))
    assert(m.read().select("k", "v", "w").collect().map(_.toSeq).toSet ==
      t.read().select("k", "v", "w").collect().map(_.toSeq).toSet)
  }

  // ---- round-12 contracts: string-key statistics ------------------------

  /** a string-keyed range-clustered table: zero-padded keys make
    * lexicographic order = numeric order, so pruning is predictable */
  private def strTable(prefix: String, n: Long = 100L, files: Int = 5) =
    GraftTable.create(spark, graft.util.Scratch.dir(prefix), "id",
      (1L to n).map(k => (f"u$k%04d", k)).toDF("id", "n")
        .repartitionByRange(files, col("id")).sortWithinPartitions("id"))

  test("a STRING-keyed merge READS only lexicographic-range-overlapping files") {
    val t = strTable("graft-tbl-strkey")
    val data = t.manifestOf(1).filter(_.kind == "data")
    assert(data.size >= 4, "fixture needs several range files")
    assert(data.forall(_.sstats.contains("id")),
      "every file must carry lexicographic bounds for the string key")
    val delta = Seq(("u0003", 300L), ("u0007", 700L)).toDF("id", "n")
    val cand = t.pruneByKeys(data, delta).toSet
    assert(cand.nonEmpty && cand.size < data.size,
      s"a key-localized string delta must prune: ${cand.size}/${data.size}")
    // physically hide every non-candidate file: merge success proves
    // the pruned files were never OPENED (the strongest read-set pin)
    val hidden = data.map(_.file).filterNot(cand)
    hidden.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try t.merge(delta)
    finally hidden.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    assert(t.head == 2)
    assert(t.read().count() == 100)
    assert(t.read().where(col("id") === "u0003").head.getLong(1) == 300L)
    assert(t.read().where(col("id") === "u0007").head.getLong(1) == 700L)
    assert(hidden.toSet.subsetOf(t.filesOf(2).toSet),
      "non-candidate files carry by reference")
  }

  test("a STRING-predicate delete prunes via CmpS/InS and reads only matches") {
    val t = strTable("graft-tbl-strpred")
    val data = t.manifestOf(1).filter(_.kind == "data")
    // every CmpS operator prunes soundly against the sstats bounds
    for ((pred, want) <- Seq(
        (col("id") === "u0042", Seq(42L)),
        (col("id") < "u0010", 1L to 9L),
        (col("id") >= "u0095", 95L to 100L),
        (col("id").isin("u0007", "u0093"), Seq(7L, 93L)),
        (!(col("id") <= "u0090"), 91L to 100L))) {
      val cand = t.pruneByPredicate(data, pred)
      assert(cand.size < data.size, s"$pred must prune: ${cand.size}/${data.size}")
      val got = spark.read.parquet(cand: _*).where(pred)
        .select(col("n")).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want.toSeq.sorted,
        s"$pred: candidates must contain every matching row")
    }
    // the GDPR shape end-to-end: hide non-candidates, delete, verify
    val erase = col("id") <= "u0012"
    val cand = t.pruneByPredicate(data, erase).toSet
    assert(cand.nonEmpty && cand.size < data.size)
    val hidden = data.map(_.file).filterNot(cand)
    hidden.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try t.delete(erase)
    finally hidden.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    assert(t.read().select(col("n")).collect().map(_.getLong(0)).sorted.toSeq
      == (13L to 100L))
  }

  test("string pruning survives supplementary characters (byte order, not UTF-16)") {
    // U+1F600 encodes UTF-8-above U+FFFD but UTF-16-below it:
    // String.compareTo would order these keys wrongly vs the parquet
    // bounds; byteCompare must agree with the footers' unsigned order
    val hi = new String(Character.toChars(0x1F600)) // 4-byte UTF-8
    val mid = "\uFFFD"                        // 3-byte UTF-8
    assert(FooterStats.byteCompare(hi, mid) > 0 && hi.compareTo(mid) < 0,
      "fixture must exercise the byteCompare vs String.compareTo split")
    val df = Seq(("a", 1L), (mid, 2L), (hi, 3L)).toDF("id", "n")
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-supp"), "id",
      df.repartitionByRange(3, col("id")))
    val data = t.manifestOf(1).filter(_.kind == "data")
    // equality on the supplementary key must keep its file...
    val cand = t.pruneByPredicate(data, col("id") === hi)
    val got = spark.read.parquet(cand: _*).where(col("id") === hi)
    assert(got.count() == 1 && got.head.getLong(1) == 3L,
      "supplementary-char key must survive pruning")
    // ...and a merge keyed on it updates exactly that row
    t.merge(Seq((hi, 30L)).toDF("id", "n"))
    assert(t.read().where(col("id") === hi).head.getLong(1) == 30L)
    assert(t.read().count() == 3)
  }

  test("txn replay detection reads ONLY the head manifest (checkpoint rows)") {
    val t = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-tbl-txn-ckpt"), "k")
    t.streamAppend(rows(1, 2), 0L)
    t.streamAppend(rows(3, 4), 1L)
    t.merge(Seq((3L, "U3")).toDF("k", "v"), txn = 42L)
    val h = t.head
    // physically hide EVERY non-head manifest: any replay check that
    // still scans the full log would throw — the round-11
    // O(versions)-reads-per-guarded-mutation cost, pinned gone
    val hidden = (1L until h).map(v =>
      new java.io.File(s"${t.root}/commits/v$v"))
    hidden.foreach(d => assert(d.renameTo(
      new java.io.File(d.getParent, d.getName + ".hidden"))))
    // a COLD handle (no fold memo): replay detection must work off the
    // head slot's PHYSICAL rows alone — delta slots carry the COMPLETE
    // txn checkpoint set precisely so the guard never folds the chain
    val t2 = GraftTable.open(spark, t.root, "k")
    try {
      assert(t2.streamAppend(rows(9), 1L) == h, "replayed batch must no-op")
      assert(t2.merge(Seq((9L, "X")).toDF("k", "v"), txn = 42L) == h,
        "replayed merge txn must no-op")
    } finally hidden.foreach(d => new java.io.File(
      d.getParent, d.getName + ".hidden").renameTo(d))
    // a NEW txn commits once the chain is visible (commit COMPOSITION
    // folds the delta chain — its checkpoint bound is pinned in
    // DeltaManifestSpec's hidden-prefix test)
    assert(t2.streamAppend(rows(5), 2L) == h + 1)
    assert(keys(t.read()) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(t.read().where(col("k") === 3).head.getString(1) == "U3")
  }

  test("pre-checkpoint manifests (no sstats, no txn rows) are refused") {
    // hand-write a v1 manifest in the ROUND-10 schema — no sstats
    // column, no txn checkpoint rows — what a table created by that
    // release looks like on disk
    val root = graft.util.Scratch.dir("graft-tbl-legacy")
    val dataDir = s"$root/data/legacy-uuid"
    rows(1, 2, 3).coalesce(1).write.parquet(dataDir)
    val file = new java.io.File(dataDir).listFiles
      .filter(_.getName.startsWith("part-")).head.getPath
    import org.apache.spark.sql.functions.typedLit
    Seq((file, "data", 1L, 3L, 7L))
      .toDF("file", "kind", "lo", "hi", "txn")
      .withColumn("stats",
        typedLit(Map("k" -> (1L, 3L))))
      .coalesce(1).write.parquet(s"$root/commits/v1")
    val t = GraftTable.open(spark, root, "k")
    // every entry point refuses loudly — reads, replay guards, guarded
    // merges, counts, timestamp travel — naming root, version and the
    // missing columns; none degrades to a scan or an mtime
    Seq[() => Any](() => t.read(), () => t.streamAppend(rows(9), 7L),
        () => t.merge(Seq((2L, "U2")).toDF("k", "v"), txn = 8L),
        () => t.count(1), () => t.commitTimestampOf(1)).foreach { f =>
      val e = intercept[IllegalStateException](f())
      assert(e.getMessage.contains(s"table $root version 1") &&
        e.getMessage.contains("no sstats, rows, bytes, ts"), e.getMessage)
    }
    assert(t.head == 1, "a refused table takes no commit")
  }

  test("a rewrite retires the deletion-vector rows it made stale") {
    val t = rangeTable("graft-tbl-dv-retire", n = 40L, files = 4)
    t.delete(col("k") % 5 === 0, mode = "mor")         // v2: DV over all files
    assert(t.deletionVectorsOf(2).nonEmpty)
    // v3 rewrites ONLY the low file(s): DV rows targeting them are
    // dead (the rewrite applied them); rows for carried files remain
    t.merge(Seq((1L, "U1")).toDF("k", "v"))
    val dv3 = t.deletionVectorsOf(3)
    assert(dv3.nonEmpty, "carried files' DV rows must survive")
    val dvRows = spark.read.parquet(dv3: _*)
    val liveData = t.filesOf(3).toSet
    val targets = dvRows.select(col("dv_file")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(targets.forall(liveData),
      "no DV row may target a removed file after retirement")
    assert(keys(t.read()) == (1L to 40L).filterNot(_ % 5 == 0),
      "retirement must not change MoR semantics")
    assert(t.read().where(col("k") === 1).head.getString(1) == "U1")
    // folding EVERYTHING drops the DVs entirely (no empty sidecars)
    t.compact(targetFiles = 1, smallFileBytes = Long.MaxValue)
    assert(t.deletionVectorsOf(t.head).isEmpty,
      "a full fold must drop all DV refs")
    assert(keys(t.read()) == (1L to 40L).filterNot(_ % 5 == 0))
  }

  test("SQL-text predicates (functions.expr) prune like Column-built ones") {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.graftglue.PredicateTree
    import PredicateTree._
    spark // the SqlExpression walk parses via the active session
    assert(PredicateTree.parse(expr("k <= 10")) == Cmp("k", "<=", 10L))
    assert(PredicateTree.parse(expr("v = 's7' OR k IN (1, 2)")) ==
      Or(CmpS("v", "=", "s7"), In("k", Seq(1L, 2L))))
    assert(PredicateTree.parse(expr("NOT (10 < k)")) ==
      Not(Cmp("k", ">", 10L)))
    assert(PredicateTree.parse(expr("v IS NULL")) ==
      NullTest("v", isNull = true))
    assert(PredicateTree.parse(expr("k + 1 = 2")) == Unknown,
      "arithmetic folds to Unknown, exactly like the Column walk")
    // end-to-end: the SQL-text delete's planning prunes — hide the
    // file it cannot need
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-sqlpred"), "k",
      rows(1L to 20L: _*).repartitionByRange(2, col("k"))
        .sortWithinPartitions("k"))
    val files = t.filesOf(1).sorted
    import java.nio.file.{Files, Paths}
    Files.move(Paths.get(files.last), Paths.get(files.last + ".h"))
    try assert(t.delete(expr("k <= 5")) == 2)
    finally Files.move(Paths.get(files.last + ".h"), Paths.get(files.last))
    assert(keys(t.read()) == (6L to 20L))
  }

  test("incremental cluster rewrites only files the spec hasn't stamped") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-liquid"), "k",
      (1L to 100L).map(k => (k, k % 10)).toDF("k", "g")
        .repartitionByRange(4, col("k")))
    t.cluster(Seq("k", "g"), targetFiles = 4)            // v2: full
    val clustered = t.filesOf(2)
    t.append((101L to 120L).map(k => (k, k % 10)).toDF("k", "g")
      .coalesce(1))                                      // v3: 1 new file
    t.cluster(Seq("k", "g"), targetFiles = 2,
      incremental = true)                                // v4
    val v4 = t.filesOf(4)
    assert(clustered.forall(v4.contains),
      "the clustered bulk must carry by reference")
    assert(keys(t.read()) == (1L to 120L), "rows unchanged")
    // a repeat pass finds nothing unstamped: same file set
    t.cluster(Seq("k", "g"), incremental = true)         // v5
    assert(t.filesOf(5) == v4)
    // a DIFFERENT spec re-clusters everything (new generation)
    t.cluster(Seq("g"), targetFiles = 2, incremental = true) // v6
    assert(t.filesOf(6).intersect(v4).isEmpty,
      "a spec change invalidates every stamp")
    assert(keys(t.read()) == (1L to 120L))
  }

  test("compact WHERE scopes the fold to stats-overlapping files") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-optwhere"), "k",
      rows(1L to 40L: _*).repartitionByRange(4, col("k"))
        .sortWithinPartitions("k"))
    val v1 = t.filesOf(1)
    t.compact(targetFiles = 1, smallFileBytes = Long.MaxValue,
      where = Some(col("k") <= 25))
    val v2 = t.filesOf(2)
    assert(v2.size < v1.size, "overlapping small files must fold")
    assert(v1.exists(v2.contains),
      "files outside the WHERE scope carry by reference")
    assert(keys(t.read()) == (1L to 40L), "rows unchanged")
  }

  test("timestamp time travel: in-commit stamps are monotonic and resolve exactly") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-ts"), "k", rows(1, 2, 3)) // v1
    t.merge(Seq((2L, "U2")).toDF("k", "v"))                       // v2
    t.delete(col("k") === 1)                                      // v3
    val ts = (1L to 3L).map(t.commitTimestampOf)
    assert(ts == ts.sorted && ts.distinct == ts,
      s"in-commit stamps must be strictly monotonic: $ts")
    // exact stamps resolve to their own version; any instant between
    // two commits resolves to the earlier one; the head stamp + slack
    // resolves to head
    (1L to 3L).foreach { v =>
      assert(t.versionAt(ts(v.toInt - 1)) == v)
      assert(keys(t.readAsOf(ts(v.toInt - 1))) == keys(t.read(v)))
    }
    assert(t.versionAt(ts(1) - 1) == 1, "instants between commits round down")
    assert(t.versionAt(ts(2) + 60000) == 3)
    intercept[IllegalArgumentException] { t.versionAt(ts(0) - 1) }
    // history surfaces the same stamps
    val hist = t.history().orderBy("version").collect()
    assert(hist.map(_.getAs[Long]("commit_ts")).toSeq == ts)
    // the batch source resolves timestampAsOf to the same snapshot
    val viaFormat = spark.read.format("graft")
      .option("path", t.root).option("keyCol", "k")
      .option("timestampAsOf", ts(1).toString).load()
    assert(viaFormat.select(col("k")).collect().map(_.getLong(0)).sorted
      .toSeq == keys(t.read(2)))
  }

  /** swap each file's CONTENT for garbage (same name, same existence):
    * any footer read now throws, while listings and existence checks
    * pass — the strongest "no footer is opened" pin available */
  private def junked(files: Seq[String])(body: => Unit): Unit = {
    import java.nio.file.{Files, Paths}
    files.foreach { f =>
      Files.move(Paths.get(f), Paths.get(f + ".bak"))
      Files.write(Paths.get(f), "not a parquet file".getBytes)
    }
    try body finally files.foreach { f =>
      Files.delete(Paths.get(f))
      Files.move(Paths.get(f + ".bak"), Paths.get(f))
    }
  }

  test("schema resolves from the manifest — zero footer reads on the current format") {
    val t = rangeTable("graft-tbl-schema-manifest")          // v1: (k, v)
    t.append(Seq((1000L, "s1000", 7L)).toDF("k", "v", "w")) // v2: evolved
    val data = t.manifestOf(t.head).filter(_.kind == "data").map(_.file)
    junked(data) {
      // read(): schema + physical plan, no footer opened
      val df = t.read()
      assert(df.schema.fieldNames.toSeq == Seq("k", "v", "w"))
      df.queryExecution.executedPlan // force full planning
      // time travel resolves the AS-OF schema, also from the manifest
      assert(t.read(1).schema.fieldNames.toSeq == Seq("k", "v"))
      // the `graft` V1 relation resolves its schema at load time
      val rel = spark.read.format("graft")
        .option("path", t.root).option("keyCol", "k").load()
      assert(rel.schema.fieldNames.toSeq == Seq("k", "v", "w"))
      // an INSERT-ONLY merge (keys beyond every range) plans, stages,
      // and commits without opening a single existing file
      assert(t.merge(Seq((5000L, "s5000")).toDF("k", "v")) == 3)
      // an empty change-feed window plans and executes empty
      assert(t.changes(3, 3).count() == 0)
    }
    // execution restored: the junked files read fine again, the merge
    // landed, and evolution semantics are unchanged (NULL backfill)
    val got = t.read()
    assert(got.count() == 102)
    assert(got.where(col("k") === 5000L).head.getString(1) == "s5000")
    assert(got.where(col("w").isNotNull).count() == 1)
    // a data ref with NO recorded schema is refused, never read
    // through a footer sweep: publish the head's refs schema-less as
    // the next version and open it on a fresh handle
    SlotIO.write(s"${t.root}/commits/v${t.head + 1}", t.manifestOf(t.head)
      .map(r => if (r.kind == "data") r.copy(schemaJson = "") else r),
      txn = -1L, ts = System.currentTimeMillis(),
      spark.sessionState.newHadoopConf())
    val e = intercept[IllegalStateException] {
      GraftTable.open(spark, t.root, "k").read()
    }
    assert(e.getMessage.contains(s"table ${t.root} version ${t.head}") &&
      e.getMessage.contains("has no recorded schema"), e.getMessage)
  }

  test("type widening (int→long, float→double) resolves from the manifest, zero footer reads") {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-widen"), "k",
      Seq((1L, 7, 1.5f)).toDF("k", "n", "x"))        // int, float
    t.append(Seq((2L, 9L, 2.5d)).toDF("k", "n", "x")) // long, double
    val data = t.manifestOf(t.head).filter(_.kind == "data").map(_.file)
    junked(data) {
      // the widened snapshot schema resolves from manifest rows alone
      val df = t.read()
      assert(df.schema("n").dataType == LongType)
      assert(df.schema("x").dataType == DoubleType)
      df.queryExecution.executedPlan // force full planning
      // time travel sees the PRE-widening schema of its own manifest
      assert(t.read(1).schema("n").dataType == IntegerType)
      assert(t.read(1).schema("x").dataType == FloatType)
    }
    // execution: the narrow file's values upcast losslessly
    val got = t.read().orderBy("k").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(7L, 9L))
    assert(got.map(_.getDouble(2)).toSeq == Seq(1.5, 2.5))
    // mutations read/write through the widened schema (the rewrite
    // stages wide, so widening converges toward one physical type)
    t.merge(Seq((1L, 70L, 10.0d)).toDF("k", "n", "x"))
    val r1 = t.read().where(col("k") === 1).head
    assert(r1.getLong(1) == 70L && r1.getDouble(2) == 10.0)
    assert(t.count() == 2)
    // a TRUE conflict (string vs long) declines to the legacy sweep —
    // loudly logged, and the sweep itself then rejects the merge, so
    // the conflict can never silently serve wrong data
    val c = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-widen-bad"), "k",
      Seq((1L, 7L)).toDF("k", "n"))
    c.append(Seq((2L, "oops")).toDF("k", "n"))
    assert(c.schemaOf(c.manifestOf(c.head)).isEmpty)
    intercept[Exception] { c.read().collect() }
  }

  test("versionAt on a pre-ICT (mtime-stamped) log is refused") {
    // hand-write LEGACY manifests (no ts column) whose slot mtimes are
    // NON-monotonic — clock skew, or a copied/restored commit dir. A
    // binary search over these silently resolves to the wrong version;
    // the reader refuses the log instead of trusting the mtimes.
    val root = graft.util.Scratch.dir("graft-tbl-preict")
    val commits = s"$root/commits"
    (1 to 3).foreach { v =>
      Seq((s"f$v", "data", 0L, 0L, -1L))
        .toDF("file", "kind", "lo", "hi", "txn")
        .coalesce(1).write.parquet(s"$commits/v$v")
    }
    val now = System.currentTimeMillis()
    def setMtime(v: Int, ts: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$commits/v$v"),
        java.nio.file.attribute.FileTime.fromMillis(ts))
    setMtime(1, now - 1000000) // v2 newer than v3: non-monotonic
    setMtime(2, now - 100000)
    setMtime(3, now - 500000)
    val t = GraftTable.open(spark, root, "k")
    Seq(now - 300000, now - 600000, now).foreach { probe =>
      val e = intercept[IllegalStateException](t.versionAt(probe))
      assert(e.getMessage.contains(s"table $root version 1") &&
        e.getMessage.contains("bytes, ts, nstats"), e.getMessage)
    }
  }

  test("cluster rejects a column the Morton curve cannot normalize") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-zbad"), "k", rows(1, 2, 3))
    // a string column would z-map every row to NULL → one output file,
    // no clustering, no error — fail loudly instead (the advisor's
    // string-UUID case)
    val e = intercept[IllegalArgumentException] { t.cluster(Seq("v")) }
    assert(e.getMessage.contains("cannot normalize"))
    intercept[IllegalArgumentException] { t.cluster(Seq("nope")) }
    assert(t.head == 1, "a rejected cluster must not commit a version")
    assert(t.cluster(Seq("k")) == 2, "numeric columns still cluster")
  }

  test("count() answers from the manifest — no data file opened") {
    val t = rangeTable("graft-tbl-metacount")      // 100 rows, 5 files
    t.delete(col("k") % 10 === 0, mode = "mor")    // 10 rows dead via DV
    assert(t.count() == 90 && t.count(1) == 100)
    // hide EVERY data file: the metadata count must not notice (DV
    // sidecars stay visible — their target check is metadata-scale)
    val data = t.manifestOf(t.head).filter(_.kind == "data").map(_.file)
    data.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f), java.nio.file.Paths.get(f + ".hidden")))
    try {
      assert(t.count() == 90, "head count must come from the manifest")
      assert(t.count(1) == 100, "time-travel count too")
    } finally data.foreach(f => java.nio.file.Files.move(
      java.nio.file.Paths.get(f + ".hidden"), java.nio.file.Paths.get(f)))
    assert(t.count() == t.read().count(), "metadata ≡ scan")
    // a COW rewrite retires the overlapping DV rows; counts stay exact
    t.delete(col("k") === 1)
    assert(t.count() == 89 && t.count() == t.read().count())
    // history surfaces per-version live-row totals off the same counts
    val hist = t.history().orderBy("version").collect()
    assert(hist.map(_.getAs[Long]("n_rows")).toSeq == Seq(100L, 90L, 89L))
    assert(hist.forall(_.getAs[Long]("bytes") > 0L))
  }

  test("expire re-checks markers and head before deleting (advisor race)") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-tbl-expire-race"), "k", rows(1, 2))
    t.delete(col("k") === 1)                     // v2: v1's file unreferenced
    // a stage completed but not yet committed — the marker alone must
    // protect it through a concurrent expire sweep...
    val st = t.stageForTest(rows(9))
    val gone = t.expire(keepLast = 1)
    assert(gone.nonEmpty, "v1's superseded file still vacuums")
    st.refs.foreach(r => assert(new java.io.File(r.file).exists,
      "marker-protected staged files must survive the sweep"))
    // ...and adopting the stage afterwards commits files that READ
    assert(t.adoptForTest(st) == 3L)
    assert(keys(t.read()) == Seq(2L, 9L))
    // an age floor never deletes young files no matter what references say
    t.delete(col("k") === 9)                     // v4: more garbage
    assert(t.expire(keepLast = 1, minAgeMs = 3600L * 1000).isEmpty,
      "minAgeMs must veto deleting files younger than the floor")
    assert(t.expire(keepLast = 1).nonEmpty)
  }
}
