package graft.table

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** AUTO-COMPACTION (x57 — Delta's `autoCompact` table property): the
  * post-ingest policy hook. Pins what the gated query's hash cannot
  * see: no fold below threshold (one commit per append), the fold
  * firing AS a separate commit on the crossing append, contents
  * bit-identical across the fold, big files carrying BY REFERENCE
  * (never rewritten), the streamAppend path triggering too,
  * clearAutoCompact() disarming, and a failed fold never failing the
  * ingest. Setting or clearing the policy is a commit of its own. */
class AutoCompactSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ks: Long*) = ks.map(k => (k, s"s$k")).toDF("k", "v")

  test("folds past the threshold only; contents identical; head shows the extra commit") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-autocompact-basic"), "k",
      rows(1).repartition(1))                                     // v1
    t.setAutoCompact(minSmallFiles = 3, smallFileBytes = 1L << 30) // v2
    t.append(rows(2).repartition(1))                              // v3: 2 files
    assert(t.head == 3 && t.filesOf(3).size == 2,
      "below threshold: append commits alone, nothing folds")
    t.append(rows(3).repartition(1)) // v4 (3 small files) + v5 the fold
    assert(t.head == 5, "the crossing append must trigger the fold commit")
    assert(t.filesOf(5).size == 1, "3 small files fold to the target")
    assert(t.read().select(col("k")).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 3L), "folding never changes contents")
    // the policy is inherited state, not a one-shot: next crossing folds too
    t.append(rows(4).repartition(1))                              // v6
    t.append(rows(5).repartition(1))                              // v7
    assert(t.head == 8 && t.filesOf(8).size == 1,
      "the policy re-arms after each fold")
  }

  test("big files carry by reference; clearAutoCompact disarms") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-autocompact-big"), "k",
      rows(1L to 50L: _*).repartition(1))                         // v1
    val big = t.filesOf(1).head
    val bigBytes = t.manifestOf(1).find(_.file == big).get.bytes
    assert(bigBytes > 0)
    // threshold bytes chosen so the v1 file is NOT small but the
    // 1-row appends are
    t.setAutoCompact(minSmallFiles = 2, smallFileBytes = bigBytes) // v2
    t.append(rows(100).repartition(1))                            // v3
    t.append(rows(101).repartition(1)) // v4 + v5 fold of the 2 small
    assert(t.head == 5)
    assert(t.filesOf(5).contains(big),
      "a file at/above smallFileBytes must carry by reference")
    assert(t.filesOf(5).size == 2, "only the small files fold")
    t.clearAutoCompact()                                          // v6
    t.append(rows(102).repartition(1))                            // v7
    t.append(rows(103).repartition(1))                            // v8
    assert(t.head == 8 && t.filesOf(8).size == 4,
      "cleared policy: appends commit alone again")
  }

  test("streamAppend triggers the policy; replay detection still holds") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-autocompact-stream"), "k",
      rows(1).repartition(1))                                     // v1
    t.setAutoCompact(minSmallFiles = 3, smallFileBytes = 1L << 30) // v2
    t.streamAppend(rows(2).repartition(1), batchId = 0)           // v3
    t.streamAppend(rows(3).repartition(1), batchId = 1) // v4 + v5 fold
    assert(t.head == 5 && t.filesOf(5).size == 1)
    // a replayed batch is a no-op — and must not re-trigger a fold
    val h = t.head
    t.streamAppend(rows(3).repartition(1), batchId = 1)
    assert(t.head == h, "replayed batch: no commit, no fold")
    assert(t.count() == 3L)
  }

  test("a post-commit auto-compact failure never fails the ingest") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-autocompact-fail"), "k",
      spark.range(4).selectExpr("id AS k", "id AS v").coalesce(1)) // v1
    t.setAutoCompact(minSmallFiles = 2, smallFileBytes = 1L << 20,
      targetFiles = 1)                                            // v2
    // the append publishes first, then its fold: failing the fold's
    // publish, the append's own commit must still report success (the
    // data is durable; a foreachBatch caller seeing an exception would
    // retry a batch that is already in the table)
    var publishes = 0
    t.beforePublishHook = () => {
      publishes += 1
      if (publishes == 2) throw new java.io.IOException("fold publish failed")
    }
    val v = try t.append(
      spark.range(4, 8).selectExpr("id AS k", "id AS v").coalesce(1))
    finally t.beforePublishHook = () => ()
    assert(publishes == 2, "the append must have attempted the fold")
    assert(v >= 2 && t.read().count() == 8,
      "ingest succeeds even though the best-effort compaction failed")
    // the fold failed before its publish: its staged files are gone —
    // no `.staging-*` marker and no unreferenced data file remain
    val markers = new java.io.File(s"${t.root}/data").listFiles()
      .filter(_.getName.startsWith(".staging-"))
    assert(markers.isEmpty,
      s"left-behind staging markers: ${markers.map(_.getName).toSeq}")
    assert(GraftTable.open(spark, t.root, "k")
      .expire(keepLast = t.head.toInt).isEmpty,
      "every physical file must be referenced by a retained manifest")
  }
}
