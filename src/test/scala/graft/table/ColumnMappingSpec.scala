package graft.table

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** COLUMN MAPPING (x53 — Delta's columnMapping table feature):
  * rename/drop column as O(metadata) commits over `kind = "col"`
  * manifest rows. Pins what the gated query's hash cannot see: zero
  * data files rewritten, time travel across the rename boundary,
  * retired-physical-name rejection, restore/clone mapping semantics,
  * and — via the physical file-hiding witness — that a merge/delete
  * through the RENAMED key name still stats-prunes (the mutation
  * never opens an out-of-range file). */
class ColumnMappingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ks: Long*) = ks.map(k => (k, s"s$k")).toDF("k", "v")
  private def keysOf(df: org.apache.spark.sql.DataFrame,
                     c: String): Seq[Long] =
    df.select(col(c)).collect().map(_.getLong(0)).sorted.toSeq

  test("rename is metadata-only: same files read under the new name; time travel serves the old") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-colmap-rename"), "k", rows(1L to 10L: _*))
    val v1Files = t.filesOf(1)
    assert(t.renameColumn("v", "label") == 2)
    assert(t.filesOf(2) == v1Files,
      "a rename must not touch, add, or remove one data file")
    assert(t.read().columns.toSeq == Seq("k", "label"))
    assert(t.read().where(col("k") === 3).head.getString(1) == "s3",
      "pre-rename files must read through the new name")
    assert(t.read(1).columns.toSeq == Seq("k", "v"),
      "time travel below the rename serves the old name")
    // a chained rename replaces the mapping row, never stacks
    assert(t.renameColumn("label", "tag") == 3)
    assert(t.read().columns.toSeq == Seq("k", "tag"))
    assert(t.read(2).columns.toSeq == Seq("k", "label"))
    // renaming back to the physical name restores identity
    assert(t.renameColumn("tag", "v") == 4)
    assert(t.read().columns.toSeq == Seq("k", "v"))
    assert(t.manifestOf(4).count(_.kind == "col") == 0,
      "identity restored: no mapping row may remain")
  }

  test("rename guards: unknown column, collision, retired physical name") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-colmap-guards"), "k", rows(1, 2))
    intercept[IllegalArgumentException] { t.renameColumn("nope", "x") }
    intercept[IllegalArgumentException] { t.renameColumn("v", "k") }
    intercept[IllegalArgumentException] { t.renameColumn("v", "not ok") }
    t.renameColumn("v", "label")
    // "v" is now the retired physical name behind "label"
    val e = intercept[IllegalArgumentException] { t.renameColumn("k", "v") }
    assert(e.getMessage.contains("retired"))
    intercept[IllegalArgumentException] { t.dropColumn("k") } // the key
    intercept[IllegalArgumentException] { t.dropColumn("v") } // not logical
  }

  test("drop column: old files byte-identical and unprojected; retired name refuses reuse") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-colmap-drop"), "k",
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "extra"))
    val f = t.filesOf(1).head
    val before = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    assert(t.dropColumn("extra") == 2)
    assert(t.filesOf(2) == t.filesOf(1), "drop rewrites nothing")
    assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      .sameElements(before), "old files keep their bytes untouched")
    assert(t.read().columns.toSeq == Seq("k", "v"),
      "the dropped column must not project")
    assert(t.read(1).columns.toSeq == Seq("k", "v", "extra"),
      "time travel below the drop still reads it")
    // new writes go on without the column...
    t.append(rows(3))
    assert(t.read().columns.toSeq == Seq("k", "v") && t.count() == 3)
    // ...but must not REUSE the retired physical name as a fresh column
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((4L, "d", 99L)).toDF("k", "v", "extra"))
    }
    assert(e.getMessage.contains("retired"))
  }

  test("renamed KEY: merge/delete/changes flow through the new name") {
    val root = graft.util.Scratch.dir("graft-colmap-key")
    val t = GraftTable.create(spark, root, "k", rows(1L to 20L: _*))
    t.renameColumn("k", "id") // v2
    val t2 = GraftTable.open(spark, root, "id") // open under the NEW name
    t2.merge(Seq((2L, "U2"), (30L, "NEW")).toDF("id", "v")) // v3
    t2.delete(col("id") === 5) // v4
    assert(keysOf(t2.read(), "id") ==
      ((1L to 20L).filterNot(_ == 5) :+ 30L).sorted)
    assert(t2.read().where(col("id") === 2).head.getString(1) == "U2")
    // the change feed spans the rename boundary: v1 (pre-rename files)
    // → head joins on the stable physical key and emits logical names
    val ch = t2.changes(1, 4)
    assert(ch.columns.toSeq == Seq("id", "v", "change_type"))
    assert(ch.where(col("change_type") === "insert").count() == 1)
    assert(ch.where(col("change_type") === "delete").count() == 1)
    assert(ch.where(col("change_type") === "update").count() == 1)
    // time travel below the rename still serves the old key name
    assert(t2.read(1).columns.toSeq == Seq("k", "v"))
  }

  test("merge and delete on a renamed key still stats-prune (file-hiding witness)") {
    val root = graft.util.Scratch.dir("graft-colmap-prune")
    val t = GraftTable.create(spark, root, "k",
      rows(1L to 100L: _*).repartitionByRange(4, col("k"))
        .sortWithinPartitions("k"))
    t.renameColumn("k", "id")
    val t2 = GraftTable.open(spark, root, "id")
    // hide every file whose key range is ABOVE the mutation's keys: if
    // the renamed-key mutation still plans off the physical-name-keyed
    // stats, those files are never opened and the ops succeed anyway
    def hidden[A](body: => A): A = {
      val hide = t2.manifestOf(t2.head)
        .filter(r => r.kind == "data" && r.lo > 50)
      assert(hide.nonEmpty, "fixture must span several key-ranged files")
      val moved = hide.map { r =>
        val p = java.nio.file.Paths.get(r.file)
        val away = p.resolveSibling(p.getFileName.toString + ".hidden")
        java.nio.file.Files.move(p, away)
        (away, p)
      }
      try body
      finally moved.foreach { case (away, p) =>
        java.nio.file.Files.move(away, p) }
    }
    hidden { t2.merge(Seq((3L, "U3")).toDF("id", "v")) }
    hidden { t2.delete(col("id") <= 2) }
    assert(keysOf(t2.read(), "id") == (3L to 100L))
    assert(t2.read().where(col("id") === 3).head.getString(1) == "U3")
  }

  test("restore reverts the mapping; shallow clones inherit it") {
    val root = graft.util.Scratch.dir("graft-colmap-restore")
    val t = GraftTable.create(spark, root, "k", rows(1, 2, 3))
    t.renameColumn("v", "label") // v2
    val clone = GraftTable.shallowClone(spark, root, "k",
      graft.util.Scratch.dir("graft-colmap-clone"))
    assert(clone.read().columns.toSeq == Seq("k", "label"),
      "a clone of a renamed table inherits the mapping")
    t.restore(1) // v3: the mapping is part of the manifest it restores
    assert(t.read().columns.toSeq == Seq("k", "v"),
      "restore below the rename reverts the logical name")
    assert(t.read(2).columns.toSeq == Seq("k", "label"))
  }

  test("indexBloom on a RENAMED column resolves to the physical name") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-colmap-bloom"), "k", rows(1L, 2L))
    t.renameColumn("v", "label")
    val t2 = GraftTable.open(spark, t.root, "k")
    // declared by the LOGICAL name; sidecars must key on the PHYSICAL
    // one, or every staged frame would silently skip the filter build
    t2.indexBloom(Seq("label"))
    assert(t2.bloomConfig().map(_._1) == Some(Seq("v")))
    t2.append((3L to 20L).map(k => (k, s"s$k")).toDF("k", "label"))
    assert(t2.bloomSidecarsOf(t2.head).nonEmpty,
      "the appended files must carry bloom sidecars")
    // the logical-name equality probe flows through the mapped skeleton
    assert(t2.readWhere(col("label") === "s7")
      .select(col("k")).head.getLong(0) == 7L)
  }

  test("the USING graft SQL view serves a renamed table logically") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-colmap-view"), "k", rows(1L to 20L: _*))
    t.renameColumn("v", "label")
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW colmap_view
      USING graft OPTIONS (path '${t.root}', keyCol 'k')""")
    // schema, projection, and the pushed filter all speak LOGICAL
    val r = spark.sql("SELECT label FROM colmap_view WHERE k = 7")
    assert(r.columns.toSeq == Seq("label"))
    assert(r.head.getString(0) == "s7")
    assert(spark.sql("SELECT count(*) AS n FROM colmap_view")
      .head.getLong(0) == 20L)
  }

  test("readWhere through a renamed column prunes and filters logically") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-colmap-where"), "k",
      rows(1L to 40L: _*).repartitionByRange(4, col("k"))
        .sortWithinPartitions("k"))
    t.renameColumn("k", "id")
    val t2 = GraftTable.open(spark, t.root, "id")
    assert(keysOf(t2.readWhere(col("id") <= 3), "id") == Seq(1L, 2L, 3L))
    // the skeleton mapped to the physical name: out-of-range files
    // are not candidates (the same eval path the mutations trust)
    val refs = t2.manifestOf(t2.head)
    val data = refs.filter(_.kind == "data")
    assert(t2.pruneByKeys(data, Seq(2L).toDF("id"), "k").size < data.size)
  }

  test("standing clustering follows a rename and stops at a drop") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-colmap-cluster"), "k",
      Seq((1L, 1L, "s1")).toDF("k", "c", "v"))
    t.setClusterBy(Seq("c"))
    t.renameColumn("c", "d")
    // one file per range partition: AQE would coalesce this tiny
    // append into a single partition
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(coalesce)
    spark.conf.set(coalesce, "false")
    try {
      val before = t.filesOf(t.head).toSet
      t.append((100L until 140L).map(i => (i, (i * 37) % 40, s"s$i"))
        .toDF("k", "d", "v").repartition(4))
      val added = t.manifestOf(t.head)
        .filter(r => r.kind == "data" && !before(r.file))
      assert(added.size > 1, "the append must land several files")
      // stats stay keyed by the physical name behind the rename
      val ranges = added.map(_.stats("c")).sortBy(_._1)
      ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
        assert(hi < lo, s"the new files overlap on c: $ranges")
      }
      t.dropColumn("d")
      val v = t.append(Seq((200L, "s200"), (201L, "s201")).toDF("k", "v")
        .repartition(2))
      assert(t.count(v) == 43L)
      assert(t.clusterBy() == Seq("c"),
        "the standing clustering still names the physical column")
    } finally prior match {
      case Some(p) => spark.conf.set(coalesce, p)
      case None => spark.conf.unset(coalesce)
    }
  }
}
