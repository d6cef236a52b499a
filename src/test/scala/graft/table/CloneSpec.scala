package graft.table

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** SHALLOW CLONE (Delta's zero-copy CLONE): the clone's v1 manifest
  * references the source's files; mutations copy-on-write into the
  * clone's own data dir. The dev/test-on-production shape — this spec
  * pins the three promises that make it safe: zero bytes copied at
  * clone time, source bytes untouchable through the clone, and the
  * clone's vacuum physically unable to reach source files. */
class CloneSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ks: Long*) = ks.map(k => (k, s"s$k")).toDF("k", "v")
  private def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
  private def bytesOf(f: String): Seq[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq

  test("clone references source files — zero bytes copied, reads equal") {
    val src = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-clone-src"), "k",
      rows(1L to 40L: _*).repartitionByRange(4, col("k"))
        .sortWithinPartitions("k"))
    src.merge(Seq((2L, "U2")).toDF("k", "v"))
    val dst = graft.util.Scratch.dir("graft-clone-dst")
    val clone = GraftTable.shallowClone(spark, src.root, "k", dst)
    assert(clone.head == 1)
    assert(clone.filesOf(1) == src.filesOf(2),
      "the clone's v1 IS the source head's file set, by reference")
    assert(!new java.io.File(s"$dst/data").exists ||
      new java.io.File(s"$dst/data").listFiles.isEmpty,
      "no data bytes under the clone at clone time")
    assert(keys(clone.read()) == (1L to 40L))
    assert(clone.read().where(col("k") === 2).head.getString(1) == "U2")
    assert(clone.count() == 40, "manifest counters ride along")
  }

  test("clone mutations copy-on-write; source bytes and reads never change") {
    val src = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-clone-cow-src"), "k",
      rows(1L to 30L: _*).repartitionByRange(3, col("k"))
        .sortWithinPartitions("k"))
    val srcFiles = src.filesOf(1)
    val srcBytes = srcFiles.map(bytesOf)
    val dst = graft.util.Scratch.dir("graft-clone-cow-dst")
    val clone = GraftTable.shallowClone(spark, src.root, "k", dst)
    clone.merge(Seq((5L, "CLONE5"), (99L, "NEW99")).toDF("k", "v"))
    clone.delete(col("k") === 7)
    clone.delete(col("k") === 8, mode = "mor")
    // divergence is the clone's alone
    assert(keys(clone.read()) ==
      ((1L to 30L).filterNot(Set(7L, 8L)) :+ 99L).sorted)
    assert(clone.read().where(col("k") === 5).head.getString(1) == "CLONE5")
    assert(keys(src.read()) == (1L to 30L), "source rows unchanged")
    assert(src.read().where(col("k") === 5).head.getString(1) == "s5")
    assert(srcFiles.map(bytesOf) == srcBytes, "source bytes untouched")
    // rewrites landed under the CLONE's data dir, never the source's
    val rewritten = clone.filesOf(clone.head).filterNot(srcFiles.contains)
    assert(rewritten.nonEmpty && rewritten.forall(_.startsWith(dst)),
      s"clone rewrites must live under $dst, got $rewritten")
  }

  test("clone vacuum cannot reach source files") {
    val src = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-clone-vac-src"), "k",
      rows(1L to 20L: _*).repartitionByRange(2, col("k"))
        .sortWithinPartitions("k"))
    val srcFiles = src.filesOf(1)
    val dst = graft.util.Scratch.dir("graft-clone-vac-dst")
    val clone = GraftTable.shallowClone(spark, src.root, "k", dst)
    // rewrite EVERYTHING in the clone: all source refs drop from its head
    clone.compact(targetFiles = 1, smallFileBytes = Long.MaxValue)
    assert(clone.filesOf(clone.head).forall(f => !srcFiles.contains(f)))
    val gone = clone.expire(keepLast = 1)
    assert(!gone.exists(srcFiles.contains),
      "expire must never name a source file")
    srcFiles.foreach(f => assert(new java.io.File(f).exists,
      "source files survive the clone's vacuum"))
    assert(keys(src.read()) == (1L to 20L))
    assert(keys(clone.read()) == (1L to 20L))
  }

  test("version clones, property copy, and per-table txn guards") {
    val src = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-clone-v-src"), "k")
    src.addCheck("k_pos", "k > 0")                         // v1
    src.streamAppend(rows(1L, 2L), 5L)                     // v2, txn 5
    src.streamAppend(rows(3L), 6L)                         // v3, txn 6
    // clone of the OLDER version
    val dst = graft.util.Scratch.dir("graft-clone-v-dst")
    val clone = GraftTable.shallowClone(spark, src.root, "k", dst,
      version = 2)
    assert(keys(clone.read()) == Seq(1L, 2L))
    // CHECK constraints copied: a violating append fails on the clone
    intercept[IllegalArgumentException] { clone.append(rows(-1L)) }
    // txn guards are PER TABLE: the source's batch 5 is fresh here
    assert(clone.streamAppend(rows(9L), 5L) == 2,
      "the source's replay guard must not leak into the clone")
    assert(keys(clone.read()) == Seq(1L, 2L, 9L))
  }
}
