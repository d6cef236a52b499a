package graft.table

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Schema-mode contracts: `enforce` rejects drift before anything is
  * written, `evolve` (the default) keeps the x27/x35 append-evolution
  * workflow, and the recorded schema makes validation O(1) per
  * mutation. */
class SchemaModeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ks: Long*) = ks.map(k => (k, s"s$k")).toDF("k", "v")

  test("enforce rejects extra/missing/changed columns; evolve re-opens") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-schema-enforce"), "k", rows(1, 2))
    t.setSchemaMode("enforce") // v2: mode changes are versioned (r15)
    assert(t.schemaMode() == "enforce")
    // extra column
    val exExtra = intercept[IllegalArgumentException] {
      t.append(Seq((3L, "s3", 1L)).toDF("k", "v", "w"))
    }
    assert(exExtra.getMessage.contains("extra=w"))
    // missing column
    intercept[IllegalArgumentException] {
      t.append(Seq(Tuple1(4L)).toDF("k"))
    }
    // changed type
    val exType = intercept[IllegalArgumentException] {
      t.append(Seq((5L, 5)).toDF("k", "v"))
    }
    assert(exType.getMessage.contains("changed=v"))
    assert(t.head == 2, "no rejected write may commit")
    // the conforming write (any column ORDER) still lands
    assert(t.append(Seq(("s6", 6L)).toDF("v", "k")
      .select(col("v"), col("k"))) == 3)
    // a merge with a NARROWER delta passes: whole-row replacement
    // fills missing columns with NULL, so the staged schema is the
    // table's
    assert(t.merge(Seq(Tuple1(2L)).toDF("k")) == 4)
    // back to evolve (v5: the flip is versioned): the wider frame
    // commits (x27's workflow)
    t.setSchemaMode("evolve")
    assert(t.append(Seq((7L, "s7", 9L)).toDF("k", "v", "w")) == 6)
    assert(t.read().columns.toSet == Set("k", "v", "w"))
  }

  test("enforce on an empty table: the first write defines the schema") {
    val t = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-schema-first"), "k")
    t.setSchemaMode("enforce") // v1: the mode's metadata-only commit
    assert(t.append(rows(1)) == 2)
    intercept[IllegalArgumentException] {
      t.append(Seq(Tuple1(2L)).toDF("k"))
    }
    assert(t.append(rows(2)) == 3)
  }

  test("expire dryRun reports exactly what a real sweep then deletes") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-expire-dry"), "k", rows(1L to 20L: _*)
        .repartition(2, col("k")))
    t.delete(col("k") <= 10) // v2: rewrites; v1 files become garbage
    val would = t.expire(keepLast = 1, dryRun = true)
    assert(would.nonEmpty)
    would.foreach(f => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(f)), s"dry run must not delete: $f"))
    val did = t.expire(keepLast = 1)
    assert(did.sorted == would.sorted,
      "the dry run must predict the real sweep exactly")
    assert(t.read().count() == 10)
  }
}
