package graft.table

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Table properties (CHECK constraints, schema mode, standing
  * clustering, bloom index, auto-compaction policy) live only in the
  * manifest as content-carrying `prop` rows: every version records the
  * properties it was written under,
  * so RESTORE and clones bring back the served version's settings,
  * and a write validates against the base it composes on. */
class TablePropertySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ks: Long*) = ks.map(k => (k, s"s$k")).toDF("k", "v")

  test("RESTORE below a property change brings back that version's setting") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-prop-restore"), "k", rows(1, 2))
    val vCheck = t.addCheck("v_short", "length(v) < 4")
    val long = Seq((3L, "long3")).toDF("k", "v")
    intercept[IllegalArgumentException] { t.append(long) }
    t.restore(vCheck - 1)
    assert(t.checks().isEmpty)
    t.append(long) // the pre-constraint version accepts the row
    val vEnforce = t.setSchemaMode("enforce")
    val wide = Seq((4L, "s4", 1L)).toDF("k", "v", "w")
    intercept[IllegalArgumentException] { t.append(wide) }
    t.restore(vEnforce - 1)
    assert(t.schemaMode() == "evolve")
    t.append(wide)
    val vCluster = t.setClusterBy(Seq("v"))
    assert(t.clusterBy() == Seq("v"))
    t.restore(vCluster - 1)
    assert(t.clusterBy().isEmpty)
    val vBloom = t.indexBloom(Seq("v"))
    val vPolicy = t.setAutoCompact(minSmallFiles = 5)
    t.restore(vBloom - 1)
    assert(t.bloomConfig().isEmpty && t.autoCompact().isEmpty)
    t.restore(vPolicy)
    assert(t.bloomConfig().contains((Seq("v"), 0.01)) &&
      t.autoCompact().contains((5, 64L << 20, 1)))
    // ...and restoring a version that had them brings each back
    t.restore(vCheck)
    assert(t.checks() == Map("v_short" -> "length(v) < 4"))
    intercept[IllegalArgumentException] { t.append(long) }
  }

  test("a clone keeps the clustering; a clone below addCheck accepts what the head rejects") {
    val src = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-prop-clone-src"), "k", rows(1, 2))
    val vCluster = src.setClusterBy(Seq("v"))
    src.indexBloom(Seq("v"))
    src.setAutoCompact(minSmallFiles = 4)
    val c1 = GraftTable.shallowClone(spark, src.root, "k",
      graft.util.Scratch.dir("graft-prop-clone-head"))
    assert(c1.clusterBy() == Seq("v"))
    assert(c1.bloomConfig().contains((Seq("v"), 0.01)) &&
      c1.autoCompact().contains((4, 64L << 20, 1)))
    src.addCheck("k_small", "k < 100")
    intercept[IllegalArgumentException] { src.append(rows(500)) }
    val c2 = GraftTable.shallowClone(spark, src.root, "k",
      graft.util.Scratch.dir("graft-prop-clone-old"), version = vCluster)
    assert(c2.checks().isEmpty && c2.clusterBy() == Seq("v"))
    assert(c2.bloomConfig().isEmpty && c2.autoCompact().isEmpty)
    assert(c2.append(rows(500)) == 2)
  }

  test("property changes are one commit each, and none when nothing changes") {
    val t = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-prop-commits"), "k")
    // a property declared on an empty root is a metadata-only v1
    assert(t.addCheck("c", "k > 0") == 1 && t.count() == 0)
    assert(t.addCheck("c", "k > 0") == 1, "same constraint: no commit")
    assert(t.setSchemaMode("evolve") == 1, "already evolve: no commit")
    assert(t.dropCheck("absent") == 1)
    assert(t.clearClusterBy() == 1)
    // create refuses only a head that holds data
    val c = GraftTable.create(spark, t.root, "k", rows(1))
    assert(c.head == 2 && c.checks() == Map("c" -> "k > 0"))
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, t.root, "k", rows(2))
    }
    // the same for the bloom index and the auto-compaction policy; the
    // side files an older engine kept them in are ignored
    val u = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-prop-commits-side"), "k")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${u.root}/bloom.conf"), "cols=v\nfpp=0.01\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${u.root}/autocompact.conf"), "2 1073741824 1")
    assert(u.bloomConfig().isEmpty && u.autoCompact().isEmpty)
    assert(u.setAutoCompact(3) == 1 && u.count() == 0)
    assert(u.setAutoCompact(3) == 1, "same policy: no commit")
    u.append(rows(1))                                             // v2
    u.append(rows(2))                                             // v3
    assert(u.head == 3 && u.filesOf(3).size == 2 &&
      u.bloomSidecarsOf(3).isEmpty, "the side files must not act")
    assert(u.indexBloom(Seq("v")) == 4 && u.indexBloom(Seq("v")) == 4)
    assert(u.clearAutoCompact() == 5 && u.clearAutoCompact() == 5)
  }

  test("enforce: a racing first write defines the schema the loser must match") {
    val t = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-prop-enforce-race"), "k")
    val other = GraftTable.open(spark, t.root, "k")
    t.setSchemaMode("enforce") // v1: empty base, any schema goes
    var fired = false
    t.beforePublishHook = () =>
      if (!fired) { fired = true; other.append(Seq(Tuple1(9L)).toDF("k")) }
    val ex = intercept[IllegalArgumentException] { t.append(rows(1)) }
    t.beforePublishHook = () => ()
    assert(ex.getMessage.contains("extra=v"), ex.getMessage)
    assert(t.head == 2 && t.read().columns.toSeq == Seq("k"))
  }

  test("enforce refuses a write when the base's schema does not resolve") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-prop-enforce-conflict"), "k", rows(1))
    t.append(Seq((2L, 2L)).toDF("k", "v")) // evolve: string vs long lands
    t.setSchemaMode("enforce")
    val ex = intercept[IllegalStateException] { t.append(rows(3)) }
    assert(ex.getMessage.contains("irreconcilable"), ex.getMessage)
  }

  test("a slot carrying a hash-only property row is refused, naming root and version") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-prop-legacy"), "k", rows(1))
    for (row <- Seq("prop:checks:1f2e3d4c", "prop:schema:5a6b7c8d")) {
      val v = t.head + 1
      SlotIO.write(s"${t.root}/commits/v$v", t.manifestOf(1) :+
        GraftTable.FileRef(row, "prop", -1L, -1L),
        txn = -1L, ts = System.currentTimeMillis(),
        spark.sessionState.newHadoopConf())
      val e = intercept[IllegalStateException] {
        GraftTable.open(spark, t.root, "k").read()
      }
      assert(e.getMessage.contains(s"table ${t.root} version $v") &&
        e.getMessage.contains(row), e.getMessage)
    }
  }
}
