package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.PredicateTree
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Contracts of the bloom file index: point-lookup pruning on columns
  * whose min/max stats are useless (high-cardinality, unsorted),
  * soundness under Or/Not composition, sidecar retirement on rewrite,
  * and graceful degradation when sidecars are missing. */
class BloomIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 200 rows over 5 key-range files; `tok` = md5(k) and `h` =
    * Knuth-scrambled k are UNIFORM across files — and `h` is sentinel-
    * framed (k≡1 mod 40 → 0, k≡0 mod 40 → 999999) so EVERY file's
    * min/max bounds span the whole domain: only the bloom can prune a
    * point lookup */
  private def fixture(prefix: String, indexed: Boolean = true): GraftTable = {
    val t = GraftTable.open(spark, graft.util.Scratch.dir(prefix), "k")
    if (indexed) t.indexBloom(Seq("tok", "h"))
    t.append(
      spark.range(1, 201).toDF("k")
        .withColumn("h",
          when(col("k") % 40 === 1, lit(0L))
            .when(col("k") % 40 === 0, lit(999999L))
            .otherwise(pmod(col("k") * lit(2654435761L), lit(1000003L))))
        .withColumn("tok", md5(col("k").cast("string")))
        .repartitionByRange(5, col("k")).sortWithinPartitions("k"))
    t
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def refine(t: GraftTable, pred: Column): (Seq[String], Seq[String]) = {
    val refs = t.manifestOf(t.head)
    val data = refs.filter(_.kind == "data")
    val tree = PredicateTree.parse(pred)
    val stats = t.pruneByPredicate(data, pred)
    (stats, t.bloomRefine(refs, data, stats, tree))
  }

  private def hide(files: Seq[String])(body: => Unit): Unit = {
    import java.nio.file.{Files, Paths}
    files.foreach(f =>
      Files.move(Paths.get(f), Paths.get(f + ".hidden")))
    try body finally files.foreach(f =>
      Files.move(Paths.get(f + ".hidden"), Paths.get(f)))
  }

  test("a string point lookup prunes off the bloom — proven by hiding the pruned files") {
    val t = fixture("graft-bloom-point")
    val tok7 = md5Hex("7")
    val (stats, refined) = refine(t, col("tok") === tok7)
    assert(stats.size == 5,
      "min/max bounds on a scattered md5 column must not prune (that's the point)")
    assert(refined.size < stats.size, "the bloom must prune")
    assert(refined.nonEmpty, "the file holding k=7 must survive")
    // the pruned files are NOT opened: hide them physically
    hide(stats.diff(refined)) {
      val got = t.readWhere(col("tok") === tok7).select("k").as[Long].collect()
      assert(got.toSeq == Seq(7L))
    }
  }

  test("an integral point lookup prunes off the bloom too") {
    val t = fixture("graft-bloom-long")
    val h7 = (7L * 2654435761L) % 1000003L
    val (stats, refined) = refine(t, col("h") === h7)
    assert(stats.size == 5 && refined.size < 5)
    assert(t.readWhere(col("h") === h7).select("k").as[Long].collect()
      .toSeq == Seq(7L))
  }

  test("soundness sweep: readWhere ≡ full-scan filter for every probed token") {
    val t = fixture("graft-bloom-sweep")
    (1L to 20L).foreach { k =>
      val tok = md5Hex(k.toString)
      val viaIndex = t.readWhere(col("tok") === tok)
        .select("k").as[Long].collect().toSeq
      assert(viaIndex == Seq(k), s"k=$k must round-trip through the index")
    }
    // absent values: provably empty, zero false rows
    assert(t.readWhere(col("tok") === md5Hex("999")).count() == 0)
    // IN over present + absent members
    val toks = Seq(md5Hex("3"), md5Hex("999"), md5Hex("150"))
    assert(t.readWhere(col("tok").isin(toks: _*)).select("k").as[Long]
      .collect().sorted.toSeq == Seq(3L, 150L))
  }

  test("a type-mismatched literal never consults the bloom (kind-matched probes)") {
    val t = fixture("graft-bloom-kind")
    // STRING literal against the long-hashed 'h' index: the predicate
    // folds to a string node, which must NOT probe the putLong-built
    // filter (different hash → false 'definitely absent' → files with
    // real matches would silently prune — the GDPR-erase hole)
    val h7 = (7L * 2654435761L) % 1000003L
    val (stats, refined) = refine(t, col("h") === lit(h7.toString))
    assert(refined == stats, "a string probe of a long-built bloom must not prune")
    assert(t.readWhere(col("h") === lit(h7.toString))
      .select("k").as[Long].collect().toSeq == Seq(7L),
      "the coerced lookup must still find its row")
    // LONG literal against the string-hashed 'tok' index: same rule,
    // other direction
    val (s2, r2) = refine(t, col("tok") === lit(42L))
    assert(r2 == s2, "a long probe of a string-built bloom must not prune")
    // and kind-MATCHED probes still prune (the fix must not disable
    // the index)
    val (s3, r3) = refine(t, col("h") === lit(h7))
    assert(r3.size < s3.size)
  }

  test("an OR with a non-indexed disjunct keeps that disjunct's files") {
    val t = fixture("graft-bloom-or")
    // tok = md5("7") OR k >= 190: the k-range disjunct must keep the
    // last file even where the bloom rejects the token
    val pred = col("tok") === md5Hex("7") || col("k") >= 190
    val got = t.readWhere(pred).select("k").as[Long].collect().sorted.toSeq
    assert(got == (7L +: (190L to 200L)))
    // NOT over an indexed equality must not bloom-prune (absence of
    // the value means the file's rows ALL match the negation)
    val neg = t.readWhere(!(col("tok") === md5Hex("7")))
    assert(neg.count() == 199)
  }

  test("a rewrite retires the bloom rows it made stale and re-indexes") {
    val t = fixture("graft-bloom-retire")
    t.delete(col("k") <= 30) // COW: rewrites the first file non-empty
    val refs = t.manifestOf(t.head)
    val data = refs.filter(_.kind == "data")
    val live = data.map(_.file).toSet
    val sidecars = refs.filter(_.kind == "bloom").map(_.file)
    assert(sidecars.nonEmpty)
    val rows = spark.read.parquet(sidecars: _*)
    val targeted = rows.select("data_file").distinct()
      .as[String].collect().toSet
    assert(targeted.subsetOf(live), "no bloom row may target a dead file")
    assert(data.filter(_.rows > 0).map(_.file).toSet.subsetOf(targeted),
      "every non-empty live file (the rewritten one included) must stay indexed")
    // and the index still answers
    assert(t.readWhere(col("tok") === md5Hex("100")).select("k").as[Long]
      .collect().toSeq == Seq(100L))
    assert(t.readWhere(col("tok") === md5Hex("7")).count() == 0)
  }

  test("a missing sidecar degrades to stats-only pruning, never an error") {
    val t = fixture("graft-bloom-degrade")
    val sidecars = t.manifestOf(t.head).filter(_.kind == "bloom").map(_.file)
    import java.nio.file.{Files, Paths}
    sidecars.foreach(f => Files.delete(Paths.get(f)))
    val got = t.readWhere(col("tok") === md5Hex("7"))
      .select("k").as[Long].collect().toSeq
    assert(got == Seq(7L))
  }

  test("an un-indexed table stages no sidecars; config validates") {
    val t = fixture("graft-bloom-none", indexed = false)
    assert(t.manifestOf(t.head).forall(_.kind != "bloom"))
    assert(t.readWhere(col("tok") === md5Hex("7")).count() == 1)
    intercept[IllegalArgumentException] { t.indexBloom(Seq.empty) }
    intercept[IllegalArgumentException] { t.indexBloom(Seq("a,b")) }
    intercept[IllegalArgumentException] { t.indexBloom(Seq("a"), fpp = 0.9) }
  }

  test("a small merge bloom-prunes its read set on an indexed string key") {
    // a SCATTERED string key: every file's lexicographic bounds span
    // nearly the whole hex space, so the sstats range join keeps all
    // files — only the key's bloom can narrow the merge's read set
    val t = GraftTable.open(spark, graft.util.Scratch.dir("graft-bloom-mergekey"), "id")
    t.indexBloom(Seq("id"))
    t.append((1L to 200L).map(k => (md5Hex(k.toString), k))
      .toDF("id", "payload")
      .repartitionByRange(5, col("payload")).sortWithinPartitions("payload"))
    val files = t.filesOf(2)
    val delta = Seq((md5Hex("7"), 7000L)).toDF("id", "payload")
    // the file that actually holds the key
    val holding = spark.read.parquet(files: _*)
      .withColumn("__f", input_file_name())
      .where(col("payload") === 7).head.getString(2)
      .replaceFirst("^file:(//)?", "")
    // hide every OTHER data file: the merge must plan, read, and
    // commit without noticing (bloom pushdown pruned them)
    hide(files.filterNot(_ == holding)) {
      assert(t.merge(delta) == 3)
    }
    assert(t.read().where(col("id") === md5Hex("7"))
      .head.getLong(1) == 7000L)
    assert(t.read().count() == 200)
    // untouched files carried by reference
    assert(t.filesOf(3).count(files.contains) == 4)
  }

  test("compact defragments accumulated bloom sidecars into one") {
    val t = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-bloom-fold"), "k")
    t.indexBloom(Seq("tok"))
    // one sidecar per append: 10 commits → 10 sidecars
    (0 until 10).foreach { i =>
      t.append((1L to 20L).map(j => (i * 20L + j, md5Hex((i * 20 + j).toString)))
        .toDF("k", "tok").coalesce(1))
    }
    assert(t.bloomSidecarsOf(t.head).size == 10)
    t.compact(targetFiles = 2, smallFileBytes = Long.MaxValue)
    assert(t.bloomSidecarsOf(t.head).size == 1,
      "compact must fold the sidecars")
    // the consolidated index still answers and still prunes
    assert(t.readWhere(col("tok") === md5Hex("37")).select("k").as[Long]
      .collect().toSeq == Seq(37L))
    assert(t.read().count() == 200)
  }

  test("the full mutation lifecycle stays correct on an indexed table") {
    val t = fixture("graft-bloom-life")
    t.merge(Seq((7L, "REPLACED", 42L)).toDF("k", "tok", "h"))
    t.delete(col("k") % 10 === 0, mode = "mor")
    t.compact(targetFiles = 2, smallFileBytes = Long.MaxValue)
    t.expire(keepLast = 1)
    val head = t.read()
    assert(head.count() == 180)
    assert(t.readWhere(col("tok") === "REPLACED").select("k").as[Long]
      .collect().toSeq == Seq(7L))
    assert(t.readWhere(col("tok") === md5Hex("7")).count() == 0,
      "the merged-away token must be gone through the index path")
    assert(t.readWhere(col("tok") === md5Hex("20")).count() == 0,
      "MoR-deleted rows must not resurface through readWhere")
    val got = t.readWhere(col("tok") === md5Hex("33"))
      .select("k").as[Long].collect().toSeq
    assert(got == Seq(33L))
  }
}
