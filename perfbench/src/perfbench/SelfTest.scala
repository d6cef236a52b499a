package perfbench

import graft.streaming.SentenceGen
import perfbench.Gen._

/** Tests of the benchmark's own logic: the percentile reporting rule, the
  * tokenizer the exactly-once check relies on, the DML model, and
  * that every output check rejects a planted wrong count or row. Needs no
  * Spark session. Run with `python3 perfbench/test.py`. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $name threw $e"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    percentileRule()
    tokenizer()
    checkers()
    model()
    println(s"SelfTest: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def percentileRule(): Unit = {
    val xs = (1 to 1000).map(_.toDouble)
    check("p99 of 1000 samples has 10 beyond it")(Stats.beyond(1000, 99) == 10)
    check("p99 is reported from 1000 samples")(Stats.tail(xs, 99).contains(990.0))
    check("p99 is withheld below 1000 samples")(Stats.tail(xs.take(999), 99).isEmpty)
    check("p90 needs 100 samples")(
      Stats.tail(xs.take(100), 90).contains(90.0) && Stats.tail(xs.take(99), 90).isEmpty)
    check("the median is always reported")(Stats.tail(Seq(3.0, 1.0, 2.0), 50).contains(2.0))
    check("median of an even sample averages the middle two")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  def tokenizer(): Unit = {
    val dict = SentenceGen.dictionary()
    val splitter = java.util.regex.Pattern.compile("\\W+")
    check("tokens equal the pipeline's \\W+ split on generated sentences")(
      (0L until 200L).forall { i =>
        val s = sentence(7L, i, dict)
        tokens(s).toSeq == splitter.split(s).toSeq.filter(_.nonEmpty)
      })
    check("tokens of edge cases")(
      tokens("  'd don't &c a_b--c ").toSeq == Seq("d", "don", "t", "c", "a_b", "c") &&
        tokens("").isEmpty && tokens("&& ''").isEmpty)
    check("the seed changes the sentences")(sentence(1L, 5L, dict) != sentence(2L, 5L, dict))
  }

  def checkers(): Unit = {
    // wc-latency: two stamped sentences, 3 and 2 tokens
    val expected = Map(1000L -> 3, 2000L -> 2)
    val good = Seq(1000L, 1000L, 1000L, 2000L, 2000L)
    check("exactlyOnce accepts every token once")(Checks.exactlyOnce(expected, good).isEmpty)
    check("exactlyOnce rejects a lost token")(Checks.exactlyOnce(expected, good.drop(1)).nonEmpty)
    check("exactlyOnce rejects a duplicated token")(
      Checks.exactlyOnce(expected, good :+ 2000L).nonEmpty)
    check("exactlyOnce rejects an unexpected stamp")(
      Checks.exactlyOnce(expected, good :+ 3000L).nonEmpty)

    // table-dml
    val rows = (0L until 5L).map(order(9L, _))
    val m = rows.map(o => o.o_orderkey -> o).toMap
    check("rowsEqual accepts the model's rows")(Checks.rowsEqual(m, rows).isEmpty)
    check("rowsEqual accepts a price with another scale")(Checks.rowsEqual(m,
      rows.updated(0, rows(0).copy(o_totalprice = rows(0).o_totalprice.setScale(4)))).isEmpty)
    check("rowsEqual rejects a planted wrong row")(Checks.rowsEqual(m,
      rows.updated(2, rows(2).copy(o_orderstatus = "X"))).nonEmpty)
    check("rowsEqual rejects a planted wrong price")(Checks.rowsEqual(m,
      rows.updated(2, rows(2).copy(o_totalprice = rows(2).o_totalprice.add(java.math.BigDecimal.ONE))))
      .nonEmpty)
    check("rowsEqual rejects a missing row")(Checks.rowsEqual(m, rows.drop(1)).nonEmpty)
    check("rowsEqual rejects a duplicated row")(Checks.rowsEqual(m, rows :+ rows(0)).nonEmpty)
  }

  def model(): Unit = {
    val t = new TableModel((0L until 64L).iterator.map(order(1L, _)))
    val k1 = orderKey(1)
    val k2 = orderKey(2)
    val before = t.rows(k2).o_totalprice
    val one = java.math.BigDecimal.ONE
    t(Merge("v", Seq(DeltaRow(k1, "D", one, 0L), DeltaRow(k2, "U", one, 0L),
      DeltaRow(10L, "I", one, 77L), DeltaRow(orderKey(3), "I", one, 0L))))
    check("merge deletes a matched D row")(!t.rows.contains(k1))
    check("merge updates a matched U row")(
      t.rows(k2).o_totalprice.compareTo(before.add(one)) == 0 && t.rows(k2).o_comment == "merged")
    check("merge inserts an unmatched row")(t.rows(10L).o_custkey == 77L)
    check("merge updates a matched I row")(t.rows(orderKey(3)).o_comment == "merged")
    t(Update(orderKey(4), orderKey(5)))
    check("update sets the status in range only")(
      t.rows(orderKey(4)).o_orderstatus == "U" && t.rows(orderKey(6)).o_orderstatus != "U")
    t(Delete(orderKey(6), orderKey(7)))
    check("delete removes the range")(!t.rows.contains(orderKey(6)) && !t.rows.contains(orderKey(7)))
    check("range aggregate counts the live rows")(t.rangeAgg(1L, orderKey(7))._1 == 5L)
    check("lookup of a deleted key is empty")(t.lookup(k1).isEmpty)
    val r = round(4L, 1)
    check("a round is MERGE, UPDATE, DELETE, three lookups, one range aggregate")(
      r.map(_.verb) == Seq("merge", "update", "delete", "lookup", "lookup", "lookup", "range"))
    check("a MERGE touches 1% of the keys, distinct")(r.head match {
      case Merge(_, d) => d.length == OrderRows / 100 / 3 * 3 && d.map(_.key).distinct.length == d.length
      case _ => false
    })
    check("MERGE keys spread over the whole key space")(r.head match {
      case Merge(_, d) =>
        val ks = d.map(_.key)
        ks.min < MaxKey / 20 && ks.max > MaxKey - MaxKey / 20
      case _ => false
    })
    check("rounds are seeded")(round(4L, 1) == r && round(5L, 1) != r)
  }
}
