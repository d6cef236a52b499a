package perfbench

import scala.collection.mutable

import perfbench.Gen._

/** Output checks. Each returns the problems found (empty = correct), at
  * most `limit` of them spelled out. */
object Checks {

  private def capped(ps: Iterable[String], limit: Int = 5): Seq[String] = {
    val all = ps.toSeq
    if (all.length <= limit) all else all.take(limit) :+ s"... ${all.length - limit} more"
  }

  /** wc-latency: every stamped token of every committed sentence arrives
    * exactly once. `expected` maps a stamped sentence's scheduled ms to its
    * token count; `arrived` holds the scheduled ms of each arrived token. */
  def exactlyOnce(expected: collection.Map[Long, Int], arrived: Seq[Long]): Seq[String] = {
    val got = mutable.HashMap.empty[Long, Int]
    arrived.foreach(ts => got(ts) = got.getOrElse(ts, 0) + 1)
    val wrong = expected.collect {
      case (ts, n) if got.getOrElse(ts, 0) != n =>
        s"sentence at $ts ms: ${got.getOrElse(ts, 0)} tokens arrived, $n expected"
    }
    val stray = got.keys.filterNot(expected.contains).map(ts => s"unexpected stamp $ts ms")
    capped(wrong ++ stray)
  }

  /** table-dml: the table's rows equal the model's */
  def rowsEqual(model: collection.Map[Long, Order], actual: Seq[Order]): Seq[String] = {
    val seen = mutable.HashSet.empty[Long]
    val problems = mutable.ArrayBuffer.empty[String]
    actual.foreach { r =>
      if (!seen.add(r.o_orderkey)) problems += s"key ${r.o_orderkey} twice"
      model.get(r.o_orderkey) match {
        case None => problems += s"key ${r.o_orderkey} not in model"
        case Some(m) if !same(m, r) => problems += s"key ${r.o_orderkey}: table $r, model $m"
        case _ =>
      }
    }
    model.keys.filterNot(seen).foreach(k => problems += s"key $k missing")
    capped(problems)
  }

  def same(a: Order, b: Order): Boolean =
    a.copy(o_totalprice = null) == b.copy(o_totalprice = null) &&
      a.o_totalprice.compareTo(b.o_totalprice) == 0
}

/** The plain model of the DML sequence: the table as a key → row map,
  * mutated by the same statements with their SQL semantics. */
final class TableModel(initial: Iterator[Order]) {
  val rows: mutable.LongMap[Order] = mutable.LongMap.empty[Order]
  initial.foreach(o => rows(o.o_orderkey) = o)

  private def in(k: Long, lo: Long, hi: Long) = k >= lo && k <= hi

  def apply(s: Stmt): Unit = s match {
    case Merge(_, delta) => delta.foreach { d =>
      rows.get(d.key) match {
        case Some(_) if d.op == "D" => rows -= d.key
        case Some(o) =>
          rows(d.key) = o.copy(o_totalprice = o.o_totalprice.add(d.amt), o_comment = "merged")
        case None =>
          rows(d.key) = Order(d.key, d.cust, "O", d.amt, java.sql.Date.valueOf("1998-08-02"),
            "3-MEDIUM", "Clerk#000000001", 0, "inserted")
      }
    }
    case Update(lo, hi) =>
      rows.foreach { case (k, o) =>
        if (in(k, lo, hi))
          rows(k) = o.copy(o_totalprice = o.o_totalprice.add(java.math.BigDecimal.ONE),
            o_orderstatus = "U")
      }
    case Delete(lo, hi) => rows.keys.filter(in(_, lo, hi)).toSeq.foreach(rows -= _)
    case _: Lookup | _: RangeAgg => ()
  }

  /** expected lookup answer: (custkey, status, price, comment), if present */
  def lookup(k: Long): Option[(Long, String, java.math.BigDecimal, String)] =
    rows.get(k).map(o => (o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_comment))

  /** expected range aggregate: (count, sum of prices or null) */
  def rangeAgg(lo: Long, hi: Long): (Long, java.math.BigDecimal) = {
    val hits = rows.valuesIterator.filter(o => in(o.o_orderkey, lo, hi)).toSeq
    (hits.length.toLong,
      if (hits.isEmpty) null else hits.map(_.o_totalprice).reduce(_ add _))
  }
}
