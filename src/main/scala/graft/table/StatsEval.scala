package graft.table

import org.apache.spark.sql.graftglue.PredicateTree
import org.apache.spark.util.sketch.BloomFilter

import graft.table.GraftTable.FileRef

/** The per-file statistics evaluator behind GraftTable's predicate
  * pruning — a SERIALIZABLE value (it captures only the key column
  * name) so bloom refinement can ship it to executors and evaluate the
  * predicate skeleton against each file's stats + bloom rows WHERE THE
  * BLOOM BYTES LIVE, instead of collecting every candidate file's
  * filter to the driver (at 100 TB: ~10⁵ files × ~100 KB of bloom is
  * tens of GB — file names travel to the driver, bloom bytes never
  * do).
  *
  * `mayMatch` answers "can ANY row of this file satisfy the
  * predicate?" over a min/max interval skeleton ([[PredicateTree]]):
  * a conjunct over any column with manifest stats prunes; anything
  * unknown is conservatively true. Skipping is sound for NULL values:
  * a pure comparison never selects a NULL row under three-valued
  * logic, and min/max over the non-NULL rows bounds exactly the rows
  * a comparison can select.
  *
  * `blooms` (per-file: column → (hash kind, filter)) refines EQUALITY
  * nodes only — a bloom's "definitely absent" makes `c = v` (and each
  * IN member) false for the whole file. Blooms carry only non-NULL
  * values, and equality never selects NULL rows, so the refinement is
  * sound; it is consulted only under `mayMatch` (never `allMatch` —
  * absence proves nothing about "every row matches").
  *
  * KIND-MATCHED PROBES (round-13 advisor fix): a filter built with
  * `putLong` answers NOTHING about `mightContainString` probes and
  * vice versa — they hash differently, so a cross-kind probe returns
  * a false "definitely absent" and pruning silently drops files that
  * DO hold matching rows (the GDPR-erase shape: `WHERE int_col =
  * '42'` folds to a string node against a long-built filter). Each
  * sidecar row records the kind it hashed with (`"long"` /
  * `"str"`); a probe consults the filter only when the node's
  * literal kind matches, and otherwise keeps the file as a
  * candidate — exactly the conservative answer the pre-bloom stats
  * gave these coerced predicates.
  *
  * String bounds compare in [[FooterStats.byteCompare]]'s unsigned
  * UTF-8 byte order — the order the parquet footers minted them in
  * and the order Spark compares strings in; String.compareTo disagrees
  * on supplementary characters. */
private[table] final case class StatsEval(keyCol: String) {

  /** column `c`'s (min, max) for file `r` — the key column's dedicated
    * range, any other column's stats-map entry, unbounded otherwise */
  private def rangeOf(r: FileRef, c: String): (Long, Long) =
    if (c == keyCol) (r.lo, r.hi)
    else r.stats.getOrElse(c, (Long.MinValue, Long.MaxValue))

  /** string column `c`'s lexicographic (min, max) for file `r` — None
    * means unbounded (no stats ⇒ always a candidate) */
  private def rangeOfS(r: FileRef, c: String): Option[(String, String)] =
    r.sstats.get(c)

  private def bc(a: String, b: String): Int = FooterStats.byteCompare(a, b)

  /** can ANY row of file `r` satisfy `e`?
    * (true = keep the file as a candidate; Unknown is true) */
  def mayMatch(e: PredicateTree.Node, r: FileRef,
               blooms: Map[String, (String, BloomFilter)] = Map.empty)
      : Boolean = {
    import PredicateTree._
    // consult only a KIND-MATCHED filter; a cross-kind probe (coerced
    // literal) keeps the file — see the class doc
    def mightContainLong(c: String, v: Long): Boolean =
      blooms.get(c).forall { case (k, b) =>
        k != "long" || b.mightContainLong(v) }
    def mightContainStr(c: String, v: String): Boolean =
      blooms.get(c).forall { case (k, b) =>
        k != "str" || b.mightContainString(v) }
    e match {
      case And(a, b) => mayMatch(a, r, blooms) && mayMatch(b, r, blooms)
      case Or(a, b)  => mayMatch(a, r, blooms) || mayMatch(b, r, blooms)
      case Not(x)    => !allMatch(x, r)
      case Cmp(c, op, v) =>
        val (lo, hi) = rangeOf(r, c)
        op match {
          case "<"  => lo < v
          case "<=" => lo <= v
          case ">"  => hi > v
          case ">=" => hi >= v
          case "="  => lo <= v && v <= hi && mightContainLong(c, v)
          case _    => true
        }
      case CmpS(c, op, v) => rangeOfS(r, c) match {
        case None => op != "=" || mightContainStr(c, v)
        case Some((lo, hi)) => op match {
          case "<"  => bc(lo, v) < 0
          case "<=" => bc(lo, v) <= 0
          case ">"  => bc(hi, v) > 0
          case ">=" => bc(hi, v) >= 0
          case "="  => bc(lo, v) <= 0 && bc(v, hi) <= 0 &&
                       mightContainStr(c, v)
          case _    => true
        }
      }
      case In(c, vs) =>
        val (lo, hi) = rangeOf(r, c)
        vs.exists(v => lo <= v && v <= hi && mightContainLong(c, v))
      case InS(c, vs) => rangeOfS(r, c) match {
        case None => vs.exists(v => mightContainStr(c, v))
        case Some((lo, hi)) =>
          vs.exists(v => bc(lo, v) <= 0 && bc(v, hi) <= 0 &&
            mightContainStr(c, v))
      }
      case NullTest(c, isNull) => r.nstats.get(c) match {
        case None => true // no recorded count: unbounded
        case Some(n) =>
          // IS NULL can match iff the file HAS nulls; IS NOT NULL iff
          // it has non-null rows (exact counts — Iceberg's metrics)
          if (isNull) n > 0
          else n < r.rows
      }
      case Unknown => true
    }
  }

  /** does EVERY row of `r` that evaluates `e` non-NULL satisfy it? (an
    * under-approximation — false when unknown — used only to evaluate
    * `NOT` soundly: ¬x can match unless x provably matches all rows;
    * NULL-valued rows evaluate ¬x to NULL, which a delete never
    * selects, so quantifying over the non-NULL rows suffices. Blooms
    * never participate: membership proves nothing universal.) */
  def allMatch(e: PredicateTree.Node, r: FileRef): Boolean = {
    import PredicateTree._
    e match {
      case And(a, b) => allMatch(a, r) && allMatch(b, r)
      case Or(a, b)  => allMatch(a, r) || allMatch(b, r)
      case Not(x)    => !mayMatch(x, r)
      case Cmp(c, op, v) =>
        val (lo, hi) = rangeOf(r, c)
        op match {
          case "<"  => hi < v
          case "<=" => hi <= v
          case ">"  => lo > v
          case ">=" => lo >= v
          case "="  => lo == v && hi == v
          case _    => false
        }
      case CmpS(c, op, v) => rangeOfS(r, c) match {
        case None => false
        case Some((lo, hi)) => op match {
          case "<"  => bc(hi, v) < 0
          case "<=" => bc(hi, v) <= 0
          case ">"  => bc(lo, v) > 0
          case ">=" => bc(lo, v) >= 0
          case "="  => bc(lo, v) == 0 && bc(hi, v) == 0
          case _    => false
        }
      }
      case NullTest(c, isNull) => r.nstats.get(c) match {
        // a NULL test never evaluates to NULL, so "all rows satisfy"
        // is the literal universal here
        case Some(n) if isNull  => r.rows >= 0 && n == r.rows
        case Some(n) if !isNull => n == 0
        case _ => false
      }
      case _ => false
    }
  }
}
