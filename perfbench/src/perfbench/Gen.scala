package perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.streaming.{Sentence, SentenceGen}

/** Seeded input generation. The workload seed enters the engine only
  * through what is generated here: sentence text per source row index,
  * the orders table and the DML statement sequence. */
object Gen {

  /** default seed, and a held-out seed kept for confirming claimed gains */
  val DefaultSeed = 1L
  val HeldOutSeed = 7919L

  val SentenceSize = 100

  /** splitmix64 finalizer over (seed, index): one independent Random per
    * source row, so any row regenerates identically on replay */
  def mix(seed: Long, index: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + index + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def sentence(seed: Long, index: Long, dict: Array[String]): String =
    SentenceGen.nextSentence(new Random(mix(seed, index)), dict, SentenceSize)

  /** tokens of a sentence exactly as the pipeline's `\W+` split yields
    * them, written as a plain loop (no regex) for the exactly-once check */
  def tokens(s: String): Iterator[String] = new Iterator[String] {
    private var i = 0
    private def word(c: Char) =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'
    private def skip(): Unit = while (i < s.length && !word(s.charAt(i))) i += 1
    skip()
    def hasNext: Boolean = i < s.length
    def next(): String = {
      val b = i
      while (i < s.length && word(s.charAt(i))) i += 1
      val w = s.substring(b, i)
      skip()
      w
    }
  }

  /** sentences over a (timestamp, value) rate source: row `value` gets the
    * seeded sentence; every `samplePeriod`-th row carries its scheduled
    * emit time in `ts`, the others -1 */
  def sentences(spark: SparkSession, rate: DataFrame, seed: Long,
                samplePeriod: Int, numPartitions: Int): Dataset[Sentence] = {
    import spark.implicits._
    val dictBc = spark.sparkContext.broadcast(SentenceGen.dictionary())
    rate.as[(Timestamp, Long)].mapPartitions { it =>
      val dict = dictBc.value
      it.map { case (scheduled, idx) =>
        Sentence(
          ts = if (idx % samplePeriod == 0) scheduled.getTime else -1L,
          sentence = sentence(seed, idx, dict),
          sourceId = (idx % numPartitions).toInt)
      }
    }
  }

  // ---- orders (TPC-H shape, scale factor 0.1) ------------------------

  val OrderRows = 150000
  val Statuses = Array("F", "O", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val CommentWords = Array("carefully", "final", "deposits", "sleep", "quickly",
    "regular", "accounts", "furiously", "ironic", "packages", "bold", "requests",
    "pending", "express", "theodolites", "blithely", "even", "special", "foxes", "slyly")

  /** TPC-H order keys are sparse: the first 8 of every 32 */
  def orderKey(i: Long): Long = (i / 8) * 32 + (i % 8) + 1
  val MaxKey: Long = orderKey(OrderRows - 1L)

  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: java.math.BigDecimal, o_orderdate: java.sql.Date,
                         o_orderpriority: String, o_clerk: String, o_shippriority: Int,
                         o_comment: String)

  private val Epoch1992 = java.time.LocalDate.of(1992, 1, 1).toEpochDay

  def order(seed: Long, i: Long): Order = {
    val r = new Random(mix(seed ^ 0x5DEECE66DL, i))
    val comment = Array.fill(3 + r.nextInt(6))(CommentWords(r.nextInt(CommentWords.length)))
      .mkString(" ")
    Order(
      o_orderkey = orderKey(i),
      o_custkey = 1L + r.nextInt(15000),
      o_orderstatus = Statuses(r.nextInt(3)),
      o_totalprice = java.math.BigDecimal.valueOf(90000L + r.nextInt(50000000), 2),
      o_orderdate = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
        Epoch1992 + r.nextInt(2405))),
      o_orderpriority = Priorities(r.nextInt(5)),
      o_clerk = f"Clerk#${1 + r.nextInt(100)}%09d",
      o_shippriority = 0,
      o_comment = comment)
  }

  def orders(spark: SparkSession, seed: Long, partitions: Int): Dataset[Order] = {
    import spark.implicits._
    spark.range(0, OrderRows, 1, partitions).as[Long].map(i => order(seed, i))
  }

  // ---- the seeded DML sequence ---------------------------------------

  sealed trait Stmt { def verb: String; def sql(table: String): String }
  /** op: 'D' delete, 'U' add amt to the price, 'I' insert a new order */
  final case class DeltaRow(key: Long, op: String, amt: java.math.BigDecimal, cust: Long)
  final case class Merge(view: String, delta: Seq[DeltaRow]) extends Stmt {
    def verb = "merge"
    def sql(t: String): String =
      s"""MERGE INTO $t t USING $view d ON t.o_orderkey = d.dk
         |WHEN MATCHED AND d.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + d.amt, o_comment = 'merged'
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  o_orderdate, o_orderpriority, o_clerk, o_shippriority, o_comment)
         |  VALUES (d.dk, d.cust, 'O', d.amt, DATE'1998-08-02', '3-MEDIUM', 'Clerk#000000001', 0,
         |  'inserted')""".stripMargin
  }
  final case class Update(lo: Long, hi: Long) extends Stmt {
    def verb = "update"
    def sql(t: String): String =
      s"UPDATE $t SET o_totalprice = o_totalprice + 1, o_orderstatus = 'U' " +
        s"WHERE o_orderkey BETWEEN $lo AND $hi"
  }
  final case class Delete(lo: Long, hi: Long) extends Stmt {
    def verb = "delete"
    def sql(t: String): String = s"DELETE FROM $t WHERE o_orderkey BETWEEN $lo AND $hi"
  }
  final case class Lookup(key: Long) extends Stmt {
    def verb = "lookup"
    def sql(t: String): String =
      s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_comment FROM $t " +
        s"WHERE o_orderkey = $key"
  }
  final case class RangeAgg(lo: Long, hi: Long) extends Stmt {
    def verb = "range"
    def sql(t: String): String =
      s"SELECT COUNT(*) AS n, SUM(o_totalprice) AS s FROM $t " +
        s"WHERE o_orderkey BETWEEN $lo AND $hi"
  }

  /** round `n` of the sequence: one MERGE of ~1% of the keys (a third
    * each delete, update, insert) drawn uniformly over the whole key
    * space; one UPDATE and one DELETE over narrow key ranges; three point
    * lookups anywhere; one range aggregate */
  def round(seed: Long, n: Int): Seq[Stmt] = {
    val r = new Random(mix(seed ^ 0x2545F4914F6CDD1DL, n))
    def span(width: Long): (Long, Long) = {
      val lo = 1L + (r.nextDouble() * (MaxKey - width)).toLong
      (lo, lo + width)
    }
    // a generated key anywhere in the table's key space
    def existing(): Long = orderKey((r.nextDouble() * OrderRows).toLong)
    // new keys fall in the 24-key gap after each run of 8
    def fresh(): Long = (r.nextDouble() * OrderRows).toLong / 8 * 32 + 9 + r.nextInt(23)
    val used = scala.collection.mutable.HashSet.empty[Long]
    def distinct(f: => Long): Long = { var k = f; while (!used.add(k)) k = f; k }
    def amt() = java.math.BigDecimal.valueOf(100L + r.nextInt(100000), 2)
    val perOp = OrderRows / 100 / 3
    val delta =
      Seq.fill(perOp)(DeltaRow(distinct(existing()), "D", amt(), 0L)) ++
        Seq.fill(perOp)(DeltaRow(distinct(existing()), "U", amt(), 0L)) ++
        Seq.fill(perOp)(DeltaRow(distinct(fresh()), "I", amt(), 1L + r.nextInt(15000)))
    val (ulo, uhi) = span(MaxKey / 100)
    val (dlo, dhi) = span(MaxKey / 200)
    val (alo, ahi) = span(MaxKey / 20)
    Seq(Merge(s"perfbench_delta_$n", delta), Update(ulo, uhi), Delete(dlo, dhi),
      Lookup(existing()), Lookup(existing()), Lookup(existing()),
      RangeAgg(alo, ahi))
  }
}
