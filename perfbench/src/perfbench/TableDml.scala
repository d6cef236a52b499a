package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.table.GraftTable
import perfbench.Gen._

/** `table-dml`: one closed-loop client runs the seeded SQL sequence of
  * [[Gen.round]] on a GraftCatalog table built from a generated TPC-H
  * `orders` at scale factor 0.1 (150,000 rows in 16 key-range files). The
  * row-level statements go through the engine's parser and row-level rule
  * (`GraftSqlParser`, `GraftRowLevelSql`) onto `GraftTable`. */
object TableDml {
  val Files = 16
  val Catalog = "perfbench"
  val Verbs = Seq("merge", "update", "delete", "lookup")
  val WarmRounds = 1
  /** seconds of `--seconds` per measured round (3 rounds at 16 s, ~19-25 s
    * of statements on a 4-cpu box) */
  val RoundSeconds = 6.0

  /** generate the orders and ingest them as a new catalog table */
  def build(spark: SparkSession, a: Args, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"""CREATE TABLE $table (o_orderkey BIGINT, o_custkey BIGINT,
      o_orderstatus STRING, o_totalprice DECIMAL(12,2), o_orderdate DATE,
      o_orderpriority STRING, o_clerk STRING, o_shippriority INT, o_comment STRING)
      TBLPROPERTIES ('key' = 'o_orderkey')""")
    Gen.orders(spark, a.seed, a.cores).toDF()
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
      .repartitionByRange(Files, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .createOrReplaceTempView("perfbench_orders_src")
    spark.sql(s"INSERT INTO $table SELECT * FROM perfbench_orders_src")
  }

  /** register the MERGE source rows of `m` as its temp view */
  def delta(spark: SparkSession, m: Merge): Unit = {
    import spark.implicits._
    m.delta.toDF().selectExpr("key AS dk", "op", "CAST(amt AS DECIMAL(12,2)) AS amt", "cust")
      .createOrReplaceTempView(m.view)
  }

  /** run one statement, then check its answer against the model and apply
    * it there; returns the statement's latency and its problems */
  def exec(spark: SparkSession, table: String, s: Stmt, model: TableModel): (Double, Seq[String]) = {
    s match { case m: Merge => delta(spark, m); case _ => () }
    val t0 = Streams.nowMs
    val rows = spark.sql(s.sql(table)).collect()
    val ms = Streams.nowMs - t0
    ms -> (s match {
      case Lookup(k) =>
        val got = rows.toSeq.map(r => (r.getLong(1), r.getString(2), r.getDecimal(3), r.getString(4)))
        val want = model.lookup(k).toSeq
        if (got.length == want.length && got.zip(want).forall { case (g, w) =>
          g._1 == w._1 && g._2 == w._2 && g._3.compareTo(w._3) == 0 && g._4 == w._4 }) Nil
        else Seq(s"lookup $k: table $got, model $want")
      case RangeAgg(lo, hi) =>
        val (n, sum) = model.rangeAgg(lo, hi)
        val r: Row = rows.head
        val okSum = if (sum == null) r.isNullAt(1) else !r.isNullAt(1) && r.getDecimal(1).compareTo(sum) == 0
        if (r.getLong(0) == n && okSum) Nil
        else Seq(s"range [$lo, $hi]: table (${r.get(0)}, ${r.get(1)}), model ($n, $sum)")
      case _ => model(s); Nil
    })
  }

  /** storage root of a catalog table (the pointer's second line) */
  def location(a: Args, name: String): String = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"${a.work}/warehouse-graft/$name/catalog.conf"))
    lines.get(1).trim
  }

  final case class Sample(round: Int, verb: String, ms: Double)

  def run(base: SparkSession, a: Args): Outcome = {
    val spark = graft.util.ExtSession(base)
    spark.conf.set(s"spark.sql.catalog.$Catalog", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Catalog.warehouse", s"${a.work}/warehouse-graft")
    spark.conf.set("spark.sql.shuffle.partitions", a.cores)
    // set-up: generate and ingest the table, Main.Setups times; the last is used
    val setups = (1 to Main.Setups).map { n =>
      val t0 = Streams.nowMs
      build(spark, a, s"$Catalog.orders_$n")
      (Streams.nowMs - t0) / 1000.0
    }
    val name = s"orders_${Main.Setups}"
    val table = s"$Catalog.$name"
    val model = new TableModel((0L until OrderRows).iterator.map(order(a.seed, _)))
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    /** the statement's latency, or None when it failed or answered wrong */
    def attempt(s: Stmt): Option[Double] = {
      attempted += 1
      val (ms, p) = try exec(spark, table, s, model) catch {
        case e: Exception => (0.0, Seq(s"${s.verb} failed: ${e.getMessage.take(300)}"))
      }
      if (p.nonEmpty) { failed += 1; problems ++= p }
      if (p.isEmpty) Some(ms) else None
    }
    // warm-up, untimed: one round pays class loading and codegen for every
    // verb (a cold first MERGE takes ~1.7x a warm one)
    val w0 = Streams.nowMs
    (0 until WarmRounds).foreach(r => Gen.round(a.seed, r).foreach(attempt))
    val warmupS = (Streams.nowMs - w0) / 1000

    // measured: a fixed number of whole rounds, one per RoundSeconds of
    // `seconds`, so every run does the same work in the same statement mix;
    // a traced run traces the later half of them
    val rounds = math.max(if (a.trace) 2 else 1, math.ceil(a.seconds / RoundSeconds).toInt)
    val tracer = if (a.trace) Some(new Tracer(base)) else None
    val layer = new LayerRecorder(a, spark, name, model.rows.contains)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val tracedSamples = mutable.ArrayBuffer.empty[Sample]
    val t0 = Streams.nowMs
    (0 until rounds).foreach { i =>
      val traced = tracer.isDefined && i >= rounds / 2
      if (traced && i == rounds / 2) tracer.get.start(spark)
      Gen.round(a.seed, WarmRounds + i).foreach { s =>
        val before = if (traced) layer.before(tracer.get, s) else null
        val ms = attempt(s)
        ms.foreach(x => (if (traced) tracedSamples else samples) += Sample(i, s.verb, x))
        if (traced) layer.after(tracer.get, before, ms.getOrElse(0.0))
      }
    }
    val measuredS = (Streams.nowMs - t0) / 1000
    tracer.foreach(_.stop())
    // correctness: the final table equals the model
    import spark.implicits._
    val c0 = Streams.nowMs
    problems ++= Checks.rowsEqual(model.rows, spark.table(table).as[Order].collect().toSeq)
    val checkS = (Streams.nowMs - c0) / 1000
    problems ++= layer.problems

    val all = samples ++ tracedSamples
    def lat(xs: Iterable[Sample]) = xs.map(_.ms).toSeq
    val e2e = Seq(
      // every round has the same statement mix, so this is also the mean
      // of the round means; over ten seeds it spread less than their median
      Metric("latency_mean_ms", Stats.mean(lat(all)), "ms"),
      Metric("setup_s", Stats.median(setups), "s"))
    val detail = Map("setup_s" -> setups, "warmup_s" -> warmupS, "rounds" -> rounds,
      "measured_s" -> measuredS, "check_s" -> checkS,
      "round_s" -> all.groupBy(_.round).toSeq.sortBy(_._1).map(_._2.map(_.ms).sum / 1000),
      // per verb medians: 3 to 9 statements each a run, too few for a tail
      "p50_ms" -> ListMap(all.groupBy(_.verb).toSeq.sortBy(_._1)
        .map { case (v, xs) => v -> Stats.median(lat(xs)) }: _*),
      "statements" -> all.length, "rows" -> model.rows.size)
    val layerMetrics = tracer.toSeq.flatMap { t =>
      Streams.layerMetrics(t.streams.batches.map(_._2), _ => 0L) ++
        t.exec.metrics("exec", t.exec.select(j => j.tag.nonEmpty && j.endMs > 0)) ++
        Layers.sink(Nil, 0) ++ layer.metrics ++
        Layers.overhead(untraced = lat(samples), traced = lat(tracedSamples))
    }
    Outcome(attempted = attempted, failed = failed, problems = problems.toSeq, e2e = e2e,
      layer = layerMetrics, detail = detail, tracer = tracer)
  }

  /** per-statement layer records of the traced half: Catalyst phases,
    * Spark jobs, the live data files the statement's scans opened, and the
    * table's file sets before and after. `present` tells whether a key is
    * in the table, for the check that a point lookup's scan was seen and
    * pruned. */
  final class LayerRecorder(a: Args, spark: SparkSession, name: String, present: Long => Boolean) {
    private lazy val handle = GraftTable.open(spark, location(a, name), "o_orderkey")
    final case class Before(stmt: Stmt, tag: String, files: Set[String], parseMs: Double,
                            startMs: Long)
    private val rows = mutable.ArrayBuffer.empty[(String, Map[String, Double])]
    private var n = 0
    val problems = mutable.ArrayBuffer.empty[String]

    private def files(): Set[String] = handle.filesOf(handle.head).map(PlanListener.path).toSet

    def before(t: Tracer, s: Stmt): Before = {
      n += 1
      val tag = s"stmt-$n"
      val f = files()
      // the parser (GraftSqlParser over Spark's) timed on the statement text;
      // the tracker reports the statement's own parse in whole ms only
      val p0 = System.nanoTime()
      spark.sessionState.sqlParser.parsePlan(s.sql(s"$Catalog.$name"))
      val parseMs = (System.nanoTime() - p0) / 1e6
      t.drain(); t.plans.drainEvents()
      spark.sparkContext.setLocalProperty(ExecListener.TagKey, tag)
      Before(s, tag, f, parseMs, System.currentTimeMillis())
    }

    def after(t: Tracer, b: Before, ms: Double): Unit = {
      val endMs = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty(ExecListener.TagKey, null)
      t.drain()
      val qes = t.plans.drainEvents()
      val jobs = t.exec.select(j => j.tag == b.tag)
      val after = files()
      val added = after -- b.files
      val removed = b.files -- after
      val iv = jobs.map(j => (j.startMs.toDouble, math.max(j.startMs, j.endMs).toDouble))
      val root = t.spans.add(0, b.tag, s"stmt.${b.stmt.verb}", b.startMs.toDouble, endMs.toDouble)
      qes.foreach(_.phases.foreach { case (ph, (s0, s1)) =>
        t.spans.add(root, b.tag, s"catalyst.$ph", s0.toDouble, s1.toDouble)
      })
      iv.foreach { case (s0, s1) => t.spans.add(root, b.tag, "job", s0, s1) }
      if (iv.nonEmpty) t.spans.add(root, b.tag, "publish_tail", iv.map(_._2).max, endMs.toDouble)
      def phase(p: String) = qes.map(q => q.phases.get(p).map { case (x, y) => (y - x).toDouble }
        .getOrElse(0.0)).sum
      // live data files opened by any of the statement's scans (manifest
      // and side files are read too, but are not data files)
      val scanned = qes.flatMap(_.files).toSet.intersect(b.files).size
      b.stmt match {
        case Lookup(k) if present(k) && !(scanned > 0 && scanned < b.files.size) =>
          problems += s"lookup $k: $scanned of ${b.files.size} live files scanned; " +
            "expected a pruned scan the trace can see"
        case _ =>
      }
      val sizes = added.toSeq.map(f => new java.io.File(f).length()).sum
      val exec = t.exec.metrics("x", jobs).map(m => m.name.drop(2) -> m.value).toMap
      rows += b.stmt.verb -> Map(
        "parse_ms" -> b.parseMs, "analysis_ms" -> phase("analysis"),
        "optimization_ms" -> phase("optimization"), "planning_ms" -> phase("planning"),
        "jobs" -> jobs.length.toDouble, "task_ms" -> exec("task_ms"),
        "driver_gap_ms" -> (ms - Spans.union(iv)), "files_scanned" -> scanned.toDouble,
        "files_live" -> b.files.size.toDouble,
        "prune_ratio" -> (if (b.files.isEmpty) 0.0 else scanned.toDouble / b.files.size),
        "files_added" -> added.size.toDouble, "files_removed" -> removed.size.toDouble,
        "bytes_written" -> sizes.toDouble, "tasks" -> exec("tasks"),
        "shuffle_read_bytes" -> exec("shuffle_read_bytes"),
        "shuffle_write_bytes" -> exec("shuffle_write_bytes"))
    }

    def metrics: Seq[Metric] = LayerRecorder.metrics(rows.toSeq)
  }

  object LayerRecorder {
    val Keys = Seq("analysis_ms", "bytes_written", "driver_gap_ms", "files_added", "files_live",
      "files_removed", "files_scanned", "jobs", "optimization_ms", "parse_ms", "planning_ms",
      "prune_ratio", "shuffle_read_bytes", "shuffle_write_bytes", "task_ms", "tasks")

    private val Units = Map("jobs" -> "count", "files_scanned" -> "count", "files_live" -> "count",
      "files_added" -> "count", "files_removed" -> "count", "prune_ratio" -> "ratio",
      "bytes_written" -> "bytes", "tasks" -> "count", "shuffle_read_bytes" -> "bytes",
      "shuffle_write_bytes" -> "bytes")

    /** lookups write nothing: their write-side records are left out */
    private val WriteSide = Set("files_added", "files_removed", "bytes_written",
      "shuffle_read_bytes", "shuffle_write_bytes")

    /** mean per statement of each record, by verb; 0 for a verb no
      * statement of `rows` ran */
    def metrics(rows: Seq[(String, Map[String, Double])]): Seq[Metric] = Verbs.flatMap { v =>
      val rs = rows.filter(_._1 == v).map(_._2)
      Keys.filterNot(k => v == "lookup" && WriteSide(k)).map { k =>
        val layer = k match {
          case "parse_ms" | "analysis_ms" | "optimization_ms" | "planning_ms" => "sql"
          case "tasks" | "shuffle_read_bytes" | "shuffle_write_bytes" => "exec"
          case _ => "dml"
        }
        Metric(s"$layer.$v.$k", Stats.mean(rs.map(_(k))), Units.getOrElse(k, "ms"))
      }
    }
  }
}
