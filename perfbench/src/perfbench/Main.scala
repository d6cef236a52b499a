package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, work: String, traceDir: String)

/** What a workload run produced: operations attempted and failed, output
  * problems (empty = correct), the end-to-end metrics of a timed run, the
  * per-layer metrics of a traced run, and details printed for people. */
final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
                         e2e: Seq[Metric], layer: Seq[Metric], detail: Map[String, Any],
                         tracer: Option[Tracer])

/** One workload in one JVM at local[cores]; prints `PERFBENCH_DETAIL` lines
  * and one `PERFBENCH_RESULT` line for perfbench/run.py. */
object Main {

  /** set-ups per run; `setup_s` is their median, the first (cold) one
    * included */
  val Setups = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(workload = m("workload"), seed = m.getOrElse("seed", Gen.DefaultSeed.toString).toLong,
      seconds = m.getOrElse("seconds", "15").toInt, trace = m.getOrElse("trace", "0") == "1",
      cores = m.getOrElse("cores", "4").toInt, work = m("work"),
      traceDir = m.getOrElse("trace-dir", m("work")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionAt = System.currentTimeMillis()
    val out = try a.workload match {
      case "wc-latency" => WcLatency.run(spark, a)
      case "table-dml" => TableDml.run(spark, a)
      case w => sys.error(s"unknown workload $w")
    } finally spark.stop()
    println("PERFBENCH_DETAIL " + Json(Map("jvm_to_session_s" -> (sessionAt - jvmStart) / 1000.0,
      "workload_s" -> (System.currentTimeMillis() - sessionAt) / 1000.0)))

    val tag = s"${a.workload}-seed${a.seed}"
    out.tracer.foreach { t =>
      t.spans.write(s"${a.traceDir}/$tag.spans.jsonl")
      println("PERFBENCH_DETAIL " + Json(Map("self_ms" ->
        ListMap(t.spans.selfTimes.toSeq.sortBy(-_._2): _*))))
    }
    println("PERFBENCH_DETAIL " + Json(Map("workload" -> a.workload, "seed" -> a.seed) ++
      out.detail ++ Map("problems" -> out.problems)))
    val metrics = if (a.trace) out.layer else out.e2e
    println("PERFBENCH_RESULT " + Json(Map(
      "correct" -> out.problems.isEmpty, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> ListMap(metrics.map(m =>
        m.name -> Map("value" -> m.value, "unit" -> m.unit)): _*))))
    System.out.flush()
    // Spark's non-daemon threads can outlive stop(); end the JVM explicitly
    sys.exit(0)
  }
}
