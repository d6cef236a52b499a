package perfbench

/** Per-layer metrics that both workloads report. Every traced run prints
  * the same names whichever workload it runs; a layer the workload does
  * not drive reads 0, as measured (no micro-batches, sink calls or SQL
  * statements ran in it). */
object Layers {

  /** time inside `LatencySink.apply` per call, and stamped tokens written */
  def sink(callMs: Seq[Double], samples: Long): Seq[Metric] = Seq(
    Metric("sink.call_ms", Stats.medianOrZero(callMs), "ms"),
    Metric("sink.samples", samples.toDouble, "count"))

  /** tracing overhead: the traced minus the untraced half of one run, on
    * the latencies the end-to-end metric is made of */
  def overhead(untraced: Seq[Double], traced: Seq[Double]): Seq[Metric] = Seq(
    Metric("trace.overhead_latency_mean_ms", Stats.mean(traced) - Stats.mean(untraced), "ms"))
}
