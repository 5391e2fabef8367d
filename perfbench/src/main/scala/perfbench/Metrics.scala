package perfbench

/** A reported number. `exact` marks counts that repeat exactly across two
  * runs on one seed, so a later change may rest a count claim on them.
  * Spark job and task counts are not among them: ring_graph's CC ran one
  * more job in one of two runs on one seed (AQE re-planning is the likely
  * cause, not confirmed). */
final case class MetricDef(name: String, unit: String, exact: Boolean = false)

object Metrics {
  /** In the result JSON of an untraced run (BENCHMARK.json end_to_end). */
  val endToEnd: Seq[MetricDef] = Seq(
    MetricDef("setup_s", "s"), MetricDef("pass_s", "s"), MetricDef("edges_per_s", "1/s"))

  /** Printed beside the end-to-end metrics, not in the result JSON. Peak
    * RSS follows the JVM's heap growth more than the engine's needs and
    * swings by a fifth between identical runs, too much to gate on. */
  val readableEndToEnd: Seq[MetricDef] = Seq(
    MetricDef("peak_rss_mb", "MB"), MetricDef("error_rate", "ratio"), MetricDef("updates_per_s", "1/s"),
    MetricDef("batch_latency_p50_s", "s"), MetricDef("batch_latency_tail_s", "s"))

  /** Numbers a pass reports about itself (see the workloads). */
  val passNumbers: Seq[MetricDef] = Seq(
    MetricDef("graph.edges", "count", exact = true),
    MetricDef("algo.pagerank_supersteps", "count", exact = true),
    MetricDef("algo.pagerank_superstep_ms_p50", "ms"),
    MetricDef("state.commits", "count", exact = true),
    MetricDef("state.bytes_written", "bytes"),
    MetricDef("algo.cc_supersteps", "count", exact = true),
    MetricDef("algo.cc_changed_ratio", "ratio", exact = true),
    MetricDef("algo.lp_supersteps", "count", exact = true),
    MetricDef("algo.lp_changed_ratio", "ratio", exact = true),
    MetricDef("algo.bfs_supersteps", "count", exact = true),
    MetricDef("algo.csr_supersteps", "count", exact = true),
    MetricDef("algo.csr_superstep_ms_p50", "ms"),
    MetricDef("matching.safe_fraction", "ratio", exact = true),
    MetricDef("stream.safe_ops", "count", exact = true),
    MetricDef("stream.unsafe_ops", "count", exact = true),
    MetricDef("stream.safe_op_fraction", "ratio", exact = true),
    MetricDef("stream.cc_scoped_recomputes", "count", exact = true),
    MetricDef("stream.cc_full_recomputes", "count", exact = true))

  /** Layer calls of the workloads in BENCHMARK.json, by span name. */
  val benchmarkedCalls: Seq[String] = Seq("pages.extract", "graph.build", "algo.pagerank",
    "algo.cc", "algo.lp", "algo.triangles", "algo.bfs", "algo.csr_build", "algo.csr_pagerank")

  val trace: Seq[MetricDef] = Seq(
    MetricDef("trace.pass_s", "s"),
    MetricDef("trace.jobs", "count"),
    MetricDef("trace.tasks", "count"),
    MetricDef("trace.executor_s", "s"),
    MetricDef("trace.driver_wait_s", "s"),
    MetricDef("trace.shuffle_write_bytes", "bytes"),
    MetricDef("trace.spill_bytes", "bytes"),
    MetricDef("trace.span_coverage", "ratio"))

  /** In the result JSON of a traced run (BENCHMARK.json per_layer): the
    * numbers of the layers the benchmarked workloads exercise. A workload
    * reports 0 for a layer it does not call. */
  val perLayer: Seq[MetricDef] =
    passNumbers.filter(d => d.exact || d.unit == "bytes")
      .filterNot(d => d.name.startsWith("matching.") || d.name.startsWith("stream.")) ++
      benchmarkedCalls.flatMap(c => Seq(MetricDef(s"$c.jobs", "count"),
        MetricDef(s"$c.tasks", "count"))) ++
      // the layer calls both benchmarked workloads make
      Seq("algo.cc", "algo.lp").flatMap(c => Seq(MetricDef(s"${c}_s", "s"),
        MetricDef(s"$c.driver_wait_s", "s"))) ++
      trace

  /** Latency at the highest percentile with at least ten samples beyond
    * it; the maximum when there are fewer than twenty samples. Returns
    * (percentile, value). */
  def tail(xs: Seq[Double]): (String, Double) = {
    val s = xs.sorted
    val n = s.size
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10) match {
      case Some(p) =>
        val rank = math.ceil(p / 100 * n).toInt // nearest rank
        (if (p == p.floor) p.toInt.toString else p.toString, s(rank - 1))
      case None => ("100 (max; under 20 batches)", s.last)
    }
  }
}
