package perfbench

/** Metric names and units the benchmark emits. `BENCHMARK.json` must
  * declare exactly these (checked by the self-test). */
object Metrics {
  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "op/s", "op_p50_s" -> "s",
    "op_tail_s" -> "s", "rows_per_s" -> "rows/s", "live_heap_mb" -> "MB")

  /** Modules reported one by one; jobs of any other module count as `other`. */
  val Modules: Seq[String] = Seq("sources", "ingest", "transform", "quality", "sink",
    "orchestrate", "stream", "ext", "functions", "queries", "Tables")

  val PerLayer: Seq[(String, String)] = Seq(
    "queries.build_frac" -> "frac", "queries.exec_frac" -> "frac",
    "config.parse_frac" -> "frac", "orchestrate.run_frac" -> "frac",
    "catalyst.analysis_s" -> "s/op", "catalyst.optimization_s" -> "s/op",
    "catalyst.planning_s" -> "s/op", "catalyst.executions" -> "count/op",
    "spark.jobs" -> "count/op", "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.driver_gap_s" -> "s/op", "spark.stage_wall_s" -> "s/op",
    "spark.empty_task_frac" -> "frac",
    "spark.executor_run_s" -> "s/op", "spark.executor_cpu_s" -> "s/op",
    "spark.cpu_util" -> "frac", "spark.shuffle_read_bytes" -> "B/op",
    "spark.shuffle_write_bytes" -> "B/op", "spark.spill_bytes" -> "B/op",
    "spark.input_bytes" -> "B/op", "spark.output_bytes" -> "B/op",
    "spark.task_skew" -> "ratio") ++
    (Modules :+ "other").flatMap(m => Seq(s"$m.jobs" -> "count/op", s"$m.job_frac" -> "frac")) ++
    Seq(
      "sink.bytes_written" -> "B/op", "sink.files_written" -> "count/op",
      "sink.versions_retained" -> "count", "sink.bytes_per_input_byte" -> "ratio",
      "stream.tick_s" -> "s/tick", "stream.state_bytes" -> "B",
      "stream.gated_frac" -> "frac", "stream.new_winner_frac" -> "frac",
      "jvm.gc_s" -> "s/op", "jvm.heap_after_gc_mb" -> "MB",
      "trace.untraced_ops_per_s" -> "op/s", "trace.traced_ops_per_s" -> "op/s",
      "trace.overhead_frac" -> "frac")

  val NamePattern = "[A-Za-z0-9_.-]+"

  /** Percentile ladder for the tail: the highest step with at least
    * `MinBeyond` samples strictly above its rank.  Below 4·MinBeyond
    * samples no step qualifies; the tail is then the median latency of
    * the slowest op, so it still follows the slow end, not the middle. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
  val MinBeyond = 10

  def tailPercentile(n: Int): Option[Double] = Ladder.find(p => beyond(n, p) >= MinBeyond)

  /** Tail latency of (op id, seconds) samples, and the rule that gave it. */
  def tail(samples: Seq[(String, Double)]): (Double, String) = {
    val sorted = samples.map(_._2).sorted.toIndexedSeq
    val n = sorted.size
    tailPercentile(n) match {
      case Some(p) => (percentile(sorted, p), f"p$p%.1f of $n ops (${beyond(n, p)} beyond it)")
      case None if n == 0 => (0.0, "no ops")
      case None =>
        val (id, m) = samples.groupBy(_._1).toSeq
          .map { case (id, xs) => id -> median(xs.map(_._2)) }.maxBy(_._2)
        (m, s"median of the slowest op, $id: $n ops leave no percentile with " +
          s"$MinBeyond samples beyond it")
    }
  }

  /** Samples above the p-th percentile's rank among n sorted samples. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p) - 1

  /** Zero-based nearest-rank index of the p-th percentile. */
  def rank(n: Int, p: Double): Int =
    math.max(0, math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1))

  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0 else sorted(rank(sorted.size, p))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
