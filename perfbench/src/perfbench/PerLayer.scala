package perfbench

/** Per-layer metrics of a traced run, as per-op means or shares of op
  * wall time over the traced ops. */
object PerLayer {
  def compute(recs: Seq[Main.Rec], cores: Int, workloadLayers: Map[String, Double],
      heapAfterGcMb: Double): Map[String, Double] = {
    val traced = recs.filter(_.traced)
    val untraced = recs.filterNot(_.traced)
    val n = math.max(1, traced.size).toDouble
    val wall = math.max(1e-9, traced.map(_.seconds).sum)
    val tr = traced.flatMap(_.trace)
    def perOp(f: OpTrace => Double): Double = tr.map(f).sum / n
    def layerFrac(k: String): Double = traced.map(_.out.layers.getOrElse(k, 0.0)).sum / wall
    def opsPerS(rs: Seq[Main.Rec]): Double =
      if (rs.isEmpty) 0.0 else rs.size / rs.map(_.seconds).sum

    val gaps = traced.flatMap(r => r.trace.map { t =>
      val ivs = t.jobs.values.map(j => (math.max(j.start, r.startMs), math.min(j.end, r.endMs)))
        .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
      var covered = 0L; var reach = Long.MinValue
      ivs.foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) covered += e - from
        reach = math.max(reach, e)
      }
      math.max(0.0, r.seconds - covered / 1000.0)
    })
    val skews = tr.flatMap(_.taskTimes.values.filter(_.size >= 2).map { ts =>
      val med = Metrics.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    })
    val tasks = tr.map(_.tasks).sum.toDouble
    val byModule = tr.flatMap(_.jobs.values).groupBy { j =>
      if (Metrics.Modules.contains(j.module)) j.module else "other"
    }
    val moduleMetrics = (Metrics.Modules :+ "other").flatMap { m =>
      val js = byModule.getOrElse(m, Nil)
      Seq(s"$m.jobs" -> js.size / n, s"$m.job_frac" -> js.map(j => j.end - j.start).sum / 1000.0 / wall)
    }
    val inputBytes = traced.map(_.out.inputBytes).sum.toDouble
    val untracedRate = opsPerS(untraced)
    val tracedRate = opsPerS(traced)

    Map(
      "queries.build_frac" -> layerFrac("queries.build"),
      "queries.exec_frac" -> layerFrac("queries.exec"),
      "config.parse_frac" -> layerFrac("config.parse"),
      "orchestrate.run_frac" -> layerFrac("orchestrate.run"),
      "catalyst.analysis_s" -> perOp(_.analysisMs / 1000.0),
      "catalyst.optimization_s" -> perOp(_.optimizationMs / 1000.0),
      "catalyst.planning_s" -> perOp(_.planningMs / 1000.0),
      "catalyst.executions" -> perOp(_.executions.toDouble),
      "spark.jobs" -> perOp(_.jobs.size.toDouble),
      "spark.stages" -> perOp(_.stages.size.toDouble),
      "spark.tasks" -> tasks / n,
      "spark.driver_gap_s" -> gaps.sum / n,
      "spark.stage_wall_s" -> perOp(_.stages.values.filter(_.completed > 0)
        .map(s => (s.completed - s.submitted) / 1000.0).sum),
      "spark.empty_task_frac" -> (if (tasks > 0) tr.map(_.emptyTasks).sum / tasks else 0.0),
      "spark.executor_run_s" -> perOp(_.runMs / 1000.0),
      "spark.executor_cpu_s" -> perOp(_.cpuNs / 1e9),
      "spark.cpu_util" -> tr.map(_.cpuNs / 1e9).sum / (wall * cores),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> perOp(_.spill.toDouble),
      "spark.input_bytes" -> perOp(_.inputBytes.toDouble),
      "spark.output_bytes" -> perOp(_.outputBytes.toDouble),
      "spark.task_skew" -> Metrics.median(skews),
      "sink.bytes_written" -> traced.map(_.out.bytesWritten).sum / n,
      "sink.files_written" -> traced.map(_.out.filesWritten).sum / n,
      "sink.versions_retained" -> 0.0,
      "sink.bytes_per_input_byte" ->
        (if (inputBytes > 0) traced.map(_.out.bytesWritten).sum / inputBytes else 0.0),
      "jvm.gc_s" -> traced.map(_.gcMs).sum / 1000.0 / n,
      "jvm.heap_after_gc_mb" -> heapAfterGcMb,
      "trace.untraced_ops_per_s" -> untracedRate,
      "trace.traced_ops_per_s" -> tracedRate,
      "trace.overhead_frac" -> (if (untracedRate > 0) 1.0 - tracedRate / untracedRate else 0.0)
    ) ++ moduleMetrics ++ workloadLayers
  }
}
