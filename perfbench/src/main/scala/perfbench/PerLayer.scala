package perfbench

/** The per-layer metrics of a traced run. Every traced run reports all of
  * them: a layer its workload does not exercise reads 0, which is the
  * "no move" the layer map predicts for that workload. */
object PerLayer {
  val OpSpans = Seq("append", "delete", "compact", "build", "train", "probe")
  val Queries = Seq("q_join_tpch_q5", "q_join_asof", "q_fingerprint_winnow",
    "q_fuzzy_link2", "q_sim_ivfpq_serve", "q_crossmodal_frames")

  val units: Seq[(String, String)] = Seq(
    "core.batches" -> "count", "core.batch_ms_p50" -> "ms",
    "core.batch_ms_p99" -> "ms", "core.plan_ms_p50" -> "ms",
    "core.ack_ms_p50" -> "ms", "core.jobs_per_batch" -> "count",
    "core.idle_share" -> "share", "core.throughput_1core_rps" -> "1/s",
    "sources.recv_ms_p50" -> "ms", "sources.rows_per_batch_p50" -> "count",
    "sources.backlog_max" -> "count", "sources.backlog_end" -> "count",
    "ops.handle_ms_p50" -> "ms", "ops.cpu_ms_per_krec" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
    "streaming.state_commit_ms_p50" -> "ms",
    "streaming.rows_dropped_watermark" -> "count",
    "streaming.kept_ratio" -> "share",
    "sinks.bytes_written" -> "bytes", "sinks.files_per_batch" -> "count") ++
    OpSpans.flatMap(s => Seq(s"ops.$s.wall_ms" -> "ms", s"ops.$s.jobs" -> "count",
      s"ops.$s.tasks" -> "count", s"ops.$s.cpu_ms" -> "ms",
      s"ops.$s.cpu_util" -> "share", s"ops.$s.shuffle_bytes" -> "bytes",
      s"ops.$s.result_bytes" -> "bytes")) ++
    Seq("ops.probe_recall" -> "share") ++
    Queries.flatMap(q => Seq(s"queries.$q.wall_ms" -> "ms",
      s"queries.$q.jobs" -> "count", s"queries.$q.cpu_ms" -> "ms",
      s"queries.$q.shuffle_bytes" -> "bytes", s"queries.$q.plan_ms" -> "ms")) ++
    Seq("bench.gen_lag_p99_ms" -> "ms", "bench.ext_load_cores" -> "cores",
      "bench.heap_peak_mb" -> "MB", "bench.trace_overhead_pct" -> "%")

  /** Per-operation Spark counters of the traced spans named `span`: wall
    * time is the median span, the counters are means per span. An `ops`
    * span also reports tasks, CPU utilisation and result bytes, a query
    * its plan time. */
  def spanCounters(run: Run, span: String, prefix: String, isOp: Boolean): Unit = {
    val t = run.tracer
    val spans = t.named(span).filter(_.traced)
    if (spans.nonEmpty) {
      val n = spans.size.toDouble
      val wall = Stats.median(spans.map(_.ms))
      val cpuMs = t.sum(span)(_.cpuNs) / 1e6 / n
      run.metric(s"$prefix.wall_ms", wall, "ms")
      run.metric(s"$prefix.jobs", t.sum(span)(_.jobs) / n, "count")
      run.metric(s"$prefix.cpu_ms", cpuMs, "ms")
      run.metric(s"$prefix.shuffle_bytes", t.sum(span)(_.shuffleBytes) / n, "bytes")
      if (isOp) {
        run.metric(s"$prefix.tasks", t.sum(span)(_.tasks) / n, "count")
        run.metric(s"$prefix.cpu_util",
          cpuMs / (spans.map(_.ms).sum / n * run.cores), "share")
        run.metric(s"$prefix.result_bytes", t.sum(span)(_.resultBytes) / n, "bytes")
      } else
        run.metric(s"$prefix.plan_ms", t.sum(span)(_.planMs) / n, "ms")
    }
  }

  def fill(run: Run): Unit = {
    val missing = units.filterNot { case (k, _) => run.metrics.contains(k) }
    if (missing.nonEmpty)
      run.note(s"not exercised by ${run.workload} (reported as 0): " +
        missing.map(_._1).mkString(", "))
    missing.foreach { case (k, u) => run.metric(k, 0.0, u) }
  }
}
