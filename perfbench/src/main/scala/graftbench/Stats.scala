package graftbench

import scala.collection.immutable.ListMap

/** End-to-end and per-layer metrics from the samples of one window. */
object Stats {
  /** Linear-interpolated quantile (the numpy/`statistics` default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A failed op has no latency a user would accept: it counts as over
    * any limit. JSON has no infinity, so it is this many ms. */
  val FailedMs = 1e9

  private def latencies(ss: Seq[Sample]): Seq[Double] =
    ss.map(s => if (s.ok) s.ms else FailedMs)

  def endToEnd(samples: Seq[Sample], passes: Seq[Double], cpuNs: Long,
      rssMb: Double, setupS: Double): ListMap[String, (Double, String)] = {
    val reads = latencies(samples.filter(_.kind == Kind.Read))
    val writes = latencies(samples.filter(_.kind == Kind.Write))
    val builds = latencies(samples.filter(_.kind == Kind.Build))
    // the client's busy time: answer checks between ops are not counted
    val windowS = samples.map(s => s.endNs - s.startNs).sum / 1e9
    val done = samples.count(_.ok)
    ListMap(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (done / windowS, "ops/s"),
      "read_p50_ms" -> (median(reads), "ms"),
      "read_p95_ms" -> (quantile(reads, 0.95), "ms"),
      "write_p50_ms" -> (median(writes), "ms"),
      "build_s" -> (median(builds) / 1e3, "s"),
      "pass_s" -> (median(passes), "s"),
      "cpu_s_per_op" -> (cpuNs / 1e9 / math.max(1, samples.size), "s/op"),
      "peak_rss_mb" -> (rssMb, "MB"))
  }

  /** Tracing overhead inside a traced run: the time spent draining the
    * listener bus and reading counters at op boundaries, over the time
    * spent in the ops. (Across runs, compare.py sets the traced runs'
    * end-to-end numbers against the untraced runs'.) */
  def overhead(traced: Seq[Sample]): Double =
    traced.map(_.traceNs).sum.toDouble / traced.map(s => s.endNs - s.startNs).sum

  /** Span name → per-layer metric (mean ms per call of that span). */
  val SpanMetrics: Seq[(String, String, String)] = Seq(
    ("api.plan_ms", "api.plan", "ms/call"),
    ("sources.write_ms", "sources.write", "ms/call"),
    ("text.curate_full_ms", "text.curate_full", "ms/call"),
    ("dedup.simhash_pairs_ms", "dedup.simhash_pairs", "ms/call"),
    ("dedup.char_ngram_pairs_ms", "dedup.char_ngram_pairs", "ms/call"),
    ("dedup.embedding_pairs_lsh_ms", "dedup.embedding_pairs_lsh", "ms/call"),
    ("text.lang_id_ms", "text.lang_id", "ms/call"),
    ("text.token_count_bpe_ms", "text.token_count_bpe", "ms/call"),
    ("similarity.ivf_build_ms", "similarity.ivf_build", "ms/call"),
    ("similarity.pq_build_ms", "similarity.pq_build", "ms/call"),
    ("text.index_build_ms", "text.index_build", "ms/call"),
    ("similarity.ivf_probe_ms", "similarity.ivf_probe", "ms/call"),
    ("similarity.pq_probe_ms", "similarity.pq_probe", "ms/call"),
    ("text.index_probe_ms", "text.index_probe", "ms/call"),
    ("similarity.delta_append_ms", "similarity.delta_append", "ms/call"),
    ("text.delta_append_ms", "text.delta_append", "ms/call"))

  def perLayer(ss: Seq[Sample], tracer: Tracer): Seq[(String, Double, String)] = {
    def per(xs: Seq[Sample])(k: String): Double =
      if (xs.isEmpty) 0.0 else xs.flatMap(_.counters).map(_(k)).sum.toDouble / xs.size
    val reads = ss.filter(_.kind == Kind.Read)
    val writes = ss.filter(_.kind == Kind.Write)
    val builds = ss.filter(_.kind == Kind.Build)
    val byName = tracer.spans.groupBy(_.name)
    val spanMs = SpanMetrics.map { case (metric, span, unit) =>
      val xs = byName.getOrElse(span, Nil)
      (metric, if (xs.isEmpty) 0.0 else xs.map(_.ms).sum / xs.size, unit)
    }
    val rowsOut = reads.map(_.rows).sum
    val all = ss
    Seq(
      ("sources.scan_ms", per(reads)("scanMs"), "ms/op"),
      ("sources.bytes_read", per(reads)("inputBytes"), "B/op"),
      ("sources.rows_scanned_per_row_returned",
        if (rowsOut == 0) 0.0
        else reads.flatMap(_.counters).map(_("scanRows")).sum.toDouble / rowsOut,
        "ratio"),
      ("sources.seq_window_ms", per(reads)("windowStageMs"), "ms/op"),
      ("sources.files_written", per(writes)("filesWritten"), "files/op"),
      ("sources.catalog_ops", per(builds)("catalogOps"), "ops/build"),
      ("operators.agg_sort_ms", per(reads)("aggSortMs"), "ms/op"),
      ("spark.jobs", per(all)("jobs"), "jobs/op"),
      ("spark.stages", per(all)("stages"), "stages/op"),
      ("spark.tasks", per(all)("tasks"), "tasks/op"),
      ("spark.shuffle_read_bytes", per(all)("shuffleRead"), "B/op"),
      ("spark.shuffle_write_bytes", per(all)("shuffleWrite"), "B/op"),
      ("spark.spill_bytes", per(all)("spill"), "B/op"),
      ("spark.executor_cpu_ms", per(all)("cpuNs") / 1e6, "ms/op"),
      ("spark.job_busy_ms",
        if (all.isEmpty) 0.0 else all.map(_.jobBusyMs).sum.toDouble / all.size, "ms/op"),
      ("spark.driver_gap_ms",
        if (all.isEmpty) 0.0
        else all.map(s => s.ms - s.jobBusyMs).sum / all.size, "ms/op"),
      ("spark.task_wait_ms", per(all)("taskWaitMs"), "ms/op"),
      ("jvm.gc_ms", per(all)("gcMs"), "ms/op")) ++ spanMs
  }
}
