package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The per-layer metrics a traced run reports. Every workload prints the
  * full list; a layer the workload does not reach reads 0. */
object Layers {
  private val executeCounters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "tasks" -> "count", "task_s" -> "s", "task_cpu_s" -> "s",
    "gc_s" -> "s", "input_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes",
    "peak_exec_mem_bytes" -> "bytes", "rows_out" -> "count")

  val all: Seq[(String, String)] =
    Seq("queries.construct_s" -> "s", "queries.construct_jobs" -> "count",
      "queries.construct_share" -> "ratio",
      "plan.analysis_s" -> "s", "plan.optimizer_s" -> "s", "plan.planning_s" -> "s",
      "execute.s" -> "s", "execute.share" -> "ratio", "execute.busy_ratio" -> "ratio",
      "execute.count_s" -> "s") ++
      executeCounters.map { case (k, u) => s"execute.$k" -> u } ++
      Seq("driver.gap_s" -> "s", "driver.jobs_per_key" -> "count") ++
      Workloads.modules.flatMap(m => Seq(
        s"api.$m.construct_s" -> "s", s"api.$m.plan_s" -> "s", s"api.$m.execute_s" -> "s",
        s"api.$m.jobs" -> "count", s"api.$m.shuffle_bytes" -> "bytes")) ++
      Seq("stream.triggers" -> "count", "stream.no_data_triggers" -> "count",
        "stream.add_batch_ms" -> "ms", "stream.query_planning_ms" -> "ms",
        "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
        "stream.state_rows" -> "count", "stream.state_mem_bytes" -> "bytes",
        "stream.state_commit_ms" -> "ms", "stream.rows_dropped_by_watermark" -> "count",
        "stream.watermark_lag_ms" -> "ms", "stream.rows_out" -> "count",
        "trace.overhead_s" -> "s")

  /** Wall time of `span` that no job under it covers, in seconds. */
  def gapS(span: Span, jobs: Seq[Span]): Double = {
    val iv = jobs.map(j => (math.max(j.start, span.start), math.min(j.end, span.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered, curA, curB = 0.0
    var open = false
    for ((a, b) <- iv) {
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) covered += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) covered += curB - curA
    (span.dur - covered) / 1e3
  }

  def jobsUnder(tr: Tracer, spans: Seq[Span]): Seq[Span] =
    spans.flatMap(tr.children).filter(_.kind == "job")

  /** Execute-layer totals over phase spans that ran the measured work. */
  def execute(tr: Tracer, spans: Seq[Span], cores: Int): Map[String, Double] = {
    val wall = spans.map(_.dur).sum / 1e3
    val sums = executeCounters.map { case (k, _) =>
      val v = if (k == "peak_exec_mem_bytes") (0.0 +: spans.map(_.get(k))).max
        else spans.map(_.get(k)).sum
      s"execute.$k" -> v
    }.toMap
    sums ++ Map(
      "execute.s" -> wall,
      "execute.busy_ratio" -> (if (wall > 0) sums("execute.task_s") / (wall * cores) else 0.0),
      "driver.gap_s" -> spans.map(s => gapS(s, jobsUnder(tr, Seq(s)))).sum)
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Streaming-runtime metrics from the traced queries' progress events;
    * `perQuery` gives each query's progress in order, for end-of-run state. */
  def stream(progress: Seq[StreamingQueryProgress],
             perQuery: Seq[Seq[StreamingQueryProgress]]): Map[String, Double] = {
    val ops = progress.flatMap(_.stateOperators)
    val lags = progress.flatMap { p =>
      val et = p.eventTime
      if (et.containsKey("max") && et.containsKey("watermark") &&
          java.time.Instant.parse(et.get("watermark")).toEpochMilli > 0)
        Some((java.time.Instant.parse(et.get("max")).toEpochMilli -
          java.time.Instant.parse(et.get("watermark")).toEpochMilli).toDouble)
      else None
    }
    val last = perQuery.flatMap(_.lastOption).flatMap(_.stateOperators)
    Map(
      "stream.triggers" -> progress.size.toDouble,
      "stream.no_data_triggers" -> progress.count(_.numInputRows == 0).toDouble,
      "stream.add_batch_ms" -> progress.map(dur(_, "addBatch")).sum,
      "stream.query_planning_ms" -> progress.map(dur(_, "queryPlanning")).sum,
      "stream.wal_commit_ms" -> progress.map(dur(_, "walCommit")).sum,
      "stream.commit_offsets_ms" -> progress.map(dur(_, "commitOffsets")).sum,
      "stream.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
      "stream.state_mem_bytes" -> last.map(_.memoryUsedBytes).sum.toDouble,
      "stream.state_commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble,
      "stream.rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble,
      "stream.watermark_lag_ms" -> (if (lags.isEmpty) 0.0 else Stats.median(lags)))
  }
}
