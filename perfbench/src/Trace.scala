package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `counts` holds the
  * work counters recorded while the span was the open phase. */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
                 var start: Double, var end: Double) {
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def dur: Double = end - start
  def add(k: String, v: Double): Unit = synchronized { counts(k) = counts.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { counts(k) = math.max(counts.getOrElse(k, 0.0), v) }
  def get(k: String): Double = synchronized { counts.getOrElse(k, 0.0) }
}

/** In-memory span store; written out once, when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val all = mutable.ArrayBuffer.empty[Span]
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def add(kind: String, name: String, parent: Span, start: Double, end: Double): Span = {
    val s = new Span(ids.incrementAndGet(), Option(parent).map(_.id).getOrElse(0L),
      kind, name, start, end)
    all.synchronized(all += s)
    s
  }
  def open(kind: String, name: String, parent: Span): Span = add(kind, name, parent, nowMs, Double.NaN)
  def close(s: Span): Span = { s.end = nowMs; s }

  def spans: Seq[Span] = all.synchronized(all.toList)
  def children(p: Span): Seq[Span] = spans.filter(_.parent == p.id)

  def write(path: Path): Unit = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else f"$d%.3f"
    val lines = spans.map { s =>
      val attrs = s.counts.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
        s""""start_ms":${num(s.start)},"end_ms":${num(s.end)},"attrs":{$attrs}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Job, stage and task events plus the plan phases and written row count
  * of each finished query execution, attributed to the phase span open
  * when they arrive.
  * The bench drains the listener bus before it switches phase. */
final class Recorder(spark: SparkSession, tr: Tracer)
    extends SparkListener with QueryExecutionListener {
  @volatile private var phase: Span = null
  private val jobSpans = TrieMap.empty[Int, Span]
  private val stageJob = TrieMap.empty[Int, Span]

  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Run `body` under a new phase span that covers exactly the call. */
  def within[T](kind: String, name: String, parent: Span)(body: => T): (T, Span) = {
    drain()
    val span = tr.open(kind, name, parent)
    phase = span
    try (body, span) finally { tr.close(span); drain(); phase = null }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = phase
    if (p != null) {
      val j = tr.add("job", s"job ${e.jobId}", p, e.time.toDouble, Double.NaN)
      jobSpans(e.jobId) = j
      e.stageIds.foreach(id => stageJob(id) = j)
      p.add("jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpans.remove(e.jobId).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { j =>
      val s = tr.add("stage", s"stage ${i.stageId}.${i.attemptNumber()}", j,
        i.submissionTime.map(_.toDouble).getOrElse(Double.NaN),
        i.completionTime.map(_.toDouble).getOrElse(Double.NaN))
      s.add("tasks", i.numTasks)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val p = phase
    val m = e.taskMetrics
    if (p != null && m != null) {
      p.add("tasks", 1)
      p.add("task_s", m.executorRunTime / 1e3)
      p.add("task_cpu_s", m.executorCpuTime / 1e9)
      p.add("gc_s", m.jvmGCTime / 1e3)
      p.add("input_bytes", m.inputMetrics.bytesRead)
      p.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      p.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      p.max("peak_exec_mem_bytes", m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = phase
    if (p != null) qe.tracker.phases.foreach { case (name, ph) =>
      tr.add("plan", name, p, ph.startTimeMs.toDouble, ph.endTimeMs.toDouble)
      p.add(s"plan.$name", ph.durationMs / 1e3)
    }
    // The rows a DataSource V2 write (the noop sink) committed.
    if (p != null) qe.executedPlan.collectFirst { case w: V2TableWriteExec => w }
      .flatMap(_.commitProgress).foreach(c => p.add("rows_out", c.numOutputRows))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress of the traced stream queries, by query id. */
final class StreamRecorder(tr: Tracer) extends StreamingQueryListener {
  private val parents = TrieMap.empty[java.util.UUID, Span]
  val progress: TrieMap[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]] = TrieMap.empty

  def watch(id: java.util.UUID, span: Span): Unit = parents(id) = span

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    parents.get(p.id).foreach { q =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      val s = tr.add("trigger", s"batch ${p.batchId}", q, start, start + dur)
      s.add("input_rows", p.numInputRows)
      progress.getOrElseUpdate(p.id, mutable.ArrayBuffer.empty).synchronized {
        progress(p.id) += p
      }
    }
  }
}
