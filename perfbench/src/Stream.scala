package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Tables
import graft.streaming.{Ev, StreamOps}

/** Spark's event-time watermark as `StreamOps.tumblingAgg` sees it (1 h
  * tumbling windows, 10 min delay), replayed over an arrival order.
  *
  * Batch i runs under watermark W_i = max event time of batches < i,
  * truncated to milliseconds, minus the delay (0 before any data). A row whose window ends at or before
  * W_i is late and dropped. Spark counts drops after the aggregation has
  * merged each batch's rows per group, so the count is the number of
  * distinct (window, event_type) groups among a batch's late rows. */
object WatermarkModel {
  val DelayMicros: Long = 10L * 60 * 1000 * 1000
  val WindowMicros: Long = 60L * 60 * 1000 * 1000

  final case class Result(drops: Long, droppedIds: Set[Long], finalWatermark: Long)

  def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000 + t.getNanos / 1000 % 1000000
  def windowStart(e: Ev): Long = Math.floorDiv(micros(e.ts), WindowMicros) * WindowMicros
  def windowEnd(e: Ev): Long = windowStart(e) + WindowMicros

  def run(batches: Seq[Seq[Ev]]): Result = {
    var wm = 0L
    var drops = 0L
    val dropped = Set.newBuilder[Long]
    for (b <- batches if b.nonEmpty) {
      val late = b.filter(e => windowEnd(e) <= wm)
      drops += late.map(e => (windowStart(e), e.event_type)).distinct.size
      dropped ++= late.map(_.event_id)
      wm = math.max(wm, Math.floorDiv(b.map(e => micros(e.ts)).max, 1000L) * 1000 - DelayMicros)
    }
    Result(drops, dropped.result(), wm)
  }
}

/** The seeded arrival order for the windowed query: the in-order events
  * cut into fixed-size batches, then
  *  - a `dropShare` of the events of batch i is held back to batch i + 2,
  *    when a batch's worth of later event time has sealed their windows;
  *  - a `keepShare` of the events of batch i whose window is still open
  *    at batch i + 1 is held back to batch i + 1.
  * `heldDrop` must be dropped and `heldKeep` kept; `build` checks both
  * against the model. */
final case class Arrival(batches: IndexedSeq[IndexedSeq[Ev]], heldDrop: Set[Long],
                         heldKeep: Set[Long], model: WatermarkModel.Result) {
  def kept: Seq[Ev] = batches.flatten.filterNot(e => model.droppedIds(e.event_id))
}

object Arrival {
  def build(inOrder: IndexedSeq[Ev], batchSize: Int, seed: Long,
            dropShare: Double, keepShare: Double): Arrival = {
    import WatermarkModel._
    val base = inOrder.grouped(batchSize).toIndexedSeq
    val rng = new Random(seed)
    val moved = Array.fill(base.size)(mutable.ArrayBuffer.empty[Ev])
    val heldDrop, heldKeep = Set.newBuilder[Long]
    val stay = base.indices.map { i =>
      val maxTs = base(i).map(e => micros(e.ts)).max
      base(i).filter { e =>
        if (i + 2 < base.size && rng.nextDouble() < dropShare) {
          moved(i + 2) += e; heldDrop += e.event_id; false
        } else if (i + 1 < base.size && windowEnd(e) > maxTs - DelayMicros &&
            rng.nextDouble() < keepShare) {
          moved(i + 1) += e; heldKeep += e.event_id; false
        } else true
      }
    }
    val batches = base.indices.map(i => stay(i) ++ moved(i))
    val a = Arrival(batches, heldDrop.result(), heldKeep.result(), WatermarkModel.run(batches))
    require(a.model.droppedIds == a.heldDrop,
      s"arrival order broken: model drops ${a.model.droppedIds.size} events, " +
        s"${a.heldDrop.size} were held back past the watermark")
    a
  }
}

/** The `stream_replay` workload: sf0.1 events through a MemoryStream, one
  * closed-loop client, fixed-size micro-batches; `tumblingAgg` with the
  * seeded late arrivals, then `cepMeasuresStream` fed in order. */
object Stream {
  val BatchSize = 1000
  val WarmBatches = 1
  val DropShare = 0.01
  val KeepShare = 0.2
  val CepWithinMinutes = 10

  final case class Replayed(latMs: Seq[Double], progress: Seq[StreamingQueryProgress],
                            rows: Seq[String], span: Span)

  /** Micro-batches per query: one per second of run length, which is
    * about what a tumbling + CEP batch pair costs on four cores. */
  def batchesFor(seconds: Int): Int = math.max(seconds, 4)

  /** The first `n` events in event-time order. */
  def loadEvents(spark: SparkSession, data: String, n: Int): IndexedSeq[Ev] = {
    import spark.implicits._
    Tables.events(spark, data)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      .orderBy("ts", "event_id").limit(n)
      .collect().toIndexedSeq
  }

  private var queryIds = 0

  def replay(spark: SparkSession, batches: Seq[Seq[Ev]], query: Dataset[Ev] => DataFrame,
             trace: Option[Tracing], label: String): Replayed = {
    implicit val sqlc = spark.sqlContext
    import spark.implicits._
    queryIds += 1
    val name = s"perfbench_${label}_$queryIds"
    val ms = MemoryStream[Ev]
    val q = query(ms.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val span = trace.map { t =>
      val s = t.tracer.open("query", label, t.root)
      t.stream.watch(q.id, s)
      s
    }.orNull
    try {
      val lat = batches.zipWithIndex.map { case (b, i) =>
        def round(): Double = {
          val t0 = System.nanoTime()
          ms.addData(b)
          q.processAllAvailable()
          (System.nanoTime() - t0) / 1e6
        }
        trace match {
          case Some(t) => t.recorder.within("round", s"round $i", span)(round())._1
          case None => round()
        }
      }
      trace.foreach(t => t.tracer.close(span))
      val prog = q.recentProgress.toSeq
      require(prog.size < spark.conf.get("spark.sql.streaming.numRecentProgressUpdates").toInt,
        s"$label: more triggers than recentProgress keeps")
      Replayed(lat, prog, spark.table(name).collect().map(_.toString).toSeq.sorted, span)
    } finally q.stop()
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Checks one tumbling replay against the model and the batch path;
    * returns the failures. */
  def checkTumble(spark: SparkSession, a: Arrival, r: Replayed): Seq[String] = {
    import spark.implicits._
    val dropped = r.progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    val wm = r.progress.reverseIterator.map(_.eventTime.get("watermark"))
      .find(_ != null).map(s => java.time.Instant.parse(s))
      .map(i => i.getEpochSecond * 1000000 + i.getNano / 1000).getOrElse(-1L)
    val sealedBatch = sortedRows(StreamOps.tumblingAgg(a.kept.toDS().toDF())
      .filter(col("window_end") <= timestamp_micros(lit(a.model.finalWatermark))))
    Seq(
      (a.model.drops > 0, "the arrival order injected no droppable late data"),
      (dropped == a.model.drops,
        s"numRowsDroppedByWatermark $dropped != model ${a.model.drops}"),
      (wm == a.model.finalWatermark, s"final watermark $wm != model ${a.model.finalWatermark}"),
      (r.rows == sealedBatch,
        s"tumbling sink (${r.rows.size} rows) != batch tumblingAgg over kept events " +
          s"in sealed windows (${sealedBatch.size} rows)")
    ).collect { case (false, why) => s"tumblingAgg: $why" }
  }

  def checkCep(spark: SparkSession, inOrder: Seq[Ev], r: Replayed): Seq[String] = {
    import spark.implicits._
    val batch = sortedRows(StreamOps.cepMeasuresStream(inOrder.toDS(), CepWithinMinutes,
      streaming = false).toDF())
    if (r.rows == batch && r.rows.nonEmpty) Nil
    else Seq(s"cepMeasuresStream: streaming sink (${r.rows.size} rows) != " +
      s"streaming = false replay (${batch.size} rows)")
  }

  def tumbleQuery(ds: Dataset[Ev]): DataFrame = StreamOps.tumblingAgg(ds.toDF())
  def cepQuery(ds: Dataset[Ev]): DataFrame =
    StreamOps.cepMeasuresStream(ds, CepWithinMinutes, streaming = true).toDF()

  def run(spark: SparkSession, ctx: RunCtx): Outcome = {
    val n = batchesFor(ctx.seconds)
    val events = loadEvents(spark, ctx.data, (n + WarmBatches) * BatchSize)
    require(events.size == (n + WarmBatches) * BatchSize, "not enough events for the replay")
    val timed = events.take(n * BatchSize)
    val arrival = Arrival.build(timed, BatchSize, ctx.seed, DropShare, KeepShare)
    val inOrder = timed.grouped(BatchSize).toSeq
    // Warm-up on the events after the timed ones, untimed and unchecked.
    val warm = events.drop(n * BatchSize).grouped(BatchSize).toSeq
    replay(spark, warm, tumbleQuery, None, "warm_tumble")
    replay(spark, warm, cepQuery, None, "warm_cep")
    val setupS = ctx.sinceStart()

    val failures = mutable.ArrayBuffer.empty[String]
    def guarded(label: String)(body: => Seq[String]): Unit =
      try failures ++= body catch { case NonFatal(e) => failures += s"$label: $e" }

    def both(trace: Option[Tracing]): Option[(Replayed, Replayed)] = {
      var t, c: Replayed = null
      guarded("tumblingAgg") {
        t = replay(spark, arrival.batches, tumbleQuery, trace, "tumble")
        checkTumble(spark, arrival, t)
      }
      guarded("cepMeasuresStream") {
        c = replay(spark, inOrder, cepQuery, trace, "cep")
        checkCep(spark, timed, c)
      }
      if (t == null || c == null) None else Some((t, c))
    }

    val plain = both(None)
    // The tracing overhead compares the traced replays with the untraced
    // ones after them; the first untraced ones still warm up.
    val traced = if (ctx.trace) Some(Tracing.start(spark, ctx.workload)) else None
    val tracedRun = traced.flatMap(t => both(Some(t)))
    val plainAfter = traced.flatMap(_ => both(None))
    traced.foreach(_.finish(ctx))
    val failedOps = Seq("tumblingAgg", "cepMeasuresStream").count(op => failures.exists(_.startsWith(op)))

    val e2e = plain.map { case (t, c) =>
      val wall = (t.latMs.sum + c.latMs.sum) / 1e3
      Seq(
        Metric("setup_s", setupS, "s"),
        Metric("wall_s", wall, "s"),
        Metric("op_p50_ms", (Stats.median(t.latMs) + Stats.median(c.latMs)) / 2, "ms"),
        Metric("op_p90_ms", (Stats.quantile(t.latMs, 0.9) + Stats.quantile(c.latMs, 0.9)) / 2, "ms"))
    }.getOrElse(Seq(Metric("setup_s", setupS, "s")))
    val report = plain.toSeq.flatMap { case (t, c) =>
      Seq("tumblingAgg" -> t, "cepMeasuresStream" -> c).flatMap { case (q, r) =>
        val events = if (q == "tumblingAgg") arrival.batches.map(_.size).sum else timed.size
        Seq(
          Metric(s"$q.batches", r.latMs.size, "count"),
          Metric(s"$q.events_per_s", events / (r.latMs.sum / 1e3), "events/s"),
          Metric(s"$q.batch_p50_ms", Stats.median(r.latMs), "ms"),
          Metric(s"$q.batch_p90_ms", Stats.quantile(r.latMs, 0.9), "ms"))
      }
    } ++ Seq(
      Metric("model.rows_dropped_by_watermark", arrival.model.drops, "count"),
      Metric("failed_ratio", failedOps / 2.0, "ratio"))

    def replaySum(r: (Replayed, Replayed)) = (r._1.latMs.sum + r._2.latMs.sum) / 1e3
    val layers = for ((t, c) <- tracedRun; tr <- traced; after <- plainAfter) yield {
      val rounds = Seq(t.span, c.span).flatMap(tr.tracer.children).filter(_.kind == "round")
      val m = Layers.execute(tr.tracer, rounds, ctx.cores)
      val progress = Seq(t, c).flatMap(r => tr.stream.progress.getOrElse(
        r.progress.head.id, mutable.ArrayBuffer.empty).toSeq)
      m ++ Layers.stream(progress, Seq(t, c).map(_.progress)) ++ Map(
        "driver.jobs_per_key" -> m("execute.jobs") / 2,
        "stream.rows_out" -> (t.rows.size + c.rows.size).toDouble,
        "trace.overhead_s" -> (replaySum((t, c)) - replaySum(after)))
    }
    Outcome(2, failedOps, failures.toSeq, e2e, report, layers.getOrElse(Map.empty))
  }
}
