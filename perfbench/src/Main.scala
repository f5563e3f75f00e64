package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

final case class Metric(name: String, value: Double, unit: String)

/** What one run measured. `attempted`/`failed` count operations: keys for
  * a batch workload, stream queries for `stream_replay`. */
final case class Outcome(attempted: Int, failed: Int, failures: Seq[String],
                         e2e: Seq[Metric], report: Seq[Metric], layers: Map[String, Double])

final case class RunCtx(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        t0Ms: Long, cores: Int, data: String, work: Path) {
  /** Seconds since the launcher started the JVM. */
  def sinceStart(): Double = (System.currentTimeMillis() - t0Ms) / 1e3
}

/** Listeners and spans of one traced run, registered from bench code. */
final class Tracing(spark: SparkSession, val tracer: Tracer, val recorder: Recorder,
                    val stream: StreamRecorder, val root: Span) {
  def finish(ctx: RunCtx): Unit = {
    recorder.drain()
    tracer.close(root)
    spark.sparkContext.removeSparkListener(recorder)
    spark.listenerManager.unregister(recorder)
    spark.streams.removeListener(stream)
    tracer.write(ctx.work.resolve("spans").resolve(s"${ctx.workload}-seed${ctx.seed}.jsonl"))
  }
}

object Tracing {
  def start(spark: SparkSession, workload: String): Tracing = {
    val tr = new Tracer
    val rec = new Recorder(spark, tr)
    val st = new StreamRecorder(tr)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    spark.streams.addListener(st)
    new Tracing(spark, tr, rec, st, tr.open("workload", workload, null))
  }
}

object Main {
  val EndToEnd: Seq[String] = Seq("setup_s", "wall_s", "op_p50_ms", "op_p90_ms")

  def session(cores: Int, work: Path): SparkSession = {
    val spark = GraftSession.builder(cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietAccumulatorRace()
    spark
  }

  /** Keys without a DuckDB oracle are pinned by row count only. */
  def rowsOnly(key: String): Boolean = !SparkEntry.oracleSql.contains(key)

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def run(spark: SparkSession, ctx: RunCtx, pinsPath: Path): Outcome =
    Workloads.batch.find(_.name == ctx.workload) match {
      case Some(w) =>
        Batch.run(spark, ctx, w.keys, k => SparkEntry.queries(k)(spark, ctx.data),
          Pins.load(pinsPath), rowsOnly)
      case None if ctx.workload == Workloads.StreamReplay => Stream.run(spark, ctx)
      case None => throw new IllegalArgumentException(
        s"unknown workload ${ctx.workload}; one of ${Workloads.names.mkString(", ")}")
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def resultLine(o: Outcome, trace: Boolean): String = {
    val metrics: Seq[(String, Double, String)] =
      if (trace) Layers.all.map { case (n, u) => (n, o.layers.getOrElse(n, 0.0), u) }
      else EndToEnd.map(n => o.e2e.find(_.name == n)
        .map(m => (n, m.value, m.unit)).getOrElse((n, 0.0, "s")))
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val correct = o.failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    s"""{"correct": $correct, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$body}}"""
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt
    val spark = session(cores, work)
    val code = try {
      a("mode") match {
        case "pins" =>
          val keys = Workloads.batch.flatMap(_.keys)
          val pins = keys.map(k =>
            k -> Digest.of(SparkEntry.queries(k)(spark, a("data")), rowsOnly(k)))
          Pins.write(Paths.get(a("pins")), pins)
          pins.foreach { case (k, d) => println(s"$k\t$d") }
          0
        case "run" =>
          val ctx = RunCtx(a("workload"), a("seed").toLong, a("seconds").toInt,
            a("trace") == "1", a("t0-ms").toLong, cores, a("data"), work)
          val o = run(spark, ctx, Paths.get(a("pins")))
          for (m <- o.e2e ++ o.report)
            println(f"[perfbench] ${ctx.workload} ${m.name} = ${m.value}%.4f ${m.unit}")
          o.failures.foreach(f => println(s"[perfbench] FAILED $f"))
          val line = resultLine(o, ctx.trace)
          println(line)
          if (line.contains("\"correct\": true")) 0 else 1
      }
    } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }
}
