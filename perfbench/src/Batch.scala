package perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A batch workload: each key is constructed (`SparkEntry.queries(k)`)
  * and fully materialized through the noop sink, never `count()`-ed.
  *
  * One run: an untimed warm-up pass that checks every key's output
  * against its pin (charged to set-up), then [[timedPasses]] timed
  * passes. The seed sets the key order of each pass. */
object Batch {
  /** A fixed pass count, so that a slow machine cannot change which
    * statistic a run reports: one pass per 4 s of run length (a warm pass
    * takes 3.5-5.5 s on four cores), and at least two. A traced run needs
    * three: untraced, traced, untraced. */
  def timedPasses(seconds: Int, trace: Boolean): Int =
    math.max(if (trace) 3 else 2, seconds / 4)

  def order(keys: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(keys)

  def run(spark: SparkSession, ctx: RunCtx, keys: Seq[String],
          build: String => DataFrame, pins: Map[String, Digest],
          rowsOnly: String => Boolean): Outcome = {
    val failures = mutable.LinkedHashMap.empty[String, String]
    def fail(k: String, why: String): Unit = if (!failures.contains(k)) failures(k) = why
    def live(pass: Int) = order(keys, ctx.seed, pass).filterNot(failures.contains)

    for (k <- live(0)) try {
      val d = Digest.of(build(k), rowsOnly(k))
      pins.get(k) match {
        case None => fail(k, "no pin")
        case Some(p) if !d.matches(p) => fail(k, s"digest $d != pin $p")
        case _ =>
      }
    } catch { case NonFatal(e) => fail(k, e.toString) }

    val setupS = ctx.sinceStart()

    val tracing = if (ctx.trace) Some(Tracing.start(spark, ctx.workload)) else None
    val perKey = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val walls, tracedWalls = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Span]
    // With tracing on, odd passes are traced and even ones give the
    // untraced reference for the tracing overhead. Pass 0 is still
    // warming up, so the reference is the untraced passes after it.
    for (pass <- 0 until timedPasses(ctx.seconds, ctx.trace)) {
      val traced = tracing.filter(_ => pass % 2 == 1)
      val passSpan = traced.map(t => t.tracer.open("pass", s"pass $pass", t.root))
      val p0 = System.nanoTime()
      var countS = 0.0
      for (k <- live(pass + 1)) try {
        val k0 = System.nanoTime()
        traced match {
          case None => build(k).write.format("noop").mode("overwrite").save()
          case Some(t) =>
            val ks = t.tracer.open("key", k, passSpan.get)
            val (df, _) = t.recorder.within("construct", k, ks)(build(k))
            val (_, es) = t.recorder.within("execute", k, ks)(
              df.write.format("noop").mode("overwrite").save())
            // The key's own frame was analyzed while it was constructed.
            df.queryExecution.tracker.phases.get("analysis")
              .foreach(p => es.add("plan.analysis", p.durationMs / 1e3))
            t.tracer.close(ks)
            // What graft.Bench would time: count() lets Catalyst prune the
            // projections. Kept out of the key span and the pass wall.
            val c0 = System.nanoTime()
            df.count()
            val cs = (System.nanoTime() - c0) / 1e9
            ks.add("count_s", cs)
            countS += cs
        }
        if (traced.isEmpty) perKey.getOrElseUpdate(k, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - k0) / 1e9
      } catch { case NonFatal(e) => fail(k, e.toString) }
      (if (traced.isDefined) tracedWalls else walls) += (System.nanoTime() - p0) / 1e9 - countS
      passSpan.foreach(s => traced.get.tracer.close(s))
      passSpan.foreach(tracedPasses += _)
    }
    tracing.foreach(_.finish(ctx))

    val ok = keys.filterNot(failures.contains)
    val keyMedians = ok.flatMap(k => perKey.get(k).map(ts => k -> Stats.median(ts.toSeq)))
    // wall_s is one pass made up of the per-key medians.
    val e2e = Seq(Metric("setup_s", setupS, "s")) ++ (if (keyMedians.isEmpty) Nil else {
      val med = keyMedians.map(_._2)
      Seq(
        Metric("wall_s", med.sum, "s"),
        Metric("op_p50_ms", Stats.median(med) * 1e3, "ms"),
        Metric("op_p90_ms", Stats.quantile(med, 0.9) * 1e3, "ms"))
    })
    val report = Seq(
      Metric("key_p50_s", if (keyMedians.isEmpty) 0.0 else Stats.median(keyMedians.map(_._2)), "s"),
      Metric("timed_passes", walls.size, "count"),
      Metric("failed_ratio", failures.size.toDouble / keys.size, "ratio")) ++
      keyMedians.map { case (k, s) => Metric(s"key.$k", s, "s") }
    val layers = tracing.map { t =>
      val perPass = tracedPasses.toSeq.map(p => passLayers(t.tracer, p, ctx.cores))
      val med = Layers.all.map(_._1).filter(n => perPass.exists(_.contains(n)))
        .map(n => n -> Stats.median(perPass.map(_.getOrElse(n, 0.0)))).toMap
      med + ("trace.overhead_s" ->
        (Stats.median(tracedWalls.toSeq) - Stats.median(walls.drop(1).toSeq)))
    }.getOrElse(Map.empty)
    Outcome(keys.size, failures.size, failures.map { case (k, w) => s"$k: $w" }.toSeq,
      e2e, report, layers)
  }

  /** Per-layer totals of one traced pass. */
  private def passLayers(tr: Tracer, pass: Span, cores: Int): Map[String, Double] = {
    val keySpans = tr.children(pass).filter(_.kind == "key")
    def phase(k: Span, kind: String) = tr.children(k).filter(_.kind == kind)
    val cons = keySpans.flatMap(phase(_, "construct"))
    val exec = keySpans.flatMap(phase(_, "execute"))
    val m = mutable.Map.empty[String, Double] ++ Layers.execute(tr, exec, cores)
    val constructS = cons.map(_.dur).sum / 1e3
    val wall = keySpans.map(_.dur).sum / 1e3
    m("queries.construct_s") = constructS
    m("queries.construct_jobs") = cons.map(_.get("jobs")).sum
    m("queries.construct_share") = constructS / wall
    m("execute.share") = m("execute.s") / wall
    m("execute.count_s") = keySpans.map(_.get("count_s")).sum
    for ((name, phaseName) <- Seq("analysis" -> "analysis", "optimizer" -> "optimization",
        "planning" -> "planning"))
      m(s"plan.${name}_s") = exec.map(_.get(s"plan.$phaseName")).sum
    m("driver.gap_s") = keySpans.map(k =>
      Layers.gapS(k, Layers.jobsUnder(tr, phase(k, "construct") ++ phase(k, "execute")))).sum
    m("driver.jobs_per_key") = (cons ++ exec).map(_.get("jobs")).sum / keySpans.size
    for (m0 <- Workloads.modules) {
      val ks = keySpans.filter(k => Workloads.moduleOf(k.name) == m0)
      val c = ks.flatMap(phase(_, "construct"))
      val e = ks.flatMap(phase(_, "execute"))
      m(s"api.$m0.construct_s") = c.map(_.dur).sum / 1e3
      m(s"api.$m0.plan_s") = e.map(s => Seq("analysis", "optimization", "planning")
        .map(p => s.get(s"plan.$p")).sum).sum
      m(s"api.$m0.execute_s") = e.map(_.dur).sum / 1e3
      m(s"api.$m0.jobs") = (c ++ e).map(_.get("jobs")).sum
      m(s"api.$m0.shuffle_bytes") = (c ++ e).map(_.get("shuffle_write_bytes")).sum
    }
    m.toMap
  }
}
