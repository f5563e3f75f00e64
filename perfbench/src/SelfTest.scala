package perfbench

import java.nio.file.Paths
import java.sql.Timestamp
import java.time.Instant

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.streaming.Ev

/** Checks of the benchmark itself: python3 perfbench/run.py --selftest */
object SelfTest {
  private def at(hhmm: String): Timestamp = Timestamp.from(Instant.parse(s"2024-01-01T$hhmm:00Z"))
  private def micros(hhmm: String): Long = WatermarkModel.micros(at(hhmm))

  /** 20 events in four batches; 1 h windows, 10 min watermark delay.
    *  - batch 1 runs under W = 10:55, so event 7 (10:58, window ends 11:00)
    *    is late but kept;
    *  - batch 2 runs under W = 12:35 and drops (10:00, click) twice and
    *    (11:00, view): 2 groups;
    *  - batch 3 runs under W = 13:20 and drops (12:00, view),
    *    (12:00, purchase) and (11:00, click): 3 groups.
    * So 5 drops, and the final watermark is 14:10 - 10 min = 14:00. */
  val handReplay: Seq[Seq[Ev]] = {
    def ev(id: Long, hhmm: String, tpe: String) = Ev(id, at(hhmm), id % 3, tpe, id.toDouble)
    Seq(
      Seq(ev(1, "10:05", "click"), ev(2, "10:10", "view"), ev(3, "10:20", "click"),
        ev(4, "10:40", "purchase"), ev(5, "10:55", "click"), ev(6, "11:05", "view")),
      Seq(ev(7, "10:58", "click"), ev(8, "11:20", "click"), ev(9, "11:40", "view"),
        ev(10, "12:30", "click"), ev(11, "12:45", "view")),
      Seq(ev(12, "10:15", "click"), ev(13, "10:30", "click"), ev(14, "11:50", "view"),
        ev(15, "12:40", "click"), ev(16, "13:30", "purchase")),
      Seq(ev(17, "12:50", "view"), ev(18, "12:55", "purchase"), ev(19, "11:30", "click"),
        ev(20, "14:10", "click")))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt
    val spark = Main.session(cores, work)
    val ctx = RunCtx("selftest", 7, 1, trace = false, System.currentTimeMillis(), cores,
      a("data"), work)
    var failed = 0
    def check(name: String)(body: => Option[String]): Unit = {
      val r = try body catch { case NonFatal(e) => Some(e.toString) }
      r match {
        case None => println(s"PASS $name")
        case Some(why) => failed += 1; println(s"FAIL $name: $why")
      }
    }
    def expect(cond: Boolean, why: => String) = if (cond) None else Some(why)

    try {
      check("percentile helper") {
        val xs = (1 to 10).map(_.toDouble).reverse
        val got = Seq(Stats.quantile(xs, 0.0), Stats.median(xs), Stats.quantile(xs, 0.9),
          Stats.quantile(xs, 1.0), Stats.quantile(Seq(4.0), 0.9),
          Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.25))
        val want = Seq(1.0, 5.5, 9.1, 10.0, 4.0, 1.75)
        expect(got.zip(want).forall { case (g, w) => math.abs(g - w) < 1e-12 },
          s"got $got want $want")
      }

      check("watermark model on the 20-event replay") {
        val m = WatermarkModel.run(handReplay)
        expect(m.drops == 5 && m.droppedIds == Set(12L, 13L, 14L, 17L, 18L, 19L) &&
          m.finalWatermark == micros("14:00"), s"model gave $m")
      }

      check("Spark agrees with the model on the 20-event replay") {
        val m = WatermarkModel.run(handReplay)
        val arrival = Arrival(handReplay.map(_.toIndexedSeq).toIndexedSeq,
          m.droppedIds, Set(7L), m)
        val r = Stream.replay(spark, handReplay, Stream.tumbleQuery, None, "selftest_tumble")
        val problems = Stream.checkTumble(spark, arrival, r)
        expect(problems.isEmpty, problems.mkString("; "))
      }

      val pins = Pins.load(Paths.get(a("pins")))
      val key = "event_cep_sql_subset"
      def build(k: String): DataFrame =
        if (k == "boom") throw new IllegalStateException("forced failure")
        else SparkEntry.queries(k)(spark, ctx.data)

      check("a key that throws counts as failed") {
        val o = Batch.run(spark, ctx, Seq(key, "boom"), build, pins + ("boom" -> pins(key)),
          Main.rowsOnly)
        val line = Main.resultLine(o, trace = false)
        expect(o.attempted == 2 && o.failed == 1 && o.failures.exists(_.startsWith("boom")) &&
          line.contains("\"correct\": false"), s"outcome $o")
      }

      check("the pinned key passes its own pin") {
        val o = Batch.run(spark, ctx, Seq(key), build, pins, Main.rowsOnly)
        expect(o.failed == 0, s"outcome $o")
      }

      check("a rows-only pin checks the row count only") {
        val p = pins(key)
        val ok = Batch.run(spark, ctx, Seq(key), build, Map(key -> p.copy(hashSum = None)),
          _ => true)
        val bad = Batch.run(spark, ctx, Seq(key), build,
          Map(key -> p.copy(rows = p.rows + 1, hashSum = None)), _ => true)
        expect(ok.failed == 0 && bad.failed == 1, s"outcomes $ok / $bad")
      }

      check("a corrupted pin is detected") {
        val p = pins(key)
        val bad = Seq(p.copy(hashSum = p.hashSum.map(_ + 1)), p.copy(rows = p.rows + 1))
        val outcomes = bad.map(b => Batch.run(spark, ctx, Seq(key), build, Map(key -> b),
          Main.rowsOnly))
        expect(outcomes.forall(o => o.failed == 1 && o.failures.head.contains("!= pin")),
          s"outcomes $outcomes")
      }
    } finally spark.stop()
    println(if (failed == 0) "selftest: all passed" else s"selftest: $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
