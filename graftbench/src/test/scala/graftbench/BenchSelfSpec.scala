package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic, checked without a Spark session.
  * Run with `sbt test` from the graftbench directory.
  */
class BenchSelfSpec extends AnyFunSuite {

  test("nearest-rank p95 of 200 samples leaves ten beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs, 0.95) == 190.0)
    assert(Stats.beyond(xs.size, 0.95) == 10)
    assert(xs.count(_ > Stats.percentile(xs, 0.95)) == Stats.beyond(xs.size, 0.95))
    assert(Stats.beyond(199, 0.95) == 9)
    assert(Stats.percentile(xs, 0.5) == 100.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geomean weighs each sample equally on a log scale") {
    assert(math.abs(Stats.geomean(Seq(10.0, 1000.0)) - 100.0) < 1e-9)
  }

  test("warm-up stops once a unit is no more than the tolerance faster") {
    assert(!Stats.stoppedFalling(Seq(10.0), 0.03))
    assert(!Stats.stoppedFalling(Seq(10.0, 9.0), 0.03))
    assert(Stats.stoppedFalling(Seq(10.0, 9.8), 0.03))
    assert(Stats.stoppedFalling(Seq(10.0, 11.0), 0.03))
    // windowed: medians of the last 3 against the 3 before
    assert(!Stats.stoppedFalling(Seq(9.0, 8.0, 7.0, 6.0, 5.0), 0.03, 3))
    assert(!Stats.stoppedFalling(Seq(9.0, 8.0, 7.0, 6.0, 20.0, 5.0), 0.03, 3))
    assert(Stats.stoppedFalling(Seq(7.0, 6.0, 6.0, 9.0, 5.9, 6.0), 0.03, 3))
  }

  test("close latency runs from the closing row's due time to emission") {
    // 2 servers, 5 s ticks, 100 rows/s: row k is due at 10k ms
    val sched = Schedule(new Gen(7L, servers = 2), rowsPerSec = 100)
    // window [0, 30) closes once event time reaches 30 + 60 s: tick 18, row 36
    assert(sched.gen.closingRow(30, 60) == 36)
    assert(sched.dueNs(36) == 360000000L)
    // a window end that is not on a tick rounds up to the next tick
    assert(sched.gen.closingRow(32, 60) == 38)
    val lat = sched.closeLatenciesMs(Map(30L -> 500000000L, 40L -> 620000000L), 60)
    assert(lat == Map(30L -> 140.0, 40L -> 220.0))
    assert(sched.dueBy(0) == 1 && sched.dueBy(9999999) == 1 && sched.dueBy(10000000) == 2)
  }

  test("an average on its threshold admits either alert, others exactly one") {
    import graft.core.PipelineConfig.Alerts._
    val tie = AlertRow("server_1", 0, 30, 566.1 / 6, 10.0, ok)
    assert(Alerts.admissibleAlerts(tie) == Set(cpuOnly, ok))
    assert(Alerts.closeCorrect(Seq(tie.copy(alert = cpuOnly)), Seq(tie)))
    assert(Alerts.ties(Seq(tie.copy(alert = cpuOnly)), Seq(tie)) == 1)
    val clear = AlertRow("server_1", 0, 30, 96.0, 80.0, cpuMemBoth)
    assert(Alerts.admissibleAlerts(clear) == Set(cpuMemBoth))
    assert(!Alerts.closeCorrect(Seq(clear.copy(alert = cpuOnly)), Seq(clear)))
  }

  test("a close fails when one window is emitted twice and another is missing") {
    import graft.core.PipelineConfig.Alerts._
    val a = AlertRow("server_1", 0, 30, 50.0, 50.0, ok)
    val b = AlertRow("server_2", 0, 30, 60.0, 60.0, ok)
    assert(Alerts.closeCorrect(Seq(b, a), Seq(a, b)))
    assert(!Alerts.closeCorrect(Seq(a, a), Seq(a, b)))
    assert(!Alerts.closeCorrect(Seq(a), Seq(a, b)))
    assert(!Alerts.closeCorrect(Seq(a, b.copy(startS = 5)), Seq(a, b)))
  }

  test("the generator is a function of its seed") {
    val a = new Gen(42L, 8).rows(0, 500)
    assert(a == new Gen(42L, 8).rows(0, 500))
    assert(a != new Gen(43L, 8).rows(0, 500))
    assert(a.map(_.server_id).distinct.size == 8)
    assert(a.head.ts == "00:00:00" && a(8).ts == "00:00:05")
    // some servers cross the cpu alert threshold, most readings do not
    val hot = a.count(_.cpu_pct > 94.35)
    assert(hot > 0 && hot < a.size / 2)
  }

  test("digest ignores row and column order and last-bit differences") {
    val rows = Seq(Row("a", 1L, 0.1 + 0.2), Row("b", 2L, 1.5))
    val d = Digest.of(Seq("k", "n", "x"), rows)
    assert(d == Digest.of(Seq("k", "n", "x"), rows.reverse))
    assert(d == Digest.of(Seq("x", "k", "n"), rows.map(r => Row(r.get(2), r.get(0), r.get(1)))))
    assert(d == Digest.of(Seq("k", "n", "x"), Seq(Row("a", 1L, 0.3), Row("b", 2L, 1.5))))
    assert(d != Digest.of(Seq("k", "n", "x"), Seq(Row("a", 1L, 0.31), Row("b", 2L, 1.5))))
    assert(d != Digest.of(Seq("k", "n", "x"), rows.take(1)))
  }

  test("steal share is stolen over stolen plus busy jiffies, idle and iowait aside") {
    //              user nice system idle iowait irq softirq steal
    val a = HostCpu.parse("cpu  100 0 50 900 5 0 10 40 0 0")
    val b = HostCpu.parse("cpu  160 0 70 999 9 0 20 130 0 0")
    assert(a == HostCpu.Counters(160, 40))
    assert(math.abs(a.shareUntil(b) - 90.0 / (90 + 90)) < 1e-12)
    assert(a.shareUntil(a) == 0.0)
    assert(HostCpu.Counters(0, 0).shareUntil(HostCpu.Counters(10, 0)) == 0.0)
  }

  test("clean units stand for a run only when there are enough of them") {
    val units = Seq(1.0 -> 0.0, 2.0 -> 0.3, 3.0 -> 0.05, 4.0 -> 0.2)
    assert(HostCpu.preferClean(units, 2)(_._2).map(_._1) == Seq(1.0, 3.0))
    assert(HostCpu.preferClean(units, 3)(_._2) == units)
  }
}
