package graftbench

import java.util.SplittableRandom

/** One row of the monitoring dataset, as the reference producer reads it. */
final case class Reading(ts: String, server_id: String, cpu_pct: Double,
    mem_pct: Double, net_in: Double, net_out: Double, disk_io: Double)

/** Seeded fleet generator. Row `k` belongs to server `k % servers` at
  * tick `k / servers`; ticks are `cadenceS` event seconds apart from
  * 00:00:00. Each server has its own seeded cpu and mem base load, so
  * some servers cross the alert thresholds and most do not. A row's
  * values depend only on (seed, k), so any prefix of the stream can be
  * rebuilt as a batch frame for the reference computation.
  */
final class Gen(seed: Long, val servers: Int, val cadenceS: Int = 5) {
  private def rng(a: Long, b: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b)

  private val (cpuBase, memBase) = (0 until servers).map { s =>
    val r = rng(-1L, s)
    (40 + 60 * r.nextDouble(), 40 + 60 * r.nextDouble())
  }.unzip

  /** Event second of row `k`. */
  def eventSec(k: Long): Long = (k / servers) * cadenceS

  /** First row whose event time reaches `windowEndS + watermarkS`: the
    * row whose arrival lets the window close.
    */
  def closingRow(windowEndS: Long, watermarkS: Long): Long =
    math.ceil((windowEndS + watermarkS).toDouble / cadenceS).toLong * servers

  def row(k: Long): Reading = {
    val sec = eventSec(k)
    require(sec < 86400, s"row $k wraps the time-of-day wire format")
    val s = (k % servers).toInt
    val r = rng(k, 0L)
    def noise(scale: Double) =
      (r.nextDouble() + r.nextDouble() + r.nextDouble() - 1.5) * scale
    def pct(x: Double) = math.round(math.min(100, math.max(0, x)) * 100) / 100.0
    Reading(f"${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d",
      s"server_${s + 1}",
      pct(cpuBase(s) + noise(16)), pct(memBase(s) + noise(16)),
      math.round(r.nextDouble() * 2000000) / 100.0,
      math.round(r.nextDouble() * 2000000) / 100.0,
      math.round(r.nextDouble() * 1000000) / 100.0)
  }

  def rows(from: Long, until: Long): Seq[Reading] = (from until until).map(row)
}

/** Open-loop schedule: row `k` is due `k / rowsPerSec` seconds after the
  * generator starts.
  */
final case class Schedule(gen: Gen, rowsPerSec: Int) {
  val periodNs: Double = 1e9 / rowsPerSec

  def dueNs(k: Long): Long = math.round(k * periodNs)

  /** Rows due at or before `ns` after the start. */
  def dueBy(ns: Long): Long = if (ns < 0) 0 else math.floor(ns / periodNs).toLong + 1

  /** Latency of each close in ms: the emission time minus the due time
    * of the close's closing row (both in ns after the start).
    */
  def closeLatenciesMs(emittedNs: Map[Long, Long], watermarkS: Long): Map[Long, Double] =
    emittedNs.map { case (end, ns) =>
      end -> (ns - dueNs(gen.closingRow(end, watermarkS))) / 1e6
    }
}
