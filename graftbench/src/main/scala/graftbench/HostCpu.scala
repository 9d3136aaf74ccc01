package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

/** CPU time the host takes from this virtual machine ("steal"), sampled
  * from /proc/stat.
  *
  * On a shared host a runnable vCPU can wait while the host runs other
  * guests. Work then takes longer in wall time for the same CPU time, by
  * as much as the host is busy elsewhere. The steal share of an interval
  * is the stolen part of the time this machine's CPUs wanted to run,
  * steal / (steal + busy). When the host takes that share from every
  * runnable vCPU alike, the interval would have taken
  * wall × (1 − share) on a host of its own. The timed metrics report
  * wall times corrected so; the raw wall times stay in the run context.
  * The correction is rough: a micro-batch stretched 1.85× in a phase
  * whose share read 0.28. So where a run has enough clean units
  * (share at most `cleanShare`), its figures come from those alone.
  */
object HostCpu {
  /** Cumulative jiffies of all CPUs: busy (user, nice, system, irq,
    * softirq) and steal.
    */
  final case class Counters(busy: Long, steal: Long) {
    /** Steal share from `this` to `later`; 0 when nothing ran. */
    def shareUntil(later: Counters): Double = {
      val st = later.steal - steal
      val all = st + later.busy - busy
      if (all <= 0) 0.0 else st.toDouble / all
    }
  }

  private val stat = Paths.get("/proc/stat")
  val available: Boolean = Files.isReadable(stat)

  /** Parses the `cpu` line of /proc/stat. */
  def parse(cpuLine: String): Counters = {
    val f = cpuLine.trim.split("\\s+").drop(1).map(_.toLong)
    def at(i: Int) = if (i < f.length) f(i) else 0L
    Counters(at(0) + at(1) + at(2) + at(5) + at(6), at(7))
  }

  /** The counters now; zero where /proc/stat is missing. */
  def read(): Counters =
    if (!available) Counters(0, 0)
    else {
      val bytes = Files.readAllBytes(stat)
      var end = 0
      while (end < bytes.length && bytes(end) != '\n') end += 1
      parse(new String(bytes, 0, end, "US-ASCII"))
    }

  val sampleEveryNs = 20000000L
  private val times = ArrayBuffer.empty[Long]
  private val counters = ArrayBuffer.empty[Counters]

  // under the lock, so samples from two threads stay in time order
  private def record(): Unit = times.synchronized {
    counters += read()
    times += System.nanoTime()
    ()
  }

  private lazy val sampler: Thread = {
    val t = new Thread("graftbench-host-cpu") {
      override def run(): Unit = while (true) {
        record()
        LockSupport.parkNanos(sampleEveryNs)
      }
    }
    t.setDaemon(true)
    t
  }

  /** Start sampling every `sampleEveryNs`. */
  def start(): Unit = if (available && !sampler.isAlive) { record(); sampler.start() }

  /** Steal share over [fromNs, toNs] (System.nanoTime), from the last
    * sample at or before `fromNs` to the first at or after `toNs`.
    */
  def share(fromNs: Long, toNs: Long): Double = {
    if (!available) return 0.0
    if (times.synchronized(times.isEmpty || times.last < toNs)) record()
    times.synchronized {
      val i = math.max(0, search(fromNs + 1) - 1)
      val j = math.min(times.size - 1, search(toNs))
      if (j <= i) 0.0 else counters(i).shareUntil(counters(j))
    }
  }

  /** First index whose time is at or after `ns`. */
  private def search(ns: Long): Int = {
    var (lo, hi) = (0, times.size)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (times(mid) < ns) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** A wall time over [fromNs, toNs], corrected for the host's steal. */
  def corrected(wall: Double, fromNs: Long, toNs: Long): Double =
    wall * (1 - share(fromNs, toNs))

  /** Steal share at or under which a timed unit counts as clean. */
  val cleanShare = 0.05

  /** The clean units when there are at least `min` of them, else all. */
  def preferClean[T](units: Seq[T], min: Int)(share: T => Double): Seq[T] = {
    val clean = units.filter(u => share(u) <= cleanShare)
    if (clean.size >= min) clean else units
  }
}
