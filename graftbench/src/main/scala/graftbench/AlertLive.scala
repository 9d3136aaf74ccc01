package graftbench

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery, StreamingQueryProgress}

/** Open-loop generator: one thread makes each row visible at its due
  * time (millisecond granularity), whatever the query is doing. Every
  * `addData` advances the source offset by one; `rowsThrough` maps an
  * offset back to the rows offered up to it.
  */
final class OpenLoop(src: MemoryStream[Reading], rows: IndexedSeq[Reading],
    sched: Schedule) extends Thread("graftbench-generator") {
  setDaemon(true)
  @volatile private var stopping = false
  private val cumRows = new CopyOnWriteArrayList[java.lang.Long]()
  @volatile var lagMaxNs = 0L

  /** Rows offered up to and including source offset `o` (-1: none). */
  def rowsThrough(o: Long): Long = if (o < 0) 0L else cumRows.get(o.toInt)

  def offered: Long = rowsThrough(cumRows.size - 1L)
  /** Start instant on both clocks, taken together. */
  var startNs, startMs = 0L

  override def start(): Unit = {
    startMs = System.currentTimeMillis
    startNs = System.nanoTime()
    super.start()
  }

  override def run(): Unit = {
    var sent = 0L
    while (!stopping && sent < rows.size) {
      val now = System.nanoTime()
      val due = math.min(sched.dueBy(now - startNs), rows.size.toLong)
      if (due > sent) {
        lagMaxNs = math.max(lagMaxNs, now - startNs - sched.dueNs(sent))
        src.addData(rows.slice(sent.toInt, due.toInt): _*)
        cumRows.add(due)
        sent = due
      }
      val next = startNs + sched.dueNs(sent)
      LockSupport.parkNanos(math.max(0L, next - System.nanoTime()))
    }
  }

  def finish(): Unit = { stopping = true; join() }
}

/** `alert_live`: the reference job1 fed at a fixed offered rate far below
  * the knee, so each micro-batch's fixed costs dominate. One query warms
  * until its micro-batch time stops falling, then the closes due in the
  * next `seconds` are counted. Latency is per window close: all servers'
  * windows with one end close on the same row, because the watermark is
  * global.
  */
final class AlertLive(seed: Long, seconds: Double, work: Path) extends Workload {
  import Alerts.readingEncoder

  val servers = 8
  val rowsPerSec = 400
  val warmMaxS = 20.0
  /** Micro-batch times are noisy one by one: the warm rule compares
    * medians of this many batches.
    */
  val warmWindow = 3
  // on a contended host a close can take three 6 s micro-batches to emit
  val tailMaxS = 30.0

  private val gen = new Gen(seed, servers)
  private val sched = Schedule(gen, rowsPerSec)
  private var rows: IndexedSeq[Reading] = IndexedSeq.empty
  private var runs = 0

  /** A started, warmed query under offered load. */
  private final class Running(val q: StreamingQuery, val sink: CollectSink,
      val loop: OpenLoop, val stream: StreamProbe, val ownProbe: Boolean)
  private var warmed: Option[Running] = None

  def setup(spark: SparkSession): Unit = {
    // enough rows for the longest warm phase, the counted span and its tail
    rows = gen.rows(0, (rowsPerSec * (warmMaxS + seconds + tailMaxS + 5)).toLong).toIndexedSeq
  }

  /** Wait until `until` holds (polled every 20 ms), the deadline passes
    * or the query fails.
    */
  private def poll(r: Running, deadlineNs: Long)(until: => Boolean): Unit = {
    while (!until && System.nanoTime() < deadlineNs && r.q.exception.isEmpty && r.loop.isAlive)
      Thread.sleep(20)
    r.q.exception.foreach(e => throw e)
  }

  /** Start the pipeline on a fresh source and checkpoint and warm it
    * until the median of the last 3 data batches is no more than 3 %
    * below the median of the 3 before (at most `warmMaxS`). Returns the
    * warm batch times.
    */
  private def start(spark: SparkSession, probes: Option[Probes]): (Running, Seq[Double]) = {
    runs += 1
    val stream = probes.map(_.stream).getOrElse(new StreamProbe)
    if (probes.isEmpty) spark.streams.addListener(stream)
    val src = MemoryStream[Reading](spark, Main.cpus)
    val sink = new CollectSink(probes.map(_.spans).getOrElse(new Spans(false)))
    val q = sink.start(Alerts.job1(src.toDF(), probes.map(_.spans).getOrElse(new Spans(false))),
      AlertLive.scratch(work, s"live-$runs").resolve("ckpt").toString)
    val loop = new OpenLoop(src, rows, sched)
    loop.start()
    val r = new Running(q, sink, loop, stream, probes.isEmpty)
    var units = Seq.empty[Double]
    poll(r, loop.startNs + (warmMaxS * 1e9).toLong) {
      units = stream.progress.filter(p => p.id == q.id && p.numInputRows > 0)
        .sortBy(_.batchId).map(_.batchDuration.toDouble)
      Stats.stoppedFalling(units, Workload.warmTolerance, warmWindow)
    }
    (r, units)
  }

  def warm(spark: SparkSession): Seq[Double] = {
    val (r, units) = start(spark, None)
    warmed = Some(r)
    units
  }

  /** Window ends whose closing row is due in [fromS, fromS + countS). */
  private def countedEnds(fromS: Double, countS: Double): Seq[Long] =
    Iterator.iterate(Alerts.slideS)(_ + Alerts.slideS)
      .takeWhile(e => gen.closingRow(e, Alerts.watermarkS) < rows.size)
      .filter { e =>
        val due = sched.dueNs(gen.closingRow(e, Alerts.watermarkS)) / 1e9
        due >= fromS && due < fromS + countS
      }.toSeq

  def measure(spark: SparkSession, seconds: Double, probes: Option[Probes]): Measured = {
    // a traced phase starts its own query, so the spans cover its build
    val r = if (probes.isEmpty) warmed.getOrElse(start(spark, None)._1) else start(spark, probes)._1
    warmed = None
    val loop = r.loop
    val fromNs = System.nanoTime() - loop.startNs
    val fromMs = loop.startMs + fromNs / 1000000
    var stopMs = Long.MaxValue
    val counted = countedEnds(fromNs / 1e9, seconds)
    try poll(r, loop.startNs + fromNs + ((seconds + tailMaxS) * 1e9).toLong) {
      counted.forall(r.sink.closes.contains)
    } finally {
      stopMs = System.currentTimeMillis
      loop.finish()
      // the heap sample is the live set with the pipeline's state held
      // and no batch running: the query has drained what was offered.
      // The reference job below is not part of the timed phase.
      if (HeapWatch.recording) {
        if (r.q.exception.isEmpty) r.q.processAllAvailable()
        HeapWatch.fullGc(spark)
        HeapWatch.recording = false
      }
      r.q.stop()
      ExecCounters.drain(spark)
      if (r.ownProbe) spark.streams.removeListener(r.stream)
    }
    val sink = r.sink
    val emitted = counted.flatMap(e => sink.closes.get(e).map(c => e -> (c._1 - loop.startNs))).toMap
    val rawLat = sched.closeLatenciesMs(emitted, Alerts.watermarkS)
    // each close's latency with the host's steal share over its span
    val closeLat = rawLat.toSeq.map { case (e, ms) =>
      val emitNs = loop.startNs + emitted(e)
      (ms, HostCpu.share(emitNs - (ms * 1e6).toLong, emitNs))
    }
    val lat = HostCpu.preferClean(closeLat, AlertLive.minCloses)(_._2).map { case (ms, s) => ms * (1 - s) }
    val ref0 = System.nanoTime()
    val ref = Alerts.reference(spark, rows.take(loop.offered.toInt))
    val refS = (System.nanoTime() - ref0) / 1e9
    val failed = counted.count { e =>
      !sink.closes.get(e).exists(c => Alerts.closeCorrect(c._3, ref.getOrElse(e, Nil)))
    }
    val ties = counted.flatMap(e => sink.closes.get(e).map(c => Alerts.ties(c._3, ref.getOrElse(e, Nil)))).sum
    val all = r.stream.progress.filter(_.id == r.q.id).sortBy(_.batchId)
    val rowsAt = (o: String) => loop.rowsThrough(Option(o).map(_.toLong).getOrElse(-1L))
    // rows consumed before each batch
    val before = all.map(p => rowsAt(p.sources.head.startOffset))
    // batch that consumed each closing row vs the batch that emitted its close
    val consumedBy = (k: Long) => all.zip(before).find { case (p, done) =>
      done <= k && k < rowsAt(p.sources.head.endOffset)
    }.map(_._1.batchId)
    val emitLag = counted.flatMap { e =>
      for (c <- sink.closes.get(e); b <- consumedBy(gen.closingRow(e, Alerts.watermarkS)))
        yield (c._2 - b).toDouble
    }
    // the counted phase: batches triggered after it began and before the
    // generator stopped
    val timed = all.zip(before).filter { case (p, _) =>
      AlertLive.startMs(p) >= fromMs && AlertLive.startMs(p) < stopMs
    }
    val progress = timed.map(_._1)
    val backlog = timed.map { case (p, done) =>
      sched.dueBy((AlertLive.startMs(p) - loop.startMs) * 1000000L) - done
    }
    val half = backlog.size / 2
    val backlogFirst = (0L +: backlog.take(half)).max
    val backlogSecond = (0L +: backlog.drop(half)).max
    val beyond = Stats.beyond(lat.size, 0.95)
    val invalid = Seq(
      if (beyond < AlertLive.minBeyondP95) Some(s"only $beyond closes beyond p95") else None,
      if (backlogSecond > backlogFirst + AlertLive.backlogMarginS * rowsPerSec)
        Some(s"backlog grew from $backlogFirst to $backlogSecond rows") else None).flatten
    val toNs = (epochMs: Long) => loop.startNs + (epochMs - loop.startMs) * 1000000L
    val batchShares = progress.filter(_.numInputRows > 0).map { p =>
      val from = toNs(AlertLive.startMs(p))
      (p.batchDuration / 1000.0, HostCpu.share(from, from + p.batchDuration * 1000000L))
    }
    val batchS = HostCpu.preferClean(batchShares, AlertLive.minBatches)(_._2).map { case (s, sh) => s * (1 - sh) }
    val p50 = Stats.percentile(lat, 0.5)
    val p95 = Stats.percentile(lat, 0.95)
    Measured(
      Seq(Metric("latency_p50_ms", p50, "ms", lat.size, "alert_latency_p50_ms"),
        Metric("latency_p95_ms", p95, "ms", lat.size, "alert_latency_p95_ms"),
        Metric("work_s", Stats.median(batchS), "s", batchS.size, "median micro-batch duration")),
      attempted = counted.size, failed = failed, cost = p50,
      rows = progress.map(p => rowsAt(p.sources.head.endOffset) - rowsAt(p.sources.head.startOffset)).sum,
      layers = AlertLive.streamLayers(progress, rowsAt) ++ Map(
        "gen.lag_ms_max" -> loop.lagMaxNs / 1e6,
        "gen.rows_offered" -> loop.offered.toDouble,
        "stream.backlog_rows_max" -> (0L +: backlog).max.toDouble,
        "stream.emit_lag_batches" -> (if (emitLag.isEmpty) 0.0 else Stats.median(emitLag))),
      context = Map(
        "closes" -> closeLat.size,
        "clean_closes" -> closeLat.count(_._2 <= HostCpu.cleanShare),
        "clean_batches" -> batchShares.count(_._2 <= HostCpu.cleanShare),
        "latency_raw_p50_ms" -> Stats.percentile(rawLat.values.toSeq, 0.5),
        "latency_raw_p95_ms" -> Stats.percentile(rawLat.values.toSeq, 0.95),
        "batch_raw_s_p50" -> Stats.median(progress.filter(_.numInputRows > 0).map(_.batchDuration / 1000.0)),
        "reference_s" -> refS,
        "closes_beyond_p95" -> beyond,
        "threshold_tie_rows" -> ties,
        "rows_offered" -> loop.offered,
        "generator_lag_ms_max" -> loop.lagMaxNs / 1e6,
        "backlog_rows_max_first_half" -> backlogFirst,
        "backlog_rows_max_second_half" -> backlogSecond,
        "batch_phases_ms" -> AlertLive.batchPhases(progress)),
      invalid = invalid)
  }

  def oneUnit: Option[SparkSession => Double] = None
}

object AlertLive {
  /** A run is valid only with at least this many closes beyond its p95. */
  val minBeyondP95 = 10
  /** The fewest closes with `minBeyondP95` beyond p95, and the fewest
    * micro-batches, that the clean ones alone may stand for a run.
    */
  val minCloses = 200
  val minBatches = 5
  /** A run is valid only if the largest backlog at batch start in the
    * second half of the timed phase exceeds the first half's by no more
    * than this many seconds of offered rows: the query keeps up.
    */
  val backlogMarginS = 2

  def scratch(work: Path, name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }

  /** Per-batch phase times, for the run artifact. */
  def batchPhases(progress: Seq[StreamingQueryProgress]): Seq[Map[String, Any]] =
    progress.map(p => Map("batch" -> p.batchId, "input_rows" -> p.numInputRows) ++
      Seq("triggerExecution", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
        "latestOffset").map(k => k -> dur(p, k).toLong))

  private def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def dur(p: StreamingQueryProgress, k: String) =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Micro-batch engine and state-store metrics from query progress.
    * `rowsAt` maps a source offset to the dataset rows offered up to it:
    * `numInputRows` counts every scan of the source, and job1 scans it
    * once per fan-out branch of each landed table.
    */
  def streamLayers(progress: Seq[StreamingQueryProgress],
      rowsAt: String => Long): Map[String, Double] = {
    def rowsIn(p: StreamingQueryProgress) =
      rowsAt(p.sources.head.endOffset) - rowsAt(p.sources.head.startOffset)
    val data = progress.filter(_.numInputRows > 0)
    def stateSum(p: StreamingQueryProgress)(f: StateOperatorProgress => Long) =
      p.stateOperators.map(f).sum.toDouble
    Map(
      "stream.batches" -> progress.size.toDouble,
      "stream.batch_ms_p50" -> p50(data.map(dur(_, "triggerExecution"))),
      "stream.rows_per_batch_p50" -> p50(data.map(rowsIn(_).toDouble)),
      "stream.planning_ms_p50" -> p50(data.map(dur(_, "queryPlanning"))),
      "stream.addbatch_ms_p50" -> p50(data.map(dur(_, "addBatch"))),
      "stream.walcommit_ms_p50" -> p50(data.map(dur(_, "walCommit"))),
      "stream.commitoffsets_ms_p50" -> p50(data.map(dur(_, "commitOffsets"))),
      "stream.latestoffset_ms_p50" -> p50(data.map(dur(_, "latestOffset"))),
      "state.rows_max" -> (0.0 +: progress.map(stateSum(_)(_.numRowsTotal))).max,
      "state.memory_mb_max" -> (0.0 +: progress.map(stateSum(_)(_.memoryUsedBytes))).max / 1048576,
      "state.commit_ms_p50" -> p50(data.map(stateSum(_)(_.commitTimeMs))),
      "state.updates_ms_p50" -> p50(data.map(stateSum(_)(_.allUpdatesTimeMs))),
      "state.removals_ms_p50" -> p50(data.map(stateSum(_)(_.allRemovalsTimeMs))),
      "state.rows_dropped_late" -> progress.map(stateSum(_)(_.numRowsDroppedByWatermark)).sum)
  }

  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
}
