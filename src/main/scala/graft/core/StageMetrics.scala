package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The measurement layer shared by Bench, StreamBench and ScaleSweep:
  * one row per completed stage, summed on demand.
  *
  * Every figure comes from the stage's aggregated task metrics. MB
  * figures are each stage's bytes floored to whole MB, then summed —
  * the unit the Bench artifact has carried since it first published
  * per-pass invariants, so artifacts stay comparable across rounds.
  *
  * Listener delivery is asynchronous: read [[totals]] or
  * [[stagesJson]] only after [[StageMetrics.drain]] (which
  * [[StageMetrics.during]] runs before it returns).
  */
final class StageMetrics extends SparkListener {
  import StageMetrics._

  private val rows = ArrayBuffer.empty[StageRow]

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    // executorCpuTime is NANOSECONDS (executorRunTime/jvmGCTime are
    // ms) — normalized to ms here so the artifact carries one unit
    if (tm != null) rows.synchronized {
      rows += StageRow(si.stageId, si.submissionTime.getOrElse(Long.MaxValue),
        si.numTasks, tm.executorRunTime, tm.executorCpuTime / 1000000,
        tm.jvmGCTime, tm.inputMetrics.recordsRead, tm.inputMetrics.bytesRead,
        tm.shuffleReadMetrics.totalBytesRead,
        tm.shuffleWriteMetrics.bytesWritten,
        tm.memoryBytesSpilled + tm.diskBytesSpilled)
    }
  }

  /** Totals over the stages SUBMITTED at or after the wall-clock mark
    * `since` (epoch ms). A harness that generates its input inside the
    * measured window takes the mark after generation returns: every
    * generation stage was submitted before it, so the totals price the
    * measured run alone.
    */
  def totals(since: Long = Long.MinValue): RunTotals = rows.synchronized {
    val rs = rows.filter(_.submittedMs >= since)
    def mb(bytes: StageRow => Long) = rs.map(r => bytes(r) >> 20).sum
    RunTotals(rs.map(_.tasks.toLong).sum, rs.map(_.taskMs).sum,
      rs.map(_.cpuMs).sum, rs.map(_.gcMs).sum, rs.map(_.inputRows).sum,
      mb(_.inputBytes), mb(_.shuffleReadBytes), mb(_.shuffleWriteBytes),
      mb(_.spillBytes))
  }

  /** Stage count plus the three stages with the most task time, by
    * volume instead of name: streaming stages all share one action call
    * site, so input/shuffle MB is what tells the scan stage from the
    * aggregation stages in the artifact.
    */
  def stagesJson: String = rows.synchronized {
    val top = rows.sortBy(-_.taskMs).take(3).map { r =>
      s"""{"stage":${r.id},"tasks":${r.tasks},"task_ms":${r.taskMs},"cpu_ms":${r.cpuMs},"gc_ms":${r.gcMs},"input_mb":${r.inputBytes >> 20},"shuffle_read_mb":${r.shuffleReadBytes >> 20},"shuffle_write_mb":${r.shuffleWriteBytes >> 20}}"""
    }.mkString("[", ",", "]")
    s""""stages_n":${rows.size},"top_stages":$top"""
  }
}

object StageMetrics {

  /** One completed stage; `submittedMs` is Long.MaxValue when Spark
    * reported no submission time (such a stage counts toward every
    * [[StageMetrics.totals]] mark).
    */
  private final case class StageRow(id: Int, submittedMs: Long, tasks: Int,
      taskMs: Long, cpuMs: Long, gcMs: Long, inputRows: Long,
      inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long)

  /** Summed stage rows. input_rows and input_mb are HARD plan
    * invariants — fixed by (code, data, plan), so two runs of the same
    * HEAD must agree on them regardless of machine load; tasks jitters
    * only with AQE coalescing (measured ±0.4% across full-catalog
    * passes) and shuffle MB can wobble tens of percent pass-to-pass
    * (AQE runtime join/coalesce choices plus block-eviction recompute in
    * the iterative localCheckpoint-family queries). Reading rule: a
    * wall-clock delta with matching input/task invariants is contention
    * or JIT/GC (which task_ms/gc_ms then name), never a plan change.
    * `spillMb` (memory + disk spill) is read by ScaleSweep and is not
    * part of [[json]].
    */
  final case class RunTotals(tasks: Long, taskMs: Long, cpuMs: Long,
      gcMs: Long, inputRows: Long, inputMb: Long, shuffleReadMb: Long,
      shuffleWriteMb: Long, spillMb: Long) {
    def json: String =
      s""""tasks":$tasks,"task_ms":$taskMs,"cpu_ms":$cpuMs,"gc_ms":$gcMs,"input_rows":$inputRows,"input_mb":$inputMb,"shuffle_read_mb":$shuffleReadMb,"shuffle_write_mb":$shuffleWriteMb"""
  }

  /** Drain the async listener bus before reading a snapshot:
    * stage-completed events are delivered on a separate thread, so
    * reading (or removing the listener) right after the action returns
    * can miss the tail. LiveListenerBus.waitUntilEmpty is
    * `private[spark]` — public in bytecode, so a reflective call reaches
    * it without shipping code in Spark's package; the fixed sleep is the
    * fallback if the internals move (or the 10 s wait times out), in
    * which case a late stage at worst drops out of a diagnostic.
    */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: ReflectiveOperationException => Thread.sleep(200) }

  /** Run `body` with a fresh listener attached and return its result
    * with the listener, drained. The listener is removed even when
    * `body` throws, so a failed run never keeps accumulating a later
    * run's stages.
    */
  def during[A](spark: SparkSession)(body: StageMetrics => A): (A, StageMetrics) = {
    val m = new StageMetrics
    spark.sparkContext.addSparkListener(m)
    try (body(m), m)
    finally {
      drain(spark)
      spark.sparkContext.removeSparkListener(m)
    }
  }
}
