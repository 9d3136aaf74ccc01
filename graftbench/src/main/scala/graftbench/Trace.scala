package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into graft. Disabled, `span` is a
  * plain call; enabled, spans stay in memory until the run ends.
  */
final class Spans(val enabled: Boolean) {
  import Spans.Span

  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        done.add(Span(id, parent, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq

  /** Self time per span name in ms: each span's duration minus the part
    * its child spans cover (children of one span run on its thread, so
    * they do not overlap).
    */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Scheduler-level counters from a `SparkListener`. One instance covers
  * one measured phase: it is added before the phase and removed after
  * the listener bus has drained.
  */
final class ExecCounters extends SparkListener {
  val jobs, stages, tasks, taskMs, cpuNs, schedDelayMs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, inputRows = new AtomicLong
  /** Executor run time of stages that hold a state store vs the rest. */
  val statefulStageMs, mapStageMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val info = e.stageInfo
    val tm = info.taskMetrics
    if (tm != null) {
      val stateful = info.rddInfos.exists(_.name.contains("StateStore"))
      (if (stateful) statefulStageMs else mapStageMs).addAndGet(tm.executorRunTime)
    }
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      schedDelayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
    }
    ()
  }

  /** The plan invariants every run records beside its timings. */
  def invariants: Map[String, Any] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "input_rows" -> inputRows.get, "shuffle_write_bytes" -> shuffleWrite.get,
    "cpu_ms" -> cpuNs.get / 1000000)
}

object ExecCounters {
  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: ReflectiveOperationException => Thread.sleep(500) }

  def during[T](spark: SparkSession)(f: ExecCounters => T): (T, ExecCounters) = {
    val c = new ExecCounters
    spark.sparkContext.addSparkListener(c)
    try {
      val r = f(c)
      drain(spark)
      (r, c)
    } finally spark.sparkContext.removeSparkListener(c)
  }
}

/** The live heap: heap used after the full collections the benchmark
  * asks for (`fullGc`, at fixed points of a run), read from the JVM's GC
  * notifications while `recording` is set. Collections the JVM starts
  * itself are not samples: when they run follows timing, and what they
  * leave in the old generation includes garbage.
  */
object HeapWatch {
  @volatile var recording = false
  private val peak = new AtomicLong(0)
  private val usedMb = new ConcurrentLinkedQueue[Double]()
  /** Full collections asked for with System.gc() so far, and the heap
    * used after the latest.
    */
  private val asked = new AtomicLong(0)
  @volatile private var lastUsed = 0L
  /** Spark's ContextCleaner drops the blocks of broadcasts and shuffles
    * only after a collection has found their handles unreachable; its
    * thread polls for them every 100 ms.
    */
  val cleanerWaitMs = 300L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        // a System.gc() can start with a young collection; its sample
        // would still hold the old generation's garbage
        if (info.getGcCause == "System.gc()" && info.getGcAction == "end of major GC") {
          lastUsed = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          asked.incrementAndGet()
        }
        ()
      }
  }

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = { peak.set(0); usedMb.clear() }

  /** One full collection; notifications arrive on another thread, so
    * wait for this one's.
    */
  private def collect(): Unit = {
    val before = asked.get
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (asked.get == before && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Let the listener bus deliver what it holds (its events keep query
    * executions reachable), collect, let the ContextCleaner drop what
    * that freed, and collect again: while `recording`, the heap used
    * after the second is a sample of the live set at this point.
    */
  def fullGc(spark: SparkSession): Unit = {
    ExecCounters.drain(spark)
    collect()
    Thread.sleep(cleanerWaitMs)
    collect()
    if (recording) {
      peak.accumulateAndGet(lastUsed, math.max)
      usedMb.add(lastUsed / 1048576.0)
    }
  }

  def peakMb: Double = peak.get / 1048576.0
  def samplesMb: Seq[Double] = usedMb.asScala.toSeq
}
