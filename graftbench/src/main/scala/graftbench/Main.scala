package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import graft.core.GraftSession

/** Benchmark entry point. One JVM runs one workload:
  *
  *  1. set-up (session + inputs), timed from JVM start: `setup_s`;
  *  2. an untimed warm phase until the unit time stops falling;
  *  3. the timed phase, `--seconds` long, untraced; or, with `--trace 1`,
  *     an untraced phase, a traced phase with every probe registered,
  *     and where the workload has one, a unit on a 1-core session.
  *
  * Prints one line `GRAFTBENCH_RESULT <json>` for the launcher.
  */
object Main {
  val cpus = 2

  /** A timed phase with its scheduler counters, wall time, process CPU
    * and the host's steal share (see `HostCpu`).
    */
  final case class Timed(m: Measured, counters: ExecCounters, wallS: Double, cpuMs: Double,
      stealShare: Double)

  def session(cores: Int): SparkSession = {
    val s = GraftSession.local(cores.toString, "graftbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def processCpuMs: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => Double.NaN
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val bench = Paths.get(args("bench"))
    val work = Files.createDirectories(Paths.get(args("work")))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    HostCpu.start()
    // the launcher reads the host counters just before it starts the JVM
    val host0 = args.get("host-cpu").map(HostCpu.parse).getOrElse(HostCpu.read())
    val load0 = loadAvg
    HeapWatch.install()

    val list = CatalogMix.readList(bench.resolve("catalog.tsv"))
    val data = bench.resolve("fixtures").resolve("sf0.01").toString
    val wl: Workload = name match {
      case "alert_live" => new AlertLive(seed, seconds, work)
      case "catalog_mix" => new CatalogMix(seed, data, list)
      case "digests" =>
        val spark = session(cpus)
        val cm = new CatalogMix(seed, data, list)
        cm.setup(spark)
        val d = cm.digests(spark)
        list.foreach(q => println(s"${q.name}\t${d(q.name)}"))
        spark.stop()
        return
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    var spark = session(cpus)
    wl.setup(spark)
    val setupRawS = (System.currentTimeMillis - jvmStartMs) / 1000.0
    val setupShare = host0.shareUntil(HostCpu.read())
    val setupS = setupRawS * (1 - setupShare)
    val w0 = System.nanoTime()
    val warmUnits = wl.warm(spark)
    val warmS = (System.nanoTime() - w0) / 1e9

    def timed(probes: Option[Probes]): Timed = {
      HeapWatch.reset()
      HeapWatch.recording = true
      val cpu0 = processCpuMs
      val t0 = System.nanoTime()
      val (m, counters) = ExecCounters.during(spark)(_ => wl.measure(spark, seconds, probes))
      HeapWatch.recording = false
      val t1 = System.nanoTime()
      Timed(m, counters, (t1 - t0) / 1e9, processCpuMs - cpu0, HostCpu.share(t0, t1))
    }

    val (result, metrics, context) =
      if (!traced) {
        val t = timed(None)
        spark.stop()
        val all = t.m.metrics :+ Metric("setup_s", setupS, "s", 1, "setup_s")
        (t.m, all.map(x => x.name -> x.value).toMap, t.m.context ++ Map(
          "metrics" -> all.map(x => x.name -> Map("value" -> x.value, "unit" -> x.unit,
            "samples" -> x.samples, "is" -> x.meaning)).toMap,
          "warmup_s" -> warmS, "warm_units" -> warmUnits,
          "timed_wall_s" -> t.wallS, "timed_cpu_ms" -> t.cpuMs, "timed_steal_share" -> t.stealShare,
          "peak_heap_mb" -> HeapWatch.peakMb, "heap_samples_mb" -> HeapWatch.samplesMb,
          "plan_invariants" -> t.counters.invariants))
      } else {
        val base = timed(None).m
        val probes = new Probes(spark)
        val t = try timed(Some(probes)) finally probes.close()
        // the traced phase's live-heap samples (see HeapWatch)
        val heapLiveMb = if (HeapWatch.samplesMb.isEmpty) 0.0 else Stats.median(HeapWatch.samplesMb)
        // the same unit on a fresh local[1] session, warmed by one unit
        val speedup = wl.oneUnit.map { unit =>
          spark.stop()
          spark = session(1)
          wl.setup(spark)
          unit(spark)
          unit(spark) / base.cost
        }
        spark.stop()
        Files.write(work.resolve("spans.json"), json(probes.spans.all).getBytes(StandardCharsets.UTF_8))
        val layers = traceLayers(t.m, t.counters, probes) ++ Map(
          "trace.overhead_pct" -> (t.m.cost / base.cost - 1) * 100,
          "exec.speedup_vs_1core" -> speedup.getOrElse(0.0),
          "heap.live_mb" -> heapLiveMb)
        (t.m, layers, t.m.context ++ Map("timed_wall_s" -> t.wallS, "timed_cpu_ms" -> t.cpuMs,
          "timed_steal_share" -> t.stealShare, "untraced_cost" -> base.cost, "traced_cost" -> t.m.cost,
          "plan_invariants" -> t.counters.invariants))
      }

    val ctx = context ++ Map("workload" -> name, "seed" -> seed, "trace" -> traced,
      "cores" -> cpus, "load_avg_start" -> load0, "load_avg_end" -> loadAvg,
      "setup_s" -> setupS, "setup_raw_s" -> setupRawS, "setup_steal_share" -> setupShare,
      "invalid" -> result.invalid,
      "result_at_s" -> (System.currentTimeMillis - jvmStartMs) / 1000.0,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.toArray.map(
        _.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).mkString(","),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    val out = Map("correct" -> (result.failed == 0 && result.invalid.isEmpty),
      "attempted" -> result.attempted, "failed" -> result.failed,
      "metrics" -> metrics, "context" -> ctx)
    println("GRAFTBENCH_RESULT " + json(out))
  }

  /** Per-layer metrics of a traced phase. */
  def traceLayers(m: Measured, c: ExecCounters, p: Probes): Map[String, Double] = {
    val mb = 1048576.0
    val execs = p.plans.all
    def medPhase(k: String) =
      if (execs.isEmpty) 0.0 else Stats.median(execs.map(_.phasesMs.getOrElse(k, 0L).toDouble))
    def mean(f: PlanProbe.Exec => Int) =
      if (execs.isEmpty) 0.0 else execs.map(f).sum.toDouble / execs.size
    val rows = if (m.rows > 0) m.rows else c.inputRows.get
    val streaming = p.stream.progress.nonEmpty
    m.layers ++ p.spans.selfMs.map { case (n, ms) => s"span.$n.self_ms" -> ms } ++ Map(
      "exec.jobs" -> c.jobs.get.toDouble, "exec.stages" -> c.stages.get.toDouble,
      "exec.tasks" -> c.tasks.get.toDouble, "exec.task_ms" -> c.taskMs.get.toDouble,
      "exec.cpu_ms" -> c.cpuNs.get / 1e6, "exec.sched_delay_ms" -> c.schedDelayMs.get.toDouble,
      "exec.gc_ms" -> c.gcMs.get.toDouble,
      "exec.cpu_us_per_row" -> (if (rows > 0) c.cpuNs.get / 1e3 / rows else 0.0),
      "exchange.shuffle_write_mb" -> c.shuffleWrite.get / mb,
      "exchange.shuffle_read_mb" -> c.shuffleRead.get / mb,
      "exchange.spill_mb" -> c.spill.get / mb,
      "plan.analysis_ms" -> medPhase("analysis"),
      "plan.optimization_ms" -> medPhase("optimization"),
      "plan.planning_ms" -> medPhase("planning"),
      "plan.exchanges" -> mean(_.exchanges), "plan.broadcasts" -> mean(_.broadcasts),
      "plan.aqe_coalesced_reads" -> mean(_.coalescedReads),
      "codegen.compile_ms" -> p.codegenCompileMs) ++
      (if (streaming) Map("stream.map_stage_ms" -> c.mapStageMs.get.toDouble,
        "stream.stateful_stage_ms" -> c.statefulStageMs.get.toDouble) else Map.empty)
  }
}
