package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.core.StageMetrics

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Each query is fully materialized through the `noop` sink — a bare
  * `count()` would let Catalyst prune every column and undercount the
  * real work. One small warmup query heats the JVM/codegen paths so the
  * first measured query isn't charged for session startup.
  *
  * Methodology: one UNTIMED full-catalog warm-up pass (r14 —
  * published as pass 0 in pass_detail, excluded from all medians; the
  * r13 driver's timed passes ran 250/197/153 s on bit-equal
  * invariants, pure JIT/cache ramp; a dev-loop run repeats it until it
  * settles, see main), then every query runs
  * SPARK_GRAFT_BENCH_N times (default 3) and the reported number is
  * the per-query ROBUST median (r15): passes are admitted by the same
  * cpu_ms-cluster rule the stream headline uses, computed over the
  * query's OWN per-pass executorCpuTime delta, and the value is the
  * median wall over admitted passes — the naive median, min-of-passes
  * and full per-pass (wall, cpu_ms) detail ride the artifact so a
  * contended box is adjudicable from the JSON alone (see robustQuery
  * below) — single unguarded runs on a shared sandbox are noise. Each pass ALSO publishes plan-invariant
  * totals (input rows/MB, shuffle read/write MB, task count) next to
  * its wall/task_ms/gc_ms in `pass_detail`: the invariants are fixed
  * by (code, data, plan), so a wall delta between passes — or between
  * a driver run and a builder run of the same HEAD — with matching
  * invariants is provably contention, readable from the artifact
  * alone. (The r9 budget blowout that briefly forced
  * n=2 was the 100-entry codegen-class cache thrashing at catalog
  * width — every pass recompiled every heavy plan; fixed at the session
  * level, see GraftSession's codegen.cache.maxEntries note. n=2 remains
  * the documented fallback: with two sorted passes each PER-QUERY
  * SECONDS "median" picks the LARGER pass — conservative for a timing.
  * The streaming ROWS/SEC median inverts that rule and picks the LOWER
  * run on even counts; each metric's tie-break leans pessimistic.)
  * The cache (including checkpoint straggler
  * blocks) is swept after EVERY query so one query's resident state can
  * neither warm nor pressure any other measurement.
  *
  * Dev loop: pass query names as args to run only those (driver passes
  * none and gets the full suite).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt
    // knob rationale: core/GraftSession.scala (shared with Verify/Explain)
    val spark = graft.core.GraftSession.local(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // per-query measurement: wall + the query's own executorCpuTime
    // delta (r14 verdict #1 — the per-query cpu_ms is what lets the
    // robust rule name a contended pass from the artifact alone). The
    // delta brackets the timed window with listener-bus drains so a
    // prior query's late stage events can't be attributed here; both
    // drains run OUTSIDE the wall clock.
    def materialize(name: String, acct: Option[StageMetrics]): QM = {
      val cpu0 = acct.map { a => StageMetrics.drain(spark); a.totals().cpuMs }
      val t0 = System.nanoTime()
      val elapsed =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      val cpu1 = acct.map { a => StageMetrics.drain(spark); a.totals().cpuMs }
      // release checkpoint stragglers PER QUERY, not per pass: a
      // CC/localCheckpoint-family query's final-round blocks stay
      // resident after its materialize (unrecomputable by design) and
      // otherwise pressure every later query in the pass — measured
      // r6→r7 as q_dedup_clusters 2.59→4.99s on unchanged code once
      // more checkpoint-family queries joined the catalog. The sweep
      // runs after the clock stops, so its cost never lands in any
      // query's own number.
      graft.core.CacheScope.releaseStragglers(spark)
      QM(elapsed,
        (for { a <- cpu1; b <- cpu0 } yield a - b).getOrElse(-1L))
    }

    // JVM/codegen warmup on the smallest query (not reported)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val names =
      if (args.nonEmpty) args.toSeq.filter(SparkEntry.queries.contains)
      else SparkEntry.queries.keys.toSeq.sorted
    var leakedRdds = 0
    val passDetails = scala.collection.mutable.ArrayBuffer.empty[String]
    // Full-catalog WARM-UP pass, untimed (r13 verdict #2): the r13
    // driver passes ran 250.5/197.9/153.4 s on bit-equal plan
    // invariants — a pure JIT/cache ramp — so the per-query
    // median-of-3 carried pass-1 cold time and the headline read ~15%
    // above the warm band. One unreported pass compiles every plan's
    // generated classes and fills the code/page caches, making pass 1
    // of the TIMED passes a warm-capability number. Its wall is
    // published in pass_detail (pass 0, "warmup":true) so the ramp
    // stays visible in the artifact; it feeds no median.
    // A dev-loop run (query names given) times a few queries whose
    // first warm pass leaves them well short of their plateau (seen:
    // q_knn_ivfpq's timed passes falling 1.19 → 0.62 s over 7 passes),
    // so it repeats the warm-up pass until one is less than 3 % faster
    // than the one before (the graftbench catalog_mix rule), at most 8
    // passes; each pass is published, in order, as its own pass-0 entry.
    // SPARK_GRAFT_BENCH_WARMUP=0 skips it (dev loop / budget fallback).
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt > 0) {
      val maxWarm = if (args.nonEmpty) 8 else 1
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (walls.size < maxWarm &&
          (walls.size < 2 || walls.last < 0.97 * walls(walls.size - 2))) {
        val t0 = System.nanoTime()
        names.foreach(n => materialize(n, None))
        walls += (System.nanoTime() - t0) / 1e9
      }
      walls.foreach(w =>
        passDetails += s"""{"pass":0,"warmup":true,"wall_sec":${round2(w)}}""")
      System.gc()
    }
    val passes = (1 to n).map { passNo =>
      // per-pass stage accounting: the invariant counters (input
      // rows/MB, shuffle MB, tasks) must agree across passes — they are
      // functions of the plans, not the machine — so a pass whose wall
      // diverges with identical invariants is named as contention by
      // the artifact itself (see StageMetrics.RunTotals)
      val t0 = System.nanoTime()
      val (pass, acct) = StageMetrics.during(spark)(a =>
        names.map(n => materialize(n, Some(a))))
      val wall = (System.nanoTime() - t0) / 1e9
      val t = acct.totals()
      val rowsPerTaskMs =
        if (t.taskMs > 0) round2(t.inputRows.toDouble / t.taskMs) else -1.0
      // CPU-normalized twin (r12 verdict #1): task WALL time inflates
      // under CPU oversubscription (a descheduled task still burns
      // executorRunTime), so rows_per_task_ms spread 184% on the
      // contended driver box. executorCpuTime counts only ns actually
      // ON-CPU in the task thread — work the plan truly required — so
      // rows per CPU-second is the contention-immune throughput.
      val rowsPerCpuSec =
        if (t.cpuMs > 0) (t.inputRows * 1000.0 / t.cpuMs).round else -1L
      passDetails +=
        s"""{"pass":$passNo,"wall_sec":${round2(wall)},${t.json},"rows_per_task_ms":$rowsPerTaskMs,"rows_per_cpu_sec":$rowsPerCpuSec}"""
      // cache-hygiene tripwire: materialize() sweeps stragglers after
      // every query, so anything still pinned here survived an explicit
      // unpersist — a genuine leak (and it would distort every later
      // query's numbers via memory pressure + GC)
      val leaked = spark.sparkContext.getPersistentRDDs
      if (leaked.nonEmpty) {
        leakedRdds += leaked.size
        leaked.values.foreach(r =>
          System.err.println(s"[bench] leaked persistent RDD ${r.id}: ${r.name}"))
      }
      // nudge the ContextCleaner: shuffle files and broadcast blocks are
      // reclaimed only when their dependencies are GC'd, so a 100+-query
      // session accumulates dead shuffle state (disk + executor memory)
      // across queries unless collection actually runs between passes
      System.gc()
      pass
    }
    val perQuery = names.zipWithIndex.map { case (q, i) =>
      val ms = passes.map(_(i))
      val (rob, excl) = robustQuery(ms)
      (q, ms, rob, excl)
    }
    // "queries" stays the headline map — now rule-robust; the naive
    // median and min-of-passes ride alongside so any run (incl. a
    // contended driver box) is adjudicable from the artifact alone
    val results = perQuery.map { case (q, _, rob, _) => q -> rob }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val qsNaive = perQuery.map { case (q, ms, _, _) =>
      "\"" + q + "\":" + median(ms.map(_.wall)) }.mkString("{", ",", "}")
    val totalNaive = perQuery
      .map { case (_, ms, _, _) => median(ms.map(_.wall)) }
      .filter(_ >= 0).sum
    val qsMin = perQuery.map { case (q, ms, _, _) =>
      val ok = ms.map(_.wall).filter(_ >= 0)
      "\"" + q + "\":" + (if (ok.isEmpty) -1.0 else round3(ok.min))
    }.mkString("{", ",", "}")
    val qPassDetail = perQuery.map { case (q, ms, _, _) =>
      "\"" + q + "\":" + ms.map(m =>
        s"[${round3(m.wall)},${m.cpuMs}]").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qExcluded = perQuery.flatMap { case (q, ms, _, excl) =>
      excl.map(i =>
        s"""{"q":"$q","pass":${i + 1},"wall_sec":${round3(ms(i).wall)},"cpu_ms":${ms(i).cpuMs}}""")
    }
    val qExcludedJson = qExcluded.mkString("[", ",", "]")
    val qExclusionRule =
      "stage 1: pass cpu_ms > max(2x cluster median, median+250ms), cluster grown ascending (memory-contention fingerprint); stage 2: wall > max(2x admitted min wall, min+100ms) with calm cpu (core-starvation fingerprint); value = median wall over admitted passes"
    // dev-loop runs (explicit query args) skip the streaming measurement
    // unless a volume was explicitly requested via SPARK_GRAFT_STREAM_ROWS
    val streamRuns =
      if (args.nonEmpty && !sys.env.contains("SPARK_GRAFT_STREAM_ROWS")) Seq.empty[StreamRun]
      else streamThroughput(spark)
    // run-ORDERED lists published (a cold-first-run / warm-cache trend
    // must stay distinguishable from random spread); each headline is
    // the median of its list with (max-min)/median in percent beside it
    // — the headline's own error bar, so a round-over-round delta can
    // be read against within-round noise.
    val rpsRuns = streamRuns.map(_.rps).filter(_ >= 0)
    val (streamRps, streamSpreadPct) = medianSpread(rpsRuns.map(_.toDouble))
    // contention-normalized twin of the headline: dataset rows per task
    // run-time ms. Wall clock counts every second the 32 threads spent
    // descheduled by a noisy neighbor; task run time counts only time
    // on-CPU-or-blocked inside tasks, so its run-to-run spread is the
    // residual that ISN'T explained by scheduler starvation — the
    // artifact's own contention discriminator (r11 verdict item 1)
    val normRuns = streamRuns.map(_.rowsPerTaskMs).filter(_ >= 0)
    val (streamNorm, streamNormSpreadPct) = medianSpread(normRuns)
    // CPU-normalized headline (r12 verdict #1): rows_per_task_ms still
    // spread 184% on the contended driver box because task WALL time
    // itself inflates when 32 task threads share fewer real CPUs.
    // executorCpuTime does not (descheduled time accrues no CPU ns), so
    // dataset rows per CPU-second is the environment-independent number.
    val cpuRuns = streamRuns.map(_.rowsPerCpuSec).filter(_ >= 0)
    val (streamCpuNorm, streamCpuSpreadPct) =
      medianSpread(cpuRuns.map(_.toDouble))
    // ROBUST stream headline (r13 verdict #1): the r13 driver artifact
    // had 3 of 5 runs agreeing at 29-35k rows/CPU-sec while 2 burned
    // 4-9× the CPU on bit-equal plans — memory-system contention
    // inflates on-CPU cycles beyond the ±30% band the 24-spinner
    // experiment measured, so no per-task counter can normalize an
    // outlier run away. Instead the headline is computed over the
    // cpuCluster of the successful runs with no absolute slack (whole
    // runs are seconds of CPU). Excluded runs are LISTED in the artifact
    // (run id + cpu_ms + rps), never silently dropped, and the rule
    // itself rides the JSON.
    val measured = streamRuns.filter(r => r.rps >= 0 && r.cpuMs > 0)
    val admitted = cpuCluster(measured.map(_.cpuMs), slackMs = 0).toSet
    val consistent = measured.indices.filter(admitted).map(measured)
    val excluded = measured.indices.filterNot(admitted).map(measured)
    val (robustRps, robustRpsSpread) =
      medianSpread(consistent.map(_.rps.toDouble))
    val (robustCpu, robustCpuSpread) =
      medianSpread(consistent.map(_.rowsPerCpuSec.toDouble))
    val excludedJson = excluded.map(r =>
        s"""{"run":${r.run},"cpu_ms":${r.cpuMs},"rps":${r.rps},"rows_per_cpu_sec":${r.rowsPerCpuSec}}""")
      .mkString("[", ",", "]")
    val exclusionRule =
      "cpu_ms > 2x cluster median, cluster grown ascending from the min-cpu_ms run"
    val streamDetail = streamRuns.map(_.detailJson).mkString("[", ",", "]")
    val passJson = passDetails.mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","n":$n,"queries":$qs,"total_naive":${round2(totalNaive)},"queries_naive_median":$qsNaive,"queries_min":$qsMin,"query_pass_detail":$qPassDetail,"query_excluded":$qExcludedJson,"query_exclusion_rule":"$qExclusionRule","pass_detail":$passJson,"stream_rows_per_sec":${streamRps.toLong},"stream_rps_runs":${rpsRuns.mkString("[", ",", "]")},"stream_rps_spread_pct":${streamSpreadPct.toLong},"stream_rows_per_task_ms":$streamNorm,"stream_rows_per_task_ms_runs":${normRuns.mkString("[", ",", "]")},"stream_norm_spread_pct":${math.round(streamNormSpreadPct)},"stream_rows_per_cpu_sec":${streamCpuNorm.toLong},"stream_rows_per_cpu_sec_runs":${cpuRuns.mkString("[", ",", "]")},"stream_cpu_spread_pct":${streamCpuSpreadPct.toLong},"stream_rps_robust":${robustRps.toLong},"stream_robust_rps_spread_pct":${robustRpsSpread.toLong},"stream_rows_per_cpu_sec_robust":${robustCpu.toLong},"stream_robust_cpu_spread_pct":${robustCpuSpread.toLong},"stream_excluded_runs":$excludedJson,"stream_exclusion_rule":"$exclusionRule","stream_run_detail":$streamDetail,"leaked_rdds":$leakedRdds,"sf":"$sfDir"}"""
    println(fullLine)
    // The per-query line above is ~3KB and the harness captures a bounded
    // stdout tail, which can truncate its head — so the full map is ALSO
    // written as its own artifact file (repo-visible, never truncated).
    // FULL-CATALOG runs only: a dev-loop invocation (explicit query
    // args) would silently clobber the committed full-catalog record
    // with a partial map (it did once — a 1-query smoke got committed).
    if (args.isEmpty)
      try Files.write(java.nio.file.Paths.get("BENCH_QUERIES.json"),
        (fullLine + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
      }
    // Repeat the headline numbers as a short (<200 byte) FINAL line so the
    // last line is always a complete JSON object whatever the tail size.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":$n,"queries_n":${results.size},"total_naive":${round2(totalNaive)},"query_excluded_n":${qExcluded.size},"stream_rows_per_sec":${streamRps.toLong},"stream_rps_spread_pct":${streamSpreadPct.toLong},"stream_rows_per_cpu_sec":${streamCpuNorm.toLong},"stream_cpu_spread_pct":${streamCpuSpreadPct.toLong},"stream_rps_robust":${robustRps.toLong},"stream_rows_per_cpu_sec_robust":${robustCpu.toLong},"stream_robust_cpu_spread_pct":${robustCpuSpread.toLong},"excluded_n":${excluded.size},"leaked_rdds":$leakedRdds}""")
    spark.stop()
    // hard tripwire AFTER the artifacts exist: leaked blocks mean the
    // numbers above are suspect — fail the run so it can't pass silently
    require(leakedRdds == 0, s"$leakedRdds persistent RDDs leaked across passes")
  }

  /** Median of a query's pass seconds, ignoring failed (−1) passes: on
    * even counts it picks the LARGER pass — conservative for a timing
    * (the stream headlines' [[medianSpread]] picks the lower, slower
    * run).
    */
  private def median(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0 else ok(ok.size / 2)
  }

  /** Median (the LOWER middle on even counts — for a throughput the
    * conservative pick is the slower run) and spread (max-min)/median in
    * percent; -1 for both when `xs` is empty, and -1 spread when the
    * median is not positive.
    */
  private def medianSpread(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (-1.0, -1.0)
    else {
      val m = s((s.size - 1) / 2)
      (m, if (m <= 0) -1.0 else (s.last - s.head) * 100 / m)
    }
  }

  /** The cpu_ms-cluster rule shared by the per-query value and the
    * stream headline: indices of `cpuMs` admitted by sorting ascending
    * and admitting each next entry while its cpu_ms ≤ max(2× the
    * current cluster's median, median + `slackMs`). cpu_ms is the
    * plan-work proxy — it cannot legitimately double on identical
    * invariants (the measured contention band is ±30%), so an entry
    * outside the cluster burned its excess on memory-system contention.
    */
  private[graft] def cpuCluster(cpuMs: Seq[Long], slackMs: Long): Seq[Int] =
    cpuMs.indices.sortBy(cpuMs).foldLeft(Vector.empty[Int]) { (acc, i) =>
      if (acc.isEmpty) acc :+ i
      else {
        val med = cpuMs(acc((acc.size - 1) / 2)) // acc is cpu-ascending
        if (cpuMs(i) <= math.max(2 * med, med + slackMs)) acc :+ i else acc
      }
    }

  /** ROBUST per-query value (r14): the r14 full-catalog artifact
    * manufactured an 18× phantom regression (q_embedding_clusters 25.1 s
    * median vs 2.07 s run alone) because the per-query median-of-3
    * had no exclusion rule and no per-pass evidence. Returns the median
    * WALL over admitted passes and the indices of the excluded passes.
    *
    * Stage 1 is [[cpuCluster]] over the query's own per-pass cpu_ms with
    * 250 ms absolute slack, which keeps sub-second queries from tripping
    * the ratio test on JIT/GC-attribution jitter where 2× is tens of ms.
    * Stage 2 exists because the two contention modes leave DIFFERENT
    * fingerprints: memory-system contention inflates on-CPU cycles
    * themselves (the two r14 stream outliers burned 4-9× cpu_ms — stage
    * 1 catches those), while pure core starvation stretches wall with
    * near-calm cpu_ms (the r14 18× phantom's pass-level cpu was only
    * 1.67× — a cpu rule alone admits it). A pass whose cpu_ms sits in
    * the calm cluster but whose wall is > max(2× the cluster's minimum,
    * minimum + 100 ms) did the SAME plan work and spent the excess
    * descheduled — contention by definition, never a plan change.
    * Passes whose wall failed (−1) are ignored; with fewer than two
    * cpu_ms deltas (listener breakage) the value falls back to the plain
    * median — visible as cpu_ms −1 in query_pass_detail.
    */
  private[graft] def robustQuery(ms: Seq[QM]): (Double, Seq[Int]) = {
    val valid = ms.zipWithIndex.filter(_._1.wall >= 0)
    val withCpu = valid.filter(_._1.cpuMs >= 0)
    if (withCpu.size < 2) (median(valid.map(_._1.wall)), Nil)
    else {
      val cpuOk = cpuCluster(withCpu.map(_._1.cpuMs), slackMs = 250)
        .map(withCpu)
      val wmin = cpuOk.map(_._1.wall).min
      val admitted =
        cpuOk.filter(_._1.wall <= math.max(2 * wmin, wmin + 0.1))
      val admitIdx = admitted.map(_._2).toSet
      (median(admitted.map(_._1.wall)),
        withCpu.map(_._2).filterNot(admitIdx))
    }
  }

  /** One per-query, per-pass measurement: wall seconds + the query's
    * executorCpuTime delta in ms (−1 when no accounting listener is
    * attached — warmup pass — or the wall itself failed).
    */
  private[graft] final case class QM(wall: Double, cpuMs: Long)

  /** One streaming-bench run: headline rows/sec, the normalized
    * rows-per-task-ms (DATASET rows — the headline's own numerator —
    * ÷ summed executorRunTime: the contention-normalized throughput,
    * since wall absorbs scheduler gaps and oversubscription stalls that
    * task run time largely does not), and
    * a JSON detail record carrying the per-run
    * [[org.apache.spark.sql.streaming.StreamingQueryProgress]] phase
    * totals (addBatch / getBatch / latestOffset / queryPlanning /
    * walCommit / commitOffsets, summed over triggers) so a slow run
    * NAMES its slow phase — the r9 headline was bimodal (105k/112k/525k
    * rows/s, 373% spread) and indistinguishable between machine
    * interference and a real data-path stall without this breakdown —
    * plus the run's [[StageMetrics]] totals and top stages, so a 3×
    * addBatch collapse (r10 run 2) is attributable to a STAGE and cause
    * (JIT? GC? one skewed scan?) from the BENCH artifact alone.
    */
  private final case class StreamRun(run: Int, rps: Long,
      rowsPerTaskMs: Double, rowsPerCpuSec: Long, cpuMs: Long,
      detailJson: String)

  private def round2(x: Double): Double = math.round(x * 100) / 100.0

  private def round3(x: Double): Double = math.round(x * 1000) / 1000.0

  /** Streaming throughput (dataset rows/sec end-to-end through the
    * single-source pivot topology — see [[StreamBench]] for the full
    * harness with topology/trigger knobs), measured
    * SPARK_GRAFT_STREAM_N times (default 5) over ONE shared synthetic
    * input (generation cost paid once; each run gets a fresh
    * checkpoint). Tracked in BENCH as the per-run list + median +
    * spread: single-run numbers on a shared sandbox swung ±14%
    * round-over-round on identical code (r7 729k vs r8 618k vs builder
    * 552k), which is unreadable without an in-round error bar.
    *
    * Volume is 160× the reference dataset (4.6M rows, 18.4M wire
    * messages). The r5/r6 default of 288k still measured mostly FIXED
    * cost: the phase breakdown (StreamBench's stream_phase_ms line)
    * showed ~6s of session/planning/state-store/fsync overhead against
    * <1s of data — so sandbox contention swung the headline ±40%
    * round-over-round (90k → 65k → 54k rows/s on identical code). At
    * 4.6M rows addBatch (the data path) is ~91% of wall and the
    * sustained rate was ~290k dataset rows/s when the volume was
    * chosen (r8; the r12 pipeline sustains 740-840k), so a ±2s
    * contention swing moves the number ~12%, not 40%. SCALE.md
    * §Streaming carries the measured volume curve (window state scales
    * linearly in volume — see writeSyntheticDay's no-midnight-wrap
    * contract). SPARK_GRAFT_STREAM_ROWS overrides.
    */
  private def streamThroughput(spark: SparkSession): Seq[StreamRun] = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "4608000").toInt
    // n=5 (r11 verdict): with a 136% worst-case sandbox spread, 3 runs
    // can leave the median itself sitting on a contended run; 5 makes
    // the median robust to two bad draws and the per-run invariants
    // (RunTotals) adjudicate the rest
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_STREAM_N", "5").toInt
    try {
      val dir = Files.createTempDirectory("benchstream").toString
      // fleet size scales with volume so the time-of-day wire never
      // wraps midnight (see StreamBench.writeSyntheticDay)
      StreamBench.writeSyntheticDay(spark, dir, rows)

      def onePass(run: Int): StreamRun = {
        // box-load telemetry bracketing the run (r13 verdict #1): the
        // two r13 outlier runs burned 4-9× the CPU on identical plans —
        // memory-system contention inflates on-CPU cycles themselves —
        // and nothing in the artifact showed the box was busy. os_load_avg
        // is the 1-min runnable-thread average at run END;
        // jvm_cpu_share is THIS JVM's process-CPU seconds over
        // wall × cores — a calm box shows share ≈ load/cores ≈ the
        // run's own parallelism, a contended box shows load ≫ share.
        val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        def procCpuNs: Long = osBean match {
          case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
          case _ => -1L
        }
        val procCpu0 = procCpuNs
        val wall0 = System.nanoTime()
        val alerts = StreamBench.pivotAlerts(
          spark.readStream.schema(graft.core.Schemas.dataset)
            .option("header", "true").csv(s"$dir/in"))
        // a throwing run leaks neither the listener (StageMetrics.during)
        // nor a still-running query into the next measured pass
        val ((secs, progs), acct) = StageMetrics.during(spark) { _ =>
          val t0 = System.nanoTime()
          val q = StreamBench.noopSink(alerts, s"$dir/ckpt$run").start()
          try {
            q.processAllAvailable()
            ((System.nanoTime() - t0) / 1e9, q.recentProgress)
          } finally q.stop()
        }
        val phaseJson = StreamBench.phaseTotals(progs).toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
        val rowsIn = progs.map(_.numInputRows).sum
        val t = acct.totals()
        // normalized throughput: DATASET rows — the HEADLINE's own
        // numerator (`rows`, the generated volume) — over total task
        // run time, so rps and rows_per_task_ms share one unit and
        // their ratio is pure time accounting. numInputRows/stage
        // input_rows are NOT that unit: the topology scans the source
        // once per landed family, so both read 2× the dataset rows
        // (r12 artifact: 9,216,000 source rows for the 4,608,000-row
        // day) — using them here would silently rescale the normalized
        // metric if the family count ever changed while the headline
        // stayed fixed.
        val rowsPerTaskMs =
          if (t.taskMs > 0) round2(rows.toDouble / t.taskMs) else -1.0
        // dataset rows per CPU-second: same numerator as the headline
        // and rows_per_task_ms, denominator = summed executorCpuTime.
        // Task WALL time (executorRunTime) inflates under CPU
        // oversubscription — a descheduled task thread still accrues
        // wall — which is why rows_per_task_ms spread 184% on the
        // contended driver box (r12). CPU ns accrue only while the
        // task thread is actually on a core, so this is the most
        // environment-independent quotient available — but NOT a hard
        // invariant: the r13 controlled experiment (24 external
        // spinners vs idle, SCALE.md §Round-13 CPU normalization)
        // measured per-row CPU COST itself shifting with effective
        // parallelism — total cpu_ms DROPPED ~20% under load (less
        // cross-thread cache/spin overhead at lower concurrency) while
        // wall tripled. Reading rule: a 2-3× wall swing with this
        // metric inside its ~±30% band is contention; this metric
        // moving outside its band is a real efficiency change.
        val rowsPerCpuSec =
          if (t.cpuMs > 0) (rows * 1000.0 / t.cpuMs).round else -1L
        val osLoad = round2(osBean.getSystemLoadAverage)
        val procCpu1 = procCpuNs
        val jvmShare =
          if (procCpu0 >= 0 && procCpu1 >= procCpu0)
            round2((procCpu1 - procCpu0).toDouble /
              ((System.nanoTime() - wall0).toDouble *
                Runtime.getRuntime.availableProcessors))
          else -1.0
        // source_rows = query-progress numInputRows (source-scan rows,
        // ≈ families × dataset rows); t.json's input_rows is the
        // stage-level scan record count — same unit, different
        // subsystem, so the two cross-check each other
        val rps = (rows / secs).round
        StreamRun(run, rps, rowsPerTaskMs, rowsPerCpuSec, t.cpuMs,
          s"""{"run":$run,"rps":$rps,"secs":${round2(secs)},"batches":${progs.length},"source_rows":$rowsIn,"phases_ms":$phaseJson,${t.json},"rows_per_task_ms":$rowsPerTaskMs,"rows_per_cpu_sec":$rowsPerCpuSec,"os_load_avg":$osLoad,"jvm_cpu_share":${round2(jvmShare)},${acct.stagesJson}}""")
      }

      // Unreported warm-up pass over the SAME input (own checkpoint):
      // compiles every generated class, fills the state-store/shuffle
      // code paths and lets C2 finish before the clock matters — the
      // r10 record had one measured run collapse 3.4× on addBatch
      // alone, consistent with JIT/GC cold paths landing inside a
      // measured window. GC runs before every measured pass so a full
      // collection triggered by 254 queries × 3 passes of garbage
      // can't land mid-measurement either.
      try onePass(0)
      catch { case e: Throwable =>
        System.err.println(s"[bench] stream warmup failed: ${e.getMessage}")
      }

      (1 to nRuns).map { run =>
        try {
          System.gc()
          val r = onePass(run)
          System.err.println(s"[bench] stream ${r.detailJson}")
          r
        } catch { case e: Throwable =>
          System.err.println(s"[bench] stream run $run failed: ${e.getMessage}")
          StreamRun(run, -1L, -1.0, -1L, -1L, s"""{"run":$run,"rps":-1}""")
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stream throughput failed: ${e.getMessage}")
      Seq(StreamRun(0, -1L, -1.0, -1L, -1L, """{"rps":-1}"""))
    }
  }
}
