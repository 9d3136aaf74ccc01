package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.PipelineConfig
import graft.core.PipelineConfig.Alerts
import graft.operators.RefOps

/** Scaling-curve harness: the reference monitor pipeline shape
  * (`spark_jobs/spark_job1.py:6-60` — two metric families, multi-key
  * join, 30s/10s sliding-window avg, CASE alerts) over the `metricgen`
  * DataSource V2 at geometrically increasing row counts, one JSON line
  * per point. Because the source generates (zero I/O, exact pushdown),
  * the sweep isolates the PIPELINE's scaling behavior: a plan whose
  * wall time grows ~linearly in rows at fixed parallelism is
  * shuffle/agg-bound the way the 100 TB posture predicts; superlinear
  * growth would expose a hidden quadratic (the thing the sweep exists
  * to catch). Fleet size grows with volume (servers = rows/2880) so
  * window state per key stays fixed — the same key-space scaling rule
  * as StreamBench.writeSyntheticDay.
  *
  * Usage: `runMain graft.ScaleSweep [rows ...]` (default sweep
  * 60k/600k/6M — 1×/10×/100× the sf0.1-scale fixture).
  */
object ScaleSweep {

  /** job1 over generated families: derive cpu and mem frames from two
    * independent scans (reference parity: two landed tables, real
    * multi-key shuffle join, not a projection of one frame).
    */
  def monitorOverGen(spark: org.apache.spark.sql.SparkSession,
      rows: Long, servers: Long): DataFrame = {
    def family(cols: String*): DataFrame =
      spark.read.format("metricgen")
        .option("rows", rows).option("servers", servers).load()
        .select((Seq("ts", "server_id") ++ cols).map(col): _*)
    val cfg = PipelineConfig.default
    val joined = RefOps.joinOnKeys(family("cpu_pct"), family("mem_pct"))
    val agged = RefOps.slidingWindowAgg(joined, "server_id",
      Seq(avg(col("cpu_pct")).as("avg_cpu"),
        avg(col("mem_pct")).as("avg_mem")), cfg)
    agged.withColumn("alert",
      RefOps.classifyAlerts(col("avg_cpu"), cfg.cpuThreshold,
        col("avg_mem"), cfg.memThreshold,
        Alerts.cpuMemBoth, Alerts.cpuOnly, Alerts.memOnly))
  }

  /** Synthetic corpus for the dedup sweep: 12 pseudo-words, ids mapped
    * onto 2·|distinct| texts → ~50% true-duplicate rate (both the
    * candidate-collision and the no-collision path stay hot at every
    * scale). The number-vocab moduli SCALE with the corpus: real text
    * obeys Heaps' law (shingle space grows with corpus size — measured
    * on the fixture corpus by `q_heaps`), and a fixed-entropy synthetic
    * corpus violates it, making unrelated texts share ever more
    * shingles until LSH candidate volume inflates superlinearly. The
    * first version of this sweep had exactly that bug — 2M docs cost
    * 3.2× the 1M point — and the bent curve is precisely the signal
    * the sweep exists to produce; the fix belongs in the WORKLOAD, not
    * the operator.
    */
  def corpus(spark: org.apache.spark.sql.SparkSession, docs: Long): DataFrame = {
    val k = pmod(col("id") * 31, lit(math.max(1L, docs / 2))) // ~2 ids per text value
    val m = math.max(997L, docs) // Heaps-growing word vocabulary
    spark.range(docs).select(col("id").as("doc_id"),
      concat_ws(" ", lit("lorem"), pmod(k * 7, lit(m)), lit("ipsum"),
        pmod(k * 13, lit(m - 6)), lit("dolor"), pmod(k * 29, lit(m - 14)),
        lit("sit"), pmod(k * 37, lit(m - 20)), lit("amet"),
        pmod(k * 41, lit(m - 26)), lit("sed"), pmod(k * 43, lit(m - 30)))
        .as("text"))
  }

  /** ~48-token documents for the extractive sweep: four 12-token
    * stanzas from the same Heaps-growing vocabulary as [[corpus]],
    * with the FIRST stanza repeated as the last — so each doc's
    * 16-token tail (the "summary") genuinely restates part of its head
    * and the greedy walk finds long fragments, not just length-1 hits.
    */
  def longCorpus(spark: org.apache.spark.sql.SparkSession,
                 docs: Long): DataFrame = {
    val k = pmod(col("id") * 31, lit(math.max(1L, docs / 2)))
    val m = math.max(997L, docs)
    def stanza(a: Long, b: Long, c: Long, d: Long, e: Long, f: Long) =
      concat_ws(" ", lit("lorem"), pmod(k * a, lit(m)), lit("ipsum"),
        pmod(k * b, lit(m - 6)), lit("dolor"), pmod(k * c, lit(m - 14)),
        lit("sit"), pmod(k * d, lit(m - 20)), lit("amet"),
        pmod(k * e, lit(m - 26)), lit("sed"), pmod(k * f, lit(m - 30)))
    val head = stanza(7, 13, 29, 37, 41, 43)
    spark.range(docs).select(col("id").as("doc_id"),
      concat_ws(" ", head, stanza(11, 17, 23, 47, 53, 59),
        stanza(61, 67, 71, 73, 79, 83), head).as("text"))
  }

  /** Synthetic point-in-time workload for the as-of sweep: probes at
    * ~1ms cadence, states 10× sparser over the same span, |keys| scaled
    * so per-key volume stays fixed (the monitor sweep's rule). Zero
    * I/O — generated from `range`, so the sweep prices the OPERATORS.
    */
  def asofData(spark: org.apache.spark.sql.SparkSession, n: Long,
               keys: Long): (DataFrame, DataFrame) = {
    val probes = spark.range(n).select(
      (col("id") % keys).as("k"),
      timestamp_micros(col("id") * 1000L + pmod(col("id") * 7, lit(997)))
        .as("ts"),
      (col("id") % 1000).cast("double").as("v"))
    val states = spark.range(math.max(1L, n / 10)).select(
      (col("id") % keys).as("k"),
      timestamp_micros(col("id") * 10000L + pmod(col("id") * 11, lit(991)))
        .as("ts"),
      col("id").cast("double").as("sv"))
    (probes, states)
  }

  /** Four-line documents for the line-dedup sweep: line 0 is a GLOBAL
    * boilerplate line (df = |docs| — the cookie-banner hot key whose
    * skew the partial aggregation must absorb map-side), lines 1–3 from
    * the same Heaps-growing vocabulary as [[corpus]] (df ≈ 2 via the
    * 2-ids-per-text mapping — real kept-line mass at every scale).
    */
  def lineCorpus(spark: org.apache.spark.sql.SparkSession,
                 docs: Long): DataFrame = {
    val k = pmod(col("id") * 31, lit(math.max(1L, docs / 2)))
    val m = math.max(997L, docs)
    def stanza(a: Long, b: Long, c: Long, d: Long, e: Long, f: Long) =
      concat_ws(" ", lit("lorem"), pmod(k * a, lit(m)), lit("ipsum"),
        pmod(k * b, lit(m - 6)), lit("dolor"), pmod(k * c, lit(m - 14)),
        lit("sit"), pmod(k * d, lit(m - 20)), lit("amet"),
        pmod(k * e, lit(m - 26)), lit("sed"), pmod(k * f, lit(m - 30)))
    val boiler = concat_ws(" ", (1 to 12).map(i => lit(s"boiler$i")): _*)
    spark.range(docs).select(col("id").as("doc_id"),
      concat_ws(" ", boiler, stanza(11, 17, 23, 47, 53, 59),
        stanza(61, 67, 71, 73, 79, 83), stanza(7, 13, 29, 37, 41, 43))
        .as("text"))
  }

  /** Deterministic pseudo-embeddings for the similarity sweep: dim
    * values are per-dimension affine residues of the id (coprime
    * modulus per dimension, so dimensions decorrelate by CRT and
    * sign-LSH buckets stay balanced), scaled into [-1, 1). Generated
    * from `range` — zero I/O, so the sweep prices the OPERATORS; the
    * fixture table's dim (64) is a constant factor on every point and
    * cannot bend the curve, so dim 16 keeps the points cheap without
    * changing the exponent the sweep exists to measure.
    */
  private val EmbPrimes = Seq(1009L, 1013L, 1019L, 1021L, 1031L, 1033L,
    1039L, 1049L, 1051L, 1061L, 1063L, 1069L, 1087L, 1091L, 1093L, 1097L)
  private val EmbMods = Seq(997L, 991L, 983L, 977L, 971L, 967L, 953L,
    947L, 941L, 937L, 929L, 919L, 911L, 907L, 887L, 883L)
  // a second coprime set for the per-member jitter, disjoint from
  // EmbPrimes so member offsets decorrelate from center coordinates
  private val JitterPrimes = Seq(733L, 739L, 743L, 751L, 757L, 761L,
    769L, 773L, 787L, 797L, 809L, 811L, 821L, 823L, 827L, 829L)

  /** The per-dimension residue arithmetic of [[embCorpus]] as a column
    * builder over an arbitrary id column — shared with StreamBench's
    * `ann` mode so the streamed query vectors and the generated corpus
    * come from the SAME deterministic generator (a query id equals its
    * corpus twin's vector exactly).
    */
  def embColumn(id: org.apache.spark.sql.Column, dim: Int = 16)
      : org.apache.spark.sql.Column = {
    require(dim <= EmbPrimes.size, s"embColumn supports dim <= ${EmbPrimes.size}")
    array((0 until dim).map { j =>
      pmod(id * EmbPrimes(j), lit(EmbMods(j))).cast("double") *
        lit(2.0 / EmbMods(j)) - 1.0
    }: _*)
  }

  def embCorpus(spark: org.apache.spark.sql.SparkSession, n: Long,
                dim: Int = 16, idOffset: Long = 0L): DataFrame = {
    spark.range(n).select((col("id") + idOffset).as("vec_id"))
      .select(col("vec_id"), embColumn(col("vec_id"), dim).as("embedding"))
  }

  /** Clustered twin of [[embCorpus]] (r12 verdict #3): `centers`
    * planted cluster centers whose coordinates come from the SAME
    * coprime-residue arithmetic (on the center id = vec_id mod
    * centers), each member scattered in a tight ±0.1 per-coordinate
    * ball around its center by a second, disjoint residue set. The
    * uniform fixture is deliberately recall-ADVERSARIAL (neighbors sit
    * near bucket boundaries everywhere); this one is the realistic
    * ceiling — real embedding corpora are clustered, and LSH/IVF
    * recall claims should be read against both. Query vectors from the
    * same generator at an id offset land in planted clusters too
    * (center id is mod-arithmetic on the offset id), i.e. held-out
    * cluster members — the realistic query model.
    */
  def embClustered(spark: org.apache.spark.sql.SparkSession, n: Long,
                   centers: Long, dim: Int = 16,
                   idOffset: Long = 0L): DataFrame = {
    require(dim <= EmbPrimes.size,
      s"embClustered supports dim <= ${EmbPrimes.size}")
    require(centers > 0, "centers must be positive")
    spark.range(n).select((col("id") + idOffset).as("vec_id"))
      .select(col("vec_id"), pmod(col("vec_id"), lit(centers)).as("cid"))
      .select(col("vec_id"), array((0 until dim).map { j =>
        (pmod(col("cid") * EmbPrimes(j), lit(EmbMods(j))).cast("double") *
          lit(2.0 / EmbMods(j)) - 1.0) +
        (pmod(col("vec_id") * JitterPrimes(j), lit(EmbMods(j))).cast("double") *
          lit(0.2 / EmbMods(j)) - 0.1)
      }: _*).as("embedding"))
  }

  /** High-dim clustered twin of [[embClustered]]: the residue generator
    * is capped at dim 16 by its prime tables, so the production-width
    * sweep (dim 128 — r14 verdict #3) swaps the closed-form coprime
    * arithmetic for xxhash64 mixing: center coordinate from
    * hash(cid, j), tight ±0.1 member jitter from hash(vec_id, j, salt).
    * Equally deterministic and seedless (stable across runs and
    * engines); used for EVERY dim in the pqdim sweep so vector width
    * is the only variable across its rows.
    */
  def embClusteredWide(spark: org.apache.spark.sql.SparkSession, n: Long,
                       centers: Long, dim: Int,
                       idOffset: Long = 0L): DataFrame = {
    require(centers > 0, "centers must be positive")
    // transform-HOF, not a dim-wide array(...) literal: a 128-element
    // array expression (2 hashes per element) unrolls into generated
    // Java past janino's 64 KB method limit wherever the corpus is
    // inlined, and the silent interpreted-mode fallback then
    // contaminates every wall measured over it (seen: ivf_assign 31.7 s
    // at 100k×128 under the unrolled form). The HOF compiles to one
    // loop regardless of dim.
    spark.range(n).select((col("id") + idOffset).as("vec_id"))
      .select(col("vec_id"),
        embColumnWide(col("vec_id"), centers, dim).as("embedding"))
  }

  /** The [[embClusteredWide]] vector as a standalone COLUMN from the id
    * alone — so a query STREAM can recompute the exact corpus vector
    * from a vec_id on the wire (StreamBench ann at dim > 16), the same
    * contract [[embColumn]] gives the dim ≤ 16 fixtures. Must stay
    * bit-identical to the corpus generator (ScaleSweepFixtureSpec pins
    * the geometry; the annwide StreamBench mode pins stream ≡ batch
    * through it).
    */
  def embColumnWide(id: org.apache.spark.sql.Column, centers: Long,
                    dim: Int): org.apache.spark.sql.Column = {
    val cid = pmod(id, lit(centers))
    transform(sequence(lit(0), lit(dim - 1)), j =>
      (pmod(xxhash64(cid, j), lit(2001)).cast("double") / lit(1000.0)
        - lit(1.0)) +
      (pmod(xxhash64(id, j, lit(77)), lit(201)).cast("double") / lit(1000.0)
        - lit(0.1)))
  }

  /** Chain-of-4 edge set for the incremental-CC sweep, split the way
    * q_cc_incremental splits its LSH pairs: fixed component diameter
    * (so the round count is constant and the sweep prices PER-ROUND
    * shuffle volume), batch A = even-sourced edges, batch B the rest.
    */
  def ccEdges(spark: org.apache.spark.sql.SparkSession,
              n: Long): (DataFrame, DataFrame) = {
    val e = spark.range(n).filter(col("id") % 4 =!= 3)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    (e.filter(col("id_a") % 2 === 0), e.filter(col("id_a") % 2 === 1))
  }

  private val Modes = Set("monitor", "dedup", "asof", "prefixjoin",
    "extractive", "linededup", "ccinc", "ccstar", "simsearch", "pqdim")

  // ---- ANN sweep helpers (simsearch, pqdim) ----

  private def r3(x: Double) = math.round(x * 1000) / 1000.0

  /** (query_id, cand_id) rows → per-query neighbor-id sets. */
  private def ids(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  /** Collect a (query_id, cand_id) result: (wall seconds, neighbor sets). */
  private def collectIds(df: DataFrame): (Double, Map[Long, Set[Long]]) = {
    val t0 = System.nanoTime()
    val rows = df.select(col("query_id").cast("long"),
      col("cand_id").cast("long")).collect()
    ((System.nanoTime() - t0) / 1e9, ids(rows))
  }

  /** recall@k of `approx` against `exact`, rounded to 3 places. */
  private def recall(approx: Map[Long, Set[Long]],
                     exact: Map[Long, Set[Long]]): Double = {
    val hit = exact.map { case (q, e) =>
      (approx.getOrElse(q, Set.empty) & e).size }.sum
    math.round(hit * 1000.0 / exact.values.map(_.size).sum) / 1000.0
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(Modes).getOrElse("monitor")
    val rest = if (args.headOption.exists(Modes)) args.drop(1) else args
    val points =
      if (rest.nonEmpty) rest.toSeq.map(_.toLong)
      // the 2M step is NOT decoration: the 5M point measured 62 s when
      // entered straight from 500k (r12, load ~3) and 25.4 s with the
      // 2M step in between — the big point otherwise pays JIT/memory-
      // manager ramp that the curve would misread as operator cost.
      // These four points are also the on-record SCALE.md progression.
      else if (mode == "dedup") Seq(50000L, 500000L, 2000000L, 5000000L)
      else if (mode == "prefixjoin") Seq(20000L, 200000L, 2000000L)
      else if (mode == "asof") Seq(100000L, 1000000L, 10000000L)
      else if (mode == "extractive") Seq(200000L, 2000000L, 20000000L)
      else if (mode == "linededup") Seq(200000L, 2000000L)
      else if (mode == "ccinc" || mode == "ccstar") Seq(300000L, 3000000L)
      else if (mode == "simsearch") Seq(100000L, 1000000L, 10000000L)
      else if (mode == "pqdim") Seq(1000000L)
      else Seq(60000L, 600000L, 6000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cpus, "graft-scalesweep")
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "asof") {
      // composition (union + ordered window) vs custom physical
      // operator (AsOfJoinExec sorted merge) on the SAME workload —
      // the head-to-head that prices the preference-order-(c) tier.
      import graft.operators.AsOfJoin
      val (wp, ws) = asofData(spark, 10000, 20)
      AsOfJoin.asOf(wp, ws, Seq("k"), "ts", Seq("sv"))
        .write.format("noop").mode("overwrite").save() // warmup both paths
      AsOfJoin.asOfExec(wp, ws, Seq("k"), "ts", Seq("sv"))
        .write.format("noop").mode("overwrite").save()
      points.foreach { n =>
        val keys = math.max(20L, n / 1000) // fixed per-key volume
        val (probes, states) = asofData(spark, n, keys)
        val t0 = System.nanoTime()
        AsOfJoin.asOf(probes, states, Seq("k"), "ts", Seq("sv"))
          .write.format("noop").mode("overwrite").save()
        val windowSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        AsOfJoin.asOfExec(probes, states, Seq("k"), "ts", Seq("sv"))
          .write.format("noop").mode("overwrite").save()
        val execSec = (System.nanoTime() - t1) / 1e9
        println(s"""{"metric":"asof_sweep","probes":$n,"keys":$keys,"window_sec":${math.round(windowSec * 1000) / 1000.0},"exec_sec":${math.round(execSec * 1000) / 1000.0},"speedup":${math.round(windowSec / execSec * 100) / 100.0}}""")
      }
    } else if (mode == "prefixjoin") {
      // exact prefix-filtered similarity join vs MinHash LSH on the
      // SAME corpus — the price of the zero-false-negative guarantee.
      // This corpus's duplicates are exact (J = 1 in every shingle
      // space), so both find the same pair set and the sweep isolates
      // COST: the exact join pays the df-count + prefix-window passes
      // LSH's one-row-per-doc profiles avoid; what the curve must show
      // is both staying ~linear in docs (candidates riding duplicate
      // structure, never |docs|²).
      import graft.operators.Dedup
      Dedup.prefixJaccardJoin(corpus(spark, 5000), "text", "doc_id")
        .write.format("noop").mode("overwrite").save() // warmup
      Dedup.minhashNearDuplicates(corpus(spark, 5000), "text", "doc_id",
          threshold = 0.8)
        .write.format("noop").mode("overwrite").save()
      graft.core.CacheScope.releaseStragglers(spark)
      points.foreach { docs =>
        val t0 = System.nanoTime()
        val exactPairs = Dedup.prefixJaccardJoin(
          corpus(spark, docs), "text", "doc_id", 12, 8, 10).count()
        val exactSec = (System.nanoTime() - t0) / 1e9
        graft.core.CacheScope.releaseStragglers(spark)
        val t1 = System.nanoTime()
        val lshPairs = Dedup.minhashNearDuplicates(
          corpus(spark, docs), "text", "doc_id", threshold = 0.8).count()
        val lshSec = (System.nanoTime() - t1) / 1e9
        graft.core.CacheScope.releaseStragglers(spark)
        println(s"""{"metric":"prefixjoin_sweep","docs":$docs,"exact_pairs":$exactPairs,"exact_sec":${math.round(exactSec * 1000) / 1000.0},"lsh_pairs":$lshPairs,"lsh_sec":${math.round(lshSec * 1000) / 1000.0}}""")
      }
    } else if (mode == "extractive") {
      // the native greedy fragment kernel priced at corpus scale:
      // projection-only (zero exchanges), so the curve must be ~linear
      // in docs at fixed doc length — the per-doc constant is the
      // bounded 16-step × |article|-anchor walk inside whole-stage
      // codegen. Superlinear growth here would mean the kernel (or its
      // row pipeline) secretly allocates per row.
      import graft.operators.TextAnalysis
      TextAnalysis.extractiveCoverage(longCorpus(spark, 10000),
          "text", "doc_id")
        .write.format("noop").mode("overwrite").save() // warmup
      points.foreach { docs =>
        val t0 = System.nanoTime()
        TextAnalysis.extractiveCoverage(longCorpus(spark, docs),
            "text", "doc_id")
          .write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        graft.core.CacheScope.releaseStragglers(spark)
        println(s"""{"metric":"extractive_sweep","docs":$docs,"wall_sec":${math.round(secs * 1000) / 1000.0},"docs_per_sec":${(docs / secs).round}}""")
      }
    } else if (mode == "dedup") {
      // MinHash+LSH near-dup (the flagship corpus operator): banded
      // signatures → bucket equi-join candidates → exact verify. The
      // curve proves the banding claim — candidate volume rides the
      // DUPLICATE structure (constant ~50% here), never |docs|².
      graft.operators.Dedup.minhashNearDuplicates(
          corpus(spark, 5000), "text", "doc_id")
        .write.format("noop").mode("overwrite").save() // warmup
      points.foreach { docs =>
        val t0 = System.nanoTime()
        graft.operators.Dedup.minhashNearDuplicates(
            corpus(spark, docs), "text", "doc_id")
          .write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        graft.core.CacheScope.releaseStragglers(spark)
        println(s"""{"metric":"lsh_dedup_sweep","docs":$docs,"wall_sec":${math.round(secs * 1000) / 1000.0},"docs_per_sec":${(docs / secs).round}}""")
      }
    } else if (mode == "linededup") {
      // spill accounting: the 100× point's last-decade multiplier ran
      // ~16% super-linear on a single JVM (r12), and the suspect is the
      // SMJ of 4·|docs| line rows against the ~1.5·|docs|-row dfreq
      // side outgrowing the one-box execution-memory share — a cluster
      // keeps the per-executor share constant as width grows, so a
      // spill receipt here separates "plan defect" from "one-box
      // memory artifact" in the sweep output itself
      val spillMb = new java.util.concurrent.atomic.AtomicLong
      val acct = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val tm = e.stageInfo.taskMetrics
          if (tm != null) spillMb.addAndGet(
            (tm.memoryBytesSpilled + tm.diskBytesSpilled) >> 20)
          ()
        }
      }
      spark.sparkContext.addSparkListener(acct)
      // CCNet line dedup (the r10 verdict's first asymptotic suspect:
      // a line-keyed exchange + join-back + per-doc reassembly). The
      // structural claim the curve must prove: the df aggregate is a
      // two-level countDistinct — the dedup level keys on (line, doc),
      // so the global boilerplate line's |docs| rows spread across the
      // compound key, and the per-partition partial count collapses
      // them to one row per partition before the |lines|-keyed
      // exchange. The hot key's remaining concentration point is the
      // df join-back on `line` (broadcast at this dfreq size; AQE
      // skew-split at real scale) — superlinear growth would mean one
      // of those mechanisms is not engaging.
      import graft.operators.TextAnalysis
      TextAnalysis.lineDedup(lineCorpus(spark, 10000), "text", "doc_id",
          lineTokens = 12, maxLineDf = 2L)
        .write.format("noop").mode("overwrite").save() // warmup
      points.foreach { docs =>
        Bench.drainListenerBus(spark)
        val spill0 = spillMb.get
        val t0 = System.nanoTime()
        TextAnalysis.lineDedup(lineCorpus(spark, docs), "text", "doc_id",
            lineTokens = 12, maxLineDf = 2L)
          .write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        graft.core.CacheScope.releaseStragglers(spark)
        Bench.drainListenerBus(spark)
        println(s"""{"metric":"linededup_sweep","docs":$docs,"wall_sec":${math.round(secs * 1000) / 1000.0},"docs_per_sec":${(docs / secs).round},"spill_mb":${spillMb.get - spill0}}""")
      }
      spark.sparkContext.removeSparkListener(acct)
    } else if (mode == "simsearch") {
      // E3 priced at corpus scale (the one family whose SCALE.md claims
      // were argued, not measured): exact brute-force top-k (heap form —
      // 64 queries × N corpus is the few-heavy-groups regime), sign-LSH
      // bucketed top-k, and IVF top-k over the same generated corpus.
      // Parameter discipline mirrors the 100 TB posture documented in
      // SCALE.md §Similarity: PLANES GROW WITH THE CORPUS (log2, fixed
      // ~4k expected bucket occupancy → LSH stays ~linear: scan + a
      // constant per-query candidate set), and NLIST GROWS AS √N/16
      // (the standard IVF sizing; its N·nlist assignment term is
      // DESIGNED ~N^1.5 — a one-off build cost amortized across query
      // batches in production — while the probe-side search stays
      // bounded per query). The sweep's job is to catch exponents
      // BEYOND design. recall@10 vs the exact baseline rides each
      // point: scaling that holds wall but sheds recall is a failure
      // this JSON must surface (outputs are 64×10 rows — the collects
      // are driver-bounded by construction).
      import graft.operators.Similarity
      val k = 10
      val dim = 16
      def timedIds(df: => DataFrame): (Double, Map[Long, Set[Long]]) = {
        val r = collectIds(df)
        graft.core.CacheScope.releaseStragglers(spark)
        r
      }
      // IVF priced as BUILD (centroid select + inverted-list assignment,
      // materialized into the cache — the one-off N·nlist index cost a
      // production run amortizes across query batches) vs PROBE (the
      // per-batch cost over the built lists). The r12 sweep folded both
      // into ivf_sec, leaving the amortization claim prose-only; these
      // columns make it a number. BUILD is further split (r13 verdict
      // #5) into TRAIN (centroid computation — rank-select's top-nlist
      // sort, or the sampled Lloyd pass whose dominant term is the
      // sample·nlist·dim join) and ASSIGN (the corpus-scale N·nlist
      // projection + materialization): the r13 table's "trained costs
      // ~1.7×" was the HARNESS's second corpus materialization, not
      // the Lloyd step, and only this split makes the training's real
      // marginal cost visible. No releaseStragglers between the
      // phases — it would evict the index the probe is being priced on.
      def ivfSplit(corpus: DataFrame, nlist: Int, trained: Boolean = false)
          : (Double, Double, DataFrame => DataFrame) = {
        val t0 = System.nanoTime()
        // trained twin: centroids from the sampled one-pass Lloyd
        // (sample ~ n/64 — the mini-batch discipline)
        val cents = (if (trained)
            Similarity.ivfKmeansCentroids(corpus, nlist, sampleMod = 64)
          else Similarity.ivfCentroids(corpus, nlist)).persist()
        cents.count()
        val trainSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val listed = Similarity.ivfAssign(corpus, cents).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        listed.write.format("noop").mode("overwrite").save()
        val assignSec = (System.nanoTime() - t1) / 1e9
        (trainSec, assignSec,
          (qs: DataFrame) => Similarity.ivfProbe(listed, cents, qs, k, nprobe = 2))
      }
      // fixture pair (r12 verdict #3): "uniform" is the deliberately
      // recall-ADVERSARIAL floor — i.i.d.-like coordinates put every
      // true neighbor near the bucket boundaries, so its absolute
      // recall is a stress number, not a quality claim. "clustered"
      // plants centers via the same coprime-residue arithmetic and
      // scatters members in a tight ±0.1 ball around them — the
      // realistic ceiling where the buckets align with true structure.
      val fixtures: Seq[(String, Long => DataFrame)] = Seq(
        "uniform" -> ((m: Long) => embCorpus(spark, m, dim)),
        "clustered" -> ((m: Long) => embClustered(spark, m,
          centers = math.min(65536L, math.max(64L, m / 4096)), dim)))
      def queriesFor(fixture: String, n: Long): DataFrame =
        if (fixture == "uniform") embCorpus(spark, 64, dim,
          idOffset = 1000000007L)
        else embClustered(spark, 64,
          centers = math.min(65536L, math.max(64L, n / 4096)), dim,
          idOffset = 1000000007L)
      locally { // warmup all plans, both composed and split forms
        val w = embCorpus(spark, 20000)
        val queries = queriesFor("uniform", 20000)
        timedIds(Similarity.bruteForceTopKHeap(w, queries, k))
        timedIds(Similarity.bucketedTopK(w, queries, k, planes = 3))
        timedIds(Similarity.bucketedTopK(w, queries, k, planes = 3,
          multiProbe = true))
        val (_, _, probe) = ivfSplit(w, 16)
        timedIds(probe(queries))
        val (_, _, tprobe) = ivfSplit(w, 16, trained = true)
        timedIds(tprobe(queries))
        val wIdx = Similarity.lshBucketTable(w, 3, Some(4096)).persist()
        wIdx.write.format("noop").mode("overwrite").save()
        timedIds(Similarity.lshProbe(wIdx, queries, k, 3))
        timedIds(Similarity.bruteForceTopKHeap(
          embClustered(spark, 20000, 64, dim), queries, k))
      }
      fixtures.foreach { case (fixture, mkCorpus) =>
        points.foreach { n =>
          // signBucket reads one coordinate per plane, so planes is
          // HARD-capped at the corpus dim (16 here): past ~268M rows
          // the log2 sizing would exceed it, and under ANSI mode
          // (Spark 4 default — this session) element_at(dim+1) THROWS
          // INVALID_ARRAY_INDEX, killing the sweep at that point
          // (ScaleSweepFixtureSpec pins the throw; the NULL-and-
          // silently-empty-buckets failure is the legacy non-ANSI
          // mode only). At the cap, expected bucket occupancy grows
          // past 4096 with n — the honest behavior for a fixed-dim
          // corpus.
          val planes = math.min(dim, math.max(4,
            math.ceil(math.log(n / 4096.0) / math.log(2)).toInt))
          val nlist = math.max(16, math.round(math.sqrt(n.toDouble) / 16).toInt)
          val corpus = mkCorpus(n)
          val queries = queriesFor(fixture, n)
          val (bruteSec, exact) =
            timedIds(Similarity.bruteForceTopKHeap(corpus, queries, k))
          val (lshSec, lsh) =
            timedIds(Similarity.bucketedTopK(corpus, queries, k, planes))
          val (mpSec, mp) = timedIds(
            Similarity.bucketedTopK(corpus, queries, k, planes, multiProbe = true))
          // capped twin at the design occupancy (4096): on the
          // clustered fixture data-dependent buckets concentrate and
          // the uncapped wall rides cluster size — the cap restores
          // the bound at a measured recall price (lowest-id keeps are
          // honestly arbitrary)
          val (capSec, capIds) = timedIds(Similarity.bucketedTopK(
            corpus, queries, k, planes, maxBucketCandidates = Some(4096)))
          // per-bucket occupancy of the UNCAPPED assignment (r13
          // verdict #3: the clustered-skew claim — "candidate sets
          // ride cluster size" — carried as max/p99 numbers per point;
          // q_lsh_occupancy is the same audit in the oracle catalog)
          val occRow = Similarity.lshBucketTable(corpus, planes)
            .groupBy(col("bucket")).agg(count(lit(1)).as("nb"))
            .agg(max(col("nb")).as("mx"),
              expr("CAST(percentile(nb, 0.99) AS BIGINT)").as("p99"))
            .collect()(0)
          val (occMax, occP99) = (occRow.getLong(0), occRow.getLong(1))
          graft.core.CacheScope.releaseStragglers(spark)
          // the capped table MATERIALIZED once and probed against — the
          // r13 negative result's true domain (the inline capped column
          // above pays the corpus-wide bucket sort per search; this one
          // pays it once and every probe batch inherits the
          // Σ min(|bucket|, cap) fan-out bound). lshidx_recall must
          // equal lshcap_recall — same result set by the delegation
          // LshIndexSpec pins — so the pair is its own receipt.
          val tIdx0 = System.nanoTime()
          val lshIdx = Similarity.lshBucketTable(corpus, planes, Some(4096))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          lshIdx.write.format("noop").mode("overwrite").save()
          val lshIdxBuildSec = (System.nanoTime() - tIdx0) / 1e9
          val (lshIdxProbeSec, lshIdxIds) =
            collectIds(Similarity.lshProbe(lshIdx, queries, k, planes))
          graft.core.CacheScope.releaseStragglers(spark)
          val (buildSec, assignSec, probe) = ivfSplit(corpus, nlist)
          val (probeSec, ivf) = collectIds(probe(queries))
          graft.core.CacheScope.releaseStragglers(spark)
          val (tTrainSec, tAssignSec, tProbe) = ivfSplit(corpus, nlist, trained = true)
          val (tProbeSec, tIvf) = collectIds(tProbe(queries))
          graft.core.CacheScope.releaseStragglers(spark)
          // IVF-PQ (r14): the compressed-index tier — coarse argmax +
          // PQ encode fused into ONE zero-shuffle build projection,
          // probes scan ~nprobe/nlist of the CODE rows (m ints/vector,
          // never the raw vectors) through the per-query integer LUT.
          // Codebook 64 rank-select codewords over m=4 subspaces of the
          // 16-dim fixture; recall is the lossy-scorer price the column
          // exists to show next to ivf_recall's exact-scorer number.
          val pqM = 4
          val pqNC = 64
          val tpq0 = System.nanoTime()
          val pqCoarse = Similarity.ivfCentroids(corpus, nlist).persist()
          pqCoarse.count()
          val (pqIndex0, pqCb0, pqLists) =
            Similarity.ivfPqBuild(corpus, pqCoarse, m = pqM, nCent = pqNC)
          val pqCb = pqCb0.persist()
          pqCb.count()
          val pqIndex = pqIndex0.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pqIndex.write.format("noop").mode("overwrite").save()
          val ivfpqBuildSec = (System.nanoTime() - tpq0) / 1e9
          val (ivfpqProbeSec, pqIds) = collectIds(
            Similarity.ivfPqProbe(pqIndex, pqLists, pqCb, queries,
                k, nprobe = 2, m = pqM)
              .select(col("query_id"), col("neighbor_id").as("cand_id")))
          pqIndex.unpersist(); pqCb.unpersist()
          graft.core.CacheScope.releaseStragglers(spark)
          // trained-codebook twin (the ivft discipline applied to PQ):
          // rank-select codewords are blind to layout — on the
          // clustered fixture the nCent lowest-id vectors cover only
          // the low-id clusters and ADC recall collapses; one sampled
          // per-subspace Lloyd pass is the fix, and its cost is the
          // train column, decoupled from corpus size by sampleMod.
          val tcb0 = System.nanoTime()
          val tCb = Similarity.pqKmeansCodebook(corpus, m = pqM,
            nCent = pqNC, sampleMod = 64, hashSample = true).persist()
          tCb.count()
          val ivfpqtTrainSec = (System.nanoTime() - tcb0) / 1e9
          val tib0 = System.nanoTime()
          val (tIndex0, _, tLists) = Similarity.ivfPqBuild(corpus, pqCoarse,
            m = pqM, nCent = pqNC, codebook = Some(tCb))
          val tIndex = tIndex0.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          tIndex.write.format("noop").mode("overwrite").save()
          val ivfpqtBuildSec = (System.nanoTime() - tib0) / 1e9
          val (ivfpqtProbeSec, tPqIds) = collectIds(
            Similarity.ivfPqProbe(tIndex, tLists, tCb, queries, k,
                nprobe = 2, m = pqM)
              .select(col("query_id"), col("neighbor_id").as("cand_id")))
          tIndex.unpersist(); tCb.unpersist()
          graft.core.CacheScope.releaseStragglers(spark)
          // residual twin — the faithful IVFADC (codes quantize
          // x − coarse_centroid): the shared-codebook columns above
          // are the measured failure (same-cluster vectors collapse to
          // identical codes; recall ~k/|cluster| on the clustered
          // fixture); residuals live at within-list scale, where the
          // discrimination is needed. Config from the r14 controlled
          // study (SCALE.md §Round-14): m=8 subspaces × 256 codewords
          // (8 bytes/vector — the production compression point), and a
          // PRIME sampleMod — a power-of-2 stride aliases with the
          // fixture's power-of-2 cluster arithmetic and the training
          // sample covers a sliver of the clusters (measured: 0.67 at
          // sampleMod=16 vs 0.81 at 7, same config otherwise).
          val rb0 = System.nanoTime()
          val (rIndex0, rCb, rLists) = Similarity.ivfPqResidualBuild(
            corpus, pqCoarse, m = 8, nCent = 256,
            trained = true, sampleMod = 61, hashSample = true)
          val rCbP = rCb.persist(); rCbP.count()
          val rListsP = rLists.persist(); rListsP.count()
          val rIndex = rIndex0.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          rIndex.write.format("noop").mode("overwrite").save()
          val ivfpqrBuildSec = (System.nanoTime() - rb0) / 1e9
          val (ivfpqrProbeSec, rPqIds) = collectIds(
            Similarity.ivfPqProbe(rIndex, rListsP, rCbP,
                queries, k, nprobe = 2, m = 8)
              .select(col("query_id"), col("neighbor_id").as("cand_id")))
          rIndex.unpersist()
          rCbP.unpersist(); rListsP.unpersist()
          graft.core.CacheScope.releaseStragglers(spark)
          // per-list ("local") codebook twin — the capacity fix the
          // shared-residual column measures the need for: residual
          // modes ≈ one per (cluster, list) offset, and once modes
          // outnumber the 256 shared codewords within-mode resolution
          // is zero (clustered 1M: 0.058). Per-list codebooks divide
          // the mode space by nlist. Same m=8×256 code width — the
          // columns differ ONLY in codebook locality.
          val lb0 = System.nanoTime()
          val (lIndex0, lCb, lLists) = Similarity.ivfPqLocalBuild(
            corpus, pqCoarse, m = 8, nCent = 256,
            trained = true, sampleMod = 61, hashSample = true)
          val lCbP = lCb.persist(); lCbP.count()
          val lListsP = lLists.persist(); lListsP.count()
          val lIndex = lIndex0.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          lIndex.write.format("noop").mode("overwrite").save()
          val ivfpqlBuildSec = (System.nanoTime() - lb0) / 1e9
          val (ivfpqlProbeSec, lPqIds) = collectIds(
            Similarity.ivfPqProbe(lIndex, lListsP, lCbP,
                queries, k, nprobe = 2, m = 8)
              .select(col("query_id"), col("neighbor_id").as("cand_id")))
          pqCoarse.unpersist(); lIndex.unpersist()
          lCbP.unpersist(); lListsP.unpersist()
          graft.core.CacheScope.releaseStragglers(spark)
          println(s"""{"metric":"simsearch_sweep","fixture":"$fixture","corpus":$n,"k":$k,"brute_sec":${r3(bruteSec)},"planes":$planes,"lsh_sec":${r3(lshSec)},"lsh_recall":${recall(lsh, exact)},"lshmp_sec":${r3(mpSec)},"lshmp_recall":${recall(mp, exact)},"lshcap_sec":${r3(capSec)},"lshcap_recall":${recall(capIds, exact)},"occ_max":$occMax,"occ_p99":$occP99,"lshidx_build_sec":${r3(lshIdxBuildSec)},"lshidx_probe_sec":${r3(lshIdxProbeSec)},"lshidx_recall":${recall(lshIdxIds, exact)},"nlist":$nlist,"ivf_train_sec":${r3(buildSec)},"ivf_assign_sec":${r3(assignSec)},"ivf_build_sec":${r3(buildSec + assignSec)},"ivf_probe_sec":${r3(probeSec)},"ivf_sec":${r3(buildSec + assignSec + probeSec)},"ivf_recall":${recall(ivf, exact)},"ivft_train_sec":${r3(tTrainSec)},"ivft_assign_sec":${r3(tAssignSec)},"ivft_build_sec":${r3(tTrainSec + tAssignSec)},"ivft_probe_sec":${r3(tProbeSec)},"ivft_recall":${recall(tIvf, exact)},"ivfpq_build_sec":${r3(ivfpqBuildSec)},"ivfpq_probe_sec":${r3(ivfpqProbeSec)},"ivfpq_recall":${recall(pqIds, exact)},"ivfpqt_train_sec":${r3(ivfpqtTrainSec)},"ivfpqt_build_sec":${r3(ivfpqtBuildSec)},"ivfpqt_probe_sec":${r3(ivfpqtProbeSec)},"ivfpqt_recall":${recall(tPqIds, exact)},"ivfpqr_build_sec":${r3(ivfpqrBuildSec)},"ivfpqr_probe_sec":${r3(ivfpqrProbeSec)},"ivfpqr_recall":${recall(rPqIds, exact)},"ivfpql_build_sec":${r3(ivfpqlBuildSec)},"ivfpql_probe_sec":${r3(ivfpqlProbeSec)},"ivfpql_recall":${recall(lPqIds, exact)}}""")
        }
      }
    } else if (mode == "pqdim") {
      // PQ economics at PRODUCTION dims (r14 verdict #3): the r14 table
      // measured the compressed tier at dim 16 only — where the ADC
      // probe does NOT beat IVF-flat on wall — and stated the tier's
      // 100 TB value (memory ratio, wall inversion at real embedding
      // widths) as design analysis. This sweep makes both numbers:
      // same clustered geometry and production code point (residual
      // IVFADC, m=8 × 256 codewords = 8 B/vector, hash-sampled
      // prime-mod Lloyd training) at dim 16 / 64 / 128 over a fixed
      // corpus, so vector width is the only variable. Columns:
      // IVF-flat probe wall (scans raw dim-wide vectors —
      // ~nprobe·N/nlist cosine folds of length dim) vs ADC probe wall
      // (scans the SAME row count of 8-byte code rows through integer
      // LUTs — dim enters only the per-query LUT build), plus the
      // PERSISTED parquet bytes/vector of the raw corpus vs the packed
      // code index: the at-rest memory claim, measured not asserted.
      import graft.operators.Similarity
      val k = 10
      // SPARK_GRAFT_PQDIM_DIMS="128" runs a single width — the big-N
      // kernel-dominant points are priced one dim at a time
      val dims = sys.env.get("SPARK_GRAFT_PQDIM_DIMS")
        .map(_.split(",").toSeq.map(_.trim.toInt))
        .getOrElse(Seq(16, 64, 128))
      def dirBytes(p: String): Long = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum
        finally s.close()
      }
      def onePoint(n: Long, dim: Int, report: Boolean): Unit = {
        val centers = math.min(65536L, math.max(64L, n / 4096))
        val corpus = embClusteredWide(spark, n, centers, dim)
        val queries = embClusteredWide(spark, 64, centers, dim,
          idOffset = 1000000007L)
        val nlist = math.max(16, math.round(math.sqrt(n.toDouble) / 16).toInt)
        val (bruteSec, exact) =
          collectIds(Similarity.bruteForceTopKHeap(corpus, queries, k))
        graft.core.CacheScope.releaseStragglers(spark)
        val cents = Similarity.ivfCentroids(corpus, nlist).persist()
        cents.count()
        val ta0 = System.nanoTime()
        val listed = Similarity.ivfAssign(corpus, cents).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        listed.write.format("noop").mode("overwrite").save()
        val ivfBuildSec = (System.nanoTime() - ta0) / 1e9
        val (ivfProbeSec, flat) = collectIds(
          Similarity.ivfProbe(listed, cents, queries, k, nprobe = 8))
        listed.unpersist()
        graft.core.CacheScope.releaseStragglers(spark)
        val rb0 = System.nanoTime()
        val (rIndex0, rCb, rLists) = Similarity.ivfPqResidualBuild(
          corpus, cents, m = 8, nCent = 256,
          trained = true, sampleMod = 61, hashSample = true)
        val rCbP = rCb.persist(); rCbP.count()
        val rListsP = rLists.persist(); rListsP.count()
        val rIndex = rIndex0.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        rIndex.write.format("noop").mode("overwrite").save()
        val pqBuildSec = (System.nanoTime() - rb0) / 1e9
        val (pqpProbeSec, pqp) = collectIds(
          Similarity.ivfPqProbe(rIndex, rListsP, rCbP, queries, k,
              nprobe = 8, m = 8)
            .select(col("query_id"), col("neighbor_id").as("cand_id")))
        // at-rest bytes: raw vectors vs the code index
        // (cand_id, centroid_id, codes array<smallint>)
        val outDir =
          java.nio.file.Files.createTempDirectory("pqdim").toString
        corpus.write.mode("overwrite").parquet(s"$outDir/raw")
        rIndex.select(col("cand_id"), col("centroid_id"),
            expr("transform(codes, x -> CAST(x AS SMALLINT))").as("codes"))
          .write.mode("overwrite").parquet(s"$outDir/codes")
        val rawBytes = dirBytes(s"$outDir/raw")
        val codeBytes = dirBytes(s"$outDir/codes")
        rIndex.unpersist()
        rCbP.unpersist(); rListsP.unpersist()
        graft.core.CacheScope.releaseStragglers(spark)
        // WIDTH-SCALED twin: the fixed-m=8 columns hold the byte budget
        // constant (0.5 bit/dim at 128 — the recall column shows that
        // price); production practice scales m with dim to a fixed
        // ~8-dim subspace (FAISS guidance: dim/m in 4..12), paying
        // bytes for recall. mW = dim/8 → 2/8/16 B/vector at 16/64/128;
        // at dim 64 the twin coincides with m=8 and is its own receipt.
        val mW = math.max(2, dim / 8)
        val wb0 = System.nanoTime()
        val (wIndex0, wCb, wLists) = Similarity.ivfPqResidualBuild(
          corpus, cents, m = mW, nCent = 256,
          trained = true, sampleMod = 61, hashSample = true)
        val wCbP = wCb.persist(); wCbP.count()
        val wListsP = wLists.persist(); wListsP.count()
        val wIndex = wIndex0.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        wIndex.write.format("noop").mode("overwrite").save()
        val wBuildSec = (System.nanoTime() - wb0) / 1e9
        val (wpProbeSec, wpqp) = collectIds(
          Similarity.ivfPqProbe(wIndex, wListsP, wCbP, queries, k,
              nprobe = 8, m = mW)
            .select(col("query_id"), col("neighbor_id").as("cand_id")))
        wIndex.select(col("cand_id"), col("centroid_id"),
            expr("transform(codes, x -> CAST(x AS SMALLINT))").as("codes"))
          .write.mode("overwrite").parquet(s"$outDir/wcodes")
        val wCodeBytes = dirBytes(s"$outDir/wcodes")
        wIndex.unpersist()
        wCbP.unpersist(); wListsP.unpersist()
        cents.unpersist()
        graft.core.CacheScope.releaseStragglers(spark)
        if (report) println(s"""{"metric":"pqdim_sweep","fixture":"clustered","corpus":$n,"dim":$dim,"k":$k,"nlist":$nlist,"brute_sec":${r3(bruteSec)},"ivf_build_sec":${r3(ivfBuildSec)},"ivf_probe_sec":${r3(ivfProbeSec)},"ivf_recall":${recall(flat, exact)},"ivfpqr_build_sec":${r3(pqBuildSec)},"ivfpqp_probe_sec":${r3(pqpProbeSec)},"ivfpqp_recall":${recall(pqp, exact)},"ivfpqw_m":$mW,"ivfpqw_build_sec":${r3(wBuildSec)},"ivfpqwp_probe_sec":${r3(wpProbeSec)},"ivfpqwp_recall":${recall(wpqp, exact)},"raw_bytes_per_vec":${rawBytes / n},"code_bytes_per_vec":${codeBytes / n},"wcode_bytes_per_vec":${wCodeBytes / n},"raw_logical_bytes_per_vec":${dim * 8},"code_logical_bytes_per_vec":8,"wcode_logical_bytes_per_vec":$mW,"mem_ratio_measured":${r3(rawBytes.toDouble / codeBytes)}}""")
      }
      onePoint(20000L, 16, report = false) // JIT/codegen warmup
      points.foreach(n => dims.foreach(d => onePoint(n, d, report = true)))
    } else if (mode == "ccstar") {
      // Star-contraction connected components (q_er_clusters' CC core —
      // a DIFFERENT algorithm than ccinc's label propagation: O(log d)
      // star rounds with alternating conditional hooking). The chain-of-4
      // workload fixes component diameter, so the round count is constant
      // and the curve prices per-round shuffle volume — same reading rule
      // as ccinc, but over the star operator's hook/contract joins.
      import graft.operators.Dedup
      locally {
        val (wa, wb) = ccEdges(spark, 10000)
        Dedup.connectedComponentsStar(wa.union(wb), "doc_id")
          .write.format("noop").mode("overwrite").save() // warmup
        graft.core.CacheScope.releaseStragglers(spark)
      }
      points.foreach { n =>
        val (a, b) = ccEdges(spark, n)
        val t0 = System.nanoTime()
        Dedup.connectedComponentsStar(a.union(b), "doc_id")
          .write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        graft.core.CacheScope.releaseStragglers(spark)
        println(s"""{"metric":"ccstar_sweep","nodes":$n,"wall_sec":${math.round(secs * 1000) / 1000.0},"nodes_per_sec":${(n / secs).round}}""")
      }
    } else if (mode == "ccinc") {
      // Incremental connected components (the second suspect: iterated
      // label propagation). Component diameter is FIXED by the
      // workload, so rounds are constant and the curve prices per-round
      // shuffle volume — label propagation is Θ(|edges|) per round,
      // and the measured multiplier must track the edge count.
      import graft.operators.Dedup
      locally {
        val (wa, wb) = ccEdges(spark, 10000)
        Dedup.incrementalComponents(
            Dedup.connectedComponents(wa, "doc_id"), wb, "doc_id")
          .write.format("noop").mode("overwrite").save() // warmup
        graft.core.CacheScope.releaseStragglers(spark)
      }
      points.foreach { n =>
        val (a, b) = ccEdges(spark, n)
        val t0 = System.nanoTime()
        Dedup.incrementalComponents(
            Dedup.connectedComponents(a, "doc_id"), b, "doc_id")
          .write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        graft.core.CacheScope.releaseStragglers(spark)
        println(s"""{"metric":"ccinc_sweep","nodes":$n,"wall_sec":${math.round(secs * 1000) / 1000.0},"nodes_per_sec":${(n / secs).round}}""")
      }
    } else {
      // one warmup so point 1 isn't charged for JVM/codegen startup
      monitorOverGen(spark, 10000, 20)
        .write.format("noop").mode("overwrite").save()
      points.foreach { rows =>
        val servers = math.max(20L, rows / 2880) // fixed windows per key
        val t0 = System.nanoTime()
        monitorOverGen(spark, rows, servers)
          .write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        println(s"""{"metric":"monitor_pipeline_sweep","rows":$rows,"servers":$servers,"wall_sec":${math.round(secs * 1000) / 1000.0},"rows_per_sec":${(rows / secs).round}}""")
      }
    }
    spark.stop()
  }
}
