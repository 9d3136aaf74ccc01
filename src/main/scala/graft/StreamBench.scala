package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryProgress}
import graft.core.{PipelineConfig, StageMetrics}
import graft.operators.{Profiling, RefOps}
import graft.streaming.StreamingPipeline

/** Streaming-throughput main: replays the reference's full workload
  * shape (28,800 dataset rows → ×4 topic fan-out = 115,200 wire
  * messages, `producer/producer.py:74-77` scale) through the streaming
  * pipeline — producer wire → demux/decode → watermarked windowed
  * alerts — and prints one JSON line with end-to-end rows/sec.
  *
  * Usage: `runMain graft.StreamBench [rows] [mode] [maxFilesPerTrigger]`
  * with mode one of [[modes]] (default "join"); an unknown mode fails
  * before the session starts.
  *
  * The reference computed (but never published) its producer
  * records/sec; this is the comparable single-node number for the
  * rebuilt engine.
  */
object StreamBench {

  /** Every topology [[main]] can run (each branch there says what it
    * prices).
    */
  private val modes: Seq[String] = Seq("join", "pivot", "interval", "bloom",
    "logit", "drift", "funnel", "lsh", "dedup", "tws", "kmv",
    "heavyhitter", "asof", "debounce", "interp", "session", "twssession",
    "latency", "ann", "annsharded")

  /** Synthesize the reference-shaped metrics day as CSV under
    * `dir/in` and return the fleet size used. 5s cadence per server,
    * times of day from 00:00:00 — and the FLEET grows with volume
    * (servers = max(20, ⌈rows·5/86400⌉)) so the day never wraps:
    * the wire format carries time-of-day only (reference parity), and
    * a fixed fleet would overflow 24h past 345,600 rows, wrapping
    * event time non-monotonically and silently capping window state
    * at one day's worth — which is exactly the state-volume dimension
    * the throughput measurement is supposed to scale. Growing the key
    * space instead matches how the reference workload itself scales
    * (bigger fleet, same day).
    */
  def writeSyntheticDay(spark: SparkSession, dir: String, rows: Int): Int = {
    val servers = math.max(20, math.ceil(rows * 5.0 / 86400).toInt)
    spark.range(rows)
      .select(
        date_format(timestamp_seconds((col("id") / servers).cast("long") * 5),
          "HH:mm:ss").as("ts"),
        concat(lit("server_"), (col("id") % servers + 1)).as("server_id"),
        (pmod(col("id") * 37, lit(10000)) / 100).as("cpu_pct"),
        (pmod(col("id") * 53, lit(10000)) / 100).as("mem_pct"),
        (pmod(col("id") * 71, lit(2000000)) / 100).as("net_in"),
        (pmod(col("id") * 13, lit(2000000)) / 100).as("net_out"),
        (pmod(col("id") * 29, lit(1000000)) / 100).as("disk_io"))
      .repartition(8)
      .write.option("header", "true").csv(s"$dir/in")
    servers
  }

  /** The single-source pivot topology over a streaming `dataset` —
    * the recommended one, and Bench's stream headline: producer wire →
    * single-scan fan-in demux of the cpu and mem families → job1's
    * conditional-aggregate windowed alerts. The union-of-landedTable
    * form re-scans the source once PER family (measured 1.25× slower
    * end-to-end; SCALE.md §Streaming).
    */
  def pivotAlerts(dataset: DataFrame): DataFrame = {
    val cfg = PipelineConfig.default
    val landed = StreamingPipeline.landedFamilies(
        StreamingPipeline.producerWire(dataset),
        Seq(cfg.cpuTopic -> "cpu", cfg.memTopic -> "mem"))
      .withColumn("ts", RefOps.anchorTimeOfDay(col("ts")))
    StreamingPipeline.streamingJob1SingleSource(landed)
  }

  /** The measured sink: `ds` to noop under `checkpoint`. */
  private[graft] def noopSink[T](ds: Dataset[T], checkpoint: String,
      outputMode: String = "append"): DataStreamWriter[T] =
    ds.writeStream.format("noop").outputMode(outputMode)
      .option("checkpointLocation", checkpoint)

  /** Each trigger phase's durationMs summed over `progress`. Only
    * addBatch is the data path; the rest is fixed or coordination cost,
    * so a run's slow phase is named by whichever of these grew.
    */
  private[graft] def phaseTotals(
      progress: Array[StreamingQueryProgress]): Map[String, Long] =
    progress.toSeq.flatMap(_.durationMs.asScala)
      .groupMapReduce(_._1)(_._2.longValue)(_ + _)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val rows = args.headOption.map(_.toInt).getOrElse(28800)
    val mode = if (args.length > 1) args(1) else "join"
    require(modes.contains(mode),
      s"unknown StreamBench mode '$mode'; valid modes: ${modes.mkString(", ")}")
    val filesPerTrigger = if (args.length > 2) args(2) else "0"
    // knob rationale: core/GraftSession.scala (shared with Bench/Verify)
    val spark = graft.core.GraftSession.local(cpus, "graft-streambench")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = Files.createTempDirectory("streambench").toString
    val ckpt = s"$dir/ckpt"
    def source(schema: String, path: String = s"$dir/in"): DataFrame = {
      val r = spark.readStream.schema(schema).option("header", "true")
      if (filesPerTrigger != "0") r.option("maxFilesPerTrigger", filesPerTrigger)
      r.csv(path)
    }
    // user-journey events for the funnel/latency modes: ~100 events/user,
    // monotonic event time, 5 types. The type index mixes the user's
    // sequence number (id div users) with the raw id: with id = u +
    // k·users the index is (k·(users+1) + u) mod 5, which cycles through
    // all 5 types WITHIN each user's sequence even when `users` is a
    // multiple of 5 — the naive pmod(id·7, 5) is constant per user there
    // (one event type each, near-zero stage transitions: a degenerate
    // funnel workload)
    def writeJourneyEvents(users: Int): Unit =
      spark.range(rows)
        .select((col("id") % users).as("user_id"),
          element_at(
            array(lit("view"), lit("click"), lit("purchase"),
              lit("error"), lit("signup")),
            (pmod(floor(col("id") / users) + col("id"), lit(5)) + 1)
              .cast("int")).as("event_type"),
          col("id").cast("long").as("tu"))
        .repartition(8).write.option("header", "true").csv(s"$dir/in")
    def journeyReader() = source("user_id LONG, event_type STRING, tu LONG")
    // 10s cadence + ±jitter inside the 30s watermark window, shared by
    // every journey-event-time mode (asof/session/interp/debounce) —
    // one definition so a jitter change can't silently make one mode's
    // rows late
    def jitterTs(c: org.apache.spark.sql.Column, users: Long, m: Int) =
      timestamp_seconds(floor(c / users) * 10 + pmod(c * m, lit(25)))
    // synthetic document text for the bloom mode: 8 deterministic
    // pseudo-words from co-prime residues — unique per k, repeatable
    def docText(k: org.apache.spark.sql.Column) =
      concat_ws(" ", lit("lorem"), pmod(k * 7, lit(997)), lit("ipsum"),
        pmod(k * 13, lit(991)), lit("dolor"), pmod(k * 29, lit(983)),
        lit("sit"), pmod(k * 37, lit(977)))

    // Every branch GENERATES its input before taking t0, inside the
    // measured listener window; markStart() takes the wall-clock mark at
    // the same instant as t0. Generation writes are blocking actions
    // completed before the mark, so their stages are all SUBMITTED
    // before it and `totals(wallMark)` prices the streaming run alone.
    var wallMark = Long.MaxValue
    def markStart(): Long = {
      wallMark = System.currentTimeMillis
      System.nanoTime()
    }

    // (started query, keys, wire messages, t0) for the chosen mode
    def startRun(): (StreamingQuery, Int, Long, Long) = mode match {
      case "bloom" =>
        // stateless screen topology: stream-static bloom probes + the
        // exact-verify join, zero state store. Stream ids map onto
        // 2×|corpus| distinct texts → ~50% true-dup rate, so both the
        // definitely-new fast path and the exact-verify path are hot.
        val corpusN = math.max(1000, rows / 10)
        spark.range(rows)
          .select(col("id").as("doc_id"),
            docText(pmod(col("id") * 31, lit(corpusN * 2L))).as("text"))
          .repartition(8).write.option("header", "true").csv(s"$dir/in")
        val corpus = spark.range(corpusN)
          .select(col("id").as("doc_id"), docText(col("id")).as("text"))
        val t0 = markStart()
        val q = noopSink(graft.operators.Dedup.bloomScreenStream(
            source("doc_id LONG, text STRING"), corpus, "text", "doc_id",
            mBits = 1 << 16), ckpt).start()
        (q, corpusN, rows.toLong, t0)
      case "logit" =>
        // inline model-inference screen: the hashing-trick quality
        // classifier as a pure streaming projection — no state store,
        // no stream-static join; measures the per-row inference cost
        // (token split + native RollingHash per token + integer fold)
        // riding the ingest path.
        spark.range(rows)
          .select(col("id").as("doc_id"), docText(col("id")).as("text"))
          .repartition(8).write.option("header", "true").csv(s"$dir/in")
        val t0 = markStart()
        val q = noopSink(graft.operators.TextAnalysis.hashedLinearScore(
            source("doc_id LONG, text STRING"), "text", "doc_id"), ckpt)
          .start()
        (q, rows, rows.toLong, t0)
      case "drift" =>
        // distribution-drift monitor topology: ONE windowed stateful
        // aggregation emitting the whole bin vector, then a stateless
        // broadcast join against the static full-day baseline — the
        // "is the live feed still yesterday's distribution?" alarm.
        // Value = floor(cpu_pct·100) (exact integral quantization).
        val servers = writeSyntheticDay(spark, dir, rows)
        val base = Profiling.histogramBaseline(
          spark.read.schema(graft.core.Schemas.dataset).option("header", "true")
            .csv(s"$dir/in")
            .select(col("server_id"),
              floor(col("cpu_pct") * 100).cast("long").as("qv")),
          "server_id", "qv", binWidth = 1000L, maxBin = 9)
        val t0 = markStart()
        val ev = source(graft.core.Schemas.dataset.toDDL)
          .select(RefOps.anchorTimeOfDay(col("ts")).as("ts"),
            col("server_id"),
            floor(col("cpu_pct") * 100).cast("long").as("qv"))
        val q = noopSink(Profiling.histogramDriftStream(ev, base,
            groupCol = "server_id", tsCol = "ts", valueCol = "qv",
            binWidth = 1000L, maxBin = 9,
            windowDur = "60 seconds", watermarkDur = "120 seconds"), ckpt)
          .start()
        (q, servers, rows.toLong, t0)
      case "funnel" =>
        // the flatMapGroupsWithState path (per-key O(1) state, no
        // windowed aggregation, no wire demux)
        val users = math.max(1000, rows / 100)
        writeJourneyEvents(users)
        val t0 = markStart()
        val ds = journeyReader().as[graft.operators.Behavior.FunnelEvent]
        val q = noopSink(graft.operators.Behavior
          .funnelStream(ds, Seq("view", "click", "purchase")), ckpt).start()
        (q, users, rows.toLong, t0)
      case "lsh" =>
        // near-dup screen topology: stream-static LSH signature joins
        // against a static ingested corpus (the q_dedup_incremental
        // shape per trigger). Same 2×|corpus| id mapping as bloom mode:
        // ~50% of streamed docs are true dups, so the collide+verify
        // path is hot, not just the no-collision fast path.
        val corpusN = math.max(1000, rows / 10)
        spark.range(rows)
          .select(col("id").as("doc_id"),
            docText(pmod(col("id") * 31, lit(corpusN * 2L))).as("text"))
          .repartition(8).write.option("header", "true").csv(s"$dir/in")
        val corpus = spark.range(corpusN)
          .select(col("id").as("doc_id"), docText(col("id")).as("text"))
        val t0 = markStart()
        val q = noopSink(graft.operators.Dedup.lshScreenStream(
            source("doc_id LONG, text STRING"), corpus, "text", "doc_id"),
          ckpt).start()
        (q, corpusN, rows.toLong, t0)
      case "dedup" =>
        // at-least-once repair topology: dropDuplicatesWithinWatermark
        // keyed by message id — the T1 effectively-once screen at
        // volume, state = ids within the watermark horizon. Every
        // logical message arrives exactly twice (id mod rows/2), so the
        // both-paths cost is measured: first-seen insert AND duplicate
        // hit, 50/50.
        val distinctMsgs = math.max(1000, rows / 2)
        spark.range(rows)
          .select((col("id") % distinctMsgs).as("msg_id"),
            timestamp_seconds(floor((col("id") % distinctMsgs) / 100))
              .as("ts"))
          .repartition(8).write.option("header", "true").csv(s"$dir/in")
        val t0 = markStart()
        val q = noopSink(source("msg_id LONG, ts TIMESTAMP")
          .withWatermark("ts", "30 seconds")
          .dropDuplicatesWithinWatermark("msg_id"), ckpt).start()
        (q, distinctMsgs, rows.toLong, t0)
      case "tws" =>
        // transformWithState TTL first-seen screen on ROCKSDB state
        // (TwsOps.ttlDedup): the "dedup" workload (every message
        // arrives twice) through the state API v2 — seen-set is one
        // long per distinct key in RocksDB, disk-bounded rather than
        // heap-bounded. ProcessingTime mode makes the query a
        // perpetual service, so the drain below POLLS progress until
        // the input is consumed instead of processAllAvailable.
        val distinctMsgs = math.max(1000, rows / 2)
        spark.range(rows)
          .select((col("id") % distinctMsgs).cast("string").as("msg_id"),
            col("id").cast("string").as("payload"))
          .repartition(8).write.option("header", "true").csv(s"$dir/in")
        graft.streaming.TwsOps.useRocksDb(spark)
        val t0 = markStart()
        val q = noopSink(graft.streaming.TwsOps.ttlDedup(
            source("msg_id STRING, payload STRING"),
            "msg_id", "payload", java.time.Duration.ofHours(1)), ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
          .start()
        (q, distinctMsgs, rows.toLong, t0)
      case "kmv" =>
        // streaming distinct-sketch topology: per-group KMV bottom-k
        // (Sketches.kmvDistinct, complete mode) — running distinct
        // state is O(k) longs per group no matter how many rows
        // stream through; ~50% of rows are duplicates (id mod rows/2)
        // so both insert and absorb paths are measured.
        val distinctVals = math.max(1000, rows / 2)
        val groups = 16
        spark.range(rows)
          .select((col("id") % groups).as("g"),
            (col("id") % distinctVals).as("v"))
          .repartition(8).write.option("header", "true").csv(s"$dir/in")
        val t0 = markStart()
        val q = noopSink(graft.operators.Sketches.kmvDistinct(
            source("g LONG, v LONG"), "g", xxhash64(col("v")), k = 1024),
          ckpt, "complete").start()
        (q, groups, rows.toLong, t0)
      case "heavyhitter" =>
        // SpaceSaving heavy-hitter screen (TwsOps.spaceSavingTws) on
        // RocksDB MapState: k = 32 counters per key over a skewed item
        // mix (a third of rows hit 4 hot items, the rest spread over
        // rows/4 fillers) so the increment, fill AND evict paths all
        // carry real mass. TimeMode.None quiesces, so the standard
        // processAllAvailable drain applies.
        val groups = 16
        val fillers = math.max(1000, rows / 4)
        spark.range(rows)
          .select((col("id") % groups).cast("string").as("key"),
            col("id").as("t"),
            when(col("id") % 3 === 0,
              concat(lit("hot"), (col("id") % 4).cast("string")))
              .otherwise(concat(lit("f"),
                (col("id") % fillers).cast("string"))).as("item"))
          .repartition(8).write.option("header", "true").csv(s"$dir/in")
        graft.streaming.TwsOps.useRocksDb(spark)
        val t0 = markStart()
        val q = noopSink(graft.streaming.TwsOps.spaceSavingTws(
            source("key STRING, t LONG, item STRING"), "key", "t", "item",
            k = 32), ckpt).start()
        (q, groups, rows.toLong, t0)
      case "asof" =>
        // streaming as-of enrichment (TwsOps.asOfTws on RocksDB):
        // probes = the journey-event stream; states = a 10x-sparser
        // config-update stream over the same users and time span.
        // Prices the two-ListState + timer-registry point-in-time
        // topology: per-key state is pending probes (bounded by the
        // 30s watermark delay) + compacted states.
        val users = math.max(1000, rows / 100)
        writeJourneyEvents(users)
        spark.range(rows / 10)
          .select((col("id") % users).as("user_id"),
            (col("id") * 10).cast("long").as("tu"))
          .repartition(4).write.option("header", "true").csv(s"$dir/in2")
        graft.streaming.TwsOps.useRocksDb(spark)
        val t0 = markStart()
        val probes = journeyReader().select(col("user_id"),
          jitterTs(col("tu"), users, 7).as("ts"), col("tu").cast("double").as("v"))
        val states = source("user_id LONG, tu LONG", s"$dir/in2")
          .select(col("user_id"), jitterTs(col("tu"), users, 11).as("ts"),
            col("tu").cast("double").as("v"))
        val q = noopSink(graft.streaming.TwsOps.asOfTws(probes, states,
            "user_id", "ts", "v", "v", "30 seconds"), ckpt).start()
        (q, users, rows.toLong + rows / 10, t0)
      case "debounce" =>
        // streaming alert rate-limiting (TwsOps.debounceTws on
        // RocksDB): per-user keep-anchor suppression at a 15s cooldown
        // over the jittered 10s-cadence journey stream — prices the
        // pending-list + single-anchor topology under heavy drop rates.
        val users = math.max(1000, rows / 100)
        writeJourneyEvents(users)
        graft.streaming.TwsOps.useRocksDb(spark)
        val t0 = markStart()
        val obs = journeyReader().select(col("user_id"),
          jitterTs(col("tu"), users, 7).as("ts"), col("tu").as("tie"))
        val q = noopSink(graft.streaming.TwsOps.debounceTws(obs, "user_id",
            "ts", "tie", cooldownUs = 15000000L, watermark = "30 seconds"),
          ckpt).start()
        (q, users, rows.toLong, t0)
      case "interp" =>
        // streaming gap-repair (TwsOps.interpTws on RocksDB): per-user
        // irregular observations resampled onto a 10s grid with linear
        // interpolation as buckets close. Prices the pending-list +
        // single-anchor-carry topology — state is bounded by arrival
        // rate × the 30s watermark delay plus one anchor per key.
        val users = math.max(1000, rows / 100)
        writeJourneyEvents(users)
        graft.streaming.TwsOps.useRocksDb(spark)
        val t0 = markStart()
        val obs = journeyReader().select(col("user_id"),
          jitterTs(col("tu"), users, 7).as("ts"),
          col("tu").as("tie"), pmod(col("tu"), lit(1000)).cast("double").as("v"))
        val q = noopSink(graft.streaming.TwsOps.interpTws(obs, "user_id",
            "ts", "tie", "v", bucketSeconds = 10L, watermark = "30 seconds"),
          ckpt).start()
        (q, users, rows.toLong, t0)
      case "session" =>
        // gap-session topology: the BUILT-IN session_window state path —
        // merge-on-update session state per user, append once the
        // watermark passes a session's close. Event times jitter ±24s on
        // a 10s cadence so consecutive per-user events land on both
        // sides of the 15s gap: sessions genuinely merge AND split
        // (uniform spacing would degenerate to all-one-session or
        // all-singletons).
        val users = math.max(1000, rows / 100)
        writeJourneyEvents(users)
        val t0 = markStart()
        val ev = journeyReader()
          .select(col("user_id"), jitterTs(col("tu"), users, 7).as("ts"),
            col("event_type"))
        val q = noopSink(graft.operators.Sessionize.sessionsStream(ev,
            "user_id", "ts", "15 seconds", "30 seconds",
            Seq(count(lit(1)).as("n_events"))), ckpt).start()
        (q, users, rows.toLong, t0)
      case "twssession" =>
        // the SAME gap-session workload as "session", but through the
        // transformWithState sessionizer on RocksDB state (explicit
        // timer registry, one SessState per active key) instead of the
        // built-in session_window's merge-on-update windowed state —
        // the head-to-head that prices the state-API-v2 + RocksDB path
        val users = math.max(1000, rows / 100)
        writeJourneyEvents(users)
        graft.streaming.TwsOps.useRocksDb(spark)
        val t0 = markStart()
        val ev = journeyReader()
          .select(col("user_id"), jitterTs(col("tu"), users, 7).as("ts"))
        val q = noopSink(graft.streaming.TwsOps.sessionsTws(ev, "user_id",
            "ts", gapUs = 15L * 1000000, watermark = "30 seconds"), ckpt)
          .start()
        (q, users, rows.toLong, t0)
      case "latency" =>
        // conversion-latency topology: TWO chained stateful operators —
        // conversionsStream (per-user journey state) feeding windowed
        // exact-percentile aggregation on completion time. tu is scaled
        // ×1000 on read so the journey day spans ~288s of event time →
        // ~29 ten-second windows at the published volume (state: O(users)
        // journey rows + O(conversions per open window) latencies)
        val users = math.max(1000, rows / 100)
        writeJourneyEvents(users)
        val t0 = markStart()
        val ds = journeyReader()
          .withColumn("tu", col("tu") * 1000)
          .as[graft.operators.Behavior.FunnelEvent]
        val q = noopSink(graft.operators.Behavior.conversionLatencyStream(
            graft.operators.Behavior.conversionsStream(
              ds, Seq("view", "click", "purchase")),
            windowSec = 10), ckpt).start()
        (q, users, rows.toLong, t0)
      case "ann" | "annsharded" =>
        // streaming ANN probe topology (E3's streaming twin): a stream
        // of query vectors probes a PERSISTED IVF index — built ONCE
        // before t0 (ivfCentroids + ivfAssign + ivfListGroups,
        // materialized into the cache; the amortization posture: the
        // build is excluded from the run the way a production index
        // build is excluded from serving cost). The probe itself is
        // entirely STATELESS (per-query top-k computed in-row — see
        // Similarity.ivfProbeStream; AnnStreamSpec pins stream ≡ batch
        // ivfProbe), so the measured number is pure per-row probe
        // work: ~nprobe·N/nlist cosine folds per query. Corpus = the
        // stream volume (same-order corpus and query batch); the query
        // stream carries only vec_ids on the wire — the embedding is
        // recomputed from the SAME deterministic generator on read, so
        // the per-row decode cost rides the measurement honestly.
        // SPARK_GRAFT_ANN_CORPUS decouples index size from stream
        // volume (default: same-order), and SPARK_GRAFT_ANN_DIM > 16
        // switches to the embClusteredWide generator (the residue
        // fixture caps at 16) — together they reach the regime the
        // broadcast-vs-sharded claim is ABOUT: a 10M × dim-128 index
        // is ~10 GB of list arrays, past Spark's 8 GB broadcast
        // ceiling, where "ann" must hard-fail in BroadcastExchange and
        // only "annsharded" can serve the stream (SCALE.md r15).
        val corpusN = sys.env.get("SPARK_GRAFT_ANN_CORPUS").map(_.toLong)
          .getOrElse(math.max(1000L, rows.toLong))
        val annDim = sys.env.getOrElse("SPARK_GRAFT_ANN_DIM", "16").toInt
        // SPARK_GRAFT_ANN_SHARDS sizes the sharded layout per
        // ivfShardedIndex's contract: one shard's lists must fit a
        // task's hash-map budget. Default (0 = session shuffle
        // partitions) starves execution memory at the 10M × 128 point:
        // ~700 MB hash relation per task × 32 concurrent builds
        // against a ~20 GB cached index = "Can't acquire … to build
        // hash relation" (measured; SCALE.md r15). 256 shards → ~40 MB
        // maps, and the per-batch build cost amortizes identically.
        val annShards = sys.env.getOrElse("SPARK_GRAFT_ANN_SHARDS", "0").toInt
        val wideCenters = math.min(65536L, math.max(64L, corpusN / 4096))
        val nlist = math.max(16,
          math.round(math.sqrt(corpusN.toDouble) / 16).toInt)
        spark.range(rows)
          .select((col("id") + 1000000007L).as("vec_id"))
          .repartition(8).write.option("header", "true").csv(s"$dir/in")
        val corpus =
          if (annDim > 16)
            graft.ScaleSweep.embClusteredWide(spark, corpusN, wideCenters,
              annDim)
          else graft.ScaleSweep.embCorpus(spark, corpusN)
        val cents = graft.operators.Similarity.ivfCentroids(corpus, nlist)
          .persist()
        cents.count()
        // "annsharded" (r14 verdict #4): the index is materialized in
        // the ivfShardedIndex layout (hash-partitioned by centroid_id)
        // and probed WITHOUT the whole-index broadcast — each
        // micro-batch's probe joins are shuffle-hash joins over the
        // co-partitioned cache, the layout that survives corpora past
        // the broadcast ceiling. Same build amortization posture as
        // "ann" (index built + cached before t0).
        val rawGroups = graft.operators.Similarity.ivfListGroups(
          graft.operators.Similarity.ivfAssign(corpus, cents))
        val groups =
          (if (mode == "annsharded")
             graft.operators.Similarity.ivfShardedIndex(rawGroups, annShards)
           else rawGroups)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        groups.count()
        val t0 = markStart()
        val qs = source("vec_id LONG")
          .select(col("vec_id"),
            (if (annDim > 16)
               graft.ScaleSweep.embColumnWide(col("vec_id"), wideCenters,
                 annDim)
             else graft.ScaleSweep.embColumn(col("vec_id"))).as("embedding"))
        val probed =
          if (mode == "annsharded")
            graft.operators.Similarity.ivfProbeStreamSharded(groups, cents,
              qs, k = 10, nprobe = 2)
          else
            graft.operators.Similarity.ivfProbeStream(groups, cents, qs,
              k = 10, nprobe = 2)
        (noopSink(probed, ckpt).start(), nlist, rows.toLong, t0)
      case _ =>
        // "join" (the reference job1 over two landed families,
        // streamingJob1: join semantics, eager-aggregated into two
        // stateful aggregates), "pivot" (pivotAlerts: one stateful
        // aggregate, not job1's semantics on duplicate or one-sided ts)
        // and "interval" all read the reference wire, ×4 messages
        // per dataset row. Reference-shaped dataset (5s cadence; fleet
        // size scales with volume so the time-of-day wire never wraps
        // midnight).
        val servers = writeSyntheticDay(spark, dir, rows)
        val t0 = markStart()
        val dataset = source(graft.core.Schemas.dataset.toDDL)
        val cfg = PipelineConfig.default
        val wire = StreamingPipeline.producerWire(dataset)
        def family(topic: String) =
          StreamingPipeline.landedTable(wire, cfg, topic)
            .withColumn("ts", RefOps.anchorTimeOfDay(col("ts")))
        val alerts =
          if (mode == "interval") {
            // stream-stream INTERVAL join topology: cpu readings paired
            // with same-server mem readings within ±10s — the
            // time-proximity correlation two INDEPENDENT streams need
            // (exact-ts equi-join only works because the reference's one
            // producer stamps both families on the same clock). State =
            // both sides' rows within tolerance+watermark per server.
            StreamingPipeline.intervalJoin(
                family(cfg.cpuTopic).withColumnRenamed("ts", "c_ts"), "c_ts",
                family(cfg.memTopic).withColumnRenamed("ts", "m_ts"), "m_ts",
                "server_id", "10 seconds", "30 seconds")
              .select(col("server_id"), col("c_ts"), col("cpu_pct"),
                col("mem_pct"),
                (expr("unix_micros(m_ts)") - expr("unix_micros(c_ts)")).as("lag_us"))
          } else if (mode == "pivot") pivotAlerts(dataset)
          else StreamingPipeline.streamingJob1(family(cfg.cpuTopic),
            family(cfg.memTopic))
        (noopSink(alerts, ckpt).start(), servers, rows.toLong * 4, t0)
    }

    val ((secs, progress, keys, messages), metrics) =
      StageMetrics.during(spark) { _ =>
        val (q, keys, messages, t0) = startRun()
        if (mode == "tws") {
          // perpetual-service drain: accumulate numInputRows across
          // progress entries (the 100-entry ring is re-read every poll, so
          // empty-batch flooding can't evict an unseen data batch) until
          // every input row has been processed
          val deadline = System.currentTimeMillis + 600000
          var seen = 0L
          var lastBatch = -1L
          while (seen < rows && System.currentTimeMillis < deadline) {
            // a dead query never advances progress: surface ITS error, not
            // a 10-minute-later timeout that hides it
            q.exception.foreach(e => { q.stop(); throw e })
            q.recentProgress.foreach { p =>
              if (p.batchId > lastBatch) { seen += p.numInputRows; lastBatch = p.batchId }
            }
            if (seen < rows) Thread.sleep(100)
          }
          if (seen < rows) {
            q.stop()
            throw new IllegalStateException(s"tws drain timed out at $seen/$rows rows")
          }
        } else q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        val progress = q.recentProgress
        q.stop()
        (secs, progress, keys, messages)
      }

    // state rows summed over every stateful operator of a batch, max over batches
    val windows = progress.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)
    val t = metrics.totals(wallMark)
    val rowsPerCpuSec = if (t.cpuMs > 0) (rows * 1000.0 / t.cpuMs).round else -1L
    println(s"""{"metric":"stream_rows_per_sec","mode":"$mode","value":${(rows / secs).round},"unit":"rows/sec","dataset_rows":$rows,"keys":$keys,"wire_messages":$messages,"state_rows":$windows,"wall_sec":${math.round(secs * 100) / 100.0},"task_ms":${t.taskMs},"cpu_ms":${t.cpuMs},"rows_per_cpu_sec":$rowsPerCpuSec}""")
    // Where the wall time goes, summed over micro-batches (milliseconds):
    // addBatch = run the batch's job (scan+parse+agg+state), walCommit +
    // commitOffsets = checkpoint fsyncs, queryPlanning = incremental
    // re-plan per trigger — the fixed costs that bound small-volume
    // throughput (see SCALE.md §Streaming).
    val phases = phaseTotals(progress)
    val sums = Seq("addBatch", "getBatch", "latestOffset", "queryPlanning",
      "walCommit", "commitOffsets", "triggerExecution")
      .map(p => s""""$p":${phases.getOrElse(p, 0L)}""").mkString(",")
    println(s"""{"metric":"stream_phase_ms","mode":"$mode","batches":${progress.length},$sums}""")
    spark.stop()
  }
}
