package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row
import graft.core.{PipelineConfig, Schemas}
import graft.operators.RefOps
import graft.operators.RefOps.{AlertAgg, AlertPair}

/** Structured-Streaming rebuild of the reference's transport + query
  * pipeline (SURVEY.md §3): the producer→Kafka→consumer→file→batch-job
  * chain collapses into streams over one engine.
  *
  *  - producer role (`producer/producer.py:61-83`): dataset → 4-topic
  *    wire messages → Kafka/file sink.
  *  - consumer role (`consumers/consumer1.py:40-53`): wire stream →
  *    topic demux → landed per-family tables (checkpointed sink replaces
  *    consumer-group offset commits).
  *  - spark-job role (`spark_jobs/spark_job1.py`): landed/wire streams →
  *    watermarked sliding-window agg → CASE alerts (the reference's
  *    batch jobs, made incremental; OutputMode.Append emits finalized
  *    windows — the batch jobs' "every window is final" semantics).
  *
  * Kafka specifics (S3/K1) are interface-level: `format("kafka")` is
  * selected by config exactly as the public Spark-Kafka connector
  * expects, but the offline build has no kafka jar, so tests drive the
  * same plans through MemoryStream/file sources (SURVEY.md §7.4(7)).
  *
  * Scale notes: watermarks bound window/join/dedup state; the windowed
  * aggregation shuffles on (key, window) with partial aggregation per
  * micro-batch; at-least-once transport (T1) plus
  * `dedupedStream` gives effectively-once aggregates (E1).
  */
object StreamingPipeline {

  /** The exact option map handed to the spark-sql-kafka source: keys are
    * the connector's public wire contract. `subscribe` is the comma list;
    * `startingOffsets=earliest` mirrors `auto_offset_reset='earliest'`
    * (`consumers/consumer1.py:10`); `kafka.*`-prefixed keys pass through
    * to the Kafka consumer verbatim. Pure so the conformance spec can
    * assert passthrough without a broker or the connector jar.
    */
  def kafkaSourceOptions(cfg: PipelineConfig, topics: Seq[String]): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> cfg.bootstrapServers,
      "subscribe" -> topics.mkString(","),
      "startingOffsets" -> "earliest")

  /** Sink-side option map: the reference producer's tuning knobs
    * (`producer/producer.py:17-21` batch_size/linger/compression) pass
    * through as `kafka.*` producer properties.
    */
  def kafkaSinkOptions(cfg: PipelineConfig, checkpoint: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> cfg.bootstrapServers,
      "kafka.compression.type" -> "snappy",
      "kafka.batch.size" -> "65536",
      "kafka.linger.ms" -> "10",
      "checkpointLocation" -> checkpoint)

  /** Kafka wire source (S3): subscribes to topics, exposes the
    * connector's (topic, value) columns. Offsets: earliest, mirroring
    * `auto_offset_reset='earliest'`; progress is checkpoint-tracked.
    */
  def kafkaWireSource(spark: SparkSession, cfg: PipelineConfig,
                      topics: Seq[String]): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(cfg, topics))
      .load()
      .select(col("topic"), col("value").cast("string").as("value"))

  /** Kafka wire sink (K1): writes (topic, value) messages; the
    * reference's producer tuning knobs pass through as kafka.* options.
    */
  def kafkaWireSink(wire: DataFrame, cfg: PipelineConfig,
                    checkpoint: String): DataStreamWriter[Row] =
    wire.writeStream
      .format("kafka")
      .options(kafkaSinkOptions(cfg, checkpoint))

  /** Producer role: any (streaming or batch) dataset with the 7
    * monitoring columns → wire messages. Narrow projections + union —
    * no shuffle, no state.
    */
  def producerWire(dataset: DataFrame, cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    RefOps.topicFanout(dataset, cfg)

  /** Consumer role (F1+P2): wire stream → one landed per-family table.
    * The per-message flush of the reference becomes a checkpointed
    * micro-batch file sink upstream of this call.
    */
  def landedTable(wire: DataFrame, cfg: PipelineConfig, topic: String): DataFrame =
    RefOps.decodeCsvValue(RefOps.demuxTopic(wire, topic), Schemas.forTopic(cfg, topic))

  /** Fan-in demux: ONE pass over the wire decodes every topic whose
    * payload shares the single-metric shape (`ts,server_id,<metric>`)
    * into the long format [[streamingJob1SingleSource]] consumes —
    * (ts, server_id, family, metric). Equivalent to unioning one
    * [[landedTable]] per family (StreamingSpec proves it), but the
    * union form re-scans the SOURCE once per family (each branch holds
    * its own copy of the scan+fan-out subtree), while this is a single
    * scan + one filter + one from_csv: at wire scale the dominant cost
    * (source read + CSV parse) drops by the family count.
    */
  def landedFamilies(wire: DataFrame, families: Seq[(String, String)]): DataFrame = {
    // the topic filter below guarantees a branch matches, so the last
    // family serves as the CASE default — keeps the column non-nullable
    // (schema-identical to the lit()-tagged union formulation)
    val famCol = families.init.foldLeft(lit(families.last._2)) { case (acc, (t, f)) =>
      when(col("topic") === t, lit(f)).otherwise(acc)
    }
    wire.filter(col("topic").isin(families.map(_._1): _*))
      .select(famCol.as("family"),
        from_csv(col("value").cast("string"), Schemas.singleMetric,
          Map.empty[String, String]).as("m"))
      .select(col("m.ts").as("ts"), col("m.server_id").as("server_id"),
        col("family"), col("m.metric").as("metric"))
  }

  /** K2 landing sink: checkpointed CSV file sink for a landed
    * per-family table — replaces the reference consumer's
    * per-message append+flush (`consumers/consumer1.py:43-48`) with
    * micro-batch files whose progress is checkpoint-tracked (restart
    * resumes exactly where it left off; no duplicate landing).
    */
  def landedCsvSink(landed: DataFrame, path: String,
                    checkpoint: String): DataStreamWriter[Row] =
    landed.writeStream
      .format("csv")
      .option("header", "true")
      .option("path", path)
      .option("checkpointLocation", checkpoint)

  /** K3 parity sink, streaming form: the reference's single-file
    * `coalesce(1)` CSV overwrite is not a streaming sink mode
    * (SURVEY.md §7.4(5)) — foreachBatch appends each micro-batch's
    * finalized windows as one file instead.
    */
  def alertCsvSink(alerts: DataFrame, outPath: String,
                   checkpoint: String): DataStreamWriter[Row] =
    alerts.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.coalesce(1).write.mode("append").option("header", "true").csv(outPath)
      }

  /** E1 streaming dedup: watermark-bounded exact dedup — the
    * effectively-once repair for at-least-once transport (T1).
    */
  def dedupedStream(df: DataFrame, keys: Seq[String], cfg: PipelineConfig): DataFrame =
    df.withWatermark("ts", cfg.watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Watermarked stream-stream INTERVAL join: pair left rows with right
    * rows sharing `key` whose event time lands within ±`tolerance` of
    * the left row's — correlation by time proximity, not timestamp
    * equality (the reference's two metric families are joinable on
    * exact ts, `spark_jobs/spark_job1.py:18`, ONLY because one producer
    * emits both on the same clock; independent streams never line up
    * like that, and this is the standard fix).
    *
    * Both sides are watermarked on their own event-time column, and the
    * join condition carries explicit range bounds on those columns —
    * the two things Structured Streaming needs to compute a state
    * eviction horizon for BOTH sides (each side's state is dropped once
    * the other's watermark passes `tolerance` + watermark delay; without
    * the bounds a stream-stream inner join keeps unbounded state).
    * State per trigger is O(rows within the tolerance+watermark horizon
    * per key), not O(stream).
    *
    * `leftTs` and `rightTs` must differ (both survive into the output —
    * the caller's lag arithmetic needs them). The key column keeps its
    * left name. Works identically on batch frames (withWatermark is a
    * documented no-op in batch; the range predicate rides the equi-join
    * on `key` as a post-join filter), so a DuckDB oracle and a
    * stream ≡ batch spec both gate the same plan.
    *
    * `joinType` "left_outer" keeps unmatched left rows (right columns
    * null). In streaming that null row can only be emitted once the
    * RIGHT watermark has passed the row's whole tolerance band — until
    * then a matching right row could still arrive — so outer results
    * trail the inner ones by the watermark delay: the fundamental
    * outer-join-on-streams latency/completeness trade, surfaced as
    * API behavior and pinned by the spec.
    */
  def intervalJoin(left: DataFrame, leftTs: String,
                   right: DataFrame, rightTs: String,
                   key: String, tolerance: String,
                   watermark: String = "1 minute",
                   joinType: String = "inner"): DataFrame = {
    require(leftTs != rightTs,
      s"leftTs and rightTs must differ (both are emitted), got '$leftTs' twice")
    require(Set("inner", "left_outer")(joinType),
      s"intervalJoin supports inner and left_outer, got '$joinType'")
    val rKey = s"__${key}_r"
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withColumnRenamed(key, rKey).withWatermark(rightTs, watermark)
    l.join(r,
        col(key) === col(rKey) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $tolerance") &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $tolerance"),
        joinType)
      .drop(rKey)
  }

  /** Streaming temporal-dimension lookup: enrich an event stream with
    * the dimension version VALID AT each event's own time — the
    * stream-side consumer of an SCD2 table (q_scd2 builds one in
    * batch). Join condition: key equality AND `valid_from <= ts <
    * valid_to` (half-open, NULL valid_to = current version), so every
    * event matches at most one version no matter how often the
    * dimension has changed.
    *
    * Plan shape: a STREAM-STATIC join — the dimension is a bounded
    * batch table, so this is stateless on the stream side (no
    * watermark, no state store; each micro-batch hash-joins against
    * the dim, which Spark broadcasts when small). That's the right
    * scale shape: dimension history is |keys|·|versions|, tiny next to
    * the stream, and classic stream-stream machinery would buy nothing
    * but state. Left_outer keeps events whose key predates the
    * dimension (enrichment columns null) — the at-least-once landing
    * contract (K2) says never drop the fact row.
    */
  def temporalLookup(events: DataFrame, eventTs: String, key: String,
                     dim: DataFrame, validFrom: String = "valid_from",
                     validTo: String = "valid_to"): DataFrame = {
    val dKey = s"__${key}_d"
    events.join(dim.withColumnRenamed(key, dKey),
        col(key) === col(dKey) &&
          col(eventTs) >= col(validFrom) &&
          (col(validTo).isNull || col(eventTs) < col(validTo)),
        "left_outer")
      .drop(dKey)
  }

  /** Streaming job1: cpu + mem landed streams (ts TIMESTAMP, server_id,
    * metric) → [[RefOps.alertJob]] with Spark's `avg`: (server_id,
    * window_start, window_end, avg_cpu, avg_mem, alert), each window
    * emitted once, when the watermark passes its end.
    */
  def streamingJob1(cpu: DataFrame, mem: DataFrame,
                    cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    RefOps.alertJob(cpu, mem, AlertPair.cpuMem(cfg), AlertAgg.Avg, cfg)

  /** Streaming job2 (net + disk, `max`), same shape. */
  def streamingJob2(net: DataFrame, disk: DataFrame,
                    cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    RefOps.alertJob(net, disk, AlertPair.netDisk(cfg), AlertAgg.Max, cfg)

  /** Single-stream pivot of [[landedFamilies]]' (ts, server_id,
    * family, metric): one watermarked aggregate per (server_id, window)
    * averages every cpu and every mem row. It equals [[streamingJob1]]
    * only when every (ts, server_id) carries exactly one row per family
    * (job1 weights duplicates by the join and drops one-sided ts).
    * Bench's stream headline measures this form.
    */
  def streamingJob1SingleSource(wire: DataFrame,
                                cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    RefOps.alertTail(wire
      .withWatermark("ts", cfg.watermark)
      .groupBy(col("server_id"), window(col("ts"), cfg.windowDuration, cfg.slideDuration))
      .agg(avg(when(col("family") === "cpu", col("metric"))).as("avg_cpu"),
        avg(when(col("family") === "mem", col("metric"))).as("avg_mem")),
      AlertPair.cpuMem(cfg))
}
