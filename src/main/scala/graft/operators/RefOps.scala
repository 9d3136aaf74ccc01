package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{MakeDecimal, UnscaledValue}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DecimalType
import graft.core.PipelineConfig

/** The reference's full relational-operator surface (SURVEY.md §2.1) as
  * small pure `DataFrame => DataFrame` functions, shared verbatim by the
  * batch and streaming pipelines.
  *
  * Scale notes (100 TB design intent) are on each op. Nothing here uses a
  * UDF or driver-side loop — every expression is a Catalyst built-in, so
  * the whole surface stays inside whole-stage codegen and every filter /
  * projection is pushable into the scan.
  */
object RefOps {

  // -------------------------------------------------------------------
  // P3 — timestamp anchoring (`spark_jobs/spark_job1.py:19`).
  //
  // The reference casts "HH:mm:ss" straight to timestamp, silently
  // anchoring to the job's run date (SURVEY.md §1.2 hazard). We pin the
  // epoch date: window bounds are epoch-aligned modulo the slide, so the
  // HH:mm:ss-projected output is identical for any whole-day anchor, and
  // results become reproducible / oracle-comparable.
  // -------------------------------------------------------------------
  def anchorTimeOfDay(tsCol: Column): Column =
    to_timestamp(concat(lit("1970-01-01 "), tsCol))

  /** Applies the job-prep casts of `spark_jobs/spark_job1.py:19-21`:
    * `ts` string → anchored timestamp; metric columns → double, or
    * float when `useFloat` (the reference casts to FLOAT at
    * `spark_job1.py:20-21`; `round(avg(float), 2)` can differ from
    * `round(avg(double), 2)` at rounding boundaries, so byte-compat
    * paths — [[graft.pipeline.MonitoringJobs]] — must mirror the float.
    * Everything else aggregates in double and rounds at the edge,
    * SURVEY.md §7.4(3)).
    */
  def castMetrics(df: DataFrame, metricCols: Seq[String],
                  useFloat: Boolean = false): DataFrame = {
    val t = if (useFloat) "float" else "double"
    // schema-inferred readers (Spark 4 CSV inference) may deliver ts
    // already parsed as a timestamp anchored to the read date — reproject
    // to the HH:mm:ss string first so anchoring stays deterministic
    val tsIn = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        date_format(col("ts"), "HH:mm:ss")
      case _ => col("ts")
    }
    val withTs = df.withColumn("ts", anchorTimeOfDay(tsIn))
    metricCols.foldLeft(withTs)((d, c) => d.withColumn(c, col(c).cast(t)))
  }

  // -------------------------------------------------------------------
  // J1 — multi-key inner equi-join, USING semantics
  // (`spark_jobs/spark_job1.py:18`): `Seq(...)` usingColumns dedups the
  // key columns exactly like PySpark's `on=[...]`. The reference joins
  // on the *raw string* keys before casts; we join after casting (equal
  // keys remain equal — anchoring is injective per day). Only the
  // golden-pinned batch jobs join; [[alertJob]] aggregates the join away.
  // -------------------------------------------------------------------
  def joinOnKeys(left: DataFrame, right: DataFrame,
                 keys: Seq[String] = Seq("ts", "server_id")): DataFrame =
    left.join(right, keys, "inner")

  // -------------------------------------------------------------------
  // A1–A3 — sliding event-time window aggregation
  // (`spark_jobs/spark_job1.py:27-33`, `spark_job2.py:27-33`).
  //
  // Catalyst's TimeWindowing rule expands each row into
  // window/slide (= 3 for 30s/10s) bucket rows via Expand, then runs
  // partial+final hash aggregation — map-side combine keeps the shuffle
  // at |keys × windows|, not |input rows × 3|.
  // -------------------------------------------------------------------
  def slidingWindowAgg(df: DataFrame, keyCol: String, aggs: Seq[Column],
                       cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    df.groupBy(col(keyCol), window(col("ts"), cfg.windowDuration, cfg.slideDuration))
      .agg(aggs.head, aggs.tail: _*)

  // -------------------------------------------------------------------
  // F2 + F3 — threshold predicates + order-sensitive CASE chain
  // (`spark_jobs/spark_job1.py:36-44`). The combined-threshold branch
  // MUST come first (SURVEY.md §7.4(4)).
  // -------------------------------------------------------------------
  def classifyAlerts(aCol: Column, aThr: Double, bCol: Column, bThr: Double,
                     bothAlert: String, aAlert: String, bAlert: String): Column =
    when(aCol > aThr && bCol > bThr, bothAlert)
      .when(aCol > aThr, aAlert)
      .when(bCol > bThr, bAlert)
      .otherwise(PipelineConfig.Alerts.ok)

  /** The aggregate an alert job finishes each window with: Spark's
    * `avg` (non-null sum / non-null count), the catalog's `davg`
    * ([[graft.queries.davg]]: exact DECIMAL(18,6) sum / ROW count) or `max`.
    */
  sealed trait AlertAgg
  object AlertAgg {
    case object Avg extends AlertAgg
    case object DAvg extends AlertAgg
    case object Max extends AlertAgg
  }

  /** One metric-family pair of the reference jobs: per side the metric
    * column, its output name and threshold, then the CASE strings.
    */
  final case class AlertPair(a: String, aOut: String, aThr: Double,
                             b: String, bOut: String, bThr: Double,
                             both: String, aOnly: String, bOnly: String) {
    /** F2 + F3 over the two output columns. */
    def alert: Column = classifyAlerts(col(aOut), aThr, col(bOut), bThr, both, aOnly, bOnly)
  }
  object AlertPair {
    import PipelineConfig.Alerts._
    /** job1 (`spark_jobs/spark_job1.py`): cpu + mem. */
    def cpuMem(cfg: PipelineConfig): AlertPair = AlertPair("cpu_pct", "avg_cpu", cfg.cpuThreshold,
      "mem_pct", "avg_mem", cfg.memThreshold, cpuMemBoth, cpuOnly, memOnly)
    /** job2 (`spark_jobs/spark_job2.py`): net-in + disk-io. */
    def netDisk(cfg: PipelineConfig): AlertPair = AlertPair("net_in", "max_net_in", cfg.netInThreshold,
      "disk_io", "max_disk_io", cfg.diskIoThreshold, netDiskBoth, netOnly, diskOnly)
  }

  /** J1 → A1–A3 → F2/F3 without the join, for batch and stream: the
    * inner join of `a` and `b` on (ts, server_id), a sliding window per
    * server, `agg` per side and the CASE alert, eager-aggregated (Yan &
    * Larson, "Eager Aggregation and Lazy Aggregation", VLDB 1995).
    *
    * Each side is watermarked on `ts` (a no-op in batch) and tagged; a
    * null `ts` or `server_id` drops the row, as the inner join does.
    * Aggregate 1, per (server_id, ts) and side: row count n, non-null
    * count nn, sum (or max). Only ts present on both sides survive, each
    * side weighted by the other's n (the join's multiplicity).
    * Aggregate 2, per (server_id, window), finishes:
    *  - `Avg`:  Σ n_b·sum_a / Σ n_b·nn_a; null when every a-metric of
    *    the window is null. Double sums merge in another order than the
    *    join form's: equal within rounding error, not bitwise.
    *  - `DAvg`: double(Σ n_b·dsum_a) / Σ n_a·n_b: a null metric counts as
    *    a row and adds nothing; all-null is null. The DECIMAL(18,6) sums
    *    run in exact long micro-units, so this is bit-equal to the join
    *    form while |Σ n_b·dsum_a| of a window stays below 9.2·10^12
    *    (2^63 micro-units); past that, ANSI arithmetic fails the query.
    *  - `Max`:  max of max_a over the surviving ts. Bit-equal.
    *
    * Output: (server_id, window_start, window_end, aOut, bOut, alert).
    * In streaming (Append) both aggregates are stateful and watermark-
    * bounded, and a window closes in the micro-batch the join form
    * closes it in. A checkpoint written by the former stream-stream join
    * plan cannot be resumed by this one: start on a fresh checkpoint.
    */
  def alertJob(a: DataFrame, b: DataFrame, pair: AlertPair, agg: AlertAgg,
               cfg: PipelineConfig = PipelineConfig.default): DataFrame = {
    def side(df: DataFrame, isA: Boolean, metric: String, v: String): DataFrame =
      df.withWatermark("ts", cfg.watermark)
        .select(col("ts"), col("server_id"), lit(isA).as("is_a"), col(metric).as(v))
    def partial(v: String): Column = agg match {
      case AlertAgg.Avg => sum(col(v))
      case AlertAgg.DAvg => sum(ColumnBridge.column(UnscaledValue(
        ColumnBridge.expression(col(v).cast(DecimalType(18, 6))))))
      case AlertAgg.Max => max(col(v))
    }
    def weighted(p: String, n: String): Column =
      if (agg == AlertAgg.Max) col(p) else col(n) * col(p)
    val perTs = side(a, isA = true, pair.a, "va")
      .unionByName(side(b, isA = false, pair.b, "vb"), allowMissingColumns = true)
      .filter(col("ts").isNotNull && col("server_id").isNotNull)
      .groupBy(col("server_id"), col("ts"))
      .agg(count_if(col("is_a")).as("na"), count_if(!col("is_a")).as("nb"),
        count(col("va")).as("nna"), count(col("vb")).as("nnb"),
        partial("va").as("pa"), partial("vb").as("pb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("server_id"), col("ts"),
        weighted("pa", "nb").as("wa"), weighted("pb", "na").as("wb"),
        (col("nb") * col("nna")).as("da"), (col("na") * col("nnb")).as("db"),
        (col("na") * col("nb")).as("n"))
    def finish(w: String, d: String): Column = agg match {
      case AlertAgg.Avg => when(sum(col(d)) =!= 0, sum(col(w)) / sum(col(d)))
      case AlertAgg.DAvg => ColumnBridge.column(MakeDecimal(ColumnBridge.expression(
        sum(col(w))), 38, 6)).cast("double") / sum(col("n"))
      case AlertAgg.Max => max(col(w))
    }
    alertTail(
      perTs.groupBy(col("server_id"), window(col("ts"), cfg.windowDuration, cfg.slideDuration))
        .agg(finish("wa", "da").as(pair.aOut), finish("wb", "db").as(pair.bOut)),
      pair)
  }

  /** F2/F3 + window projection: (server_id, window, aOut, bOut) →
    * (server_id, window_start, window_end, aOut, bOut, alert). */
  def alertTail(windowed: DataFrame, pair: AlertPair): DataFrame =
    windowed.select(col("server_id"),
      col("window.start").as("window_start"), col("window.end").as("window_end"),
      col(pair.aOut), col(pair.bOut), pair.alert.as("alert"))

  // -------------------------------------------------------------------
  // P5–P8 — final output projection (`spark_jobs/spark_job1.py:47-54`):
  // window struct access, HH:mm:ss formatting, round(2), aliases; the
  // alert is classified on the unrounded (server_id, window, aOut, bOut).
  // -------------------------------------------------------------------
  def formatAlertOutput(df: DataFrame, pair: AlertPair): DataFrame =
    df.select(col("server_id"),
      date_format(col("window.start"), "HH:mm:ss").as("window_start"),
      date_format(col("window.end"), "HH:mm:ss").as("window_end"),
      round(col(pair.aOut), 2).as(pair.aOut), round(col(pair.bOut), 2).as(pair.bOut),
      pair.alert.as("alert"))

  // -------------------------------------------------------------------
  // P1 — CSV-string encode (`producer/producer.py:68-71`): row → wire
  // message value. concat_ws is the codegen'd equivalent of the f-string.
  // -------------------------------------------------------------------
  def encodeCsvValue(cols: Seq[String]): Column =
    concat_ws(",", cols.map(col): _*)

  // -------------------------------------------------------------------
  // P2 — CSV-string decode (`consumers/consumer1.py:43-48` +
  // `spark_jobs/spark_job1.py:14-15` composite): wire message → columns.
  // from_csv is the streaming-path equivalent of land-then-rescan.
  // -------------------------------------------------------------------
  def decodeCsvValue(df: DataFrame, schema: org.apache.spark.sql.types.StructType,
                     valueCol: String = "value"): DataFrame =
    df.select(from_csv(col(valueCol).cast("string"), schema,
        Map.empty[String, String]).as("m"))
      .select("m.*")

  // -------------------------------------------------------------------
  // K1 — 4-way topic fan-out (`producer/producer.py:74-77`): one input
  // row → 4 (topic, value) messages. Implemented as 4 narrow projections
  // unioned — no shuffle; at 100 TB this is embarrassingly parallel and
  // the Kafka sink partitions by topic downstream.
  // -------------------------------------------------------------------
  def topicFanout(df: DataFrame, cfg: PipelineConfig = PipelineConfig.default): DataFrame = {
    def msg(topic: String, cols: Seq[String]): DataFrame =
      df.select(lit(topic).as("topic"), encodeCsvValue(cols).as("value"))
    msg(cfg.cpuTopic, Seq("ts", "server_id", "cpu_pct"))
      .unionByName(msg(cfg.memTopic, Seq("ts", "server_id", "mem_pct")))
      .unionByName(msg(cfg.netTopic, Seq("ts", "server_id", "net_in", "net_out")))
      .unionByName(msg(cfg.diskTopic, Seq("ts", "server_id", "disk_io")))
  }

  // -------------------------------------------------------------------
  // F1 — topic demultiplex (`consumers/consumer1.py:42-47`): route one
  // (topic, value) stream into per-family tables. A filter, not a
  // repartition — each branch prunes at the source.
  // -------------------------------------------------------------------
  def demuxTopic(df: DataFrame, topic: String): DataFrame =
    df.filter(col("topic") === topic)

  // -------------------------------------------------------------------
  // A4/A5 — delivery accounting (`producer/producer.py:44-58,95-103`):
  // per-topic message counters + global count. groupBy(topic).count is
  // the distributed form of the callback counters.
  // -------------------------------------------------------------------
  def deliveryStats(messages: DataFrame): DataFrame =
    messages.groupBy(col("topic")).agg(count(lit(1)).as("n_messages"))
}
