package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.{PipelineConfig, Tables}
import graft.operators.RefOps
import graft.operators.RefOps.{AlertAgg, AlertPair}
import PipelineConfig.Alerts

/** The reference's own query surface (SURVEY.md §2.1), phrased over the
  * `events` fixture (ts/user_id/value carries the monitoring shape —
  * FIXTURES.md §B role mapping): multi-key USING join (J1), sliding
  * event-time window aggregation (A1) with avg (A2) and max (A3),
  * order-sensitive CASE alerts (F2/F3), CSV wire encode/decode (P1/P2),
  * 4-way topic fan-out (K1), demux (F1) and delivery stats (A4/A5).
  *
  * Window bounds are emitted as epoch seconds (BIGINT) — timezone- and
  * format-proof for the DuckDB oracle; the HH:mm:ss projection of the
  * reference lives in [[graft.pipeline.MonitoringJobs]] (P6 parity).
  *
  * DuckDB oracle for Spark's `window(ts, "30 seconds", "10 seconds")`:
  * Spark windows are epoch-aligned, so a row at epoch second e belongs to
  * exactly window/slide = 3 windows with starts
  * floor(e/10)*10 - {0,10,20} (SURVEY.md §7.4(2)).
  */
object MonitorQueries {

  private val cfg = PipelineConfig.default

  /** Wire dataset for fan-out/encode/decode queries: integer-valued
    * metric columns so the CSV string form is byte-identical across
    * engines (double→string formatting is engine-specific; bigint is not).
    */
  private def wireDataset(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      // exact integer μs→ms (a double detour can round below the ms
      // boundary and diverge from the oracle's epoch_ms by 1)
      expr("unix_micros(ts) div 1000").as("ts"),
      col("user_id").as("server_id"),
      floor(col("value")).cast("long").as("cpu_pct"),
      (floor(col("value")) + 1).cast("long").as("mem_pct"),
      (floor(col("value")) * 40).cast("long").as("net_in"),
      (floor(col("value")) * 2).cast("long").as("net_out"),
      (floor(col("value")) * 20).cast("long").as("disk_io"))

  /** [[RefOps.alertJob]] over two metric families of `events`, each
    * (ts, user_id AS server_id, an expression of `value`); window bounds
    * as epoch seconds. No join: the two exchanges are the (server_id,
    * ts) and the (server_id, window) aggregates'. */
  private def monitorJob(s: SparkSession, d: String, pair: AlertPair, agg: AlertAgg,
                         a: Column, b: Column): DataFrame = {
    def family(metric: String, v: Column) =
      Tables.events(s, d).select(col("ts"), col("user_id").as("server_id"), v.as(metric))
    RefOps.alertJob(family(pair.a, a), family(pair.b, b), pair, agg, cfg)
      .withColumn("window_start", col("window_start").cast("long"))
      .withColumn("window_end", col("window_end").cast("long"))
  }

  /** job1 on the events fixture with `davg` (bit-equal to the join
    * form); mem = 100 - value/5 spreads rows across all four CASE
    * branches given the fixture's value range (0.01–490). Shared by
    * `q_monitor_pipeline` and `q_alert_transitions`.
    */
  private def monitorPipeline(s: SparkSession, d: String): DataFrame =
    monitorJob(s, d, AlertPair.cpuMem(cfg), AlertAgg.DAvg, col("value"), lit(100.0) - col("value") / 5)

  val queries: Map[String, Q] = Map(
    "q_monitor_pipeline" -> (monitorPipeline(_, _)),

    // Alert EDGES over the pipeline output: only rows where a server's
    // alert differs from its previous window's alert (first window is an
    // edge from ""). Batch lag() form of Transitions; the stateful
    // streaming twin is property-checked equal in TransitionsSpec.
    "q_alert_transitions" -> ((s, d) =>
      graft.streaming.Transitions.transitionsBatch(
        monitorPipeline(s, d), "server_id", "window_start", "alert")
        .select(col("server_id"), col("window_start"),
          col("from_value").as("from_alert"), col("to_value").as("to_alert"))),

    // Alert DEBOUNCE (rate-limiting): keep an event only when more
    // than 12h past the last KEPT event of its user — the storm
    // suppressor a paging pipeline puts after alert generation. The
    // anchor advances on KEEP, so this is sequential semantics no
    // lag()/session window expresses; the oracle replays it as a
    // recursive CTE, the operator as one codegen'd aggregate() fold
    // per key (Sessionize.debounce).
    "q_debounce" -> ((s, d) =>
      graft.operators.Sessionize.debounce(
        Tables.events(s, d).select(col("user_id"),
          expr("unix_micros(ts)").as("e_us"), col("event_id")),
        keyCol = "user_id", epochCol = "e_us", tieCol = "event_id",
        cooldownUs = 43200000000L)),

    // job2 shape: sliding-window max (A3) + its CASE chain. max over
    // doubles is exact, no decimal detour needed.
    "q_monitor_max" -> ((s, d) =>
      monitorJob(s, d, AlertPair.netDisk(cfg), AlertAgg.Max, col("value") * 40, col("value") * 20)),

    // Row-level CASE-WHEN classification (F2/F3) without the window, to
    // pin the order-sensitive branch semantics on raw values.
    "q_case_when" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cpu_pct", col("value"))
        .withColumn("mem_pct", lit(100.0) - col("value") / 5)
      ev.select(col("event_id"), col("cpu_pct"), col("mem_pct"),
        AlertPair.cpuMem(cfg).copy(aOut = "cpu_pct", bOut = "mem_pct").alert.as("alert"))
    }),

    // K1+A4: 4-way topic fan-out then per-topic delivery accounting.
    // sum(length(value)) proves the CSV encode (P1) byte-for-byte.
    "q_fanout_stats" -> ((s, d) => {
      val wire = RefOps.topicFanout(wireDataset(s, d), cfg)
      wire.groupBy(col("topic")).agg(
        count(lit(1)).as("n_messages"),
        sum(length(col("value"))).as("total_bytes"))
    }),

    // P1→P2 round-trip: encode to wire strings, demux one topic (F1),
    // decode with from_csv, re-aggregate. Oracle computes the same
    // aggregates directly — equality proves the round-trip is lossless.
    "q_csv_roundtrip" -> ((s, d) => {
      val wire = RefOps.topicFanout(wireDataset(s, d), cfg)
      val cpuSchema = StructType(Seq(
        StructField("ts", LongType), StructField("server_id", LongType),
        StructField("cpu_pct", LongType)))
      val decoded = RefOps.decodeCsvValue(RefOps.demuxTopic(wire, cfg.cpuTopic), cpuSchema)
      decoded.agg(
        count(lit(1)).as("n_rows"),
        sum(col("ts")).as("sum_ts"),
        sum(col("cpu_pct")).as("sum_cpu"),
        countDistinct(col("server_id")).as("n_servers"))
    }),

    // A1 in isolation: window expansion row-multiplication (×3 for
    // 30s/10s) — the TimeWindowing/Expand rewrite, SURVEY.md §4.
    "q_window_counts" -> ((s, d) =>
      RefOps.slidingWindowAgg(Tables.events(s, d), "user_id",
          Seq(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value")), cfg)
        .select(col("user_id"), col("window.start").cast("long").as("window_start"),
          col("window.end").cast("long").as("window_end"), col("n_events"), col("sum_value")))
  )

  /** DuckDB sliding-window expansion fragment (see class doc). */
  private def expandWindows(src: String): String =
    s"""SELECT *,
       |  CAST(floor(epoch_ms(ts)/10000.0)*10 AS BIGINT) - off AS window_start,
       |  CAST(floor(epoch_ms(ts)/10000.0)*10 AS BIGINT) - off + 30 AS window_end
       |FROM ($src) CROSS JOIN (SELECT unnest([0,10,20]) AS off) offs""".stripMargin

  /** DuckDB twin of [[AlertPair.alert]]. */
  private def alertCaseSql(p: AlertPair): String =
    s"""CASE WHEN ${p.aOut} > ${p.aThr} AND ${p.bOut} > ${p.bThr} THEN '${p.both}'
       |     WHEN ${p.aOut} > ${p.aThr} THEN '${p.aOnly}'
       |     WHEN ${p.bOut} > ${p.bThr} THEN '${p.bOnly}'
       |     ELSE '${Alerts.ok}' END""".stripMargin

  private val wireDatasetSql =
    """SELECT epoch_ms(ts) AS ts, user_id AS server_id,
      |  CAST(floor(value) AS BIGINT) AS cpu_pct,
      |  CAST(floor(value) + 1 AS BIGINT) AS mem_pct,
      |  CAST(floor(value) * 40 AS BIGINT) AS net_in,
      |  CAST(floor(value) * 2 AS BIGINT) AS net_out,
      |  CAST(floor(value) * 20 AS BIGINT) AS disk_io
      |FROM events""".stripMargin

  private val fanoutSql =
    s"""WITH w AS ($wireDatasetSql)
       |SELECT 'topic-cpu' AS topic, concat_ws(',', ts, server_id, cpu_pct) AS value FROM w
       |UNION ALL
       |SELECT 'topic-mem', concat_ws(',', ts, server_id, mem_pct) FROM w
       |UNION ALL
       |SELECT 'topic-net', concat_ws(',', ts, server_id, net_in, net_out) FROM w
       |UNION ALL
       |SELECT 'topic-disk', concat_ws(',', ts, server_id, disk_io) FROM w""".stripMargin

  /** DuckDB twin of `monitorJob`, in the literal join form: join on
    * (ts, server_id) → window expansion → `agg` per window → CASE.
    */
  private def monitorJobSql(p: AlertPair, agg: String => String, a: String, b: String): String =
    s"""WITH j AS (
       |  SELECT x.ts, x.server_id, x.${p.a}, y.${p.b}
       |  FROM (SELECT ts, user_id AS server_id, $a AS ${p.a} FROM events) x
       |  JOIN (SELECT ts, user_id AS server_id, $b AS ${p.b} FROM events) y
       |    ON x.ts = y.ts AND x.server_id = y.server_id
       |), e AS (${expandWindows("SELECT * FROM j")}),
       |a AS (
       |  SELECT server_id, window_start, window_end,
       |    ${agg(p.a)} AS ${p.aOut},
       |    ${agg(p.b)} AS ${p.bOut}
       |  FROM e GROUP BY server_id, window_start, window_end
       |)
       |SELECT server_id, window_start, window_end, ${p.aOut}, ${p.bOut},
       |  ${alertCaseSql(p)} AS alert
       |FROM a""".stripMargin

  private val monitorPipelineSql =
    monitorJobSql(AlertPair.cpuMem(cfg), sqlDavg, "value", "100.0 - value/5")

  val oracles: Map[String, String] = Map(
    "q_monitor_pipeline" -> monitorPipelineSql,

    // The keep decision depends on the previous KEEP: a recursive CTE
    // walks each user's rows in (ts, event_id) order carrying the
    // last-kept anchor.
    "q_debounce" ->
      """WITH RECURSIVE o AS (
        |  SELECT user_id, epoch_us(ts) AS e, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events
        |), w AS (
        |  SELECT user_id, rn, e, event_id, e AS last_kept, TRUE AS kept
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.rn, o.e, o.event_id,
        |    CASE WHEN o.e - w.last_kept > 43200000000
        |         THEN o.e ELSE w.last_kept END,
        |    o.e - w.last_kept > 43200000000
        |  FROM w JOIN o ON o.user_id = w.user_id AND o.rn = w.rn + 1
        |)
        |SELECT user_id, e AS e_us, event_id FROM w WHERE kept""".stripMargin,

    "q_alert_transitions" ->
      s"""WITH mp AS ($monitorPipelineSql),
         |t AS (
         |  SELECT server_id, window_start, alert,
         |    lag(alert) OVER (PARTITION BY server_id ORDER BY window_start) AS prev
         |  FROM mp
         |)
         |SELECT server_id, window_start,
         |  coalesce(prev, '') AS from_alert, alert AS to_alert
         |FROM t WHERE prev IS NULL OR prev <> alert""".stripMargin,

    "q_monitor_max" ->
      monitorJobSql(AlertPair.netDisk(cfg), x => s"MAX($x)", "value * 40", "value * 20"),

    "q_case_when" ->
      s"""WITH v AS (
         |  SELECT event_id, value AS cpu_pct, 100.0 - value/5 AS mem_pct FROM events
         |)
         |SELECT event_id, cpu_pct, mem_pct,
         |  ${alertCaseSql(AlertPair.cpuMem(cfg).copy(aOut = "cpu_pct", bOut = "mem_pct"))} AS alert
         |FROM v""".stripMargin,

    "q_fanout_stats" ->
      s"""SELECT topic, COUNT(*) AS n_messages,
         |  CAST(SUM(length(value)) AS BIGINT) AS total_bytes
         |FROM ($fanoutSql)
         |GROUP BY topic""".stripMargin,

    "q_csv_roundtrip" ->
      s"""WITH w AS ($wireDatasetSql)
         |SELECT COUNT(*) AS n_rows, CAST(SUM(ts) AS BIGINT) AS sum_ts,
         |  CAST(SUM(cpu_pct) AS BIGINT) AS sum_cpu,
         |  COUNT(DISTINCT server_id) AS n_servers
         |FROM w""".stripMargin,

    "q_window_counts" ->
      s"""WITH e AS (${expandWindows("SELECT user_id, value, ts FROM events")})
         |SELECT user_id, window_start, window_end,
         |  COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
         |FROM e GROUP BY user_id, window_start, window_end""".stripMargin
  )
}
