package graftbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.PipelineConfig
import graft.operators.RefOps
import graft.streaming.StreamingPipeline

/** One emitted alert row, keyed by (server, window end in event seconds). */
final case class AlertRow(server: String, startS: Long, endS: Long,
    avgCpu: Double, avgMem: Double, alert: String)

/** The reference job1 as shipped, driven only through graft's public
  * functions: producerWire → landedTable (cpu, mem) → anchorTimeOfDay →
  * streamingJob1. The same function builds the streaming query and the
  * batch frame it is checked against.
  */
object Alerts {
  val cfg: PipelineConfig = PipelineConfig.default
  val slideS: Long = seconds(cfg.slideDuration)
  val watermarkS: Long = seconds(cfg.watermark)
  /** Relative tolerance on the window averages: streaming and batch
    * aggregation merge partial sums in different orders.
    */
  val relTol = 1e-9

  private def seconds(interval: String): Long = interval.trim.split("\\s+") match {
    case Array(n, u) if u.startsWith("second") => n.toLong
    case Array(n, u) if u.startsWith("minute") => n.toLong * 60
    case _ => throw new IllegalArgumentException(s"unsupported interval '$interval'")
  }

  implicit val readingEncoder: org.apache.spark.sql.Encoder[Reading] = Encoders.product[Reading]

  def job1(dataset: DataFrame, spans: Spans): DataFrame = {
    val wire = spans.span("producerWire")(StreamingPipeline.producerWire(dataset, cfg))
    def landed(topic: String) =
      spans.span("landedTable")(StreamingPipeline.landedTable(wire, cfg, topic))
        .withColumn("ts", RefOps.anchorTimeOfDay(col("ts")))
    spans.span("streamingJob1")(
      StreamingPipeline.streamingJob1(landed(cfg.cpuTopic), landed(cfg.memTopic), cfg))
  }

  def decode(r: Row): AlertRow = AlertRow(r.getString(0),
    r.getTimestamp(1).getTime / 1000, r.getTimestamp(2).getTime / 1000,
    r.getDouble(3), r.getDouble(4), r.getString(5))

  /** `streamingJob1` over the same rows as a batch frame. */
  def reference(spark: SparkSession, rows: Seq[Reading]): Map[Long, Seq[AlertRow]] =
    job1(spark.createDataset(rows).toDF(), new Spans(false))
      .collect().toSeq.map(decode).groupBy(_.endS)

  private def close(a: Double, b: Double) =
    math.abs(a - b) <= relTol * math.max(math.abs(a), math.abs(b))

  /** Alerts the reference job could give a row: the CASE chain of
    * `spark_job1`, where an average within `relTol` of its threshold may
    * land on either side. Such a tie is decided by the order in which
    * partial sums merge, which differs between micro-batches and one
    * batch frame.
    */
  def admissibleAlerts(r: AlertRow): Set[String] = {
    def sides(avg: Double, thr: Double) =
      if (close(avg, thr)) Set(true, false) else Set(avg > thr)
    import PipelineConfig.Alerts._
    for (c <- sides(r.avgCpu, cfg.cpuThreshold); m <- sides(r.avgMem, cfg.memThreshold))
      yield if (c && m) cpuMemBoth else if (c) cpuOnly else if (m) memOnly else ok
  }

  /** A close is correct when its rows match the reference's rows for the
    * same window end one to one, as multisets keyed by (server, window
    * start): averages within `relTol`, and the reference's alert string,
    * or at a threshold tie another admissible one. A window emitted twice
    * or not at all fails the close.
    */
  def closeCorrect(got: Seq[AlertRow], want: Seq[AlertRow]): Boolean = {
    val key = (r: AlertRow) => (r.server, r.startS)
    val (g, w) = (got.sortBy(key), want.sortBy(key))
    g.size == w.size && g.zip(w).forall { case (a, r) =>
      key(a) == key(r) && close(r.avgCpu, a.avgCpu) && close(r.avgMem, a.avgMem) &&
        (r.alert == a.alert || admissibleAlerts(r)(a.alert))
    }
  }

  /** Rows whose alert differs from the reference's at a threshold tie. */
  def ties(got: Seq[AlertRow], want: Seq[AlertRow]): Int = {
    val w = want.map(r => (r.server, r.startS) -> r).toMap
    got.count(g => w.get((g.server, g.startS)).exists(r => r.alert != g.alert && admissibleAlerts(r)(g.alert)))
  }
}

/** The benchmark-owned foreachBatch sink: collects each micro-batch's
  * alert rows and stamps when they arrived.
  */
final class CollectSink(spans: Spans) {
  /** window end → (arrival ns, batch id, rows) */
  val closes = TrieMap.empty[Long, (Long, Long, Seq[AlertRow])]

  def write(batch: DataFrame, batchId: Long): Unit = spans.span("sink.write") {
    val rows = batch.collect().toSeq.map(Alerts.decode)
    val now = System.nanoTime()
    rows.groupBy(_.endS).foreach { case (end, rs) =>
      val prior = closes.get(end).map(_._3).getOrElse(Nil)
      closes.put(end, (now, batchId, prior ++ rs))
    }
  }

  def start(df: DataFrame, checkpoint: String) =
    df.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) => write(b, id))
      .start()
}
