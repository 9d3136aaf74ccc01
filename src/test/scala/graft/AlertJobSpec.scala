package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.core.PipelineConfig
import graft.operators.RefOps
import graft.operators.RefOps.{AlertAgg, AlertPair}
import graft.streaming.StreamingPipeline

/** `RefOps.alertJob` (eager aggregation, no join) against the literal
  * join form it replaces, kept here as the independent reference:
  * inner join on (ts, server_id) → sliding window → aggregate → CASE.
  *
  * The data carries every case the multiplicity and null rules have to
  * get right: duplicate rows on one side and on both, ts values present
  * on one side only (one larger than every joined value of its windows,
  * two alone in theirs), a null metric, a window whose a-side metrics
  * are all null, a null server_id and a null ts (a malformed wire
  * message decodes to nulls, RefOpsSpec "P2"), a ts whose two sides
  * arrive in different micro-batches, and (streaming only) rows behind
  * the watermark. `davg` and `max` must be bit-equal, `avg` equal to 1e-9
  * relative; in streaming every window must close in the same
  * micro-batch as under the join form.
  */
class AlertJobSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = PipelineConfig.default

  private type In = (String, Option[Timestamp], Option[String], Option[Double])

  private def r(side: String, ts: Option[Long], server: Option[String],
                v: Option[Double]): In =
    (side, ts.map(s => new Timestamp(s * 1000)), server, v)
  private def both(ts: Long, server: String, a: Seq[Option[Double]],
                   b: Seq[Option[Double]]): Seq[In] =
    a.map(r("a", Some(ts), Some(server), _)) ++ b.map(r("b", Some(ts), Some(server), _))

  /** One micro-batch per round. The watermark (1 minute) reaches 180 s
    * after round 1, 250 s after round 2 and 1,940 s after round 3, and a
    * batch evicts with the watermark its predecessor reached: s1's
    * windows close in batch 2, everything below the far-future rows by
    * batch 4.
    */
  private val rounds: Seq[Seq[In]] = Seq(
    both(100, "s1", Seq(Some(99.1), Some(97.3)), Seq(Some(90.7))) ++
      both(105, "s1", Seq(Some(50.2)), Seq(Some(80.3), Some(70.9))) ++
      both(107, "s1", Seq(Some(10.4)), Nil) ++
      both(112, "s1", Nil, Seq(Some(98.8))) ++
      both(115, "s1", Seq(None), Seq(Some(85.5))) ++
      both(120, "s1", Seq(Some(33.3), Some(66.6)), Seq(Some(11.1), Some(22.2), Some(44.4))) ++
      both(140, "s1", Seq(Some(96.6)), Nil) ++
      Seq(r("a", Some(100), None, Some(1.0)), r("b", Some(100), None, Some(2.0)),
        r("a", None, Some("s1"), Some(1.0)), r("b", None, Some("s1"), Some(2.0))),
    both(140, "s1", Nil, Seq(Some(79.9))) ++
      both(200, "s2", Seq(None), Seq(Some(5.5))) ++
      both(203, "s2", Seq(None), Seq(Some(6.5))) ++
      both(230, "s2", Seq(Some(95.5)), Seq(Some(79.5))) ++
      both(240, "s2", Seq(Some(91.1)), Nil),
    both(240, "s2", Nil, Seq(Some(81.1))) ++
      both(300, "s3", Seq(Some(1.5)), Seq(Some(2.5))) ++
      both(305, "s3", Seq(Some(2.5)), Seq(None)) ++
      both(310, "s3", Seq(Some(3.5)), Nil) ++
      both(400, "s4", Seq(Some(99.9)), Nil) ++ both(402, "s4", Nil, Seq(Some(88.8))),
    both(310, "s3", Nil, Seq(Some(4.5))) ++
      both(2000, "s9", Seq(Some(1.0)), Seq(Some(1.0))),
    both(2001, "s9", Seq(Some(1.0)), Seq(Some(1.0))))

  /** Rows behind the watermark batch 3 drops late events by (180 s). */
  private val late: Seq[In] = both(110, "s1", Seq(Some(20.0)), Seq(Some(20.0)))

  /** Windows below this start are closed by the end of round 4. */
  private val closedBelow = new Timestamp(1000 * 1000)

  /** job2's thresholds sit near 4,600: scale its metrics into range. */
  private def scaleFor(pair: AlertPair): Double = if (pair.a == "net_in") 50.0 else 1.0

  /** The two sides of one (side, ts, server_id, v) frame. */
  private def sides(df: DataFrame, pair: AlertPair): (DataFrame, DataFrame) = {
    def side(s: String, metric: String) = df.filter(col("side") === s)
      .select(col("ts"), col("server_id"), (col("v") * scaleFor(pair)).as(metric))
    (side("a", pair.a), side("b", pair.b))
  }

  /** The literal join form: the reference job as written before eager
    * aggregation. `davg` is the catalog's own definition.
    */
  private def joinForm(a: DataFrame, b: DataFrame, pair: AlertPair,
                       agg: AlertAgg): DataFrame = {
    val f: Column => Column = agg match {
      case AlertAgg.Avg => avg
      case AlertAgg.DAvg => graft.queries.davg
      case AlertAgg.Max => max
    }
    a.withWatermark("ts", cfg.watermark)
      .join(b.withWatermark("ts", cfg.watermark), Seq("ts", "server_id"), "inner")
      .groupBy(col("server_id"), window(col("ts"), cfg.windowDuration, cfg.slideDuration))
      .agg(f(col(pair.a)).as(pair.aOut), f(col(pair.b)).as(pair.bOut))
      .select(col("server_id"), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(pair.aOut), col(pair.bOut),
        RefOps.classifyAlerts(col(pair.aOut), pair.aThr, col(pair.bOut), pair.bThr,
          pair.both, pair.aOnly, pair.bOnly).as("alert"))
  }

  private val cases: Seq[(String, AlertPair, AlertAgg)] = Seq(
    ("avg", AlertPair.cpuMem(cfg), AlertAgg.Avg),
    ("davg", AlertPair.cpuMem(cfg), AlertAgg.DAvg),
    ("max", AlertPair.netDisk(cfg), AlertAgg.Max))

  /** The streaming jobs under test: job1 and job2 as shipped, `davg`
    * through the core directly.
    */
  private def eager(a: DataFrame, b: DataFrame, pair: AlertPair, agg: AlertAgg): DataFrame =
    agg match {
      case AlertAgg.Avg => StreamingPipeline.streamingJob1(a, b, cfg)
      case AlertAgg.Max => StreamingPipeline.streamingJob2(a, b, cfg)
      case AlertAgg.DAvg => RefOps.alertJob(a, b, pair, agg, cfg)
    }

  private def key(row: Row): (String, Timestamp) = (row.getString(0), row.getTimestamp(1))

  private def close(x: Any, y: Any): Boolean = (x, y) match {
    case (p: Double, q: Double) =>
      math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
    case _ => x == y
  }

  /** Same windows; `avg` metrics within 1e-9 relative, all else equal
    * (boxed `==` on doubles compares bits).
    */
  private def assertSameRows(got: Seq[Row], want: Seq[Row], agg: AlertAgg,
                             what: String): Unit = {
    assert(got.map(key).distinct.size == got.size, s"$what: a window emitted twice")
    val g = got.map(r => key(r) -> r).toMap
    assert(g.keySet == want.map(key).toSet, s"$what: window sets differ")
    want.foreach { w =>
      val o = g(key(w))
      val metricsOk = Seq(3, 4).forall(i =>
        if (agg == AlertAgg.Avg) close(o.get(i), w.get(i)) else o.get(i) == w.get(i))
      assert(o.get(2) == w.get(2) && metricsOk && o.getString(5) == w.getString(5),
        s"$what: ${key(w)} got $o want $w")
    }
  }

  private def batchFrame(in: Seq[In]): DataFrame =
    in.toDF("side", "ts", "server_id", "v")

  test("batch: alertJob ≡ the literal join form for avg, davg and max") {
    val all = batchFrame(rounds.flatten)
    cases.foreach { case (name, pair, agg) =>
      val (a, b) = sides(all, pair)
      val want = joinForm(a, b, pair, agg).collect().toSeq
      val got = RefOps.alertJob(a, b, pair, agg, cfg).collect().toSeq
      assertSameRows(got, want, agg, s"batch $name")
      // the cases the data is built for are all present
      val byKey = want.map(r => key(r) -> r).toMap
      val allNullA = byKey(("s2", new Timestamp(190 * 1000)))
      assert(allNullA.isNullAt(3) && !allNullA.isNullAt(4), s"$name: all-null window")
      assert(!byKey.keySet.exists(k => k._1 == null || k._1 == "s4"), s"$name: unjoined key")
    }
  }

  /** Runs `build` over a fresh MemoryStream fed one round per
    * micro-batch; returns each emitted row with its batch id. No-data
    * batches are off, so batch i is round i for both plans under test.
    */
  private def streamBatches(feed: Seq[Seq[In]],
      build: (DataFrame, DataFrame) => DataFrame, pair: AlertPair): Seq[(Long, Row)] = {
    val src = MemoryStream[In](spark)
    val (a, b) = sides(src.toDF().toDF("side", "ts", "server_id", "v"), pair)
    val out = new ConcurrentLinkedQueue[(Long, Row)]()
    val q = build(a, b).writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("alertjob").toString)
      .foreachBatch((df: DataFrame, id: Long) => df.collect().foreach(row => out.add(id -> row)))
      .start()
    try feed.foreach { in => src.addData(in); q.processAllAvailable() }
    finally q.stop()
    out.asScala.toSeq
  }

  private def withoutNoDataBatches[A](body: => A): A = {
    val k = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body
    finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("stream: job1, job2 and davg close every window in the join form's micro-batch") {
    val feed = rounds.updated(3, rounds(3) ++ late)
    withoutNoDataBatches {
      cases.foreach { case (name, pair, agg) =>
        val want = streamBatches(feed, joinForm(_, _, pair, agg), pair)
        val got = streamBatches(feed, eager(_, _, pair, agg), pair)
        assertSameRows(got.map(_._2), want.map(_._2), agg, s"stream $name")
        val wantBatch = want.map { case (id, row) => key(row) -> id }.toMap
        got.foreach { case (id, row) =>
          assert(wantBatch(key(row)) == id, s"stream $name: ${key(row)} closed in batch $id")
        }
        // the streaming result is the batch result on the closed windows
        val (a, b) = sides(batchFrame(rounds.flatten), pair)
        val batch = joinForm(a, b, pair, agg)
          .filter(col("window_start") < closedBelow).collect().toSeq
        assertSameRows(got.map(_._2), batch, agg, s"stream vs batch $name")
      }
    }
  }

  test("restart: streamingJob1 resumed on its checkpoint emits each window once") {
    val pair = AlertPair.cpuMem(cfg)
    val src = MemoryStream[In](spark)
    val (a, b) = sides(src.toDF().toDF("side", "ts", "server_id", "v"), pair)
    val base = Files.createTempDirectory("alertjob_restart")
    val out = s"$base/out"
    def start() = StreamingPipeline.streamingJob1(a, b, cfg).writeStream
      .format("parquet").outputMode("append")
      .option("path", out).option("checkpointLocation", s"$base/ckpt")
      .start()
    def run(feed: Seq[Seq[In]]): Unit = {
      val q = start()
      try feed.foreach { in => src.addData(in); q.processAllAvailable() }
      finally q.stop()
    }
    // stop after round 2: s1's windows are written, s2's and s3's are
    // open, and ts 310 of s3 has its a-side in state, its b-side to come
    val (before, after) = rounds.splitAt(3)
    withoutNoDataBatches {
      run(before)
      val early = spark.read.parquet(out).select("server_id").distinct().collect()
      assert(early.map(_.getString(0)).toSeq == Seq("s1"), "s1 closes before the stop")
      run(after)
    }
    val got = spark.read.parquet(out)
      .select("server_id", "window_start", "window_end", pair.aOut, pair.bOut, "alert")
      .collect().toSeq
    val (ba, bb) = sides(batchFrame(rounds.flatten), pair)
    val want = joinForm(ba, bb, pair, AlertAgg.Avg)
      .filter(col("window_start") < closedBelow).collect().toSeq
    assertSameRows(got, want, AlertAgg.Avg, "restart")
    assert(got.exists(r => r.getString(0) == "s3" &&
      r.getTimestamp(1) == new Timestamp(310 * 1000)), "ts 310 joined across the restart")
  }
}
