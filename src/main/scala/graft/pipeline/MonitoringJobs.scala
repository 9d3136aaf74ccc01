package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{PipelineConfig, Schemas}
import graft.operators.RefOps
import graft.operators.RefOps.AlertPair

/** Batch rebuilds of the reference's two Spark jobs
  * (`spark_jobs/spark_job1.py:6-60`, `spark_jobs/spark_job2.py:6-60`),
  * composed from [[graft.operators.RefOps]]. Output schema, column names,
  * HH:mm:ss formatting, rounding, alert strings AND metric precision
  * (float, `spark_job1.py:20-21` — so `round(avg, 2)` agrees even at
  * rounding boundaries) match the reference exactly (FIXTURES.md §A3);
  * timestamps are anchored deterministically (SURVEY.md §1.2) instead
  * of to the run date. Row-exact golden outputs over the reference's
  * own dataset are pinned in `src/test/resources/golden/`
  * (ReferenceDatasetSpec). Both keep the literal join form rather than
  * [[graft.operators.RefOps.alertJob]]: its float `avg` sums in another
  * order, and a last-bit change can flip a golden `round(2)` digit.
  */
object MonitoringJobs {

  /** job1 core: join(cpu, mem) → sliding-window avg → CASE alerts →
    * formatted projection (`spark_jobs/spark_job1.py:18-54`).
    * Takes landed per-family tables (ts STRING "HH:mm:ss", server_id,
    * metric) and returns the alert table.
    */
  def job1(cpu: DataFrame, mem: DataFrame,
           cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    joinJob(cpu, mem, AlertPair.cpuMem(cfg), avg, cfg)

  /** job2 core: join(net, disk) → sliding-window max → CASE alerts →
    * formatted projection (`spark_jobs/spark_job2.py:18-54`). `net_out`
    * is scanned but never used by the reference plan — Catalyst prunes it
    * out of our scan entirely (SURVEY.md §4 column pruning).
    */
  def job2(net: DataFrame, disk: DataFrame,
           cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    joinJob(net, disk, AlertPair.netDisk(cfg), max, cfg)

  private def joinJob(a: DataFrame, b: DataFrame, pair: AlertPair, agg: Column => Column,
                      cfg: PipelineConfig): DataFrame = {
    val joined = RefOps.joinOnKeys(
      RefOps.castMetrics(a, Seq(pair.a), useFloat = true),
      RefOps.castMetrics(b, Seq(pair.b), useFloat = true))
    RefOps.formatAlertOutput(RefOps.slidingWindowAgg(joined, "server_id",
      Seq(agg(col(pair.a)).as(pair.aOut), agg(col(pair.b)).as(pair.bOut)), cfg), pair)
  }

  /** File-level runner matching the reference lifecycle: read landed
    * CSVs, run a job, write one CSV (`spark_jobs/spark_job1.py:57`
    * `coalesce(1)`). The single-file write is reference parity for the
    * small alert table only — never used on large paths.
    *
    * `inferSchema = false` (default) reads with explicit schemas — one
    * pass, types pinned (SURVEY.md §1.3). `true` mirrors the
    * reference's `inferSchema=True` (`spark_job1.py:14-15`): an extra
    * inference scan per input, for drop-in compatibility only.
    */
  def runJob1Files(spark: SparkSession, cpuCsv: String, memCsv: String,
                   outPath: String, cfg: PipelineConfig = PipelineConfig.default,
                   inferSchema: Boolean = false): Unit = {
    val cpu = readLanded(spark, cpuCsv, Schemas.cpu, inferSchema)
    val mem = readLanded(spark, memCsv, Schemas.mem, inferSchema)
    job1(cpu, mem, cfg).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(outPath)
  }

  def runJob2Files(spark: SparkSession, netCsv: String, diskCsv: String,
                   outPath: String, cfg: PipelineConfig = PipelineConfig.default,
                   inferSchema: Boolean = false): Unit = {
    val net = readLanded(spark, netCsv, Schemas.net, inferSchema)
    val disk = readLanded(spark, diskCsv, Schemas.disk, inferSchema)
    job2(net, disk, cfg).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(outPath)
  }

  private def readLanded(spark: SparkSession, path: String,
                         schema: org.apache.spark.sql.types.StructType,
                         inferSchema: Boolean): DataFrame = {
    val r = spark.read.option("header", "true")
    if (inferSchema) r.option("inferSchema", "true").csv(path)
    else r.schema(schema).csv(path)
  }

  /** Producer-role batch form (`producer/producer.py:61-83`): source
    * dataset → 4-topic fan-out messages. The per-row Python send loop
    * becomes a narrow distributed projection (SURVEY.md §3.1).
    */
  def producerMessages(dataset: DataFrame,
                       cfg: PipelineConfig = PipelineConfig.default): DataFrame =
    RefOps.topicFanout(dataset, cfg)
}
