package graft

import graft.core.PipelineConfig
import graft.pipeline.MonitoringJobs
import PipelineConfig.Alerts

/** End-to-end pipeline semantics on micro-fixtures (FIXTURES.md §A4):
  * job1/job2 output schema, HH:mm:ss formatting, rounding, alerts.
  */
class MonitoringJobsSpec extends SparkSpec {
  import spark.implicits._

  private def cpu = Seq(
    ("20:53:00", "server_1", 99.0), ("20:53:05", "server_1", 96.0),
    ("20:53:00", "server_2", 10.0)).toDF("ts", "server_id", "cpu_pct")
  private def mem = Seq(
    ("20:53:00", "server_1", 90.0), ("20:53:05", "server_1", 85.555),
    ("20:53:00", "server_2", 20.0)).toDF("ts", "server_id", "mem_pct")

  test("job1: schema + alert + HH:mm:ss windows + round(2)") {
    val out = MonitoringJobs.job1(cpu, mem)
    assert(out.columns.toSeq ==
      Seq("server_id", "window_start", "window_end", "avg_cpu", "avg_mem", "alert"))
    val rows = out.collect()
    // server_1 rows are over both thresholds in every covering window
    assert(rows.filter(_.getString(0) == "server_1").forall(_.getString(5) == Alerts.cpuMemBoth))
    assert(rows.filter(_.getString(0) == "server_2").forall(_.getString(5) == Alerts.ok))
    // 20:53:00 lands in windows starting 20:52:40/:50/:53:00 (HH:mm:ss strings)
    val s2windows = rows.filter(_.getString(0) == "server_2").map(_.getString(1)).sorted
    assert(s2windows.toSeq == Seq("20:52:40", "20:52:50", "20:53:00"))
    // rounding to 2 decimals at the output edge
    val s1 = rows.filter(r => r.getString(0) == "server_1" && r.getString(1) == "20:53:00").head
    assert(s1.getDouble(3) == 97.5) // avg(99,96)
    assert(s1.getDouble(4) == 87.78) // avg(90,85.555) = 87.7775 → round 2
  }

  test("job2: max aggregation + net/disk alert strings") {
    val net = Seq(("20:53:00", "server_1", 5000.0), ("20:53:00", "server_2", 10.0))
      .toDF("ts", "server_id", "net_in")
    val disk = Seq(("20:53:00", "server_1", 10.0), ("20:53:00", "server_2", 4600.0))
      .toDF("ts", "server_id", "disk_io")
    val out = MonitoringJobs.job2(net, disk).collect()
    assert(out.filter(_.getString(0) == "server_1").forall(_.getString(5) == Alerts.netOnly))
    assert(out.filter(_.getString(0) == "server_2").forall(_.getString(5) == Alerts.diskOnly))
  }

  test("inferSchema compat: job1 over headerful CSVs without explicit schema is identical") {
    // both file runners: job1 over cpu+mem, job2 over net+disk
    val net = Seq(("20:53:00", "server_1", 5000.0), ("20:53:05", "server_1", 12.5),
      ("20:53:00", "server_2", 10.0)).toDF("ts", "server_id", "net_in")
    val disk = Seq(("20:53:00", "server_1", 10.0), ("20:53:05", "server_2", 4600.0),
      ("20:53:00", "server_2", 3.25)).toDF("ts", "server_id", "disk_io")
    val runners: Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        (String, String, String, Boolean) => Unit)] = Seq(
      ("job1", cpu, mem, (a, b, out, infer) =>
        MonitoringJobs.runJob1Files(spark, a, b, out, inferSchema = infer)),
      ("job2", net, disk, (a, b, out, infer) =>
        MonitoringJobs.runJob2Files(spark, a, b, out, inferSchema = infer)))
    def lines(p: String) = spark.read.option("header", "true").csv(p)
      .collect().map(_.mkString(",")).sorted.toSeq
    runners.foreach { case (job, left, right, run) =>
      val dir = java.nio.file.Files.createTempDirectory(s"inferschema_$job").toString
      left.coalesce(1).write.option("header", "true").csv(s"$dir/a")
      right.coalesce(1).write.option("header", "true").csv(s"$dir/b")
      run(s"$dir/a", s"$dir/b", s"$dir/out_explicit", false)
      run(s"$dir/a", s"$dir/b", s"$dir/out_inferred", true)
      val explicit = lines(s"$dir/out_explicit")
      assert(explicit.nonEmpty, job)
      assert(explicit == lines(s"$dir/out_inferred"), job)
    }
  }

  test("producer fan-out emits 4 messages per dataset row") {
    val ds = Seq(("20:53:00", "server_1", 1.0, 2.0, 3.0, 4.0, 5.0))
      .toDF("ts", "server_id", "cpu_pct", "mem_pct", "net_in", "net_out", "disk_io")
    assert(MonitoringJobs.producerMessages(ds).count() == 4)
  }
}
