package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.core.StageMetrics

/** The one measurement layer: [[StageMetrics]] sums exactly the stages
  * of the measured window, and the Bench exclusion rules built on it
  * admit and exclude the recorded cases they were written for.
  */
class StageMetricsSpec extends SparkSpec {

  private val n = 1000L
  private lazy val dir = Files.createTempDirectory("stage-metrics")
  private lazy val parquet = {
    val p = dir.resolve("in").toString
    spark.range(n).write.parquet(p)
    p
  }

  test("totals.inputRows of a scan is the parquet file's row count") {
    val in = parquet // written outside the window: range counts input rows too
    val (_, m) = StageMetrics.during(spark) { _ =>
      spark.read.parquet(in).write.format("noop").mode("overwrite").save()
    }
    val t = m.totals()
    assert(t.inputRows == n)
    assert(t.tasks > 0)
  }

  test("totals(since) excludes a write submitted before the mark") {
    val (in, copy) = (parquet, dir.resolve("copy").toString)
    val (mark, m) = StageMetrics.during(spark) { _ =>
      spark.read.parquet(in).write.parquet(copy)
      val mark = System.currentTimeMillis
      spark.read.parquet(copy).write.format("noop").mode("overwrite").save()
      mark
    }
    assert(m.totals().inputRows == 2 * n)
    assert(m.totals(mark).inputRows == n)
  }

  test("during removes its listener when the body throws") {
    var seen: StageMetrics = null
    intercept[IllegalStateException] {
      StageMetrics.during(spark) { m =>
        seen = m
        spark.range(10).repartition(2).count()
        throw new IllegalStateException("body failed")
      }
    }
    val before = seen.totals().tasks
    assert(before > 0, "the listener never saw the body's stages")
    spark.range(10).repartition(2).count()
    StageMetrics.drain(spark)
    assert(seen.totals().tasks == before)
  }

  test("per-query rule: core-starvation phantom and 4x-cpu pass excluded, sub-second jitter admitted") {
    import Bench.{QM, robustQuery}
    // r14 phantom: pass cpu only 1.67x (admitted by the cpu stage), wall
    // 12x the calm minimum — the wall stage names it contention
    assert(robustQuery(Seq(QM(2.07, 3000), QM(25.1, 5010), QM(2.12, 3050))) ==
      ((2.12, Seq(1))))
    // memory contention: 4x the on-CPU work on an identical plan
    assert(robustQuery(Seq(QM(1.50, 1000), QM(1.62, 4000), QM(1.48, 1040))) ==
      ((1.50, Seq(1))))
    // 30 ms of wall jitter on a ~30 ms query is > 2x in ratio but inside
    // both absolute slacks (250 ms cpu, 100 ms wall)
    assert(robustQuery(Seq(QM(0.025, 20), QM(0.055, 70), QM(0.030, 25))) ==
      ((0.030, Nil)))
  }

  test("stream rule: cpuCluster with no slack drops the 4-9x cpu runs") {
    // r13 artifact shape: 3 of 5 runs agree, 2 burned 4-9x the cpu
    val admitted = Bench.cpuCluster(Seq(5000L, 21000L, 5400L, 4800L, 40000L),
      slackMs = 0)
    assert(admitted.toSet == Set(0, 2, 3))
  }

  test("exactly one SparkListener subclass exists under src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val listener =
      """(?:extends|new|with)\s+(?:org\.apache\.spark\.scheduler\.)?SparkListener\b""".r
    val files = Files.walk(root)
    val hits =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { f: Path =>
          val src = new String(Files.readAllBytes(f), "UTF-8")
          listener.findAllIn(src).map(_ => root.relativize(f).toString)
        }.toList
      finally files.close()
    assert(hits == List("graft/core/StageMetrics.scala"))
  }
}
