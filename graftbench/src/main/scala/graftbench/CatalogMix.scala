package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.core.CacheScope
import graft.queries._

/** One catalog query the benchmark runs, with its committed digest. */
final case class CatalogQuery(name: String, digest: String)

/** One timed query execution: build and action ms corrected for the
  * host's steal (`HostCpu`), the raw wall ms of both, and the part of
  * that the host's steal share accounts for.
  */
final case class Exec(buildMs: Double, actionMs: Double, rawMs: Double, stolenMs: Double) {
  def ms: Double = buildMs + actionMs
}

object CatalogMix {
  /** The area objects `SparkEntry.queries` aggregates. */
  val areas: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "tpch" -> TpchQueries.queries, "monitor" -> MonitorQueries.queries,
    "dedup" -> DedupQueries.queries, "text" -> TextQueries.queries,
    "similarity" -> SimilarityQueries.queries, "misc" -> MiscQueries.queries,
    "analytics" -> AnalyticsQueries.queries, "curation" -> CurationQueries.queries,
    "timeseries" -> TimeSeriesQueries.queries, "profiling" -> ProfilingQueries.queries,
    "behavior" -> BehaviorQueries.queries, "graph" -> GraphQueries.queries,
    "stats" -> StatsQueries.queries)

  def areaOf(name: String): String = areas.find(_._2.contains(name)).map(_._1)
    .getOrElse(throw new IllegalArgumentException(s"$name is in no area"))

  /** `name<TAB>digest` lines; `#` starts a comment. */
  def readList(file: Path): Seq[CatalogQuery] =
    Files.readAllLines(file).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        l.split("\t") match {
          case Array(n, d) => CatalogQuery(n, d)
          case _ => throw new IllegalArgumentException(s"bad query list line: $l")
        }
      }.toSeq

  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
}

/** `catalog_mix`: a fixed list of catalog queries over committed sf0.01
  * fixtures, each materialized with the `noop` sink. The seed shuffles
  * the query order of every pass. Caches are swept outside the clock
  * between queries, so no query reuses another's work.
  */
final class CatalogMix(seed: Long, dataDir: String, list: Seq[CatalogQuery])
    extends Workload {
  private var catalog: Map[String, (SparkSession, String) => DataFrame] = Map.empty
  private val rnd = new scala.util.Random(seed)

  def setup(spark: SparkSession): Unit = {
    CatalogMix.tables.foreach { t =>
      require(Files.isRegularFile(Paths.get(s"$dataDir/$t.parquet")), s"missing fixture $t")
    }
    catalog = SparkEntry.queries
    list.foreach(q => require(catalog.contains(q.name), s"unknown query ${q.name}"))
  }

  /** Between queries: drop every cache, so no query reuses another's work. */
  private def sweep(spark: SparkSession): Unit = {
    CacheScope.releaseStragglers(spark)
    spark.catalog.clearCache()
  }

  /** Build and run one query; returns (build ms, action ms), each
    * corrected for the host's steal, and the raw wall ms.
    */
  private def timed(spark: SparkSession, name: String, spans: Spans): Exec = {
    val t0 = System.nanoTime()
    val df = spans.span("SparkEntry.queries")(catalog(name)(spark, dataDir))
    val t1 = System.nanoTime()
    spans.span("noop.write")(df.write.format("noop").mode("overwrite").save())
    val t2 = System.nanoTime()
    sweep(spark)
    val rawMs = (t2 - t0) / 1e6
    Exec(HostCpu.corrected((t1 - t0) / 1e6, t0, t1), HostCpu.corrected((t2 - t1) / 1e6, t1, t2),
      rawMs, rawMs * HostCpu.share(t0, t2))
  }

  /** One pass in a seed-shuffled order: query → (build ms, action ms).
    * The heap is collected once per pass, outside the clock: a collection
    * between every two queries added 50-80 % to a pass's wall time.
    */
  private def pass(spark: SparkSession, spans: Spans): Map[String, Exec] = {
    val p = rnd.shuffle(list.map(_.name)).map(n => n -> timed(spark, n, spans)).toMap
    HeapWatch.fullGc(spark)
    p
  }

  private def passMs(p: Map[String, Exec]) = p.values.map(_.ms).sum

  /** Digest of each query's result (untimed). */
  def digests(spark: SparkSession): Map[String, String] = list.map { q =>
    val df = catalog(q.name)(spark, dataDir)
    val d = Digest.of(df.columns.toSeq, df.collect().toSeq)
    sweep(spark)
    q.name -> d
  }.toMap

  private var wrong = 0

  /** The digest pass is the first warm unit; noop passes follow until
    * the pass time stops falling (2 to 3 units in all).
    */
  def warm(spark: SparkSession): Seq[Double] = {
    var first = true
    Workload.warmUntilFlat(2, 3) { () =>
      val t0 = System.nanoTime()
      if (first) {
        val got = digests(spark)
        wrong = list.count(q => got(q.name) != q.digest)
        first = false
      } else pass(spark, new Spans(false))
      (System.nanoTime() - t0) / 1e9
    }
  }

  def measure(spark: SparkSession, seconds: Double, probes: Option[Probes]): Measured = {
    val spans = probes.map(_.spans).getOrElse(new Spans(false))
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Exec]]
    while (passes.size < 2 || System.nanoTime() - t0 < seconds * 1e9)
      passes += pass(spark, spans)
    val clean = HostCpu.preferClean(passes.toSeq, 2)(p => p.values.map(_.stolenMs).sum / p.values.map(_.rawMs).sum)
    val passS = clean.map(passMs(_) / 1000)
    val perQuery = list.map(q => q.name -> Stats.median(clean.map(p => p(q.name).ms))).toMap
    val areaMs = list.groupBy(q => CatalogMix.areaOf(q.name)).map { case (a, qs) =>
      s"catalog.$a.ms" -> qs.map(q => perQuery(q.name)).sum
    }
    val all = clean.flatMap(_.values)
    val execMs = all.map(_.ms)
    val geo = Stats.geomean(perQuery.values.toSeq)
    Measured(
      Seq(Metric("latency_p50_ms", geo, "ms", list.size, "query_geomean_ms"),
        Metric("latency_p95_ms", Stats.percentile(execMs, 0.95), "ms", execMs.size,
          "p95 of every timed query execution"),
        Metric("work_s", Stats.median(passS), "s", passS.size, "catalog_pass_s")),
      // each query's digest is checked once, in the first warm pass
      attempted = list.size.toLong, failed = wrong, rows = 0,
      cost = Stats.median(passS),
      layers = areaMs ++ Map(
        "queries.build_ms" -> Stats.median(all.map(_.buildMs)),
        "queries.action_ms" -> Stats.median(all.map(_.actionMs))),
      context = Map("passes" -> passes.size, "passes_used" -> clean.size, "pass_s" -> passS,
        "pass_raw_s" -> passes.map(_.values.map(_.rawMs).sum / 1000).toSeq, "queries" -> list.size,
        "executions" -> execMs.size, "executions_beyond_p95" -> Stats.beyond(execMs.size, 0.95),
        "query_ms" -> perQuery, "wrong_digests" -> wrong))
  }

  def oneUnit: Option[SparkSession => Double] =
    Some(spark => passMs(pass(spark, new Spans(false))) / 1000)
}
