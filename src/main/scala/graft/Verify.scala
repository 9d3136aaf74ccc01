package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing query names restrict the dump (dev loop), and
    // oracle_sql.json then carries only those names, so oracle_check
    // runs on a targeted dump as is
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // knob rationale: core/GraftSession.scala (shared with Bench/Explain)
    val spark = graft.core.GraftSession.local(cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // targeted mode must not leave stale dumps from an earlier run in a
    // reused outDir — oracle_check would silently "pass" those names on
    // old results. Drop every known-query subdir we are NOT re-dumping.
    if (only.nonEmpty) {
      def rmTree(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmTree)
        f.delete(); ()
      }
      SparkEntry.queries.keysIterator
        .filterNot(only)
        .map(n => new java.io.File(outDir, n))
        .filter(_.exists())
        .foreach(rmTree)
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // each query's result is now on disk and its frame is dead — drop
      // anything still pinned (CacheScope handles operator persists; this
      // sweeps the unrecomputable iterative-operator checkpoints too)
      graft.core.CacheScope.releaseStragglers(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles =
      if (only.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.filter { case (name, _) => only(name) }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
