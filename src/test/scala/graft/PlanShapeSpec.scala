package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Profiling, Similarity, TextAnalysis}
import graft.streaming.StreamingPipeline

/** Plan-shape guards for the round-8 second-wave operators: the scale
  * arguments in their scaladocs claim "no cartesian anywhere" and
  * "keyed joins only" — these assertions keep a future refactor from
  * silently introducing a nested-loop join or un-keying a shuffle.
  * (Fixture-level twin of the PLANS.md executed-plan audit.) The last
  * two tests pin q_knn_brute's heap top-k and the reference alert job's
  * eager-aggregated, join-free plan.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  /** `allowScalarBroadcasts`: operators that crossJoin a broadcast
    * 1-row aggregate (corpus size, vocab size) legitimately plan
    * BroadcastNestedLoopJoins for it (the node recurs in the plan TEXT
    * once per consumer even though the broadcast itself is reused);
    * everything else must have none at all.
    */
  private def assertNoCartesian(df: org.apache.spark.sql.DataFrame,
      name: String, allowScalarBroadcasts: Boolean = false): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"$name plan contains a cartesian product:\n$plan")
    if (!allowScalarBroadcasts)
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a nested-loop join:\n$plan")
  }

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("substring/sparse/novelty/heldout/kanon plans have no cartesian joins") {
    assertNoCartesian(
      Dedup.exactSubstringPairs(docs, "text", "doc_id"), "exactSubstringPairs")
    assertNoCartesian(
      TextAnalysis.sparseNeighbors(docs, "text", "doc_id"), "sparseNeighbors",
      allowScalarBroadcasts = true) // broadcast(nDocs), 1 row
    assertNoCartesian(
      Dedup.ngramNovelty(docs, "text", "doc_id", 5), "ngramNovelty")
    assertNoCartesian(
      TextAnalysis.heldOutCrossEntropy(docs, "text", "doc_id", "lang"),
      "heldOutCrossEntropy",
      allowScalarBroadcasts = true) // broadcast(vocab), 1 row
    assertNoCartesian(
      Profiling.kAnonymity(docs,
        Seq("lang" -> col("lang"), "source" -> col("source")), 5),
      "kAnonymity")
  }

  test("scan-speed operators stay shuffle-free: gopher profile, sq8") {
    def assertNoExchange(df: org.apache.spark.sql.DataFrame,
        name: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$name claims scan-speed but its plan shuffles:\n$plan")
    }
    assertNoExchange(
      TextAnalysis.ngramRepetition(docs, "text", "doc_id"), "ngramRepetition")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    assertNoExchange(
      Similarity.scalarQuantize(emb, "embedding", "vec_id"), "scalarQuantize")
  }

  test("document scans prune to the columns the operator touches") {
    // ngramRepetition needs (doc_id, text) only — lang/source/n_chars
    // must not reach the parquet reader
    val plan = TextAnalysis.ngramRepetition(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"),
      s"scan must read the two used columns: $readSchema")
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"scan reads columns the query never touches: $readSchema")
  }

  test("q_knn_brute ranks on the map-side heap: ObjectHashAggregate, no Window") {
    val df = SparkEntry.queries("q_knn_brute")(spark, sf0001)
    df.collect() // the final adaptive plan is the one that ran
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("the reference alert job plans no join: monitor queries and streaming job1") {
    Seq("q_monitor_pipeline", "q_monitor_max").foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sf0001).queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$n plans a join:\n$plan")
    }
    val src = MemoryStream[(Timestamp, String, Double)](spark)
    val in = src.toDF()
    src.addData((new Timestamp(100000L), "s1", 1.0))
    val q = StreamingPipeline.streamingJob1(
        in.toDF("ts", "server_id", "cpu_pct"), in.toDF("ts", "server_id", "mem_pct"))
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("plan_job1").toString)
      .start()
    val plan = try {
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
    } finally q.stop()
    assert(!plan.contains("StreamingSymmetricHashJoin"), s"streamingJob1 joins:\n$plan")
    assert("StateStoreSave".r.findAllMatchIn(plan).size == 2,
      s"streamingJob1 must hold exactly two stateful aggregates:\n$plan")
  }
}
