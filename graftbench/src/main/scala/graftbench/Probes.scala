package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-batch progress of every streaming query, from Spark's public
  * `StreamingQueryListener`.
  */
final class StreamProbe extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add(e.progress); ()
  }
  def progress: Seq[StreamingQueryProgress] = events.asScala.toSeq
}

/** Per-execution planning phases and final plan shape, from Spark's
  * public `QueryExecutionListener`. Streaming micro-batches are not
  * counted here; their sink collects are.
  */
final class PlanProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  import PlanProbe.Exec
  private val execs = new ConcurrentLinkedQueue[Exec]()

  private def shape(plan: SparkPlan): (Int, Int, Int) = (
    collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.size,
    collectWithSubqueries(plan) { case e: BroadcastExchangeExec => e }.size,
    collectWithSubqueries(plan) { case r: AQEShuffleReadExec if r.isCoalescedRead => r }.size)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val (ex, bc, co) = shape(qe.executedPlan)
    execs.add(Exec(qe.tracker.phases.map { case (k, v) => k -> v.durationMs }, ex, bc, co))
    ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def all: Seq[Exec] = execs.asScala.toSeq
}

object PlanProbe {
  final case class Exec(phasesMs: Map[String, Long],
      exchanges: Int, broadcasts: Int, coalescedReads: Int)
}

/** The listeners and spans of a traced measurement, registered by the
  * benchmark on the session under test.
  */
final class Probes(spark: SparkSession) {
  val spans = new Spans(true)
  val stream = new StreamProbe
  val plans = new PlanProbe
  private val compile0 = CodeGenerator.compileTime

  spark.streams.addListener(stream)
  spark.listenerManager.register(plans)

  def codegenCompileMs: Double = (CodeGenerator.compileTime - compile0) / 1e6

  def close(): Unit = {
    ExecCounters.drain(spark)
    spark.streams.removeListener(stream)
    spark.listenerManager.unregister(plans)
  }
}
