package graftbench

import org.apache.spark.sql.SparkSession

/** An end-to-end metric with the number of samples behind it. `name` is
  * the generic name every workload reports; `meaning` says what the
  * figure is on this workload.
  */
final case class Metric(name: String, value: Double, unit: String, samples: Int, meaning: String)

/** What one timed phase produced. `rows` is the dataset rows processed,
  * 0 when the workload counts none of its own. `cost` is the phase's
  * headline unit time (higher is slower): the traced run compares it
  * with an untraced phase for the tracing overhead, and the 1-core run
  * with the session's cores. `invalid` names each validity rule the
  * phase broke; a run that breaks one is not correct.
  */
final case class Measured(metrics: Seq[Metric], attempted: Long, failed: Long, rows: Long,
    cost: Double, layers: Map[String, Double], context: Map[String, Any],
    invalid: Seq[String] = Nil)

trait Workload {
  /** Make the workload's inputs on a fresh session. */
  def setup(spark: SparkSession): Unit
  /** Untimed warm phase; returns its unit times. */
  def warm(spark: SparkSession): Seq[Double]
  def measure(spark: SparkSession, seconds: Double, probes: Option[Probes]): Measured
  /** One unit of work on a given session, returning its cost, for the
    * 1-core comparison; None when the workload has no such run.
    */
  def oneUnit: Option[SparkSession => Double]
}

object Workload {
  /** Warm-up rule shared by all workloads: at least `min` units, then
    * stop once a unit is no more than 3 % faster than the one before,
    * or at `max` units.
    */
  val warmTolerance = 0.03

  def warmUntilFlat(min: Int, max: Int)(unit: () => Double): Seq[Double] = {
    val units = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (units.size < max && (units.size < min || !Stats.stoppedFalling(units.toSeq, warmTolerance)))
      units += unit()
    units.toSeq
  }
}
