package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs' seed, the
  * measuring window, where to write, and where to report.
  */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    runDir: String,
    cores: Int,
    report: Report,
    spans: Spans,
    counters: Option[SparkCounters],
    phases: Option[QueryPhases]) {

  /** Counters after every event of the actions run so far. */
  def countersNow(): SparkCounters.Snap = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    counters.map(_.snapshot()).getOrElse(SparkCounters.Snap(0, 0, 0, 0, 0, 0, 0, 0, 0))
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
