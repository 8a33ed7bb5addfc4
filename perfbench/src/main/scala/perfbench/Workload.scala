package perfbench

/** One benchmark workload. `prepare` builds the run's inputs and is
  * repeatable (set-up time is the median of several); `warm` runs once
  * before the measuring window; `measure` fills the report.
  */
trait Workload {
  def prepare(ctx: Ctx): Unit
  def warm(ctx: Ctx): Unit
  def measure(ctx: Ctx): Unit
}
