package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals from the scheduler's listener bus: job, stage
  * and task counts, task run/CPU/GC time, shuffle and spill bytes.
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): SparkCounters.Snap = SparkCounters.Snap(jobs.get, stages.get, tasks.get,
    taskRunMs.get, taskCpuNs.get, gcMs.get, shuffleReadBytes.get, shuffleWriteBytes.get,
    spillBytes.get)
}

object SparkCounters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
      taskCpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
      shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill)

    /** The `spark.*` per-layer metrics over a window of `wallS` seconds
      * on `cores` cores.
      */
    def metrics(wallS: Double, cores: Int): Seq[(String, Double, String)] = Seq(
      ("spark.jobs", jobs.toDouble, "count"),
      ("spark.stages", stages.toDouble, "count"),
      ("spark.tasks", tasks.toDouble, "count"),
      ("spark.task_run_s", taskRunMs / 1e3, "s"),
      ("spark.task_cpu_s", taskCpuNs / 1e9, "s"),
      ("spark.gc_s", gcMs / 1e3, "s"),
      ("spark.core_util", if (wallS > 0) taskRunMs / 1e3 / (wallS * cores) else 0.0, "ratio"),
      ("spark.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
      ("spark.spill_bytes", spill.toDouble, "bytes"))
  }
}

/** Planner phase times (`QueryPlanningTracker`) of every action that
  * completes while it is registered.
  */
final class QueryPhases extends QueryExecutionListener {
  val analysisMs = new DoubleAdder
  val optimizationMs = new DoubleAdder
  val planningMs = new DoubleAdder
  val actions = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    actions.incrementAndGet()
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    analysisMs.add(ms("analysis"))
    optimizationMs.add(ms("optimization"))
    planningMs.add(ms("planning"))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
