package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One workload run in one JVM, started by run.py:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --run-dir <dir> --launch-ms <epoch ms of the launch>
  *
  * Prints one JSON line (the [[Report]]) as its last line of output.
  */
object Main {
  val Cores = 4
  val PrepareRepeats = 3

  val workloads: Map[String, Workload] = Map(
    "snapshot_kafka" -> SnapshotKafka,
    "live_tail" -> LiveTail,
    "lanes_driver" -> Lanes)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = opts("workload")
    val workload = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val trace = opts.get("trace").contains("1")
    val runDir = Paths.get(opts("run-dir")).toAbsolutePath.toString
    val launchMs = opts("launch-ms").toLong

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    graft.GraftExtensions.register(spark)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3

    val counters = if (trace) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val phases = if (trace) Some(new QueryPhases) else None
    phases.foreach(spark.listenerManager.register)
    val report = new Report(name)
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toInt, trace, runDir, Cores,
      report, new Spans(trace), counters, phases)

    val prepareS = (1 to PrepareRepeats).map(_ => ctx.timed(workload.prepare(ctx))._2)
    val warmS = ctx.timed(workload.warm(ctx))._2
    val setupS = sessionS + Stats.median(prepareS) + warmS
    report.metric("setup_s", setupS, "s")
    report.line(f"$name setup_s = $setupS%.3f s (session $sessionS%.3f s + prepare median " +
      f"${Stats.median(prepareS)}%.3f s of ${prepareS.length} + warm-up $warmS%.3f s)")

    workload.measure(ctx)

    if (trace) ctx.spans.totals.toSeq.sortBy(-_._2.totalS).foreach { case (span, t) =>
      report.line(f"$name span $span: ${t.count} calls, ${t.totalS}%.3f s total, ${t.selfS}%.3f s self")
    }
    val rssMb = peakRssMb()
    report.metric("peak_rss_mb", rssMb, "MB")
    report.line(f"$name peak_rss_mb = $rssMb%.1f MB")
    println(report.toJson)
    System.out.flush()
    // run.py deletes the run directory, so Spark's orderly shutdown (temp
    // dir sweeps, executor teardown) would only add seconds to every run
    Runtime.getRuntime.halt(0)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
  }
}
