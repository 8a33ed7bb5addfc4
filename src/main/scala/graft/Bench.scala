package graft

import org.apache.spark.sql.SparkSession

import graft.route.TopicRouter
import graft.sources.SnapshotSource
import graft.transform.Handlers

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // noop sink: materializes EVERY output column (count() would let
    // Catalyst prune computed columns on map-only queries and
    // under-measure them) without collecting to the driver.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm-up: JIT + noop-writer + parquet-footer caches over EVERY
    // table, so the first measured query isn't charged session
    // start-up or first-scan costs — measured variance
    // on the leading queries dominated run-to-run noise before this
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      // Tables.load, not a raw read: events.parquet carries nanos
      // timestamps only it decodes
      try run(graft.sources.Tables.load(spark, sfDir, t)) catch { case _: Throwable => () }
    }
    // A failed query is reported as NEGATIVE time-to-failure and listed
    // in "errors", so a crash can never masquerade as a fast success.
    // Each query runs TWICE and reports the min; if the two attempts
    // disagree by more than 3x (co-located load hit BOTH windows, so
    // min-of-two cannot cancel it) a THIRD attempt runs and the min of
    // all successes is reported. Every attempt is published in the
    // "attempts" JSON map so an outlier is visible, not laundered.
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // Persistent-storage hygiene between queries: eager localCheckpoints
    // (connected components' per-round frames, the replica lane's
    // per-batch merges, ANN assignment and curation survivor frames)
    // stay in the block manager until the driver's ContextCleaner
    // happens to GC them — which within one bench run is "never", so
    // they accrete as executor-heap pressure that the min-of-two
    // discipline cannot cancel (both attempts of a LATER query pay the
    // same GC debt). After each query's attempts, FamilyCaches.sweep
    // unpersists every persistent RDD the query created that no shared
    // artifact owns; the artifacts (shingles, pair tables, trained
    // models, replay indexes) live until the run ends, so any subset
    // or order of queries builds each one once.
    // Opt-in subset for derived-scale sweeps (BENCH_SCALING's third
    // point runs only the selected lanes); the driver never sets it,
    // so the per-round contract is unchanged. The CDC race lanes are
    // skipped under a subset run — the subset timings are per-query
    // scaling points, not a headline-throughput rerun.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // One-time family-cache builds (shingles, unigram/wordpiece/KN-4
    // training, CT artifacts, contamination/interval pair tables) land
    // in the building attempt only; min-of-attempts would price the
    // steady-state read and silently exclude the build from the total.
    // FamilyCaches counts builds per attempt, and every building
    // attempt's delta over the published minimum is charged into
    // cache_build_sec — added to the published "value", so the
    // headline is a cold-suite number (r16 verdict item 2). The
    // attempts map still carries the raw numbers unchanged.
    var cacheBuildSec = 0.0
    val runBuilds0 = graft.queries.FamilyCaches.buildCount
    val results = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1).map { case (name, fn) =>
      val preIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val attempts = scala.collection.mutable.ArrayBuffer.empty[Double]
      val builtInAttempt = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      def attempt(): Boolean = {
        val builds0 = graft.queries.FamilyCaches.buildCount
        val t0 = System.nanoTime()
        try { run(fn(spark, sfDir)); attempts += (System.nanoTime() - t0) / 1e9
              builtInAttempt += graft.queries.FamilyCaches.buildCount > builds0; true }
        catch { case _: Throwable =>
          attempts += -((System.nanoTime() - t0) / 1e9)
          builtInAttempt += graft.queries.FamilyCaches.buildCount > builds0; false }
      }
      val sec =
        if (!attempt()) { errors += name; attempts.last }
        else if (!attempt()) { errors += name; -attempts.head }
        else {
          val two = attempts.toSeq
          // both windows contended: a 17x outlier must not publish as
          // the query's number when a clean run is 3x+ faster
          if (two.max / two.min > 3.0 && !attempt())
            errors += s"${name}_third_attempt"
          attempts.filter(_ > 0).min
        }
      if (sec > 0) cacheBuildSec += attempts.indices.collect {
        case i if builtInAttempt(i) && attempts(i) > 0 =>
          math.max(0.0, attempts(i) - sec)
      }.sum
      graft.queries.FamilyCaches.sweep(spark, preIds)
      (name, sec, attempts.toSeq)
    }
    // every artifact is built once per run, whatever the query subset
    val cacheBuilds = graft.queries.FamilyCaches.buildCount - runBuilds0
    graft.queries.FamilyCaches.clear(spark)
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val attemptsJson = results.map { case (k, _, as) =>
      s"\"" + k + "\":" + as.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v > 0 => v }.sum

    // CDC end-to-end throughput, apples-to-apples with the reference's
    // 10M-row replication race (BASELINE.md, ~66.7k rows/s): snapshot
    // lineitem -> normalize -> route -> default handler (JSON value, key,
    // headers) -> count the produced Kafka-contract records.
    lazy val cdcDf = Handlers.declarative(
      SnapshotSource.snapshot(spark, sfDir, "lineitem"),
      TopicRouter(Map("public.lineitem" -> "lineitem-topic")),
      keyField = "l_orderkey")
    val cdcRows = try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      catch { case _: Throwable => 0L }
    // Same two-runs-min discipline as the queries: throughput is the
    // headline number and must not be depressed by a contended first run.
    def cdcAttempt(): Option[Double] = {
      val t0 = System.nanoTime()
      try { run(cdcDf); Some((System.nanoTime() - t0) / 1e9) }
      catch { case _: Throwable => None }
    }
    val cdcSecs = if (only.isDefined) Seq.empty[Double]
      else Seq(cdcAttempt(), cdcAttempt()).flatten
    val cdcOk = cdcSecs.nonEmpty
    if (only.isEmpty) {
      if (!cdcOk) errors += "cdc_pipeline"
      else if (cdcSecs.length == 1) errors += "cdc_pipeline_flaky" // one of two attempts failed
    }
    val cdcSec = if (cdcOk) cdcSecs.min else 0.0
    // A failed CDC run must not report a (possibly inflated) throughput.
    val cdcRps = if (cdcOk && cdcSec > 0) cdcRows / cdcSec else -1.0

    // The Debezium-envelope serializer twin: same snapshot, same routing,
    // envelope wire format — reported separately so a cost difference in
    // the alternative serializer is visible instead of averaged away.
    lazy val dbzDf = Handlers.debeziumEnvelope(
      SnapshotSource.snapshot(spark, sfDir, "lineitem"),
      TopicRouter(Map("public.lineitem" -> "lineitem-topic")),
      keyField = "l_orderkey")
    def dbzAttempt(): Option[Double] = {
      val t0 = System.nanoTime()
      try { run(dbzDf); Some((System.nanoTime() - t0) / 1e9) }
      catch { case _: Throwable => None }
    }
    val dbzSecs = if (only.isDefined) Seq.empty[Double]
      else Seq(dbzAttempt(), dbzAttempt()).flatten
    if (only.isEmpty) {
      if (dbzSecs.isEmpty) errors += "cdc_debezium_pipeline"
      else if (dbzSecs.length == 1) errors += "cdc_debezium_pipeline_flaky"
    }
    val dbzRps =
      if (dbzSecs.nonEmpty && dbzSecs.min > 0) cdcRows / dbzSecs.min else -1.0
    val errsJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")

    // Full per-query JSON (the complete "queries" + "attempts" maps) goes
    // to a FILE: the round driver keeps only the last ~2000 chars of
    // stdout, so a 285-query line can never land whole in the artifact
    // (BENCH_r11-r13 all carried "parsed": null tails). stdout gets ONE
    // compact line — headline metrics, the slowest queries, and the
    // pointer — that fits the window completely and parses.
    // Published total = steady-state minimums + every one-time family
    // cache build priced exactly once (cache_build_sec; r16 verdict
    // item 2). steady_total_sec keeps the old min-of-attempts semantics
    // visible next to it.
    val publishedTotal = total + cacheBuildSec
    // Per-query digest vs the committed pair (r16 verdict item 3): the
    // driver's stdout window can't carry 300 per-query numbers, so the
    // comparison against the committed BENCH_FULL_sf01.json runs
    // IN-PROCESS and ships as three compact fields. Only emitted when
    // the reference exists and matches this run's scale and core count
    // (the committed pair is local[32] sf0.1 — an 8-core scaling run
    // must not read as a mass regression).
    val committedRef = java.nio.file.Paths.get("BENCH_FULL_sf01.json")
    val digest: String =
      if (cpus != "32" || !java.nio.file.Files.exists(committedRef)) ""
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(committedRef),
          java.nio.charset.StandardCharsets.UTF_8)
        val refSf = """"sf":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
        val sameScale = refSf.exists(r =>
          new java.io.File(r).getName == new java.io.File(sfDir).getName)
        val ref = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
          .map(m => """"([^"]+)":(-?[0-9.eE+]+)""".r.findAllMatchIn(m.group(1))
            .map(g => g.group(1) -> g.group(2).toDouble).toMap)
          .getOrElse(Map.empty[String, Double])
        val common = results.collect {
          case (k, v, _) if v > 0 && ref.getOrElse(k, 0.0) > 0 => (v, ref(k)) }
        if (!sameScale || common.isEmpty) ""
        else {
          val nImp = common.count { case (v, r) => v * 1.1 < r }
          val nReg = common.count { case (v, r) => v > r * 1.1 }
          val geo = math.exp(
            common.map { case (v, r) => math.log(v / r) }.sum / common.size)
          f""""n_common_vs_committed":${common.size},"n_improved":$nImp,""" +
            f""""n_regressed":$nReg,"geomean_vs_committed":$geo%.3f,"""
        }
      }
    val fullJson =
      s"""{"metric":"total","value":$publishedTotal,"unit":"sec",""" +
      f""""steady_total_sec":$total,"cache_build_sec":$cacheBuildSec%.3f,""" +
      s""""cache_builds":$cacheBuilds,"queries":$qs,""" +
      s""""attempts":$attemptsJson,""" +
      s""""cdc_rows":$cdcRows,"cdc_sec":$cdcSec,"cdc_rows_per_sec":$cdcRps,""" +
      s""""cdc_debezium_rows_per_sec":$dbzRps,""" +
      s""""errors":$errsJson,"sf":"$sfDir"}"""
    val fullPath = java.nio.file.Paths.get("BENCH_FULL.json").toAbsolutePath
    java.nio.file.Files.write(fullPath,
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val slowest = results.filter(_._2 > 0).sortBy(-_._2).take(16)
      .map { case (k, v, _) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$publishedTotal%.3f,"unit":"sec","n_queries":${results.length},""" +
      f""""steady_total_sec":$total%.3f,"cache_build_sec":$cacheBuildSec%.3f,""" +
      s""""cache_builds":$cacheBuilds,""" + digest +
      s""""cdc_rows":$cdcRows,"cdc_sec":$cdcSec,"cdc_rows_per_sec":$cdcRps,""" +
      s""""cdc_debezium_rows_per_sec":$dbzRps,""" +
      s""""errors":$errsJson,"slowest":$slowest,""" +
      s""""queries_file":"$fullPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
