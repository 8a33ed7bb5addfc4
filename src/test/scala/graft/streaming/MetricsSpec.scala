package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.app.{Connector, ConnectorConfig, KafkaSinkConfig}

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Pipeline metrics (O17) through the fused accumulator probe — the
  * production path since the CollectMetrics observe node was measured
  * at ~50% of serializer-lane throughput: per-batch event counts,
  * process latency, per-topic successes and quality violations all
  * surface through the connector's collector while the pipeline runs.
  */
class MetricsSpec extends SparkSpec {

  test("collector reports events and process latency per micro-batch") {
    val src = Files.createTempDirectory("graft-msrc")
    val chk = Files.createTempDirectory("graft-mchk")
    val out = Files.createTempDirectory("graft-mout")
    val lines = (0 until 7).map { i =>
      s"""{"eventTime":"2024-01-01T00:00:00.000Z","tableNamespace":"public","tableName":"users","oldData":null,"newData":{"id":"$i"},"op":"INSERT"}"""
    }
    Files.write(src.resolve("b.json"), String.join("\n", lines: _*).getBytes)

    val conn = new Connector(spark,
      ConnectorConfig(
        sourceDir = src.toString, checkpointDir = chk.toString,
        kafka = KafkaSinkConfig(Seq("unused:9092"),
          tableTopicMapping = Map("public.users" -> "t"),
          producerBatchTickerDuration = 250.millis)),
      sink = "parquet", parquetOutDir = out.toString)
    conn.start()
    val deadline = System.currentTimeMillis() + 60000
    while (conn.totalProcessedEvents < 7 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    conn.close()

    assert(conn.totalProcessedEvents == 7)
    val withData = conn.batchMetrics.filter(_.events > 0)
    // event-time is 2024 → latency is large and positive; duration sane
    assert(withData.forall(_.maxProcessLatencyMs > 0))
    assert(withData.forall(_.batchDurationMs >= 0))
    // per-topic success counters flow from the sink-side probe: the 7
    // clean inserts all route to topic "t"
    assert(conn.metrics.successCount("t") == 7)
  }

  test("inline quality counters: dropped and null-key records surface, good ones don't") {
    val src = Files.createTempDirectory("graft-qsrc")
    val chk = Files.createTempDirectory("graft-qchk")
    val out = Files.createTempDirectory("graft-qout")
    def line(op: String, table: String, data: String) =
      s"""{"eventTime":"2024-01-01T00:00:00.000Z","tableNamespace":"public","tableName":"$table","oldData":null,"newData":$data,"op":"$op"}"""
    val lines = Seq(
      line("INSERT", "users", """{"id":"1"}"""),      // clean
      line("INSERT", "users", """{"id":"2"}"""),      // clean
      line("UPSERT", "users", """{"id":"3"}"""),      // unknown op → dropped
      line("TRUNCATE", "users", """{}"""),             // KNOWN op, keyless by contract — no violation
      line("INSERT", "ghosts", """{"id":"4"}"""),     // unroutable table → dropped
      line("INSERT", "users", """{"name":"x"}"""))    // key field absent → null key
    Files.write(src.resolve("b.json"), String.join("\n", lines: _*).getBytes)

    val conn = new Connector(spark,
      ConnectorConfig(
        sourceDir = src.toString, checkpointDir = chk.toString,
        kafka = KafkaSinkConfig(Seq("unused:9092"),
          tableTopicMapping = Map("public.users" -> "t"),
          producerBatchTickerDuration = 250.millis)),
      sink = "parquet", parquetOutDir = out.toString)
    conn.start()
    val deadline = System.currentTimeMillis() + 60000
    while (conn.totalProcessedEvents < 6 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    conn.close()

    val text = conn.metrics.render
    def metric(c: String): Double =
      text.linesIterator
        .find(l => l.startsWith("graft_cdc_quality_violations_total") &&
          l.contains(s"""constraint="$c""""))
        .map(_.split(' ').last.toDouble).getOrElse(0.0)
    assert(metric("unknown_op") == 1.0, s"unknown_op missing:\n$text")
    assert(metric("unroutable_table") == 1.0, s"unroutable_table missing:\n$text")
    assert(metric("null_key") == 1.0, s"null_key missing:\n$text")
    // every record carries a KNOWN op except the UPSERT, and TRUNCATE
    // is dropped by default (emitTruncates off) — so exactly 3 reach
    // the sink-side topic counter (2 clean + the null-key one)
    assert(conn.metrics.successCount("t") == 3)
  }

  test("another streaming query in the session leaves the connector's metrics alone") {
    // Progress listeners are session-global. The connector drains its
    // probe only on its own query's progress, so an unrelated query's
    // progress must neither overwrite the bulk-latency gauge nor add
    // to the batch list.
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val src = Files.createTempDirectory("graft-ssrc")
    val chk = Files.createTempDirectory("graft-schk")
    val out = Files.createTempDirectory("graft-sout")
    val other = Files.createTempDirectory("graft-sother")
    val lines = (0 until 7).map { i =>
      s"""{"eventTime":"2024-01-01T00:00:00.000Z","tableNamespace":"public","tableName":"users","oldData":null,"newData":{"id":"$i"},"op":"INSERT"}"""
    }
    Files.write(src.resolve("b.json"), String.join("\n", lines: _*).getBytes)
    Files.write(other.resolve("o.json"), "{\"x\":1}\n{\"x\":2}".getBytes)

    val conn = new Connector(spark,
      ConnectorConfig(
        sourceDir = src.toString, checkpointDir = chk.toString,
        kafka = KafkaSinkConfig(Seq("unused:9092"),
          tableTopicMapping = Map("public.users" -> "t"),
          producerBatchTickerDuration = 250.millis)),
      sink = "parquet", parquetOutDir = out.toString)
    val q = conn.start()
    val deadline = System.currentTimeMillis() + 60000
    while (conn.totalProcessedEvents < 7 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(conn.totalProcessedEvents == 7)
    val before = conn.batchMetrics

    def bulkGauge: Long = conn.metrics.render.linesIterator
      .find(_.startsWith("graft_cdc_bulk_request_process_latency_current"))
      .map(_.split(' ').last.toDouble.toLong).get
    // the gauge the connector's own progress last set; the watcher is
    // registered after the connector's listener, so it sees each event
    // after the connector has handled it
    val expected = new AtomicLong(-1L)
    val seen = new ConcurrentLinkedQueue[(Long, Long)]() // (gauge, expected)
    val watcher = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == q.id) expected.set(e.progress.batchDuration)
        else seen.add((bulkGauge, expected.get))
    }
    spark.streams.addListener(watcher)
    expected.compareAndSet(-1L, bulkGauge)
    try {
      // a slow batch gives the unrelated query a distinctive duration
      val unrelated = spark.readStream.schema("x INT").json(other.toString).writeStream
        .foreachBatch { (_: Dataset[Row], _: Long) => Thread.sleep(800L) }
        .start()
      val waitUntil = System.currentTimeMillis() + 60000
      while (seen.isEmpty && System.currentTimeMillis() < waitUntil) Thread.sleep(100)
      unrelated.stop()
      assert(!seen.isEmpty, "the unrelated query's progress never arrived")
      seen.asScala.foreach { case (gauge, want) =>
        assert(gauge == want, s"bulk-latency gauge $gauge ms, the connector's batch took $want ms")
      }
      assert(conn.batchMetrics == before)
    } finally {
      spark.streams.removeListener(watcher)
      conn.close()
    }
  }

  test("probe counters under a task retry: failed-attempt updates dropped, nothing lost") {
    // The probe bumps Spark accumulators from a TRANSFORMATION. Spark's
    // accumulator protocol drops updates from FAILED task attempts
    // (user accumulators don't countFailedValues), so a one-shot fault
    // injected downstream of the probe — the retried task re-counts its
    // whole partition, the failed attempt's partial counts are
    // discarded — must land on the EXACT row count. The semantics that
    // remain at-least-once are re-runs of SUCCESSFUL tasks (stage
    // resubmission after a lost shuffle output, speculative twins that
    // both commit): counters inflate, never lose. Pinned here with the
    // TaskContext.attemptNumber one-shot-fault pattern (the session is
    // local[4, 2] — two task attempts).
    import org.apache.spark.sql.functions._
    import graft.route.TopicRouter
    val s = spark
    import s.implicits._
    val n = 40
    val base = s.sparkContext.parallelize(0 until n, 2).toDF("id").select(
      lit("INSERT").as("op"),
      lit("public").as("tableNamespace"),
      lit("users").as("tableName"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("eventTime"),
      lit(null).cast("map<string,string>").as("oldData"),
      map(lit("id"), $"id".cast("string")).as("newData"))
    val probe = new PipelineProbe(
      s.sparkContext, TopicRouter(Map("public.users" -> "t")), "id", "retryspec")
    val oneShot = udf { (_: Int) =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
        throw new RuntimeException("injected one-shot fault (retry spec)")
      true
    }.asNondeterministic() // must not be pushed below the probe projection
    probe.attach(base).filter(oneShot(spark_partition_id()))
      .write.format("noop").mode("overwrite").save()
    // partition 0's first attempt probed ≥1 row before the fault fired,
    // then failed — those updates were dropped; the successful retry
    // counted the partition once. Exact, not inflated:
    assert(probe.events.value == n,
      s"expected exactly $n events after a retried task, got ${probe.events.value}")
    val d = probe.drain()
    assert(d.events == n && d.latencyAdvanced && d.nullKey == 0)
  }
}
