package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.app.{Connector, ConnectorConfig, KafkaSinkConfig}

import scala.concurrent.duration._

/** End-to-end streaming pipeline + checkpoint-resume semantics, mirroring
  * the reference's most load-bearing integration test
  * (`integration_test/connector_test.go:416-648`): produce batch 1 → stop
  * the connector → produce batch 2 while it is down → restart → exactly
  * batch1+batch2 messages, no loss, no duplicates, and live tailing still
  * works.
  */
class CdcStreamingSpec extends SparkSpec {

  private def writeEvents(dir: Path, name: String, ids: Range): Unit = {
    val lines = ids.map { i =>
      s"""{"eventTime":"2024-01-01T00:00:${"%02d".format(i % 60)}.000Z","tableNamespace":"public","tableName":"users","oldData":null,"newData":{"id":"$i","name":"user$i"},"op":"INSERT"}"""
    }
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes)
  }

  private def cfg(src: Path, chk: Path): ConnectorConfig = ConnectorConfig(
    sourceDir = src.toString,
    checkpointDir = chk.toString,
    kafka = KafkaSinkConfig(
      brokers = Seq("unused:9092"),
      tableTopicMapping = Map("public.users" -> "users-topic"),
      producerBatchTickerDuration = 250.millis),
    keyField = "id")

  test("resume from checkpoint: no loss, no duplicates across restart") {
    val src = Files.createTempDirectory("graft-src")
    val chk = Files.createTempDirectory("graft-chk")
    val out = Files.createTempDirectory("graft-out")
    val c = cfg(src, chk)

    // batch 1 (5 events) → run until sunk
    writeEvents(src, "batch1.json", 0 until 5)
    val conn1 = new Connector(spark, c, sink = "parquet", parquetOutDir = out.toString)
    val q1 = conn1.start()
    eventually(q1.recentProgress.map(_.numInputRows).sum >= 5, "batch1 not consumed")
    conn1.close()

    // batch 2 (5 events) arrives while the connector is down
    writeEvents(src, "batch2.json", 5 until 10)

    // restart from the same checkpoint → only batch 2 is re-read
    val conn2 = new Connector(spark, c, sink = "parquet", parquetOutDir = out.toString)
    val q2 = conn2.start()
    eventually(spark.read.parquet(out.toString).count() == 10, "batch2 not consumed")

    // live tail still works after resume (third batch while running)
    writeEvents(src, "batch3.json", 10 until 13)
    eventually(spark.read.parquet(out.toString).count() == 13, "live tail failed")
    conn2.close()

    val rows = spark.read.parquet(out.toString)
      .selectExpr("cast(key AS string) AS k", "topic").collect()
    assert(rows.length == 13, "expected exactly 13 records (no dups, no loss)")
    assert(rows.map(_.getString(0)).sorted.toSeq == (0 until 13).map(_.toString).sorted)
    assert(rows.forall(_.getString(1) == "users-topic"))
  }

  test("resume also holds through the custom graft-cdc DataSourceV2 lane") {
    val src = Files.createTempDirectory("graft-v2src")
    val chk = Files.createTempDirectory("graft-v2chk")
    val out = Files.createTempDirectory("graft-v2out")
    val c = cfg(src, chk).copy(sourceFormat = "graft-cdc")

    writeEvents(src, "000001.json", 0 until 4)
    val conn1 = new Connector(spark, c, sink = "parquet", parquetOutDir = out.toString)
    val q1 = conn1.start()
    eventually(q1.recentProgress.map(_.numInputRows).sum >= 4, "v2 batch1 not consumed")
    conn1.close()

    writeEvents(src, "000002.json", 4 until 9) // arrives while down
    val conn2 = new Connector(spark, c, sink = "parquet", parquetOutDir = out.toString)
    conn2.start()
    eventually(spark.read.parquet(out.toString).count() == 9, "v2 batch2 not consumed")
    conn2.close()

    val keys = spark.read.parquet(out.toString)
      .selectExpr("cast(key AS string)").collect().map(_.getString(0)).sorted.toSeq
    assert(keys == (0 until 9).map(_.toString).sorted)
  }

  test("waitUntilReady unblocks after first progress") {
    val src = Files.createTempDirectory("graft-src2")
    val chk = Files.createTempDirectory("graft-chk2")
    val out = Files.createTempDirectory("graft-out2")
    writeEvents(src, "b.json", 0 until 2)
    val conn = new Connector(spark, cfg(src, chk), sink = "parquet", parquetOutDir = out.toString)
    conn.start()
    conn.waitUntilReady() // must not hang
    conn.close()
  }

  // ---- snapshot modes (README.md:59-63; connector.go:82-94) ----

  private def snapCfg(src: Path, chk: Path, mode: String): ConnectorConfig =
    cfg(src, chk).copy(
      kafka = cfg(src, chk).kafka.copy(tableTopicMapping =
        Map("public.users" -> "users-topic", "public.nation" -> "nation-topic")),
      snapshot = graft.app.SnapshotConfig(
        enabled = true, mode = mode,
        tables = Seq("nation"), dataDir = "/root/testdata/sf0.001"))

  /** Row count of the sink dir, 0 while nothing has been written yet. */
  private def countOut(out: Path): Long =
    try spark.read.parquet(out.toString).count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }

  private def ops(out: Path): Map[String, Long] =
    spark.read.parquet(out.toString)
      .selectExpr("get_json_object(cast(value AS string), '$.operation') AS op")
      .groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("snapshot_only mode: bounded snapshot, no streaming query (connector.go:82-94)") {
    val src = Files.createTempDirectory("snap-only-src")
    val chk = Files.createTempDirectory("snap-only-chk")
    val out = Files.createTempDirectory("snap-only-out")
    val conn = new Connector(spark, snapCfg(src, chk, graft.app.SnapshotConfig.ModeSnapshotOnly),
      sink = "parquet", parquetOutDir = out.toString)
    val q = conn.start()
    assert(q == null) // snapshot-only returns after the bounded run
    conn.waitUntilReady() // ready signaled immediately, must not hang
    assert(ops(out) == Map("SNAPSHOT" -> 25L)) // nation has 25 rows
    // no streaming query means no progress listener: the bounded run's
    // probe counters are drained once it returns
    assert(conn.metrics.successCount("nation-topic") == 25)
    assert(conn.totalProcessedEvents == 25)
    conn.close()
  }

  test("initial mode: snapshot once, then CDC; restart skips the snapshot") {
    val src = Files.createTempDirectory("snap-init-src")
    val chk = Files.createTempDirectory("snap-init-chk")
    val out = Files.createTempDirectory("snap-init-out")
    val c = snapCfg(src, chk, graft.app.SnapshotConfig.ModeInitial)

    writeEvents(src, "batch1.json", 0 until 5)
    val conn1 = new Connector(spark, c, sink = "parquet", parquetOutDir = out.toString)
    conn1.start()
    eventually(countOut(out) == 30, "snapshot+cdc not sunk")
    conn1.close()
    assert(ops(out) == Map("SNAPSHOT" -> 25L, "INSERT" -> 5L))

    // restart with the same checkpoint: "only if no previous snapshot exists"
    writeEvents(src, "batch2.json", 5 until 8)
    val conn2 = new Connector(spark, c, sink = "parquet", parquetOutDir = out.toString)
    conn2.start()
    eventually(countOut(out) == 33, "cdc-after-restart not sunk")
    conn2.close()
    assert(ops(out) == Map("SNAPSHOT" -> 25L, "INSERT" -> 8L)) // snapshot NOT retaken
  }

  test("runSupervised blocks while running and returns cleanly after close") {
    val src = Files.createTempDirectory("sup-src")
    val chk = Files.createTempDirectory("sup-chk")
    val out = Files.createTempDirectory("sup-out")
    writeEvents(src, "b.json", 0 until 3)
    val conn = new Connector(spark, cfg(src, chk), sink = "parquet", parquetOutDir = out.toString)
    val outcome = new java.util.concurrent.atomic.AtomicReference[graft.streaming.FaultPolicy.Outcome]()
    val t = new Thread(() => outcome.set(conn.runSupervised()))
    t.start()
    conn.waitUntilReady()
    eventually(countOut(out) == 3, "supervised run not delivering")
    conn.close()
    t.join(30000)
    assert(!t.isAlive, "runSupervised did not return after close")
    assert(outcome.get() == graft.streaming.FaultPolicy.Outcome(0, None))
  }

  test("never mode: CDC only, snapshot skipped") {
    val src = Files.createTempDirectory("snap-never-src")
    val chk = Files.createTempDirectory("snap-never-chk")
    val out = Files.createTempDirectory("snap-never-out")
    writeEvents(src, "batch1.json", 0 until 4)
    val conn = new Connector(spark, snapCfg(src, chk, graft.app.SnapshotConfig.ModeNever),
      sink = "parquet", parquetOutDir = out.toString)
    conn.start()
    eventually(countOut(out) == 4, "cdc not sunk")
    conn.close()
    assert(ops(out) == Map("INSERT" -> 4L))
  }

  private def eventually(cond: => Boolean, msg: String, timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) fail(s"timeout: $msg")
      Thread.sleep(200)
    }
  }
}
