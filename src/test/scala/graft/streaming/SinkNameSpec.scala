package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.app.{Connector, ConnectorConfig, KafkaSinkConfig, SnapshotConfig}

/** An unknown sink name is rejected before anything runs. Anything but
  * "parquet" or "replica" used to mean Kafka, so a typo such as
  * "parqet" delivered to the broker instead of failing.
  */
class SinkNameSpec extends SparkSpec {

  private def cfg(): ConnectorConfig = ConnectorConfig(
    sourceDir = Files.createTempDirectory("sink-name-src").toString,
    checkpointDir = Files.createTempDirectory("sink-name-chk").toString,
    kafka = KafkaSinkConfig(brokers = Seq("unused:9092"),
      tableTopicMapping = Map("public.nation" -> "nation-topic")),
    keyField = "n_nationkey",
    snapshot = SnapshotConfig(enabled = true, mode = SnapshotConfig.ModeSnapshotOnly,
      tables = Seq("nation"), dataDir = "/root/testdata/sf0.001"))

  private def assertNamesTheSinks(e: IllegalArgumentException): Unit = {
    assert(e.getMessage.contains("'parqet'"), e.getMessage)
    assert(e.getMessage.contains("kafka | parquet | replica"), e.getMessage)
  }

  test("the Connector rejects an unknown sink name at construction") {
    val out = Files.createTempDirectory("sink-name-out")
    assertNamesTheSinks(intercept[IllegalArgumentException](
      new Connector(spark, cfg(), sink = "parqet", parquetOutDir = out.toString)))
  }

  test("runSnapshotPhase rejects an unknown sink name before starting a query") {
    val out = Files.createTempDirectory("sink-name-out")
    val c = cfg()
    val active = spark.streams.active.length
    assertNamesTheSinks(intercept[IllegalArgumentException](
      CdcPipeline.runSnapshotPhase(spark, c, "parqet", out.toString)))
    assert(spark.streams.active.length == active)
    assert(!Files.exists(java.nio.file.Paths.get(c.checkpointDir, "snapshot")))
  }
}
