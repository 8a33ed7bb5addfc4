package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, current_timestamp, lit, unix_micros}

import graft.SparkSpec
import graft.app.{ConnectorConfig, KafkaSinkConfig}
import graft.route.TopicRouter
import graft.sources.SnapshotSource
import graft.streaming.{CdcPipeline, PipelineProbe}
import graft.transform.Handlers

/** query_constant semantics: wrapping the snapshot's `current_timestamp()`
  * changes the generated code, never a value — one stamp per query,
  * equal to the bare `current_timestamp()`, through every consumer.
  */
class QueryConstantSpec extends SparkSpec {

  /** A 25-row `nation` table in a temp directory. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_snapshot").toString
    spark.range(25).selectExpr("CAST(id AS INT) AS n_nationkey", "CONCAT('n', id) AS n_name")
      .write.parquet(s"$d/nation.parquet")
    d
  }
  private val router = TopicRouter(Map("public.nation" -> "nation"))
  private val key = "n_nationkey"

  private def events: DataFrame = SnapshotSource.snapshot(spark, dir, "nation")

  /** (eventTime µs, the query's own current_timestamp() µs) per row. */
  private def stamps(df: DataFrame): Seq[(Long, Long)] =
    df.select(unix_micros(col("eventTime")), unix_micros(current_timestamp()))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("all rows of one snapshot query carry one eventTime: the query's current_timestamp()") {
    val s = stamps(events)
    assert(s.size == 25)
    assert(s.map(_._1).distinct.size == 1)
    assert(s.forall { case (et, now) => et == now })
  }

  test("two snapshot queries get different stamps") {
    val first = stamps(events).head._1
    Thread.sleep(5)
    val second = stamps(events).head._1
    assert(second > first)
  }

  test("the envelope's ts_ms is the one the bare current_timestamp() gives") {
    // both spellings in ONE query share its stamp, so their records
    // must be byte-identical
    val bare = events.withColumn("eventTime", current_timestamp())
    def envelope(df: DataFrame, spelling: String) =
      Handlers.debeziumEnvelope(df, router, key).withColumn("spelling", lit(spelling))
    val rows = envelope(events, "wrapped").unionByName(envelope(bare, "bare")).collect().toSeq
    def records(spelling: String) = rows.filter(_.getAs[String]("spelling") == spelling)
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
    assert(records("wrapped").size == 25)
    assert(records("wrapped") == records("bare"))
    assert(records("wrapped").forall(_._3.contains("\"ts_ms\":")))
  }

  test("the probe's process_latency gauge advances on each of two passes") {
    val probe = new PipelineProbe(spark.sparkContext, router, key, "queryconstantspec")
    val cfg = ConnectorConfig(sourceDir = "", checkpointDir = "",
      kafka = KafkaSinkConfig(brokers = Seq("localhost:9092"),
        tableTopicMapping = Map("public.nation" -> "nation")),
      keyField = key)
    (1 to 2).foreach { pass =>
      CdcPipeline.defaultTransform(events, cfg, Some(probe))
        .write.format("noop").mode("overwrite").save()
      val d = probe.drain()
      assert(d.events == 25, s"pass $pass")
      assert(d.latencyAdvanced, s"pass $pass: latency gauge did not advance")
      assert(d.latencyMs >= 0 && d.latencyMs < 60000L, s"pass $pass: latency ${d.latencyMs} ms")
    }
  }

  test("interpreted eval matches codegen eval") {
    val codegen = stamps(events)
    val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(stamps(events))
    Seq(codegen, interpreted).foreach { s =>
      assert(s.size == 25 && s.forall { case (et, now) => et == now })
    }

    // expression level: folded (referenced) and non-foldable (delegated)
    // children, null included
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{StringType, TimestampType}
    import org.apache.spark.unsafe.types.UTF8String
    val row = InternalRow(42L)
    val exprs = Seq(
      QueryConstant(Literal(1792246317439330L, TimestampType)),
      QueryConstant(Literal(UTF8String.fromString("r"), StringType)),
      QueryConstant(Literal(null, TimestampType)),
      QueryConstant(BoundReference(0, TimestampType, nullable = false)))
    val generated = GenerateUnsafeProjection.generate(exprs).apply(row)
    exprs.zipWithIndex.foreach { case (e, i) =>
      assert(!e.foldable)
      val v = e.eval(row)
      if (v == null) assert(generated.isNullAt(i))
      else assert(generated.get(i, e.dataType) == v, s"expression $i")
    }
  }
}
