package graft.sources

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{CreateMap, StructsToJson}
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.SparkSpec
import graft.app.{ConnectorConfig, KafkaSinkConfig}
import graft.route.TopicRouter
import graft.streaming.{CdcPipeline, PipelineProbe}

/** Codegen stability of the production snapshot transform: two snapshot
  * queries of one pipeline shape, built apart in time, must generate
  * the same whole-stage source, so the second reuses the first one's
  * compiled class. The snapshot's per-query `eventTime` stamp must not
  * reach the source text as a literal. The flat lane's plan stays one
  * fused stage built from the native image and value writer.
  */
class SnapshotCodegenSpec extends SparkSpec {

  /** A 25-row `nation` table in a temp directory. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_snapshot").toString
    spark.range(25).selectExpr("CAST(id AS INT) AS n_nationkey", "CONCAT('n', id) AS n_name")
      .write.parquet(s"$d/nation.parquet")
    d
  }
  private val mapping = Map("public.nation" -> "nation")
  private val router = TopicRouter(mapping)
  private def cfg(serializer: String) = ConnectorConfig(sourceDir = "", checkpointDir = "",
    kafka = KafkaSinkConfig(brokers = Seq("localhost:9092"), tableTopicMapping = mapping),
    keyField = "n_nationkey", serializer = serializer)

  private def events: DataFrame = SnapshotSource.snapshot(spark, dir, "nation")

  private lazy val jdbcUrl: String = {
    val url = "jdbc:derby:memory:codegenspec;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE nation (n_nationkey INT PRIMARY KEY, n_name VARCHAR(25))")
      st.execute("INSERT INTO nation VALUES (0, 'ALGERIA'), (1, 'ARGENTINA'), (2, 'BRAZIL')")
    } finally conn.close()
    url
  }

  private def probe = new PipelineProbe(spark.sparkContext, router, "n_nationkey", "codegenspec")

  private val shapes: Seq[(String, () => DataFrame)] = Seq(
    "flat serializer with a probe" -> (() => CdcPipeline.defaultTransform(events,
      cfg(ConnectorConfig.SerializerDefault), Some(probe))),
    "JDBC snapshot, flat serializer with a probe" -> (() => CdcPipeline.defaultTransform(
      jdbc.JdbcSnapshot.snapshot(spark, jdbcUrl, "NATION", "N_NATIONKEY", 0L, 3L, 2),
      cfg(ConnectorConfig.SerializerDefault), Some(probe))),
    "flat serializer without a probe" -> (() =>
      CdcPipeline.defaultTransform(events, cfg(ConnectorConfig.SerializerDefault))),
    "Debezium envelope" -> (() =>
      CdcPipeline.defaultTransform(events, cfg(ConnectorConfig.SerializerDebezium))),
    "Debezium envelope with a probe" -> (() => CdcPipeline.defaultTransform(events,
      cfg(ConnectorConfig.SerializerDebezium), Some(probe))))

  private def stageSources(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.doCodeGen()._2.body
    }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the probed flat snapshot plan is one fused stage with no map(), to_json or map copy") {
    val df = CdcPipeline.defaultTransform(events, cfg(ConnectorConfig.SerializerDefault),
      Some(probe))
    noop(df)
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case w: WholeStageCodegenExec => w }.size == 1, plan)
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(!exprs.exists(_.isInstanceOf[CreateMap]), plan)
    assert(!exprs.exists(_.isInstanceOf[StructsToJson]), plan)
    val text = plan.toString.toLowerCase
    Seq("map_set_key", "to_json", "structstojson", "createmap").foreach(s =>
      assert(!text.contains(s), s"$s in\n$plan"))
    assert(text.contains("row_image") && text.contains("flat_json"), plan)
  }

  shapes.foreach { case (name, build) =>
    test(s"$name: a second snapshot query compiles nothing") {
      val first = build()
      val firstSources = stageSources(first)
      noop(first)
      Thread.sleep(5) // the two queries' stamps differ by milliseconds
      val second = build()
      val secondSources = stageSources(second)
      val before = compiles
      noop(second)
      val added = compiles - before
      assert(firstSources.nonEmpty)
      val differing = firstSources.zip(secondSources).flatMap { case (a, b) =>
        a.linesIterator.zip(b.linesIterator).find { case (x, y) => x != y }
      }
      val same = firstSources.size == secondSources.size && differing.isEmpty
      assert(same, s"the whole-stage source differs between two queries of one shape: " +
        differing.headOption.getOrElse("stage count"))
      assert(added == 0, s"the second query compiled $added classes")
    }
  }
}
