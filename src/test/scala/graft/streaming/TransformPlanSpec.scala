package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics

import graft.SparkSpec
import graft.app.{ConnectorConfig, KafkaSinkConfig}
import graft.route.TopicRouter
import graft.sources.SnapshotSource

/** Plan audit of every connector transform (flat, envelope, ordered;
  * with and without a probe): the fused [[PipelineProbe]] is the only
  * metrics mechanism, so no plan carries a CollectMetrics node, and a
  * probed plan carries exactly one pre-handler and one sink-side probe.
  */
class TransformPlanSpec extends SparkSpec {

  private val mapping = Map("public.nation" -> "nation")
  private def cfg(serializer: String) = ConnectorConfig(sourceDir = "", checkpointDir = "",
    kafka = KafkaSinkConfig(brokers = Seq("localhost:9092"), tableTopicMapping = mapping),
    keyField = "n_nationkey", serializer = serializer)

  private def events: DataFrame = SnapshotSource.asSnapshotEvents(
    spark.range(5).selectExpr("CAST(id AS INT) AS n_nationkey"), "nation", "public")

  private val transforms: Seq[(String, Option[PipelineProbe] => DataFrame)] = Seq(
    "flat" -> (p => CdcPipeline.defaultTransform(events,
      cfg(ConnectorConfig.SerializerDefault), p)),
    "Debezium envelope" -> (p => CdcPipeline.defaultTransform(events,
      cfg(ConnectorConfig.SerializerDebezium), p)),
    "ordered" -> (p => CdcPipeline.orderedTransform(events,
      cfg(ConnectorConfig.SerializerDefault), p)))

  for ((name, build) <- transforms; probed <- Seq(false, true)) {
    val label = if (probed) "with a probe" else "without a probe"
    test(s"$name transform $label: no CollectMetrics node") {
      val probe = if (probed) Some(new PipelineProbe(spark.sparkContext,
        TopicRouter(mapping), "n_nationkey", "transformplanspec")) else None
      val plan = build(probe).queryExecution.optimizedPlan
      assert(plan.collect { case c: CollectMetrics => c }.isEmpty, s"observe node:\n$plan")
      val probes = plan.collect { case n => n.expressions }.flatten
        .flatMap(_.collect {
          case e: PipelineProbeExpr => e.prettyName
          case e: TopicProbeExpr => e.prettyName
        })
      val expected =
        if (probed) Seq("graft_metrics_probe", "graft_topic_probe") else Seq.empty
      assert(probes.sorted == expected, s"probe expressions:\n$plan")
    }
  }
}
