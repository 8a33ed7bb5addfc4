package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.jdk.CollectionConverters._

import graft.functions.QueryConstant

/** Pipeline metrics (reference O17, `kafka/producer/metric.go:12-111`):
  *
  *   - process latency (event-time → produce):
  *     `current_timestamp - eventTime` observed per micro-batch (the
  *     stamp wrapped in [[QueryConstant]] so the observed aggregate's
  *     projection compiles once per plan shape, not once per query)
  *   - success counters per topic
  *   - bulk-flush latency ≙ the micro-batch `batchDuration` Spark already
  *     reports in StreamingQueryProgress
  *
  * Implemented with `Dataset.observe` (metrics ride the existing plan —
  * zero extra passes at any scale) + a StreamingQueryListener that
  * surfaces them, the Spark-native stand-in for the reference's
  * Prometheus registry.
  */
object Metrics {

  val ObservationName = "graft_pipeline"
  val SinkObservationName = "graft_sink"
  private val TopicMetricPrefix = "topic:"

  /** Attach observed metrics to a ChangeEvent-schema stream (call before
    * the handler so eventTime is still present).
    */
  def observed(events: DataFrame): DataFrame =
    events.observe(
      ObservationName,
      count(lit(1)).as("events"),
      max(unix_millis(QueryConstant.currentTimestamp) - unix_millis(col("eventTime")))
        .as("max_process_latency_ms"),
      approx_count_distinct(concat_ws(".", col("tableNamespace"), col("tableName")))
        .as("approx_tables"))

  val QualityObservationName = "graft_quality"
  private val QualityMetricPrefix = "quality:"

  /** Inline data-quality observation on the raw ChangeEvent stream —
    * the streaming twin of the q222 expectations suite, attached BEFORE
    * the handler's filters so records those filters silently DROP
    * (unknown ops, unroutable tables) become visible counters instead
    * of invisible data loss. Also counts records whose key field is
    * absent from the row image (they serialize with a null Kafka key,
    * which silently breaks per-key ordering downstream). Rides the
    * existing plan via `observe` — zero extra passes.
    */
  def observedQuality(events: DataFrame, router: graft.route.TopicRouter,
      keyField: String): DataFrame = {
    val img = graft.transform.Handlers.payloadImage(
      col("op"), col("oldData"), col("newData"))
    events.observe(
      QualityObservationName,
      sum(when(!col("op").isin(graft.model.Op.all: _*), 1L).otherwise(0L))
        .as(s"${QualityMetricPrefix}unknown_op"),
      sum(when(router.resolveColumn(col("tableNamespace"), col("tableName")).isNull,
        1L).otherwise(0L)).as(s"${QualityMetricPrefix}unroutable_table"),
      // row ops only: a TRUNCATE has no row identity, so its null key
      // is the contract, not a violation
      sum(when(col("op").isin(graft.model.Op.rowOps: _*) &&
        element_at(img, keyField).isNull, 1L).otherwise(0L))
        .as(s"${QualityMetricPrefix}null_key"))
  }

  /** The O17 pipeline metrics AND the quality counters in ONE observe
    * call — one CollectMetrics node instead of two. Measured on the
    * envelope serializer lane at sf0.1 (SerBench isolate): each observe
    * node costs ~1.4s of stage-break overhead on a 2.1s lane, so
    * stacking [[observed]] ∘ [[observedQuality]] doubled the production
    * pipeline; merging halves the overhead while emitting the identical
    * metric keys (the listener reads both observation names — this one
    * carries both metric families under one name).
    */
  def observedAll(events: DataFrame, router: graft.route.TopicRouter,
      keyField: String): DataFrame = {
    val img = graft.transform.Handlers.payloadImage(
      col("op"), col("oldData"), col("newData"))
    events.observe(
      ObservationName,
      count(lit(1)).as("events"),
      max(unix_millis(QueryConstant.currentTimestamp) - unix_millis(col("eventTime")))
        .as("max_process_latency_ms"),
      approx_count_distinct(concat_ws(".", col("tableNamespace"), col("tableName")))
        .as("approx_tables"),
      sum(when(!col("op").isin(graft.model.Op.all: _*), 1L).otherwise(0L))
        .as(s"${QualityMetricPrefix}unknown_op"),
      sum(when(router.resolveColumn(col("tableNamespace"), col("tableName")).isNull,
        1L).otherwise(0L)).as(s"${QualityMetricPrefix}unroutable_table"),
      sum(when(col("op").isin(graft.model.Op.rowOps: _*) &&
        element_at(img, keyField).isNull, 1L).otherwise(0L))
        .as(s"${QualityMetricPrefix}null_key"))
  }

  /** Attach per-topic record counts to the handled (sink-contract) stream.
    * The topic set is the finite routing codomain from config, so the
    * counts are plain conditional aggregates riding the existing plan —
    * no extra pass, no shuffle — and feed the registry's per-topic
    * success counters (reference `IncrementSuccessOp`).
    */
  def observedSink(records: DataFrame, topics: Seq[String]): DataFrame =
    if (topics.isEmpty) records
    else {
      val aggs = count(lit(1)).as("records") +: topics.distinct.map(t =>
        sum(when(col("topic") === t, 1L).otherwise(0L)).as(s"$TopicMetricPrefix$t"))
      records.observe(SinkObservationName, aggs.head, aggs.tail: _*)
    }

  final case class BatchMetrics(
      batchId: Long,
      events: Long,
      maxProcessLatencyMs: Long,
      batchDurationMs: Long)

  /** Listener collecting per-batch metrics (≙ `ResponseHandler.OnSuccess`
    * accounting + latency gauges). Thread-safe; read via `snapshot`.
    * When a [[MetricsRegistry]] is supplied, each progress event also
    * updates the exposition state: the two latency gauges and — from the
    * sink-side observation — the per-topic success counters.
    *
    * Two delivery paths coexist: the legacy `observe` observations
    * (read from `progress.observedMetrics` by name) and — when a
    * [[PipelineProbe]] is supplied — per-batch accumulator-delta drains
    * from the fused probe, which is how the production pipeline now
    * ships its counters (the CollectMetrics node cost ~50% of
    * serializer-lane throughput; see [[PipelineProbe]]).
    */
  final class Collector(registry: Option[MetricsRegistry] = None,
      probe: Option[PipelineProbe] = None)
      extends StreamingQueryListener {
    private val batches = new ConcurrentLinkedQueue[BatchMetrics]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(p.observedMetrics.get(ObservationName)).foreach { m =>
        val latency =
          Option(m.getAs[Any]("max_process_latency_ms")).fold(0L)(_.asInstanceOf[Long])
        batches.add(BatchMetrics(p.batchId, m.getAs[Long]("events"), latency, p.batchDuration))
        registry.foreach { r =>
          r.setProcessLatency(latency)
          r.setBulkRequestLatency(p.batchDuration)
        }
      }
      for {
        r <- registry
        m <- Option(p.observedMetrics.get(SinkObservationName))
      } m.schema.fieldNames.filter(_.startsWith(TopicMetricPrefix)).foreach { f =>
        Option(m.getAs[Any](f)).map(_.asInstanceOf[Long]).filter(_ > 0)
          .foreach(n => r.incrementSuccess(f.stripPrefix(TopicMetricPrefix), n))
      }
      // quality counters arrive under their own observation (the
      // standalone observedQuality lane) OR folded into the pipeline
      // observation (the merged observedAll lane)
      for {
        r <- registry
        name <- Seq(QualityObservationName, ObservationName)
        m <- Option(p.observedMetrics.get(name))
      } m.schema.fieldNames.filter(_.startsWith(QualityMetricPrefix)).foreach { f =>
        Option(m.getAs[Any](f)).map(_.asInstanceOf[Long]).filter(_ > 0)
          .foreach(n => r.incrementQualityViolation(f.stripPrefix(QualityMetricPrefix), n))
      }
      // fused-probe path: drain accumulator deltas once per progress
      // event (counters are never reset, so a drain racing a running
      // batch splits counts across drains — never loses or duplicates)
      probe.foreach { pr =>
        val d = pr.drain()
        if (d.events > 0)
          batches.add(BatchMetrics(p.batchId, d.events,
            if (d.latencyAdvanced) d.latencyMs else 0L, p.batchDuration))
        registry.foreach { r =>
          if (d.latencyAdvanced) r.setProcessLatency(d.latencyMs)
          r.setBulkRequestLatency(p.batchDuration)
          if (d.unknownOp > 0) r.incrementQualityViolation("unknown_op", d.unknownOp)
          if (d.unroutableTable > 0)
            r.incrementQualityViolation("unroutable_table", d.unroutableTable)
          if (d.nullKey > 0) r.incrementQualityViolation("null_key", d.nullKey)
          d.topicDeltas.foreach { case (t, n) => r.incrementSuccess(t, n) }
        }
      }
    }

    def snapshot: Seq[BatchMetrics] = batches.asScala.toSeq
    def totalEvents: Long = snapshot.map(_.events).sum
  }
}
