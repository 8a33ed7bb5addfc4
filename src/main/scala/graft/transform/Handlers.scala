package graft.transform

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.{ChangeEvent, KafkaRecord, Op}
import graft.route.TopicRouter

/** The user-transform surface (reference operator O7 and its helpers
  * O8-O10): a typed `Handler` lane for arbitrary per-event logic, plus the
  * declarative default pipeline that covers what every example handler in
  * the reference actually does — filter, serialize the row image to JSON
  * with an injected `operation` field, extract the key, attach headers,
  * and route to a topic.
  *
  * Reference: `handler.go:5` (signature), `example/simple/main.go:110-139`
  * (JSON + key), `example/snapshot/main.go:127-179` (headers + fan-out).
  *
  * Scale note: prefer [[declarative]] — it is pure column expressions
  * (whole-stage codegen, no serialization boundary). The typed lane pays
  * encoder cost per event and is for logic that genuinely can't be
  * expressed as columns.
  */
object Handlers {

  /** Typed handler: 0..N records per event; empty = filter the event
    * (reference ACKs without producing, `connector.go:158-168`); a
    * non-empty `topic` on a record overrides the routed topic
    * (`connector.go:170-172, 186-192`).
    */
  type Handler = ChangeEvent => Seq[KafkaRecord]

  /** Typed lane: flatMap the handler over the event stream, then apply
    * topic defaulting against the router.
    */
  def applyTyped(events: Dataset[ChangeEvent], handler: Handler, router: TopicRouter): Dataset[KafkaRecord] = {
    import events.sparkSession.implicits._
    events.flatMap { ev =>
      router.resolve(ev.tableNamespace, ev.tableName) match {
        case None => Seq.empty // unmapped table: drop (connector.go:146-156)
        case Some(defaultTopic) =>
          handler(ev).map { r =>
            if (r.topic != null && r.topic.nonEmpty) r else r.copy(topic = defaultTopic)
          }
      }
    }
  }

  /** The row image a handler serializes: post-image for INSERT/UPDATE/
    * SNAPSHOT, pre-image for DELETE (`example/simple/main.go:110-139`).
    */
  def payloadImage(op: Column, oldData: Column, newData: Column): Column =
    when(op === Op.Delete, oldData).otherwise(newData)

  /** Declarative default handler over a ChangeEvent-schema DataFrame:
    * emits the Spark Kafka sink contract (topic, key, value, headers).
    *
    *   - value: JSON of the row image with `operation` injected
    *     (≙ `json.Marshal` + map insert, `example/simple/main.go:113-114`)
    *   - key:   the `keyField` from the image, cast to bytes
    *     (≙ `example/simple/main.go:119`)
    *   - headers: operation/table/source triple
    *     (≙ `example/snapshot/main.go:164-179`)
    *   - unknown ops and unmapped tables are dropped
    *     (`connector.go:129-156`)
    */
  def declarative(events: DataFrame, router: TopicRouter, keyField: String): DataFrame =
    declarative(events, router, keyField, keepEventTime = false)

  /** As above; `keepEventTime = true` carries the source event time
    * through as an extra column (used by the per-key ordered delivery
    * lane, which sorts on it and drops it before the sink), and
    * `emitTruncates = true` additionally serializes TRUNCATE events
    * (null key — a truncation has no row identity; the value is the
    * usual operation-injected JSON over the event's option map, so a
    * topic consumer can clear its downstream state). The default drops
    * them at the sink boundary — wire parity with the reference, whose
    * handler never sees a truncate (`connector.go:140-142`) — while the
    * replica lane ([[graft.streaming.Materialize]]) consumes them
    * upstream of this serializer regardless.
    */
  def declarative(events: DataFrame, router: TopicRouter, keyField: String,
      keepEventTime: Boolean, emitTruncates: Boolean = false): DataFrame = {
    graft.GraftExtensions.register(events.sparkSession)
    val img = payloadImage(col("op"), col("oldData"), col("newData"))
    val carried = if (keepEventTime) Seq(col("eventTime")) else Seq.empty
    val emitted = if (emitTruncates) Op.rowOps :+ Op.Truncate else Op.rowOps
    events
      .filter(col("op").isin(emitted: _*))
      .withColumn("topic", router.resolveColumn(col("tableNamespace"), col("tableName")))
      .filter(col("topic").isNotNull)
      .select(carried ++ Seq(
        col("topic"),
        element_at(img, keyField).cast("binary").as("key"),
        // The value is one native pass from the image to its JSON bytes
        // ([[graft.functions.FlatJson]]): any source column literally
        // named "operation" is dropped and the op appended last
        // (reference map-insert overwrite semantics), byte-identical to
        // `to_json` over that map, with no map copy, no Jackson `String`
        // and no second byte copy. A truncate may carry a null image —
        // coalesced to {} so its record still serializes as
        // {"operation":"TRUNCATE"}.
        call_function("flat_json",
          if (emitTruncates) coalesce(img, map().cast("map<string,string>")) else img,
          lit("operation"), col("op")).as("value"),
        array(
          struct(lit("operation").as("key"), col("op").cast("binary").as("value")),
          struct(lit("table").as("key"),
            concat_ws(".", col("tableNamespace"), col("tableName")).cast("binary").as("value")),
          struct(lit("source").as("key"), lit("graft").cast("binary").as("value"))
        ).as("headers")): _*)
  }

  /** Debezium-style envelope serializer: the drop-in wire format for
    * consumers written against Debezium's PostgreSQL connector. The
    * reference positions itself as a Debezium replacement and emits a
    * flat row-image JSON (`example/simple/main.go:110-139`); this lane
    * emits the public Debezium envelope instead —
    * `{"before":…,"after":…,"op":…,"ts_ms":…,"source":{…}}` with ops
    * c/u/d (and r for snapshot reads) — so a migration can keep existing
    * downstream consumers working. Field-compatible, not byte-compatible:
    * consumers reading `before`/`after`/`op`/`ts_ms` by name work
    * unchanged; schema-strict consumers won't (real Debezium JSON nests
    * the envelope under `payload` and carries a larger `source` block —
    * version/name/db/lsn/txId — which this lane does not emit).
    *
    * Shape rules (public Debezium semantics): INSERT carries after only,
    * DELETE carries before only, UPDATE carries both, SNAPSHOT is op "r"
    * with after only; absent images serialize as explicit JSON nulls
    * (`ignoreNullFields=false`). Pure column expressions — same codegen
    * profile as [[declarative]].
    */
  def debeziumEnvelope(events: DataFrame, router: TopicRouter,
      keyField: String, emitTruncates: Boolean = false): DataFrame = {
    val opCode = when(col("op") === Op.Insert, "c")
      .when(col("op") === Op.Update, "u")
      .when(col("op") === Op.Delete, "d")
      .when(col("op") === Op.Truncate, "t") // Debezium's truncate op code
      .otherwise("r")
    val img = payloadImage(col("op"), col("oldData"), col("newData"))
    val nullMap = lit(null).cast("map<string,string>")
    // Debezium's default `skipped.operations=t` drops truncates; opting
    // in emits the public truncate envelope: op "t", before/after null.
    val emitted = if (emitTruncates) Op.rowOps :+ Op.Truncate else Op.rowOps
    events
      .filter(col("op").isin(emitted: _*))
      .withColumn("topic", router.resolveColumn(col("tableNamespace"), col("tableName")))
      .filter(col("topic").isNotNull)
      .select(
        col("topic"),
        element_at(img, keyField).as("key"),
        to_json(
          struct(
            when(col("op").isin(Op.Update, Op.Delete), col("oldData"))
              .otherwise(nullMap).as("before"),
            when(!col("op").isin(Op.Delete, Op.Truncate), col("newData"))
              .otherwise(nullMap).as("after"),
            opCode.as("op"),
            unix_millis(col("eventTime")).as("ts_ms"),
            struct(
              lit("graft").as("connector"),
              col("tableNamespace").as("schema"),
              col("tableName").as("table")).as("source")),
          Map("ignoreNullFields" -> "false")).as("value"))
  }

  /** Dead-letter routing — per-record error isolation for the sink: a
    * record over the broker's size budget (`message.max.bytes` /
    * `producerBatchBytes`, reference O19) fails its whole produce
    * request, and under at-least-once the batch retries forever — one
    * oversized row is a poison pill (the reference surfaces this only as
    * a produce-error callback, O16). Route such records to
    * `<topic>.dlq` with diagnostic headers instead: the main topic keeps
    * flowing, the DLQ preserves the untruncated payload for triage, and
    * per-key ordering on the MAIN topic is unaffected (the poisoned key's
    * record is diverted, not reordered). Pure column expressions over the
    * sink contract — composes after either serializer and before
    * balancer placement. [[debeziumEnvelope]] emits no headers column;
    * a headerless frame gets an empty typed headers array first, so the
    * diagnostic headers land on a valid sink-contract column either way.
    */
  def withDlq(records: DataFrame, maxWireBytes: Long): DataFrame = {
    val withHeaders =
      if (records.columns.contains("headers")) records
      else records.withColumn("headers",
        array().cast("array<struct<key:string,value:binary>>"))
    val size = recordWireSize(col("key"), col("value"), col("headers"))
    withHeaders
      .withColumn("_oversize", size > maxWireBytes)
      .withColumn("headers", when(col("_oversize"), concat(col("headers"), array(
          struct(lit("dlq-reason").as("key"), lit("oversize").cast("binary").as("value")),
          struct(lit("dlq-wire-bytes").as("key"),
            size.cast("string").cast("binary").as("value")),
          struct(lit("dlq-origin-topic").as("key"), col("topic").cast("binary").as("value")))))
        .otherwise(col("headers")))
      .withColumn("topic",
        when(col("_oversize"), concat(col("topic"), lit(".dlq"))).otherwise(col("topic")))
      .drop("_oversize")
  }

  /** Field masking (Debezium `MaskField` SMT parity): blind the named
    * image columns in BOTH row images before serialization — PII never
    * reaches the sink topic, while key extraction / routing still see
    * the full map. Native `map_mask_keys` expression, not a
    * `transform_values` lambda ([[graft.functions.MapMaskKeys]]
    * scaladoc): one fallback expression would unfuse the entire
    * serializer stage.
    */
  def maskImage(events: DataFrame, fields: Seq[String],
      mask: String = "***"): DataFrame = {
    graft.GraftExtensions.register(events.sparkSession)
    val keys = array(fields.map(lit): _*)
    events
      .withColumn("oldData",
        call_function("map_mask_keys", col("oldData"), keys, lit(mask)))
      .withColumn("newData",
        call_function("map_mask_keys", col("newData"), keys, lit(mask)))
  }

  /** Outbox event router (Debezium's outbox SMT, the transactional-
    * outbox pattern): the source table IS the envelope — each INSERT
    * carries its destination in `aggregatetype`, its partition key in
    * `aggregateid`, and a pre-serialized `payload`. The router reads
    * the post-image and emits the sink contract directly: topic =
    * `<prefix><aggregatetype>`, key = aggregateid, value = the payload
    * verbatim (no re-serialization — the producer service owns the
    * schema), plus the outbox row id as a header for consumer-side
    * idempotence. UPDATE/DELETE on an outbox table are housekeeping,
    * not events — only inserts route, matching the SMT's semantics.
    */
  def outboxRoute(events: DataFrame, topicPrefix: String = "outbox.event.",
      routeField: String = "aggregatetype", keyField: String = "aggregateid",
      payloadField: String = "payload", idField: String = "id"): DataFrame = {
    val img = col("newData")
    events.filter(col("op") === Op.Insert)
      .select(
        concat(lit(topicPrefix), element_at(img, routeField)).as("topic"),
        element_at(img, keyField).cast("binary").as("key"),
        element_at(img, payloadField).cast("binary").as("value"),
        array(struct(lit("id").as("key"),
          element_at(img, idField).cast("binary").as("value"))).as("headers"))
  }

  /** Tombstones for log-compacted topics: each DELETE additionally
    * emits a null-value record under the same key, so compaction can
    * reclaim the key after the delete itself ages out (Debezium's
    * `tombstones.on.delete`). The tombstone shares the delete's topic
    * and key (hence its partition); within a micro-batch the sink
    * appends the serialized delete and its tombstone in frame order —
    * compose before the per-key ordered-delivery lane if cross-batch
    * ordering matters, and keep the `tombstone` header so a consumer
    * can tell an explicit null payload from a compaction marker.
    */
  def tombstonesFor(events: DataFrame, router: TopicRouter,
      keyField: String): DataFrame =
    events.filter(col("op") === Op.Delete)
      .withColumn("topic",
        router.resolveColumn(col("tableNamespace"), col("tableName")))
      .filter(col("topic").isNotNull)
      .select(
        col("topic"),
        element_at(col("oldData"), keyField).cast("binary").as("key"),
        lit(null).cast("binary").as("value"),
        array(struct(lit("tombstone").as("key"),
          lit("true").cast("binary").as("value"))).as("headers"))

  /** [[declarative]] plus a trailing tombstone per DELETE. */
  def declarativeWithTombstones(events: DataFrame, router: TopicRouter,
      keyField: String): DataFrame =
    declarative(events, router, keyField)
      .unionAll(tombstonesFor(events, router, keyField))

  /** Kafka wire-size estimate of a record (reference O18,
    * `producer_batch.go:199-206`: 14 bytes fixed overhead + key + value +
    * per-header key/value). Usable to enforce `producerBatchBytes`
    * budgets declaratively (e.g. filter or alert on oversized records
    * before the producer rejects them).
    */
  def recordWireSize(key: Column, value: Column, headers: Column): Column =
    lit(14) +
      coalesce(length(key), lit(0)) +
      coalesce(length(value), lit(0)) +
      coalesce(aggregate(headers, lit(0),
        // per-field coalesce: one null header value counts as 0 bytes,
        // it must not null out the whole accumulation
        (acc, h) => acc + coalesce(length(h.getField("key")), lit(0)) +
          coalesce(length(h.getField("value")), lit(0))), lit(0))

  /** Bound-schema lane: project the dynamic string-map image into typed
    * columns — how reference handlers duck-type map values
    * (`example/simple/main.go:119`, SURVEY §1.2) without giving up the
    * raw map lane. Each target column is `element_at(image, name)` cast
    * to its declared type: missing columns become NULL (schema drift
    * forward-compat), unknown map keys are ignored, and the cast is a
    * direct string→type conversion (no JSON round-trip, stays codegen'd).
    */
  def bindSchema(events: DataFrame, schema: StructType): DataFrame = {
    val img = payloadImage(col("op"), col("oldData"), col("newData"))
    events.withColumn("row",
      struct(schema.fields.toIndexedSeq.map(f =>
        element_at(img, f.name).cast(f.dataType).as(f.name)): _*))
  }
}
