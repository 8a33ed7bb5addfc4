package graft.transform

import java.sql.Timestamp

import graft.SparkSpec
import graft.model.{ChangeEvent, KafkaRecord, Op}
import graft.route.TopicRouter

/** Handler semantics from the reference (`handler.go:5`,
  * `connector.go:146-192`, `example/simple/main.go:110-139`).
  */
class HandlersSpec extends SparkSpec {

  private val router = TopicRouter(Map("public.users" -> "users-topic"))

  private def ev(op: String, table: String = "users",
                 oldD: Map[String, String] = null,
                 newD: Map[String, String] = null): ChangeEvent =
    ChangeEvent(new Timestamp(1700000000000L), "public", table, oldD, newD, op)

  test("declarative handler: INSERT serializes post-image with operation injected") {
    import spark.implicits._
    val events = Seq(ev(Op.Insert, newD = Map("id" -> "7", "name" -> "n1"))).toDF()
    val out = Handlers.declarative(events, router, "id").collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "users-topic")
    assert(new String(r.getAs[Array[Byte]]("key")) == "7")
    val value = new String(r.getAs[Array[Byte]]("value"))
    assert(value.contains(""""operation":"INSERT""""))
    assert(value.contains(""""name":"n1""""))
  }

  test("declarative handler: DELETE serializes the pre-image") {
    import spark.implicits._
    val events = Seq(ev(Op.Delete, oldD = Map("id" -> "9", "name" -> "gone"))).toDF()
    val out = Handlers.declarative(events, router, "id").collect()
    assert(new String(out(0).getAs[Array[Byte]]("key")) == "9")
    assert(new String(out(0).getAs[Array[Byte]]("value")).contains(""""operation":"DELETE""""))
  }

  test("declarative handler: source column named 'operation' is overwritten, not duplicated") {
    import spark.implicits._
    // reference map-insert overwrites (example/simple/main.go:113-114):
    // flat_json drops the image's own "operation" entry
    val events = Seq(ev(Op.Update,
      oldD = Map("id" -> "3"),
      newD = Map("id" -> "3", "operation" -> "stale", "name" -> "n"))).toDF()
    val value = new String(Handlers.declarative(events, router, "id")
      .collect()(0).getAs[Array[Byte]]("value"))
    assert(value.contains(""""operation":"UPDATE""""))
    assert(!value.contains("stale"))
    assert(value.indexOf(""""operation":""") == value.lastIndexOf(""""operation":"""))
  }

  test("declarative handler: unmapped table is dropped") {
    import spark.implicits._
    val events = Seq(ev(Op.Insert, table = "ghost", newD = Map("id" -> "1"))).toDF()
    assert(Handlers.declarative(events, router, "id").isEmpty)
  }

  test("declarative handler: headers carry operation/table/source") {
    import spark.implicits._
    val events = Seq(ev(Op.Insert, newD = Map("id" -> "1"))).toDF()
    val headers = Handlers.declarative(events, router, "id")
      .selectExpr("transform(headers, h -> h.key) AS ks",
                  "transform(headers, h -> cast(h.value AS string)) AS vs")
      .collect()(0)
    assert(headers.getSeq[String](0) == Seq("operation", "table", "source"))
    assert(headers.getSeq[String](1) == Seq("INSERT", "public.users", "graft"))
  }

  test("declarative handler: TRUNCATE is dropped by default, emitted null-keyed when opted in") {
    import spark.implicits._
    val events = Seq(
      ev(Op.Truncate, newD = Map("cascade" -> "false", "restart_identity" -> "false")),
      ev(Op.Insert, newD = Map("id" -> "1"))).toDF()
    // default: wire parity with the reference — the sink never sees it
    assert(Handlers.declarative(events, router, "id").count() == 1)
    // opted in: a null-key record whose value announces the truncation
    val out = Handlers.declarative(events, router, "id",
      keepEventTime = false, emitTruncates = true)
      .orderBy(org.apache.spark.sql.functions.col("key").asc_nulls_first).collect()
    assert(out.length == 2)
    assert(out(0).getAs[Array[Byte]]("key") == null)
    val value = new String(out(0).getAs[Array[Byte]]("value"))
    assert(value.contains(""""operation":"TRUNCATE""""))
    assert(new String(out(1).getAs[Array[Byte]]("key")) == "1")
  }

  test("debezium envelope: TRUNCATE skipped by default (skipped.operations=t), op 't' when emitted") {
    import spark.implicits._
    val events = Seq(
      ev(Op.Truncate, newD = Map("cascade" -> "false", "restart_identity" -> "false")),
      ev(Op.Insert, newD = Map("id" -> "1", "name" -> "n"))).toDF()
    assert(Handlers.debeziumEnvelope(events, router, "id").count() == 1)
    val rows = Handlers.debeziumEnvelope(events, router, "id", emitTruncates = true)
      .orderBy(org.apache.spark.sql.functions.col("key").asc_nulls_first).collect()
    assert(rows.length == 2)
    val trunc = rows(0).getString(2)
    assert(trunc.contains(""""op":"t""""))
    assert(trunc.contains(""""before":null""") && trunc.contains(""""after":null"""))
  }

  test("recordWireSize matches the reference's 14 + key + value + headers formula") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = Seq(ev(Op.Insert, newD = Map("id" -> "7", "name" -> "n1"))).toDF()
    val rec = Handlers.declarative(events, router, "id")
    val size = rec.select(
      Handlers.recordWireSize(col("key"), col("value"), col("headers")).as("sz"))
      .collect()(0).getInt(0)
    val r = rec.collect()(0)
    val headerBytes = r.getSeq[org.apache.spark.sql.Row](3)
      .map(h => h.getString(0).length + h.getAs[Array[Byte]](1).length).sum
    val expected = 14 + r.getAs[Array[Byte]]("key").length +
      r.getAs[Array[Byte]]("value").length + headerBytes
    assert(size == expected)
  }

  test("typed handler: empty result filters the event (ACK-without-produce)") {
    import spark.implicits._
    val events = Seq(ev(Op.Insert, newD = Map("id" -> "1"))).toDS()
    val drop: Handlers.Handler = _ => Seq.empty
    assert(Handlers.applyTyped(events, drop, router).isEmpty)
  }

  test("typed handler: per-record topic override beats routed topic; fan-out works") {
    import spark.implicits._
    val events = Seq(ev(Op.Insert, newD = Map("id" -> "1"))).toDS()
    val fanout: Handlers.Handler = e => Seq(
      KafkaRecord(null, "k1".getBytes, "v1".getBytes, Seq.empty),
      KafkaRecord("side-topic", "k2".getBytes, "v2".getBytes, Seq.empty))
    val out = Handlers.applyTyped(events, fanout, router).collect().sortBy(r => new String(r.key))
    assert(out.map(_.topic).toSeq == Seq("users-topic", "side-topic"))
  }

  test("typed handler: unmapped table dropped before handler output is used") {
    import spark.implicits._
    val events = Seq(ev(Op.Insert, table = "ghost", newD = Map("id" -> "1"))).toDS()
    val pass: Handlers.Handler = e =>
      Seq(KafkaRecord(null, "k".getBytes, "v".getBytes, Seq.empty))
    assert(Handlers.applyTyped(events, pass, router).isEmpty)
  }

  test("debezium envelope: exact JSON per op — c/u/d/r, explicit nulls, key from the live image") {
    import spark.implicits._
    val pre  = Map("id" -> "7", "name" -> "old")
    val post = Map("id" -> "7", "name" -> "new")
    val events = Seq(
      ev(Op.Insert, newD = post),
      ev(Op.Update, oldD = pre, newD = post),
      ev(Op.Delete, oldD = pre),
      ev(Op.Snapshot, newD = post)).toDF()
    val out = Handlers.debeziumEnvelope(events, router, "id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val src = """"source":{"connector":"graft","schema":"public","table":"users"}"""
    val preJ  = """{"id":"7","name":"old"}"""
    val postJ = """{"id":"7","name":"new"}"""
    assert(out.forall(_._1 == "users-topic"))
    assert(out.forall(_._2 == "7")) // DELETE keys from the pre-image
    assert(out.map(_._3).toSeq == Seq(
      s"""{"before":null,"after":$postJ,"op":"c","ts_ms":1700000000000,$src}""",
      s"""{"before":$preJ,"after":$postJ,"op":"u","ts_ms":1700000000000,$src}""",
      s"""{"before":$preJ,"after":null,"op":"d","ts_ms":1700000000000,$src}""",
      s"""{"before":null,"after":$postJ,"op":"r","ts_ms":1700000000000,$src}"""))
  }

  test("debezium envelope: unmapped tables and unknown ops are dropped") {
    import spark.implicits._
    val events = Seq(
      ev(Op.Insert, table = "ghost", newD = Map("id" -> "1")),
      ev("TRUNCATE", newD = Map("id" -> "2"))).toDF()
    assert(Handlers.debeziumEnvelope(events, router, "id").isEmpty)
  }

  test("DLQ routing: oversized records divert to <topic>.dlq with diagnostic headers") {
    import spark.implicits._
    val events = Seq(
      ev(Op.Insert, newD = Map("id" -> "1", "name" -> "small")),
      ev(Op.Insert, newD = Map("id" -> "2", "name" -> "x" * 500))).toDF()
    val out = Handlers.withDlq(Handlers.declarative(events, router, "id"), maxWireBytes = 200)
      .collect().sortBy(r => new String(r.getAs[Array[Byte]]("key")))
    assert(out.length == 2) // nothing dropped — diverted, not discarded
    val (ok, dlq) = (out(0), out(1))
    assert(ok.getString(0) == "users-topic")
    assert(dlq.getString(0) == "users-topic.dlq")
    val hs = dlq.getSeq[org.apache.spark.sql.Row](dlq.fieldIndex("headers"))
      .map(h => h.getString(0) -> new String(h.getAs[Array[Byte]](1))).toMap
    assert(hs("dlq-reason") == "oversize")
    assert(hs("dlq-origin-topic") == "users-topic")
    assert(hs("dlq-wire-bytes").toInt > 500) // untruncated payload accounted
    // the healthy record's headers are untouched
    assert(!ok.getSeq[org.apache.spark.sql.Row](ok.fieldIndex("headers"))
      .exists(_.getString(0).startsWith("dlq-")))
  }

  test("DLQ routing composes after the headerless debezium envelope") {
    import spark.implicits._
    val events = Seq(
      ev(Op.Insert, newD = Map("id" -> "1", "name" -> "small")),
      ev(Op.Insert, newD = Map("id" -> "2", "name" -> "y" * 500))).toDF()
    val out = Handlers.withDlq(
        Handlers.debeziumEnvelope(events, router, "id"), maxWireBytes = 200)
      .collect().sortBy(_.getString(1))
    assert(out.map(_.getString(0)).toSeq == Seq("users-topic", "users-topic.dlq"))
    val dlqHeaders = out(1).getSeq[org.apache.spark.sql.Row](out(1).fieldIndex("headers"))
      .map(_.getString(0))
    assert(dlqHeaders.contains("dlq-reason"))
    assert(out(0).getSeq[org.apache.spark.sql.Row](out(0).fieldIndex("headers")).isEmpty)
  }

  test("maskImage blinds named fields in both images; key extraction still works") {
    import spark.implicits._
    val events = Seq(ev(Op.Update,
      oldD = Map("id" -> "4", "email" -> "old@x.io", "name" -> "n"),
      newD = Map("id" -> "4", "email" -> "new@x.io", "name" -> "n"))).toDF()
    val out = Handlers.declarative(
      Handlers.maskImage(events, Seq("email")), router, "id").collect()(0)
    assert(new String(out.getAs[Array[Byte]]("key")) == "4") // unmasked field intact
    val value = new String(out.getAs[Array[Byte]]("value"))
    assert(value.contains(""""email":"***"""") && !value.contains("new@x.io"))
    // pre-image masked too: DELETE serializes oldData
    val del = Seq(ev(Op.Delete,
      oldD = Map("id" -> "5", "email" -> "bye@x.io"))).toDF()
    val dv = new String(Handlers.declarative(
      Handlers.maskImage(del, Seq("email")), router, "id")
      .collect()(0).getAs[Array[Byte]]("value"))
    assert(dv.contains(""""email":"***"""") && !dv.contains("bye@x.io"))
  }

  test("maskImage stays inside whole-stage codegen (no fallback lambda)") {
    import spark.implicits._
    // a file-backed frame: a local relation constant-folds the whole
    // projection away and there would be no codegen stage to inspect
    val tmp = java.nio.file.Files.createTempDirectory("graft-mask").toString
    Seq(ev(Op.Insert, newD = Map("id" -> "1", "email" -> "a@b.c"))).toDF()
      .write.mode("overwrite").parquet(tmp)
    val events = spark.read.parquet(tmp)
    val df = Handlers.declarative(Handlers.maskImage(events, Seq("email")), router, "id")
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("map_mask_keys"), s"expected the native expression:\n$p")
    val projLines = p.split("\n").filter(_.contains("map_mask_keys"))
    assert(projLines.exists(_.contains("*(")),
      s"masking must not unfuse the serializer projection:\n$p")
  }

  test("tombstones: DELETE emits its record plus a null-value tombstone on the same key") {
    import spark.implicits._
    val events = Seq(
      ev(Op.Delete, oldD = Map("id" -> "9", "name" -> "gone")),
      ev(Op.Insert, newD = Map("id" -> "1", "name" -> "new"))).toDF()
    val out = Handlers.declarativeWithTombstones(events, router, "id").collect()
    assert(out.length == 3) // INSERT + DELETE + 1 tombstone
    val tombs = out.filter(_.isNullAt(2))
    assert(tombs.length == 1)
    val t = tombs.head
    assert(t.getString(0) == "users-topic")
    assert(new String(t.getAs[Array[Byte]]("key")) == "9") // same key as the delete
    val hs = t.getSeq[org.apache.spark.sql.Row](t.fieldIndex("headers"))
      .map(h => h.getString(0) -> new String(h.getAs[Array[Byte]](1))).toMap
    assert(hs == Map("tombstone" -> "true"))
    // non-deletes never tombstone
    assert(out.count(r => !r.isNullAt(2)) == 2)
  }

  test("outboxRoute: only inserts route; topic/key/payload/id come from the image") {
    import spark.implicits._
    val outbox = Seq(
      ev(Op.Insert, table = "outbox", newD = Map(
        "id" -> "e-1", "aggregatetype" -> "order", "aggregateid" -> "42",
        "payload" -> """{"total":9}""")),
      ev(Op.Delete, table = "outbox", oldD = Map(
        "id" -> "e-0", "aggregatetype" -> "order", "aggregateid" -> "41",
        "payload" -> "{}"))).toDF()
    val out = Handlers.outboxRoute(outbox).collect()
    assert(out.length == 1) // housekeeping DELETE does not route
    val r = out.head
    assert(r.getString(0) == "outbox.event.order")
    assert(new String(r.getAs[Array[Byte]]("key")) == "42")
    assert(new String(r.getAs[Array[Byte]]("value")) == """{"total":9}""")
    val hs = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("headers"))
      .map(h => h.getString(0) -> new String(h.getAs[Array[Byte]](1))).toMap
    assert(hs == Map("id" -> "e-1"))
  }
}
