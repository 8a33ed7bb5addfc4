package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.model.{ChangeEvent, Op}

/** Streaming CDC apply (Materialize): the replica table tracks
  * latest-change-per-key apply semantics (q46's contract) continuously,
  * rewrites only touched buckets, and is idempotent under redelivery.
  */
class MaterializeSpec extends SparkSpec {

  import spark.implicits._

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  private def ev(op: String, id: Int, min: Int, v: String): ChangeEvent = {
    val data = Map("id" -> id.toString, "v" -> v)
    if (op == Op.Delete) ChangeEvent(ts(min), "public", "t", data, Map.empty, op)
    else ChangeEvent(ts(min), "public", "t", Map.empty, data, op)
  }

  private def state(tablePath: String): Map[String, (String, Timestamp)] =
    Materialize.replica(spark, tablePath).collect()
      .map(r => r.getString(0) ->
        (r.getMap[String, String](1)("v"), r.getTimestamp(2))).toMap

  test("streamed apply converges to the batch latest-by-key result, deletes drop rows") {
    val tablePath = Files.createTempDirectory("graft-replica").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-replica-ckpt").toString
    val in = MemoryStream[ChangeEvent](spark)
    val q = Materialize.applyStream(in.toDF(), "id", tablePath, ckpt, nBuckets = 4)

    // batch 1: inserts
    in.addData(ev(Op.Insert, 1, 0, "a"), ev(Op.Insert, 2, 1, "b"), ev(Op.Insert, 3, 2, "c"))
    q.processAllAvailable()
    assert(state(tablePath) == Map(
      "1" -> ("a", ts(0)), "2" -> ("b", ts(1)), "3" -> ("c", ts(2))))

    // batch 2: update 1, delete 2, insert 4 — and an out-of-order older
    // update of 3 that must LOSE to the existing newer row
    in.addData(ev(Op.Update, 1, 10, "a2"), ev(Op.Delete, 2, 11, ""),
      ev(Op.Insert, 4, 12, "d"), ev(Op.Update, 3, 1, "stale"))
    q.processAllAvailable()
    assert(state(tablePath) == Map(
      "1" -> ("a2", ts(10)), "3" -> ("c", ts(2)), "4" -> ("d", ts(12))))

    // batch 3: several changes to one key in one batch — latest wins
    in.addData(ev(Op.Update, 4, 20, "d2"), ev(Op.Update, 4, 22, "d3"),
      ev(Op.Update, 4, 21, "dX"))
    q.processAllAvailable(); q.stop()
    assert(state(tablePath)("4") == ("d3", ts(22)))
  }

  test("re-applying a delivered batch is a no-op (at-least-once redelivery safe)") {
    val tablePath = Files.createTempDirectory("graft-replica2").toString + "/t"
    val b1 = Seq(ev(Op.Insert, 1, 0, "a"), ev(Op.Insert, 2, 1, "b")).toDF()
    val b2 = Seq(ev(Op.Update, 1, 5, "a2"), ev(Op.Delete, 2, 6, "")).toDF()
    Materialize.applyBatch(b1, "id", tablePath, nBuckets = 4)
    Materialize.applyBatch(b2, "id", tablePath, nBuckets = 4)
    val afterOnce = state(tablePath)
    Materialize.applyBatch(b2, "id", tablePath, nBuckets = 4) // redelivery
    assert(state(tablePath) == afterOnce)
    assert(afterOnce == Map("1" -> ("a2", ts(5))))
  }

  test("a delete tombstone blocks resurrection by an older change in a later batch") {
    val tablePath = Files.createTempDirectory("graft-replica4").toString + "/t"
    // batch 1 delivers the DELETE (ts=5); batch 2 delivers an OLDER
    // insert (ts=1) for the same key — out-of-order across batches.
    // Without a tombstone the older insert would resurrect key 1.
    Materialize.applyBatch(Seq(ev(Op.Delete, 1, 5, "")).toDF(), "id", tablePath, nBuckets = 4)
    Materialize.applyBatch(Seq(ev(Op.Insert, 1, 1, "stale")).toDF(), "id", tablePath, nBuckets = 4)
    assert(state(tablePath).isEmpty)
    // a genuinely NEWER insert does re-create the key
    Materialize.applyBatch(Seq(ev(Op.Insert, 1, 9, "fresh")).toDF(), "id", tablePath, nBuckets = 4)
    assert(state(tablePath) == Map("1" -> ("fresh", ts(9))))
  }

  test("vacuum reclaims old tombstones; emptied buckets disappear from disk") {
    val tablePath = Files.createTempDirectory("graft-replica5").toString + "/t"
    Materialize.applyBatch(
      Seq(ev(Op.Insert, 1, 0, "a"), ev(Op.Insert, 2, 1, "b")).toDF(), "id", tablePath, nBuckets = 4)
    Materialize.applyBatch(
      Seq(ev(Op.Delete, 1, 5, ""), ev(Op.Delete, 2, 6, "")).toDF(), "id", tablePath, nBuckets = 4)
    assert(state(tablePath).isEmpty)
    val raw = spark.read.parquet(tablePath)
    assert(raw.count() == 2) // two tombstones on disk
    // vacuum before ts(6): only key 1's tombstone is old enough
    Materialize.vacuum(spark, tablePath, ts(6))
    assert(spark.read.parquet(tablePath).count() == 1)
    Materialize.vacuum(spark, tablePath, ts(30))
    // all tombstones reclaimed; their buckets held nothing else → gone
    val left = Option(new java.io.File(tablePath).list()).toSeq.flatten
      .filter(_.startsWith("bucket="))
    assert(left.isEmpty, s"expected no bucket dirs, got $left")
  }

  test("a reader across a vacuum: stale handle fails cleanly or stays consistent; a fresh read is exact") {
    // vacuum only reclaims tombstones — which replica() filters at read
    // — so the LIVE state visible through any successful read is
    // identical before and after. The only hazard is file-level: a
    // DataFrame whose file listing was resolved pre-vacuum may point at
    // rewritten (deleted) files. Pinned contract: such a stale handle
    // either still returns the exact consistent state or fails cleanly
    // (never partial/garbage rows), and a re-resolved read is exact.
    val tablePath = Files.createTempDirectory("graft-replica-vac").toString + "/t"
    Materialize.applyBatch(
      Seq(ev(Op.Insert, 1, 0, "a"), ev(Op.Insert, 2, 1, "b"),
        ev(Op.Insert, 3, 2, "c"), ev(Op.Insert, 4, 3, "d")).toDF(),
      "id", tablePath, nBuckets = 4)
    Materialize.applyBatch(
      Seq(ev(Op.Delete, 2, 5, ""), ev(Op.Update, 1, 6, "a2")).toDF(),
      "id", tablePath, nBuckets = 4)
    val expected = state(tablePath)
    assert(expected.keySet == Set("1", "3", "4"))
    // resolve the stale handle's file listing BEFORE the vacuum
    val stale = Materialize.replica(spark, tablePath)
    stale.count()
    Materialize.vacuum(spark, tablePath, ts(30)) // reclaims key 2's tombstone
    scala.util.Try(stale.collect()) match {
      case scala.util.Success(rows) =>
        val got = rows.map(r => r.getString(0) ->
          (r.getMap[String, String](1)("v"), r.getTimestamp(2))).toMap
        assert(got == expected, "a surviving stale read must be consistent")
      case scala.util.Failure(_) => () // clean failure is acceptable
    }
    // a fresh read (re-resolved listing) is exact, and lookup() agrees
    assert(state(tablePath) == expected)
    val l = Materialize.lookup(spark, tablePath, "1", nBuckets = 4).collect()
    assert(l.length == 1 && l(0).getMap[String, String](1)("v") == "a2")
  }

  test("change feed + aggregate deltas: updates move groups, deletes retract, redelivery cancels") {
    val base = Files.createTempDirectory("graft-replica6").toString
    val tablePath = s"$base/t"; val aggPath = s"$base/agg"
    def evG(op: String, id: Int, min: Int, grp: String, m: Int): graft.model.ChangeEvent = {
      val data = Map("id" -> id.toString, "g" -> grp, "m" -> m.toString)
      if (op == Op.Delete) graft.model.ChangeEvent(ts(min), "public", "t", data, Map.empty, op)
      else graft.model.ChangeEvent(ts(min), "public", "t", Map.empty, data, op)
    }
    def agg(): Map[String, (Long, Long)] =
      spark.read.parquet(aggPath).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def apply(evs: graft.model.ChangeEvent*): Unit =
      Materialize.applyAggregateDelta(
        Materialize.applyBatchCdf(evs.toDF(), "id", tablePath, nBuckets = 4), "g", "m", aggPath)

    apply(evG(Op.Insert, 1, 0, "a", 10), evG(Op.Insert, 2, 1, "a", 20), evG(Op.Insert, 3, 2, "b", 5))
    assert(agg() == Map("a" -> (2L, 30L), "b" -> (1L, 5L)))
    // update moves key 2 from group a to b; delete retracts key 3
    apply(evG(Op.Update, 2, 10, "b", 21), evG(Op.Delete, 3, 11, "b", 5))
    assert(agg() == Map("a" -> (1L, 10L), "b" -> (1L, 21L)))
    // redelivered batch: CDF emits before == after ⇒ deltas cancel to a no-op
    apply(evG(Op.Update, 2, 10, "b", 21), evG(Op.Delete, 3, 11, "b", 5))
    assert(agg() == Map("a" -> (1L, 10L), "b" -> (1L, 21L)))
    // stale out-of-order change loses the merge ⇒ no delta at all
    apply(evG(Op.Update, 2, 3, "a", 99))
    assert(agg() == Map("a" -> (1L, 10L), "b" -> (1L, 21L)))
    // deleting the last member of a group removes the group's row
    apply(evG(Op.Delete, 1, 20, "a", 10))
    assert(agg() == Map("b" -> (1L, 21L)))
  }

  test("multi-table stream fans out to one replica per table; unconfigured tables ignored") {
    val base = Files.createTempDirectory("graft-multi").toString
    val ckpt = Files.createTempDirectory("graft-multi-ckpt").toString
    def evT(table: String, key: String, id: Int, min: Int, v: String) =
      graft.model.ChangeEvent(ts(min), "public", table, Map.empty,
        Map(key -> id.toString, "v" -> v), Op.Insert)
    val in = MemoryStream[graft.model.ChangeEvent](spark)
    val q = Materialize.applyStreamPerTable(in.toDF(),
      tables = Map("public.users" -> "uid", "public.orders" -> "oid"),
      baseDir = base, checkpoint = ckpt, nBuckets = 2)
    in.addData(
      evT("users", "uid", 1, 0, "u1"), evT("users", "uid", 2, 1, "u2"),
      evT("orders", "oid", 7, 2, "o7"),
      evT("ignored", "x", 9, 3, "nope"))
    q.processAllAvailable(); q.stop()
    assert(state(s"$base/public.users").keySet == Set("1", "2"))
    assert(state(s"$base/public.orders") == Map("7" -> ("o7", ts(2))))
    assert(!new java.io.File(s"$base/public.ignored").exists())
  }

  test("the onChanges hook keeps the aggregate view current per batch") {
    val base = Files.createTempDirectory("graft-view").toString
    val ckpt = Files.createTempDirectory("graft-view-ckpt").toString
    def evG(op: String, id: Int, min: Int, grp: String, m: Int) = {
      val data = Map("id" -> id.toString, "g" -> grp, "m" -> m.toString)
      if (op == Op.Delete) graft.model.ChangeEvent(ts(min), "public", "t", data, Map.empty, op)
      else graft.model.ChangeEvent(ts(min), "public", "t", Map.empty, data, op)
    }
    val in = MemoryStream[graft.model.ChangeEvent](spark)
    val q = Materialize.applyStream(in.toDF(), "id", s"$base/t", ckpt, nBuckets = 2,
      onChanges = Materialize.applyAggregateDelta(_, groupField = "g",
        measureField = "m", s"$base/agg"))
    def agg(): Map[String, (Long, Long)] =
      spark.read.parquet(s"$base/agg").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    in.addData(evG(Op.Insert, 1, 0, "a", 10), evG(Op.Insert, 2, 1, "b", 20))
    q.processAllAvailable()
    assert(agg() == Map("a" -> (1L, 10L), "b" -> (1L, 20L)))
    in.addData(evG(Op.Update, 1, 5, "b", 11), evG(Op.Delete, 2, 6, "b", 20))
    q.processAllAvailable(); q.stop()
    assert(agg() == Map("b" -> (1L, 11L)))
  }

  test("connector 'replica' sink: file-lane CDC stream materializes and survives restart") {
    import scala.concurrent.duration._
    val src = Files.createTempDirectory("graft-rsrc")
    val chk = Files.createTempDirectory("graft-rchk")
    val tbl = Files.createTempDirectory("graft-rtbl").toString + "/t"
    def write(name: String, lines: Seq[String]): Unit =
      Files.write(src.resolve(name), String.join("\n", lines: _*).getBytes)
    def row(op: String, id: Int, sec: Int, v: String) = {
      val data = s"""{"id":"$id","v":"$v"}"""
      val (o, n) = if (op == "DELETE") (data, "null") else ("null", data)
      s"""{"eventTime":"2024-01-01T00:00:${"%02d".format(sec)}.000Z","tableNamespace":"public","tableName":"users","oldData":$o,"newData":$n,"op":"$op"}"""
    }
    val cfg = graft.app.ConnectorConfig(
      sourceDir = src.toString, checkpointDir = chk.toString,
      kafka = graft.app.KafkaSinkConfig(
        brokers = Seq("unused:9092"),
        tableTopicMapping = Map("public.users" -> "users-topic"),
        producerBatchTickerDuration = 250.millis),
      keyField = "id")

    write("b1.json", Seq(row("INSERT", 1, 1, "a"), row("INSERT", 2, 2, "b")))
    val conn1 = new graft.app.Connector(spark, cfg, sink = "replica", parquetOutDir = tbl)
    val q1 = conn1.start()
    q1.processAllAvailable()
    conn1.close()
    assert(state(tbl) == Map(
      "1" -> ("a", Timestamp.valueOf("2024-01-01 00:00:01")),
      "2" -> ("b", Timestamp.valueOf("2024-01-01 00:00:02"))))

    // change arrives while down; restart resumes from the checkpoint
    write("b2.json", Seq(row("UPDATE", 1, 9, "a2"), row("DELETE", 2, 9, "b")))
    val conn2 = new graft.app.Connector(spark, cfg, sink = "replica", parquetOutDir = tbl)
    val q2 = conn2.start()
    q2.processAllAvailable()
    conn2.close()
    assert(state(tbl) == Map("1" -> ("a2", Timestamp.valueOf("2024-01-01 00:00:09"))))
  }

  test("persisted changelog: per-batch partitions, net changes only, redelivery replaces") {
    val base = Files.createTempDirectory("graft-chlog").toString
    val ckpt = Files.createTempDirectory("graft-chlog-ckpt").toString
    val tbl = s"$base/t"; val chg = s"$base/changes"
    val in = MemoryStream[ChangeEvent](spark)
    val q = Materialize.applyStreamWithChangelog(
      in.toDF(), "id", tbl, chg, ckpt, nBuckets = 2)
    in.addData(ev(Op.Insert, 1, 0, "a"), ev(Op.Insert, 2, 1, "b"))
    q.processAllAvailable()
    in.addData(ev(Op.Update, 1, 5, "a2"), ev(Op.Delete, 2, 6, ""),
      ev(Op.Update, 1, 2, "stale")) // merge loser: must NOT appear in the feed
    q.processAllAvailable(); q.stop()
    // the batch partition column reads back as INT (directory inference)
    val changes = spark.read.parquet(chg).collect()
      .map(r => (r.getAs[Number]("batch").longValue(), r.getAs[String]("k"),
        Option(r.getAs[Map[String, String]]("before")).map(_("v")),
        Option(r.getAs[Map[String, String]]("after")).map(_("v"))))
    assert(changes.count(_._1 == 0L) == 2) // two inserts
    val b1 = changes.filter(_._1 == 1L)
    assert(b1.toSet == Set(
      (1L, "1", Some("a"), Some("a2")),  // update: before/after
      (1L, "2", Some("b"), None)))       // delete: after null; stale change absent
    // redelivery through the same write-once guard: the batch re-applies
    // to the replica (idempotent) but the feed partition is complete, so
    // it is NOT rewritten — in particular the delete row survives, which
    // a post-apply recomputation would have netted away (key 2 is
    // already tombstoned on redelivery)
    val total = spark.read.parquet(chg).count()
    val part = new java.io.File(s"$chg/batch=1")
    Materialize.applyBatchCdf(
      Seq(ev(Op.Update, 1, 5, "a2"), ev(Op.Delete, 2, 6, "")).toDF(), "id", tbl, 2,
      beforeTableWrite = ch =>
        if (!new java.io.File(part, "_SUCCESS").exists())
          ch.write.mode("overwrite").parquet(part.toString))
    assert(spark.read.parquet(chg).count() == total)
    assert(spark.read.parquet(part.toString).count() == 2) // delete row intact

    // time travel: fold the feed to reconstruct state as of each batch
    def asOf(b: Long): Map[String, String] =
      Materialize.replicaAsOf(spark, chg, b).collect()
        .map(r => r.getString(0) -> r.getMap[String, String](1)("v")).toMap
    assert(asOf(0L) == Map("1" -> "a", "2" -> "b"))
    assert(asOf(1L) == Map("1" -> "a2")) // 2 deleted, 1 updated
    // ...and the as-of-latest view agrees with the live replica
    assert(asOf(1L) == state(tbl).map { case (k, (v, _)) => k -> v })
  }

  test("time travel across a TRUNCATE: pre-truncate state reconstructs, post-truncate state is cleared") {
    val base = Files.createTempDirectory("graft-ttrunc").toString
    val ckpt = Files.createTempDirectory("graft-ttrunc-ckpt").toString
    val tbl = s"$base/t"; val chg = s"$base/changes"
    val in = MemoryStream[ChangeEvent](spark)
    val q = Materialize.applyStreamWithChangelog(
      in.toDF(), "id", tbl, chg, ckpt, nBuckets = 2)
    try {
      in.addData(ev(Op.Insert, 1, 0, "a"), ev(Op.Insert, 2, 1, "b"))
      q.processAllAvailable()
      // batch 1: the truncate + a reload — the feed must record the
      // retraction of 1 and 2 alongside the assertion of 3
      in.addData(truncEv(10), ev(Op.Insert, 3, 12, "c"))
      q.processAllAvailable()
      in.addData(ev(Op.Update, 3, 20, "c2"))
      q.processAllAvailable()
      def asOf(b: Long): Map[String, String] =
        Materialize.replicaAsOf(spark, chg, b).collect()
          .map(r => r.getString(0) -> r.getMap[String, String](1)("v")).toMap
      // as-of the pre-truncate batch: the original rows are visible —
      // the truncate rewrote the TABLE, not history
      assert(asOf(0L) == Map("1" -> "a", "2" -> "b"))
      // as-of the truncating batch: cleared keys dead, reload live
      assert(asOf(1L) == Map("3" -> "c"))
      assert(asOf(2L) == Map("3" -> "c2"))
      assert(asOf(2L) == state(tbl).map { case (k, (v, _)) => k -> v })
    } finally q.stop()
  }

  test("initial snapshot hydrates the replica, CDC keeps it current (connector-driven)") {
    import scala.concurrent.duration._
    val src = Files.createTempDirectory("graft-snaprep-src")
    val chk = Files.createTempDirectory("graft-snaprep-chk")
    val tbl = Files.createTempDirectory("graft-snaprep-tbl").toString + "/t"
    // a CDC update that must override the snapshot row (later event time
    // than any snapshot timestamp)
    Files.write(src.resolve("upd.json"),
      ("""{"eventTime":"2130-01-01T00:00:00.000Z","tableNamespace":"public","tableName":"nation",""" +
        """"oldData":null,"newData":{"n_nationkey":"3","n_name":"PATCHED"},"op":"UPDATE"}""").getBytes)
    val cfg = graft.app.ConnectorConfig(
      sourceDir = src.toString, checkpointDir = chk.toString,
      kafka = graft.app.KafkaSinkConfig(
        brokers = Seq("unused:9092"),
        tableTopicMapping = Map("public.nation" -> "nation-topic"),
        producerBatchTickerDuration = 250.millis),
      snapshot = graft.app.SnapshotConfig(
        enabled = true, mode = graft.app.SnapshotConfig.ModeInitial,
        tables = Seq("nation"), dataDir = "/root/testdata/sf0.001"),
      keyField = "n_nationkey")
    val conn = new graft.app.Connector(spark, cfg, sink = "replica", parquetOutDir = tbl)
    val q = conn.start()
    q.processAllAvailable()
    conn.close()
    val rows = Materialize.replica(spark, tbl).collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1)("n_name")).toMap
    assert(rows.size == 25, s"expected the 25 snapshot rows, got ${rows.size}")
    assert(rows("3") == "PATCHED") // CDC override beat its snapshot image
    assert(rows("0") != "PATCHED" && rows("0").nonEmpty)
  }

  test("copy-on-write self-consolidates: buckets never accrete files across rewrites") {
    val tablePath = Files.createTempDirectory("graft-cow-files").toString + "/t"
    (1 to 12).foreach { i =>
      Materialize.applyBatch(Seq(ev(Op.Insert, i, i % 10, s"v$i")).toDF(), "id",
        tablePath, nBuckets = 2)
    }
    // 12 rewrites later each bucket holds only its LAST rewrite's files —
    // dynamic overwrite replaces, never appends, so the replica needs no
    // compaction pass (unlike the append-accreting IVF cells, which
    // CompactionSpec covers)
    (0 to 1).foreach { b =>
      val files = Option(new java.io.File(s"$tablePath/bucket=$b").list())
        .toSeq.flatten.filter(_.endsWith(".parquet"))
      assert(files.size <= spark.conf.get("spark.sql.shuffle.partitions").toInt,
        s"bucket $b accreted ${files.size} files")
    }
    assert(state(tablePath).keySet == (1 to 12).map(_.toString).toSet)
  }

  test("point lookup prunes to the key's bucket and respects tombstones") {
    val tablePath = Files.createTempDirectory("graft-lookup").toString + "/t"
    Materialize.applyBatch(
      (1 to 32).map(i => ev(Op.Insert, i, 0, s"v$i")).toDF(), "id", tablePath, nBuckets = 8)
    Materialize.applyBatch(Seq(ev(Op.Delete, 7, 5, "")).toDF(), "id", tablePath, nBuckets = 8)
    val hit = Materialize.lookup(spark, tablePath, "3", nBuckets = 8)
    assert(hit.collect().map(r => r.getMap[String, String](1)("v")).toSeq == Seq("v3"))
    // the scan is pruned to one bucket directory
    val scanned = hit.queryExecution.executedPlan.toString()
    assert(scanned.contains("PartitionFilters") && scanned.contains("bucket"),
      s"expected bucket partition pruning:\n$scanned")
    // deleted key: tombstone present on disk, lookup returns nothing
    assert(Materialize.lookup(spark, tablePath, "7", nBuckets = 8).isEmpty)
    assert(Materialize.lookup(spark, tablePath, "nosuch", nBuckets = 8).isEmpty)
  }

  test("law: any batching of any event log converges to latest-by-(time, seq) semantics") {
    val rnd = new scala.util.Random(42) // deterministic
    for (round <- 0 until 3) {
      val tablePath = Files.createTempDirectory(s"graft-law$round").toString + "/t"
      val nKeys = 12
      // seq (the LSN stand-in) is the unique event index; times collide
      // on purpose so the seq tiebreak is load-bearing
      val events = (0 until 120).map { i =>
        val id = rnd.nextInt(nKeys); val min = rnd.nextInt(10)
        val op = rnd.nextInt(10) match {
          case 0 | 1 => Op.Delete
          case 2 | 3 => Op.Update
          case _     => Op.Insert
        }
        val data = Map("id" -> id.toString, "seq" -> i.toString, "v" -> s"v$i")
        if (op == Op.Delete)
          graft.model.ChangeEvent(ts(min), "public", "t", data, Map.empty, op)
        else graft.model.ChangeEvent(ts(min), "public", "t", Map.empty, data, op)
      }
      // random partition into 4 batches, applied in that arbitrary order
      val batched = events.groupBy(_ => rnd.nextInt(4)).toSeq.sortBy(_._1)
      batched.foreach { case (_, evs) =>
        Materialize.applyBatch(evs.toDF(), "id", tablePath, nBuckets = 4, seqCol = Some("seq"))
      }
      // reference semantics, computed independently in memory
      val expected = events.groupBy(e =>
          (e.oldData ++ e.newData)("id"))
        .flatMap { case (k, evs) =>
          val last = evs.maxBy(e => (e.eventTime.getTime, (e.oldData ++ e.newData)("seq").toLong))
          if (last.op == Op.Delete) None else Some(k -> last.newData("v"))
        }
      val got = state(tablePath).map { case (k, (v, _)) => k -> v }
      assert(got == expected, s"round $round diverged")
    }
  }

  test("a batch rewrites only the buckets it touches") {
    val tablePath = Files.createTempDirectory("graft-replica3").toString + "/t"
    // seed all buckets
    Materialize.applyBatch(
      (1 to 64).map(i => ev(Op.Insert, i, 0, s"v$i")).toDF(), "id", tablePath, nBuckets = 4)
    val dir = new java.io.File(tablePath)
    def bucketFiles(b: Int): Set[String] =
      Option(new java.io.File(dir, s"bucket=$b").list()).map(_.toSet).getOrElse(Set.empty)
    assert((0 to 3).forall(bucketFiles(_).nonEmpty))
    // one-key batch: exactly one bucket's file set may change
    val before = (0 to 3).map(b => b -> bucketFiles(b)).toMap
    Materialize.applyBatch(
      Seq(ev(Op.Update, 1, 9, "v1b")).toDF(), "id", tablePath, nBuckets = 4)
    val changed = (0 to 3).count(b => bucketFiles(b) != before(b))
    assert(changed == 1, s"expected 1 rewritten bucket, got $changed")
    // and the data merged, not replaced: all 64 keys still present
    assert(Materialize.replica(spark, tablePath).count() == 64)
    assert(state(tablePath)("1") == ("v1b", ts(9)))
  }

  test("schema drift: a column added mid-stream flows into the replica without restart") {
    // The dynamic map lane is what makes DDL painless (SURVEY §1.2: the
    // reference decodes pgoutput Relation messages into map[string]any,
    // and PgOutput replaces the relation schema in-stream the same way):
    // a widened row is just a map with one more key. Pin the contract:
    // no restart, no migration — old rows read NULL for the new column,
    // new rows carry it, and a typed projection stays valid.
    val tablePath = Files.createTempDirectory("graft-replica-drift").toString + "/t"
    Materialize.applyBatch(
      Seq(ev(Op.Insert, 1, 0, "a"), ev(Op.Insert, 2, 1, "b")).toDF(),
      "id", tablePath, nBuckets = 4)
    // "ALTER TABLE t ADD COLUMN w" happened upstream: later events carry w
    val widened = ChangeEvent(ts(5), "public", "t", Map.empty,
      Map("id" -> "3", "v" -> "c", "w" -> "42"), Op.Insert)
    val updated = ChangeEvent(ts(6), "public", "t", Map.empty,
      Map("id" -> "1", "v" -> "a2", "w" -> "7"), Op.Update)
    Materialize.applyBatch(Seq(widened, updated).toDF(), "id", tablePath, nBuckets = 4)
    val rows = Materialize.replica(spark, tablePath).collect()
      .map(r => r.getString(0) -> Option(r.getMap[String, String](1).getOrElse("w", null)))
      .toMap
    assert(rows == Map("1" -> Some("7"), "2" -> None, "3" -> Some("42")))
    // bucket-pruned point lookup sees the new column immediately
    val one = Materialize.lookup(spark, tablePath, "3", nBuckets = 4).collect()
    assert(one.length == 1 && one(0).getMap[String, String](1)("w") == "42")
  }

  // --- TRUNCATE: the table-level tombstone -------------------------

  private def truncEv(min: Int): ChangeEvent =
    ChangeEvent(ts(min), "public", "t", null,
      Map("cascade" -> "false", "restart_identity" -> "false"), Op.Truncate)

  test("TRUNCATE clears pre-truncate rows; the same batch's post-truncate reload lands") {
    val tablePath = Files.createTempDirectory("graft-trunc1").toString + "/t"
    Materialize.applyBatch(
      (1 to 64).map(i => ev(Op.Insert, i, 0, s"v$i")).toDF(), "id", tablePath, nBuckets = 4)
    assert(state(tablePath).size == 64)
    // one batch: the truncate (ts=10), a pre-truncate straggler (ts=5,
    // must die), and the post-truncate reload (ts=12, must land)
    val b2 = Seq(truncEv(10), ev(Op.Insert, 100, 5, "stale"),
      ev(Op.Insert, 200, 12, "fresh")).toDF()
    Materialize.applyBatch(b2, "id", tablePath, nBuckets = 4)
    assert(state(tablePath) == Map("200" -> ("fresh", ts(12))))
    // emptied buckets are gone from disk, not kept as stale files
    val liveBuckets = Option(new java.io.File(tablePath).list())
      .map(_.toSeq.filter(_.startsWith("bucket="))).getOrElse(Seq.empty)
    assert(liveBuckets.size == 1, s"expected 1 surviving bucket, got $liveBuckets")
    // redelivery of the truncating batch is a no-op (idempotent)
    Materialize.applyBatch(b2, "id", tablePath, nBuckets = 4)
    assert(state(tablePath) == Map("200" -> ("fresh", ts(12))))
  }

  test("the truncate horizon persists: a LATE pre-truncate change in a later batch stays dead") {
    val tablePath = Files.createTempDirectory("graft-trunc2").toString + "/t"
    Materialize.applyBatch(
      Seq(ev(Op.Insert, 1, 0, "a"), ev(Op.Insert, 2, 1, "b")).toDF(),
      "id", tablePath, nBuckets = 4)
    Materialize.applyBatch(Seq(truncEv(10)).toDF(), "id", tablePath, nBuckets = 4)
    assert(state(tablePath).isEmpty)
    // a later batch delivers an out-of-order PRE-truncate insert: without
    // the horizon it would resurrect into a table the source emptied
    Materialize.applyBatch(Seq(ev(Op.Insert, 1, 3, "zombie")).toDF(),
      "id", tablePath, nBuckets = 4)
    assert(state(tablePath).isEmpty)
    // genuinely newer changes land normally
    Materialize.applyBatch(Seq(ev(Op.Insert, 5, 20, "new")).toDF(),
      "id", tablePath, nBuckets = 4)
    assert(state(tablePath) == Map("5" -> ("new", ts(20))))
  }

  test("truncate-then-reload sharing one commit timestamp: the reload survives (tie convention)") {
    val tablePath = Files.createTempDirectory("graft-trunc3").toString + "/t"
    Materialize.applyBatch(Seq(ev(Op.Insert, 1, 0, "old")).toDF(),
      "id", tablePath, nBuckets = 4)
    // BEGIN; TRUNCATE t; INSERT ...; COMMIT — one commit time for both
    Materialize.applyBatch(Seq(truncEv(10), ev(Op.Insert, 2, 10, "reload")).toDF(),
      "id", tablePath, nBuckets = 4)
    assert(state(tablePath) == Map("2" -> ("reload", ts(10))))
  }

  test("truncate-only batch on an empty table still pins the horizon") {
    val tablePath = Files.createTempDirectory("graft-trunc4").toString + "/t"
    Materialize.applyBatch(Seq(truncEv(10)).toDF(), "id", tablePath, nBuckets = 4)
    Materialize.applyBatch(Seq(ev(Op.Insert, 1, 3, "zombie")).toDF(),
      "id", tablePath, nBuckets = 4)
    assert(state(tablePath).isEmpty)
  }

  test("truncate retracts cleared keys through the change feed; redelivery cancels") {
    val base = Files.createTempDirectory("graft-trunc5").toString
    val tablePath = s"$base/t"; val aggPath = s"$base/agg"
    def evG(op: String, id: Int, min: Int, grp: String, m: Int): ChangeEvent = {
      val data = Map("id" -> id.toString, "g" -> grp, "m" -> m.toString)
      if (op == Op.Delete) ChangeEvent(ts(min), "public", "t", data, Map.empty, op)
      else ChangeEvent(ts(min), "public", "t", Map.empty, data, op)
    }
    def agg(): Map[String, (Long, Long)] =
      spark.read.parquet(aggPath).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def apply(evs: ChangeEvent*): Unit =
      Materialize.applyAggregateDelta(
        Materialize.applyBatchCdf(evs.toDF(), "id", tablePath, nBuckets = 4), "g", "m", aggPath)
    apply(evG(Op.Insert, 1, 0, "a", 10), evG(Op.Insert, 2, 1, "a", 20),
      evG(Op.Insert, 3, 2, "b", 5))
    assert(agg() == Map("a" -> (2L, 30L), "b" -> (1L, 5L)))
    // truncate + reload in one batch: the feed retracts keys 1..3 and
    // asserts only the reload — the view never sees phantom survivors
    val b2 = Seq(truncEv(10), evG(Op.Insert, 4, 12, "b", 7))
    apply(b2: _*)
    assert(agg() == Map("b" -> (1L, 7L)))
    // redelivered truncating batch: nothing is cleared twice, the
    // reload's CDF emits before == after ⇒ deltas cancel to a no-op
    apply(b2: _*)
    assert(agg() == Map("b" -> (1L, 7L)))
  }

  // --- min/max incremental view (non-subtractable aggregate) -------

  private def evG2(op: String, id: Int, min: Int, grp: String, m: Int): ChangeEvent = {
    val data = Map("id" -> id.toString, "g" -> grp, "m" -> m.toString)
    if (op == Op.Delete) ChangeEvent(ts(min), "public", "t", data, Map.empty, op)
    else ChangeEvent(ts(min), "public", "t", Map.empty, data, op)
  }

  test("min/max view: deleting the extremum surfaces the runner-up; redelivery cancels") {
    val base = Files.createTempDirectory("graft-minmax1").toString
    def view(): Map[String, (Long, Long, Long)] =
      Materialize.minMaxView(spark, s"$base/view").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def apply(evs: ChangeEvent*): Unit =
      Materialize.applyMinMaxDelta(
        Materialize.applyBatchCdf(evs.toDF(), "id", s"$base/t", nBuckets = 4),
        "g", "m", s"$base/idx", s"$base/view", nBuckets = 4)
    apply(evG2(Op.Insert, 1, 0, "a", 10), evG2(Op.Insert, 2, 1, "a", 20),
      evG2(Op.Insert, 3, 2, "a", 30), evG2(Op.Insert, 4, 3, "b", 5))
    assert(view() == Map("a" -> (10L, 30L, 3L), "b" -> (5L, 5L, 1L)))
    // delete a's MIN and its MAX in one batch: both runner-ups surface —
    // exactly what count+sum delta maintenance cannot do
    val b2 = Seq(evG2(Op.Delete, 1, 10, "a", 10), evG2(Op.Delete, 3, 11, "a", 30))
    apply(b2: _*)
    assert(view() == Map("a" -> (20L, 20L, 1L), "b" -> (5L, 5L, 1L)))
    // redelivery: CDF nets to nothing new ⇒ view unchanged
    apply(b2: _*)
    assert(view() == Map("a" -> (20L, 20L, 1L), "b" -> (5L, 5L, 1L)))
    // update moves a key ACROSS groups: retracts b's only row (group
    // vanishes), asserts a new max on a
    apply(evG2(Op.Update, 4, 20, "a", 99))
    assert(view() == Map("a" -> (20L, 99L, 2L)))
    // duplicate values: deleting one of two equal minima keeps the min
    apply(evG2(Op.Insert, 5, 30, "a", 20), evG2(Op.Delete, 2, 31, "a", 20))
    assert(view() == Map("a" -> (20L, 99L, 2L)))
    // TRUNCATE retracts through the same feed: the view empties
    apply(truncEv(40))
    assert(view().isEmpty)
  }

  test("min/max view: untouched groups' buckets are never read or written") {
    val base = Files.createTempDirectory("graft-minmax2").toString
    // two groups proven to land in DIFFERENT index buckets
    import org.apache.spark.sql.functions.{xxhash64, pmod, lit => flit}
    val bucketOf = Seq("ga", "gb").toDF("g")
      .select($"g", pmod(xxhash64($"g"), flit(4)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assume(bucketOf("ga") != bucketOf("gb"), s"pick other names: $bucketOf")
    def apply(evs: ChangeEvent*): Unit =
      Materialize.applyMinMaxDelta(
        Materialize.applyBatchCdf(evs.toDF(), "id", s"$base/t", nBuckets = 4),
        "g", "m", s"$base/idx", s"$base/view", nBuckets = 4)
    apply(evG2(Op.Insert, 1, 0, "ga", 10), evG2(Op.Insert, 2, 1, "gb", 20))
    // CORRUPT gb's index bucket: if a later ga-only batch ever listed or
    // read it, the apply would throw — surviving proves physical pruning
    val gbDir = new java.io.File(s"$base/idx/bucket=${bucketOf("gb")}")
    val files = gbDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val out = new java.io.FileOutputStream(f)
      out.write("not a parquet file".getBytes); out.close()
    }
    val snapshot = gbDir.listFiles().map(f => f.getName -> f.length()).toMap
    apply(evG2(Op.Delete, 1, 10, "ga", 10), evG2(Op.Insert, 3, 11, "ga", 7))
    // ga's view row moved; gb's bucket bytes are untouched
    val v = Materialize.minMaxView(spark, s"$base/view").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(v("ga") == (7L, 7L, 1L))
    assert(gbDir.listFiles().map(f => f.getName -> f.length()).toMap == snapshot)
  }

  private def evD(op: String, id: Int, min: Int, grp: String, m: String): ChangeEvent = {
    val data = Map("id" -> id.toString, "g" -> grp, "m" -> m)
    if (op == Op.Delete) ChangeEvent(ts(min), "public", "t", data, Map.empty, op)
    else ChangeEvent(ts(min), "public", "t", Map.empty, data, op)
  }

  test("min/max view over a DECIMAL measure: exact scaled-long cents, extremum withdrawal") {
    val base = Files.createTempDirectory("graft-minmaxdec").toString
    def view(): Map[String, (Long, Long, Long)] =
      Materialize.minMaxView(spark, s"$base/view").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def apply(evs: ChangeEvent*): Unit =
      Materialize.applyMinMaxDelta(
        Materialize.applyBatchCdf(evs.toDF(), "id", s"$base/t", nBuckets = 4),
        "g", "m", s"$base/idx", s"$base/view", nBuckets = 4, measureScale = 2)
    // "10.5" has fewer fractional digits than the scale — representable
    apply(evD(Op.Insert, 1, 0, "a", "10.05"), evD(Op.Insert, 2, 1, "a", "9.99"),
      evD(Op.Insert, 3, 2, "a", "10.5"))
    assert(view() == Map("a" -> (999L, 1050L, 3L)))
    // deleting the live minimum surfaces the runner-up, exactly, in cents
    apply(evD(Op.Delete, 2, 10, "a", "9.99"))
    assert(view() == Map("a" -> (1005L, 1050L, 2L)))
  }

  test("moments view: exact integer deltas retract under updates/deletes; redelivery cancels") {
    val base = Files.createTempDirectory("graft-moments").toString
    def view(): Map[String, (Long, Long, Float, Float)] =
      Materialize.momentsView(spark, s"$base/m").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getFloat(3), r.getFloat(4))).toMap
    def apply(evs: ChangeEvent*): Unit =
      Materialize.applyMomentsDelta(
        Materialize.applyBatchCdf(evs.toDF(), "id", s"$base/t", nBuckets = 4),
        "g", "m", s"$base/m", measureScale = 2)
    apply(evD(Op.Insert, 1, 0, "a", "1.00"), evD(Op.Insert, 2, 1, "a", "3.00"),
      evD(Op.Insert, 3, 2, "b", "5.00"))
    // cents 100 and 300: n=2, s1=400, mean=200, var=((100-200)²+(300-200)²)/2=10000
    assert(view() == Map("a" -> (2L, 400L, 200.0f, 10000.0f),
      "b" -> (1L, 500L, 500.0f, 0.0f)))
    // update moves key 3 into group a with a new value; b vanishes
    val b2 = Seq(evD(Op.Update, 3, 10, "a", "2.00"))
    apply(b2: _*)
    // cents 100, 300, 200: mean 200, var = (10000+0+10000)/3
    val a = view()("a")
    assert(a._1 == 3L && a._2 == 600L && a._3 == 200.0f)
    assert(math.abs(a._4 - 20000.0 / 3.0) < 1e-2)
    assert(!view().contains("b"))
    // redelivery: CDF nets before == after, deltas cancel exactly
    apply(b2: _*)
    assert(view()("a") == a)
    // deleting the update retracts its moments exactly
    apply(evD(Op.Delete, 3, 20, "a", "2.00"))
    assert(view() == Map("a" -> (2L, 400L, 200.0f, 10000.0f)))
  }

  test("a measure not representable at the scale fails the batch loudly, never truncates") {
    def rootMessages(t: Throwable): String = {
      val sb = new StringBuilder
      var cur: Throwable = t
      while (cur != null) { sb ++= Option(cur.getMessage).getOrElse(""); cur = cur.getCause }
      sb.result()
    }
    def applyAt(scale: Int, m: String): Unit = {
      val base = Files.createTempDirectory("graft-minmaxrej").toString
      Materialize.applyMinMaxDelta(
        Materialize.applyBatchCdf(
          Seq(evD(Op.Insert, 1, 0, "a", m)).toDF(), "id", s"$base/t", nBuckets = 4),
        "g", "m", s"$base/idx", s"$base/view", nBuckets = 4, measureScale = scale)
    }
    // three fractional digits at scale 2
    val e1 = intercept[Exception](applyAt(2, "1.005"))
    assert(rootMessages(e1).contains("not exactly representable"), rootMessages(e1))
    // the pre-r14 silent-truncation case: fractional input at scale 0
    val e2 = intercept[Exception](applyAt(0, "12.5"))
    assert(rootMessages(e2).contains("not exactly representable"), rootMessages(e2))
    // and the count+sum lane guards identically
    val e3 = intercept[Exception] {
      val base = Files.createTempDirectory("graft-aggrej").toString
      Materialize.applyAggregateDelta(
        Materialize.applyBatchCdf(
          Seq(evD(Op.Insert, 1, 0, "a", "12.5")).toDF(), "id", s"$base/t", nBuckets = 4),
        "g", "m", s"$base/agg")
    }
    assert(rootMessages(e3).contains("not exactly representable"), rootMessages(e3))
    // NON-NUMERIC text must be this lane's own loud reject, not a
    // mode-dependent cast null that lets count move while sum skips
    val e4 = intercept[Exception](applyAt(2, "not-a-number"))
    assert(rootMessages(e4).contains("is not numeric"), rootMessages(e4))
    // nonzero digits past the DECIMAL(38,18) staging places would round
    // away silently in the cast — rejected by string inspection
    val e5 = intercept[Exception](applyAt(2, "0.0000000000000000001"))
    assert(rootMessages(e5).contains("past 18 fractional places"), rootMessages(e5))
    // overflow: |value×10^scale| beyond long range
    val e6 = intercept[Exception](applyAt(2, "92233720368547758.08"))
    assert(rootMessages(e6).contains("not exactly representable"), rootMessages(e6))
    // the range bounds are ASYMMETRIC: Long.MinValue/10^2 is itself
    // encodable (scaled value exactly Long.MinValue) ...
    applyAt(2, "-92233720368547758.08")
    // ... while one cent below is not
    val e7 = intercept[Exception](applyAt(2, "-92233720368547758.09"))
    assert(rootMessages(e7).contains("not exactly representable"), rootMessages(e7))
  }

  test("property: measure encoding equals a BigDecimal reference across random " +
    "integral and decimal renderings at scales 0/2/6") {
    import org.scalacheck.Gen
    for (scale <- Seq(0, 2, 6)) {
      val rendering = for {
        mantissa <- Gen.chooseNum(-1000000000L, 1000000000L)
        frac <- Gen.chooseNum(0, scale) // ≤ scale fractional digits: representable
        plus <- Gen.oneOf("", "+")
        zeros <- Gen.chooseNum(0, 2) // trailing fractional zeros
      } yield {
        val bd = new java.math.BigDecimal(
          java.math.BigInteger.valueOf(mantissa), frac)
        val s = bd.toPlainString
        val withZeros =
          if (zeros == 0) s
          else if (frac == 0) s + "." + ("0" * zeros)
          else s + ("0" * zeros)
        (if (bd.signum() >= 0) plus + withZeros else withZeros, bd)
      }
      val vals = graft.GenUtil.sampled(Gen.listOfN(150, rendering))
      val expected = vals.map { case (_, bd) =>
        bd.movePointRight(scale).longValueExact()
      }.sum
      val base = Files.createTempDirectory(s"graft-aggprop$scale").toString
      Materialize.applyAggregateDelta(
        Materialize.applyBatchCdf(
          vals.zipWithIndex.map { case ((r, _), i) =>
            evD(Op.Insert, i, i, "g", r)
          }.toDF(), "id", s"$base/t", nBuckets = 4),
        "g", "m", s"$base/agg", measureScale = scale)
      val got = spark.read.parquet(s"$base/agg").collect()
        .map(r => (r.getAs[Long]("n"), r.getAs[Long]("m"))).head
      assert(got == ((vals.size.toLong, expected)), s"scale=$scale")
    }
  }

  test("integral fast lane and decimal slow lane agree on the same value") {
    // '3' rides the regex-guarded long lane, '3.00' the DECIMAL staging
    // lane — both must encode to 300 cents at scale 2 and land in ONE
    // index row (the lanes are an optimization split, not a semantic one)
    val base = Files.createTempDirectory("graft-minmaxfast").toString
    Materialize.applyMinMaxDelta(
      Materialize.applyBatchCdf(
        Seq(evD(Op.Insert, 1, 0, "a", "3"), evD(Op.Insert, 2, 1, "a", "3.00"),
          evD(Op.Insert, 3, 2, "a", "-41.95")).toDF(),
        "id", s"$base/t", nBuckets = 4),
      "g", "m", s"$base/idx", s"$base/view", nBuckets = 4, measureScale = 2)
    val v = Materialize.minMaxView(spark, s"$base/view").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(v == Map("a" -> (-4195L, 300L, 3L)))
    val idx = spark.read.parquet(s"$base/idx")
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("v")) -> r.getAs[Long]("cnt"))
      .toMap
    assert(idx == Map(("a", 300L) -> 2L, ("a", -4195L) -> 1L))
  }

  test("the onChanges hook keeps the min/max view current per batch") {
    val base = Files.createTempDirectory("graft-minmax3").toString
    val ckpt = Files.createTempDirectory("graft-minmax3-ckpt").toString
    val in = MemoryStream[ChangeEvent](spark)
    val q = Materialize.applyStream(in.toDF(), "id", s"$base/t", ckpt, nBuckets = 2,
      onChanges = Materialize.applyMinMaxDelta(_, groupField = "g", measureField = "m",
        s"$base/idx", s"$base/view"))
    def view(): Map[String, (Long, Long, Long)] =
      Materialize.minMaxView(spark, s"$base/view").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    try {
      in.addData(evG2(Op.Insert, 1, 0, "a", 10), evG2(Op.Insert, 2, 1, "a", 3))
      q.processAllAvailable()
      assert(view() == Map("a" -> (3L, 10L, 2L)))
      in.addData(evG2(Op.Delete, 2, 5, "a", 3))
      q.processAllAvailable()
      assert(view() == Map("a" -> (10L, 10L, 1L)))
    } finally q.stop()
  }

  test("the onChanges hook keeps the moments view current per batch") {
    val base = Files.createTempDirectory("graft-moments2").toString
    val ckpt = Files.createTempDirectory("graft-moments2-ckpt").toString
    val in = MemoryStream[ChangeEvent](spark)
    val q = Materialize.applyStream(in.toDF(), "id", s"$base/t", ckpt, nBuckets = 2,
      onChanges = Materialize.applyMomentsDelta(_, groupField = "g", measureField = "m",
        s"$base/m", measureScale = 2))
    def view(): Map[String, (Long, Long, Float, Float)] =
      Materialize.momentsView(spark, s"$base/m").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getFloat(3), r.getFloat(4))).toMap
    try {
      in.addData(evD(Op.Insert, 1, 0, "a", "1.00"), evD(Op.Insert, 2, 1, "a", "3.00"))
      q.processAllAvailable()
      assert(view() == Map("a" -> (2L, 400L, 200.0f, 10000.0f)))
      in.addData(evD(Op.Delete, 2, 5, "a", "3.00"))
      q.processAllAvailable()
      assert(view() == Map("a" -> (1L, 100L, 100.0f, 0.0f)))
    } finally q.stop()
  }

  test("one onChanges hook feeds count+sum and min/max views a 2-decimal measure") {
    val base = Files.createTempDirectory("graft-hookviews").toString
    val ckpt = Files.createTempDirectory("graft-hookviews-ckpt").toString
    val in = MemoryStream[ChangeEvent](spark)
    val q = Materialize.applyStream(in.toDF(), "id", s"$base/t", ckpt, nBuckets = 2,
      onChanges = { changes =>
        Materialize.applyAggregateDelta(changes, "g", "m", s"$base/agg", measureScale = 2)
        Materialize.applyMinMaxDelta(changes, "g", "m", s"$base/idx", s"$base/view",
          nBuckets = 2, measureScale = 2)
      })
    def agg(): Map[String, (Long, Long)] =
      spark.read.parquet(s"$base/agg").collect()
        .map(r => r.getAs[String]("grp") -> (r.getAs[Long]("n"), r.getAs[Long]("m"))).toMap
    def view(): Map[String, (Long, Long, Long)] =
      Materialize.minMaxView(spark, s"$base/view").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def bucketDirs(dir: String): Seq[String] =
      Option(new java.io.File(dir).list()).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.startsWith("bucket="))
    val groups = Seq("a", "b", "c", "d", "e", "f")
    try {
      in.addData(groups.zipWithIndex.flatMap { case (g, i) =>
        Seq(evD(Op.Insert, 2 * i, i, g, "10.25"), evD(Op.Insert, 2 * i + 1, i, g, "-3.50"))
      }: _*)
      q.processAllAvailable()
      assert(agg() == groups.map(_ -> (2L, 675L)).toMap)
      assert(view() == groups.map(_ -> (-350L, 1025L, 2L)).toMap)
      in.addData(evD(Op.Update, 0, 20, "a", "7.01"), evD(Op.Delete, 1, 21, "a", "-3.50"))
      q.processAllAvailable()
      assert(agg()("a") == ((1L, 701L)))
      assert(view()("a") == ((701L, 701L, 1L)))
      // six groups spread over at most nBuckets = 2 group buckets
      assert(bucketDirs(s"$base/idx").nonEmpty && bucketDirs(s"$base/idx").size <= 2)
      assert(bucketDirs(s"$base/view").nonEmpty && bucketDirs(s"$base/view").size <= 2)
    } finally q.stop()
  }

  test("streamed apply handles a mid-stream TRUNCATE and keeps serving") {
    val tablePath = Files.createTempDirectory("graft-trunc6").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-trunc6-ckpt").toString
    val in = MemoryStream[ChangeEvent](spark)
    val q = Materialize.applyStream(in.toDF(), "id", tablePath, ckpt, nBuckets = 4)
    try {
      in.addData(ev(Op.Insert, 1, 0, "a"), ev(Op.Insert, 2, 1, "b"))
      q.processAllAvailable()
      assert(state(tablePath).size == 2)
      in.addData(truncEv(10), ev(Op.Insert, 3, 12, "c"))
      q.processAllAvailable()
      assert(state(tablePath) == Map("3" -> ("c", ts(12))))
      // resume: post-truncate traffic flows; pre-truncate stragglers die
      in.addData(ev(Op.Update, 3, 15, "c2"), ev(Op.Insert, 1, 2, "zombie"))
      q.processAllAvailable()
      assert(state(tablePath) == Map("3" -> ("c2", ts(15))))
    } finally q.stop()
  }

  test("second writer on the same table path is rejected while the lease is fresh") {
    import spark.implicits._
    val tablePath = Files.createTempDirectory("graft-replica-lock").toString + "/t"
    val ckpt1 = Files.createTempDirectory("graft-replica-lock-ckpt1").toString
    val in = MemoryStream[ChangeEvent](spark)
    val q = Materialize.applyStream(in.toDF(), "id", tablePath, ckpt1,
      nBuckets = 4, instanceId = "writer-A")
    try {
      in.addData(ev(Op.Insert, 1, 0, "a"))
      q.processAllAvailable()
      // a second connector pointed at the same replica must fail loudly
      // at START, before it can interleave with the merge contract
      val ckpt2 = Files.createTempDirectory("graft-replica-lock-ckpt2").toString
      val err = intercept[IllegalStateException] {
        Materialize.applyStream(MemoryStream[ChangeEvent](spark).toDF(),
          "id", tablePath, ckpt2, nBuckets = 4, instanceId = "writer-B")
      }
      assert(err.getMessage.contains("writer-A"))
      // the live writer keeps writing (its own renew is not a conflict)
      in.addData(ev(Op.Update, 1, 5, "a2"))
      q.processAllAvailable()
      assert(state(tablePath)("1") == ("a2", ts(5)))
    } finally q.stop()
  }

  test("a crashed writer's stale lease is taken over after the TTL") {
    import spark.implicits._
    val tablePath = Files.createTempDirectory("graft-replica-stale").toString + "/t"
    Materialize.applyBatch(Seq(ev(Op.Insert, 1, 0, "a")).toDF(), "id",
      tablePath, nBuckets = 4)
    // "crashed" writer: lease file exists, heartbeat long past the TTL
    new Materialize.WriterLease(spark, tablePath, "dead-writer", ttlMs = 50L).acquire()
    Thread.sleep(120)
    val lease = new Materialize.WriterLease(spark, tablePath, "new-writer",
      ttlMs = 50L).acquire()
    assert(lease.instanceId == "new-writer")
    // and renew() fences: once taken over, the dead writer cannot renew
    intercept[IllegalStateException] {
      new Materialize.WriterLease(spark, tablePath, "dead-writer").renew()
    }
  }
}
