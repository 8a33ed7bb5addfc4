package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.app.{ConnectorConfig, KafkaSinkConfig}
import graft.route.TopicRouter
import graft.sources.cdc.{CommittedTxn, PgWire, ReplicationTail}
import graft.streaming.{CdcPipeline, PipelineProbe}

/** `live_tail`: a seeded loopback walsender feeds `ReplicationTail.run`,
  * whose `captureSink` lands capture files that the `graft-cdc` stream
  * (`CdcPipeline.startToParquet`, commit after write) turns into sink
  * records.
  *
  * Phase (a) offers small OLTP transactions open-loop at a fixed rate;
  * each is timed from its scheduled commit time (stamped into its
  * Begin/Commit) to the commit of the micro-batch that wrote it. Phase
  * (b) stops the connector, commits a backlog of bulk INSERT
  * transactions while it is down, restarts it and times the drain.
  */
object LiveTail extends Workload {
  val RatePerS = 12.5
  val WarmS = 8.0
  val BacklogTxns = 24
  val BacklogRowsPerTxn = 5000
  val TriggerMs = 100

  private final case class Plan(warm: Seq[TxnGen.GenTxn], paced: Seq[TxnGen.GenTxn],
      backlog: Seq[TxnGen.GenTxn]) {
    def all: Seq[TxnGen.GenTxn] = warm ++ paced ++ backlog
  }

  /** One committed micro-batch: capture files [startN, endN). */
  private final case class Batch(id: Long, startN: Int, endN: Int, commitMicros: Long,
      rows: Long, durations: Map[String, Long], phase: String)

  @volatile private var plan: Plan = _
  @volatile private var phase = "warm"
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]
  private val fileBatch = new ConcurrentHashMap[String, Long] // output file -> batch id
  private val scheduled = new ConcurrentHashMap[Long, Long] // commit LSN -> wall micros
  private val lateness = new java.util.concurrent.ConcurrentLinkedQueue[Double]
  private val sinkCalled = new ConcurrentHashMap[Long, Long] // commit LSN -> wall micros
  private val captureMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]

  private var walsender: Walsender = _
  private var tail: ReplicationTail = _
  private var tailThread: Thread = _
  private var query: StreamingQuery = _

  private def dir(ctx: Ctx, d: String): Path = Paths.get(ctx.runDir, "live", d)

  def prepare(ctx: Ctx): Unit = {
    val gen = new TxnGen.Gen(ctx.seed)
    val warm = TxnGen.paced(gen, (RatePerS * WarmS).toInt, RatePerS)
    val paced = TxnGen.paced(gen, (RatePerS * ctx.seconds).toInt, RatePerS)
    plan = Plan(warm, paced, Seq.fill(BacklogTxns)(gen.bulk(BacklogRowsPerTxn)))
  }

  private def cfg(ctx: Ctx) = ConnectorConfig(
    sourceDir = dir(ctx, "capture").toString, checkpointDir = dir(ctx, "checkpoint").toString,
    kafka = KafkaSinkConfig(brokers = Seq("localhost:9092"),
      tableTopicMapping = TxnGen.topicMapping,
      producerBatchTickerDuration = TriggerMs.millis),
    keyField = "id", sourceFormat = "graft-replication")

  /** Starts the connector: the stream, then the tail thread. */
  private def startConnector(ctx: Ctx, beforeTail: () => Unit = () => ()): Unit = {
    val probe = new PipelineProbe(ctx.spark.sparkContext,
      TopicRouter(TxnGen.topicMapping), "id", "bench.live")
    query = ctx.spans("streaming.start")(
      CdcPipeline.startToParquet(ctx.spark, cfg(ctx), dir(ctx, "out").toString, Some(probe)))
    beforeTail()
    val capture = ReplicationTail.captureSink(dir(ctx, "capture"))
    val sink: CommittedTxn => Unit = txn => {
      val t0 = System.nanoTime()
      sinkCalled.put(txn.commitLsn, WallClock.micros())
      ctx.spans("sources.cdc.capture_sink")(capture(txn))
      captureMs.add((System.nanoTime() - t0) / 1e6)
    }
    tail = new ReplicationTail("127.0.0.1", walsender.port, "bench", "bench", None,
      "bench_slot", "bench_pub", dir(ctx, "tail.lsn"), sink)
    tailThread = new Thread(() => ctx.spans("sources.cdc.tail")(tail.run()), "perfbench-tail")
    tailThread.start()
  }

  private def stopConnector(): Unit = {
    tail.stop(); tailThread.join(30000)
    query.stop()
  }

  /** Commits `txns` to the walsender at their scheduled offsets from
    * `t0Micros` (wall clock), on this thread: the generator.
    */
  private def offer(txns: Seq[TxnGen.GenTxn], t0Micros: Long, t0Nanos: Long, record: Boolean): Unit =
    txns.foreach { t =>
      val due = t0Nanos + t.offsetMicros * 1000L
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      val at = t0Micros + t.offsetMicros
      scheduled.put(t.commitLsn, at)
      walsender.commit(t, PgWire.unixMicrosToPg(at))
      if (record) lateness.add((System.nanoTime() - due) / 1e6)
    }

  /** Blocks until committed batches cover the first `files` capture files. */
  private def awaitFiles(files: Int, timeoutS: Double): Batch = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val done = batches.asScala.filter(_.endN >= files)
      if (done.nonEmpty) return done.minBy(_.id)
      Thread.sleep(5)
    }
    throw new IllegalStateException(s"stream did not reach $files capture files in $timeoutS s")
  }

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.sources.isEmpty || p.numInputRows == 0) return
      def n(json: String): Int =
        if (json == null) 0 else "\"n\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(0)
      val commit = checkpointDir.resolve("commits").resolve(p.batchId.toString)
      val commitMicros = Files.getLastModifiedTime(commit).to(TimeUnit.MICROSECONDS)
      val meta = Seq(s"${p.batchId}", s"${p.batchId}.compact")
        .map(f => outDir.resolve("_spark_metadata").resolve(f)).find(Files.exists(_))
      meta.foreach { m =>
        "\"path\":\"([^\"]+)\"".r.findAllMatchIn(new String(Files.readAllBytes(m), "UTF-8"))
          .foreach(x => fileBatch.putIfAbsent(new java.net.URI(x.group(1)).getPath, p.batchId))
      }
      batches.add(Batch(p.batchId, n(p.sources.head.startOffset), n(p.sources.head.endOffset),
        commitMicros, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, phase))
    }
  }
  @volatile private var checkpointDir: Path = _
  @volatile private var outDir: Path = _

  def warm(ctx: Ctx): Unit = {
    Seq("capture", "checkpoint", "out").foreach(d => Files.createDirectories(dir(ctx, d)))
    checkpointDir = dir(ctx, "checkpoint")
    outDir = dir(ctx, "out")
    ctx.spark.streams.addListener(listener)
    walsender = new Walsender(TxnGen.relationPayloads)
    startConnector(ctx)
    offer(plan.warm, WallClock.micros(), System.nanoTime(), record = false)
    awaitFiles(plan.warm.length, 60)
  }

  def measure(ctx: Ctx): Unit = {
    val r = ctx.report
    val before = ctx.countersNow()
    phase = "paced"
    val pacedT0 = System.nanoTime()
    offer(plan.paced, WallClock.micros(), System.nanoTime(), record = true)
    val nPaced = plan.warm.length + plan.paced.length
    awaitFiles(nPaced, 60)
    val pacedS = (System.nanoTime() - pacedT0) / 1e9
    val after = ctx.countersNow()
    stopConnector()

    // the connector is down: the backlog queues in the walsender's log
    phase = "catchup"
    val nowMicros = WallClock.micros()
    plan.backlog.foreach(walsender.commit(_, PgWire.unixMicrosToPg(nowMicros)))
    var restartMicros = 0L
    startConnector(ctx, () => restartMicros = WallClock.micros())
    val last = awaitFiles(plan.all.length, 120)
    val catchupS = (last.commitMicros - restartMicros) / 1e6
    stopConnector()
    walsender.close()
    ctx.spark.streams.removeListener(listener)

    verify(ctx)

    // phase (a): scheduled commit -> commit of the batch that wrote it
    val all = plan.all
    val byBatch = batches.asScala.toSeq.sortBy(_.startN)
    def batchOf(i: Int): Batch = byBatch.find(b => b.startN <= i && i < b.endN).get
    val pacedIdx = plan.warm.length until nPaced
    val commitToSink = pacedIdx.map(i => (batchOf(i).commitMicros - scheduled.get(all(i).commitLsn)) / 1e3)
    val tail = Stats.tail(commitToSink)
    val backlogRows = plan.backlog.map(_.rows).sum
    r.metric("wall_s", catchupS, "s")
    r.metric("streaming.commit_to_sink_ms_p50", Stats.median(commitToSink), "ms")
    r.metric("streaming.commit_to_sink_ms_tail", tail.value, "ms")
    r.line(f"live_tail rows_per_s = ${backlogRows / catchupS}%.0f rows/s (catch-up: $backlogRows rows " +
      f"in ${plan.backlog.length} transactions drained in $catchupS%.3f s; reference 66.7k rows/s, context only)")
    r.line(f"live_tail commit_to_sink_ms_p50 = ${Stats.median(commitToSink)}%.1f ms, " +
      f"commit_to_sink_ms_p${tail.pct}%.1f = ${tail.value}%.1f ms (n=${tail.n}, ${tail.beyond} beyond; " +
      f"${plan.paced.length} transactions offered at $RatePerS%.1f/s)")

    val late = Stats.tail(lateness.asScala.toSeq)
    r.metric("generator.lateness_ms_tail", late.value, "ms")
    r.line(f"live_tail generator lateness p${late.pct}%.1f = ${late.value}%.3f ms (n=${late.n})")

    if (ctx.trace) {
      (after - before).metrics(pacedS, ctx.cores).foreach { case (k, v, u) => r.metric(k, v, u) }
      val pacedLsns = pacedIdx.map(all(_))
      val tailMs = pacedLsns.map(t => (sinkCalled.get(t.commitLsn) - walsender.commitSent.get(t.commitLsn)) / 1e3)
      r.metric("sources.cdc.tail_ms_p50", Stats.median(tailMs), "ms")
      val cw = captureMs.asScala.toSeq
      r.metric("sources.cdc.capture_write_ms_p50", Stats.median(cw), "ms")
      r.metric("sources.cdc.capture_write_ms_tail", Stats.tail(cw).value, "ms")
      val files = Files.list(dir(ctx, "capture")).iterator().asScala.filter(_.toString.endsWith(".pgo")).toSeq
      r.metric("sources.cdc.capture_files", files.length.toDouble, "count")
      r.metric("sources.cdc.capture_bytes_per_row",
        files.map(Files.size).sum.toDouble / all.map(_.rows).sum, "bytes/row")
      val status = walsender.statusLog.asScala.toSeq
      val ackLag = pacedLsns.flatMap { t =>
        status.find(_._2 >= t.endLsn).map(s => (s._1 - walsender.commitSent.get(t.commitLsn)) / 1e3)
      }
      r.metric("sources.cdc.ack_lag_ms_p50", Stats.median(ackLag), "ms")
      r.metric("sources.cdc.ack_lag_ms_tail", Stats.tail(ackLag).value, "ms")
      val paced = byBatch.filter(_.phase == "paced")
      def dur(k: String) = paced.map(_.durations.getOrElse(k, 0L).toDouble)
      r.metric("sources.cdc.latest_offset_ms_p50", Stats.median(dur("latestOffset")), "ms")
      val lo = dur("latestOffset")
      val w = math.min(10, lo.length)
      r.metric("sources.cdc.latest_offset_growth",
        math.max(1.0, Stats.median(lo.takeRight(w))) / math.max(1.0, Stats.median(lo.take(w))), "ratio")
      r.metric("streaming.planning_ms_p50", Stats.median(dur("queryPlanning")), "ms")
      r.metric("streaming.add_batch_ms_p50", Stats.median(dur("addBatch")), "ms")
      r.metric("streaming.wal_commit_ms_p50", Stats.median(dur("walCommit")), "ms")
      r.metric("streaming.batches", paced.length.toDouble, "count")
      r.metric("streaming.rows_per_batch_p50", Stats.median(paced.map(_.rows.toDouble)), "count")
      r.line(f"live_tail paced phase: ${paced.length} batches, tail p50 ${Stats.median(tailMs)}%.2f ms, " +
        f"capture write p50 ${Stats.median(cw)}%.2f ms, ack lag p50 ${Stats.median(ackLag)}%.1f ms")
    }
  }

  /** Every generated change lands exactly once, in per-key commit order:
    * the sink's records ordered by (batch, input partition = capture
    * file, row in file) must equal each key's generated history.
    */
  private def verify(ctx: Ctx): Unit = {
    import org.apache.spark.sql.functions._
    val r = ctx.report
    val out = ctx.spark.read.parquet(dir(ctx, "out").toString)
      .select(col("topic"), col("key").cast("string"), col("value").cast("string"),
        col("_metadata.file_path"), col("_metadata.row_index"))
      .collect()
    val part = "part-(\\d+)-".r
    val got = out.toSeq.map { row =>
      val path = new java.net.URI(row.getString(3)).getPath
      val order = (Option(fileBatch.get(path)).map(_.longValue).getOrElse(Long.MaxValue),
        part.findFirstMatchIn(path).map(_.group(1).toInt).getOrElse(-1), row.getLong(4))
      ((row.getString(0), row.getString(1)), order, row.getString(2))
    }.groupBy(_._1).map { case (k, rs) => k -> rs.sortBy(_._2).map(_._3) }
    val want = plan.all.flatMap(_.changes).groupBy(c => (c.topic, c.key))
      .map { case (k, cs) => k -> cs.map(_.value) }
    val unmapped = out.count(row => !fileBatch.containsKey(new java.net.URI(row.getString(3)).getPath))
    r.check(unmapped == 0, s"$unmapped sink records in files no committed batch listed")
    want.foreach { case (k, vs) =>
      val g = got.getOrElse(k, Seq.empty)
      r.check(g == vs, s"key $k: delivered ${g.length} records ${g.take(3)}, generated ${vs.length} ${vs.take(3)}")
    }
    val extra = got.keySet -- want.keySet
    r.check(extra.isEmpty, s"${extra.size} keys delivered that were never generated: ${extra.take(3)}")
    val backlogKeys = plan.backlog.flatMap(_.changes).map(c => (c.topic, c.key)).toSet
    val backlogGot = got.collect { case (k, vs) if backlogKeys(k) => vs.length }.sum
    r.check(backlogGot == plan.backlog.map(_.rows).sum,
      s"catch-up delivered $backlogGot records for ${plan.backlog.map(_.rows).sum} backlog rows")
  }
}

