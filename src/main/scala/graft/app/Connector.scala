package graft.app

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import scala.jdk.CollectionConverters._

import graft.streaming.{CdcPipeline, PipelineProbe}

/** Connector facade mirroring the reference API shape
  * (`/root/reference/connector.go:22-26`): construct with config, then
  * `start()` / `waitUntilReady()` / `close()`.
  *
  * Lifecycle mapping (SURVEY §2A O20):
  *   - `Start` → `StreamingQuery` launch (async, like the CDC goroutine)
  *   - `WaitUntilReady` channel → first-progress latch via a
  *     `StreamingQueryListener`
  *   - `Close` flush-then-close → `StreamingQuery.stop()` (Spark drains
  *     the in-flight micro-batch and commits its checkpoint)
  *   - snapshot-only mode (`connector.go:82-94`) → a bounded backfill run:
  *     the file source simply exhausts available input and the caller
  *     stops the query.
  *
  * HA failover (O21) is delegated to cluster-manager restart + checkpoint
  * recovery: a restarted connector resumes from the last committed batch,
  * the same "resume from last ACK" guarantee the slot gives the reference.
  *
  * `sink` is `kafka`, `parquet` (into `parquetOutDir`) or `replica` (a
  * [[graft.streaming.Materialize]] table at `parquetOutDir`); any other
  * name is rejected here, at construction.
  */
final class Connector(
    spark: SparkSession,
    cfg: ConnectorConfig,
    sink: String = "kafka",
    parquetOutDir: String = "") {

  CdcPipeline.requireKnownSink(sink)

  private val ready = new CountDownLatch(1)
  @volatile private var query: StreamingQuery = _
  @volatile private var listenerAdded = false

  /** Metrics exposition (reference `README.md:270-299`): the connector
    * owns a registry, feeds it from [[pipelineProbe]], and — when
    * `cfg.metricsPort` is set — serves `/metrics` + `/status` over HTTP
    * for the life of the connector. `/status` reports 200 while the
    * streaming query is active (the reference pings PostgreSQL; the
    * query's liveness is this lane's source-connectivity equivalent).
    */
  val metrics = new graft.streaming.MetricsRegistry(cfg.slotName)
  /** Fused O17 metrics probe: counters ride the serializer stage as
    * codegen'd accumulator bumps (see [[graft.streaming.PipelineProbe]]);
    * the connector's query-scoped listener drains per-batch deltas into
    * the registry.
    */
  val pipelineProbe = new PipelineProbe(
    spark.sparkContext,
    graft.route.TopicRouter(cfg.kafka.tableTopicMapping),
    cfg.keyField, s"graft.${cfg.slotName}")
  private val batches = new ConcurrentLinkedQueue[PipelineProbe.BatchMetrics]()

  /** Per-batch pipeline metrics collected so far (events, latency,
    * batch duration) — the listener-facing read surface.
    */
  def batchMetrics: Seq[PipelineProbe.BatchMetrics] = batches.asScala.toSeq
  /** Total events processed (pre-handler count, all ops). */
  def totalProcessedEvents: Long = batchMetrics.map(_.events).sum

  private def drainProbe(p: StreamingQueryProgress): Unit =
    pipelineProbe.drainInto(metrics, p.batchId, p.batchDuration).foreach(batches.add)

  @volatile private var metricsServer: graft.streaming.MetricsServer = _

  // live replication lane (source.format = graft-replication): the
  // connector owns the replication-socket tail, which lands per-txn
  // .pgo capture files in sourceDir for the graft-cdc stream to drain.
  // The tail reconnects with backoff on transient network errors —
  // resume-from-LSN-checkpoint makes a reconnect loss- and dup-free —
  // and stops with the connector.
  @volatile private var replicationTail: graft.sources.cdc.ReplicationTail = _
  @volatile private var tailThread: Thread = _
  @volatile private var tailStopped = false
  @volatile private var slotChecker: graft.sources.cdc.SlotActivityChecker = _

  private def mkPgClient() = new graft.sources.cdc.PgReplicationClient(
    cfg.postgres.host, cfg.postgres.port, cfg.postgres.username,
    cfg.postgres.database,
    Option(cfg.postgres.password).filter(_.nonEmpty),
    receiveTimeoutMs = 15000)

  private def startReplicationTail(): Unit = {
    if (tailThread != null) return
    // bootstrap FIRST, synchronously, on its own connection: ensure the
    // publication + slot exist (creating them when the config allows —
    // the reference's CreateIfNotExists contract) so a misconfigured
    // connector fails at start(), not in the tail's retry loop
    val boot = mkPgClient()
    try {
      boot.connect()
      graft.sources.cdc.ReplicationBootstrap.run(boot, cfg.postgres, cfg.slotName)
    } finally boot.close()
    // slot-health monitor on its own paced connection (the tail's socket
    // lives in COPY mode and cannot run catalog queries)
    if (cfg.postgres.slotActivityCheckerIntervalMs > 0) {
      slotChecker = new graft.sources.cdc.SlotActivityChecker(
        () => mkPgClient(), cfg.slotName,
        cfg.postgres.slotActivityCheckerIntervalMs, metrics.setSlotInfo)
      slotChecker.start()
    }
    val lsnFile = java.nio.file.Paths.get(cfg.checkpointDir, "replication.lsn")
    java.nio.file.Files.createDirectories(lsnFile.getParent)
    val capture = graft.sources.cdc.ReplicationTail.captureSink(
      java.nio.file.Paths.get(cfg.sourceDir))
    val tail = graft.sources.cdc.ReplicationTail.fromConfig(cfg, lsnFile,
      txn => {
        capture(txn)
        // replication health: lag to the last acked commit + commit count
        metrics.setReplicationLag(
          System.currentTimeMillis() - txn.commitMicros / 1000L)
        metrics.incrementReplicationCommit()
      })
    replicationTail = tail
    val t = new Thread(() => {
      while (!tailStopped) {
        try tail.run()
        catch { case _: Throwable => () } // transient: reconnect below
        if (!tailStopped) Thread.sleep(1000L)
      }
    }, s"graft-replication-tail-${cfg.slotName}")
    t.setDaemon(true)
    tailThread = t
    t.start()
  }

  /** The bound metrics port, when exposition is enabled and started. */
  def metricsPort: Option[Int] = Option(metricsServer).map(_.boundPort)

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      // the listener is session-global: only OUR query's progress counts
      val q = query
      if (q != null && e.progress.id == q.id) {
        drainProbe(e.progress)
        ready.countDown()
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Launch the pipeline (async; returns the running query), honoring the
    * snapshot mode (`README.md:59-63`, SURVEY §2A S2):
    *
    *   - `never` (or snapshot disabled): stream only.
    *   - `initial`: the snapshot table scan rides the SAME streaming
    *     query as a bounded union branch (CdcPipeline.source); the
    *     shared checkpoint remembers the consumed table files, so a
    *     restarted connector does not re-snapshot — "only if no previous
    *     snapshot exists", with no extra bookkeeping.
    *   - `snapshot_only`: run the snapshot as a bounded
    *     `Trigger.AvailableNow` query and return `null` — no CDC stream
    *     (reference `connector.go:82-94`: signals ready immediately,
    *     executes the snapshot synchronously and returns).
    */
  def start(): StreamingQuery = synchronized {
    require(query == null, "connector already started")
    val snap = cfg.snapshot
    require(SnapshotConfig.modes.contains(snap.mode),
      s"invalid snapshot mode '${snap.mode}' (expected one of ${SnapshotConfig.modes.mkString(", ")})")
    val mode = if (snap.enabled) snap.mode else SnapshotConfig.ModeNever

    if (mode == SnapshotConfig.ModeSnapshotOnly) {
      val done = CdcPipeline.runSnapshotPhase(spark, cfg, sink, parquetOutDir, Some(metrics),
        Some(pipelineProbe))
      // no listener drains the bounded run; its accumulators are final
      // once it has terminated, so one drain here is exact
      Option(done.lastProgress).foreach(drainProbe)
      ready.countDown() // no CDC to wait for (connector.go:88-89)
      return null
    }
    if (!listenerAdded) {
      spark.streams.addListener(listener)
      listenerAdded = true
    }
    cfg.metricsPort.foreach { p =>
      if (metricsServer == null)
        metricsServer = new graft.streaming.MetricsServer(
          metrics, () => { val q = query; q != null && q.isActive }, p,
          debugMode = cfg.debugMode)
    }
    if (cfg.sourceFormat == "graft-replication") startReplicationTail()
    query =
      if (sink == "parquet")
        CdcPipeline.startToParquet(spark, cfg, parquetOutDir, Some(pipelineProbe))
      else if (sink == "replica")
        // parquetOutDir doubles as the replica table path for this sink
        CdcPipeline.startToReplica(spark, cfg, parquetOutDir)
      else CdcPipeline.startToKafka(spark, cfg, Some(pipelineProbe))
    query
  }

  /** Run under the O15 fault policy (reference
    * `kafka/reponse_handler.go:26-48` as a connector lifecycle): blocks
    * while the pipeline runs, restarting it from the checkpoint on
    * TRANSIENT termination up to `maxRestarts` times (resume-from-ACK
    * makes the restart loss- and dup-free) and rethrowing on FATAL
    * termination — the reference's panic. Returns after a clean stop()
    * or when restarts are exhausted.
    */
  def runSupervised(maxRestarts: Int = 3): graft.streaming.FaultPolicy.Outcome =
    graft.streaming.FaultPolicy.supervise(
      maxRestarts, onFailure = () => metrics.incrementErr("_pipeline")) { () =>
      synchronized { query = null } // each attempt launches a fresh query
      start()
    }

  /** Block until the first micro-batch has been processed
    * (≙ `WaitUntilReady`, `connector.go:109-116`).
    */
  def waitUntilReady(): Unit = ready.await()

  /** Stop: drain the in-flight batch, commit, detach
    * (≙ flush-then-close, `connector.go:118-127`).
    */
  def close(): Unit = synchronized {
    tailStopped = true
    if (slotChecker != null) { slotChecker.close(); slotChecker = null }
    if (replicationTail != null) replicationTail.stop()
    if (tailThread != null) { tailThread.join(5000L); tailThread = null }
    if (query != null) {
      query.stop()
      // the last batch's progress event may still be queued on the
      // listener bus; drains only move deltas, so a racing one is harmless
      Option(query.lastProgress).foreach(drainProbe)
    }
    if (listenerAdded) {
      spark.streams.removeListener(listener)
      listenerAdded = false
    }
    if (metricsServer != null) { metricsServer.close(); metricsServer = null }
  }
}
