package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.app.ConnectorConfig
import graft.model.ChangeEvent
import graft.route.TopicRouter
import graft.transform.Handlers

/** The CDC pipeline as Structured Streaming (SURVEY §3.1):
  *
  *   readStream (CDC source) → normalize/route/handle (Handlers) →
  *   writeStream.trigger(ProcessingTime(ticker)).option(checkpoint, …)
  *
  * Delivery semantics: the reference ACKs the replication LSN only after a
  * successful Kafka write (`producer_batch.go:141-151`) — at-least-once,
  * order preserved per slot. Here the micro-batch checkpoint commits only
  * after the sink write succeeds, giving the same at-least-once guarantee
  * (exactly-once for replayable sources + idempotent sinks). Ordering is
  * per-partition; route the stream `repartition(col("key"))` upstream when
  * per-key total order is required (SURVEY §7 "Hard parts").
  */
object CdcPipeline {

  /** File-lane CDC source: newline-JSON change events with the ChangeEvent
    * schema. Stands in for the pgoutput replication stream in tests/demos;
    * swapping in a Kafka or custom MicroBatchStream source changes only
    * this method (same schema contract).
    */
  def fromJsonFiles(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(ChangeEvent.schema)
      .option("maxFilesPerTrigger", 16) // bounded micro-batches on backfill
      .json(dir)

  /** The custom DataSourceV2 lane (graft.sources.cdc.CdcSource): same
    * schema contract, plus source-side op/table filter pushdown and
    * LSN-positional offsets.
    */
  def fromCdcSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("graft-cdc").option("path", dir).load()

  /** The database-polling DataSourceV2 lane (graft.sources.jdbc): same
    * schema contract, offsets are changelog cursor values. The initial
    * snapshot for this lane is the JdbcSnapshot watermark handoff
    * (`JdbcSnapshot.snapshotWithWatermark` → `startCursor`), not the
    * parquet-table union branch.
    */
  def fromJdbc(spark: SparkSession, cfg: ConnectorConfig): DataFrame =
    graft.sources.jdbc.JdbcSnapshot.resumeStream(
      spark, cfg.jdbc.url, cfg.jdbc.startCursor, cfg.jdbc.changelog,
      cfg.jdbc.numPartitions, cfg.jdbc.maxRowsPerBatch)

  private def source(spark: SparkSession, cfg: ConnectorConfig): DataFrame = {
    val cdc = cfg.sourceFormat match {
      case "graft-cdc"      => fromCdcSource(spark, cfg.sourceDir)
      // the LIVE lane: the Connector's ReplicationTail lands commit-LSN-
      // named .pgo capture files in sourceDir; the Spark side is the
      // same graft-cdc stream (lexicographic file order == LSN order)
      case "graft-replication" => fromCdcSource(spark, cfg.sourceDir)
      case "graft-jdbc-cdc" => fromJdbc(spark, cfg)
      case "json"           => fromJsonFiles(spark, cfg.sourceDir)
      // loud, not a silent fallback: a typo'd format draining the wrong
      // lane (and committing its checkpoint) is the worse failure
      case other => throw new IllegalArgumentException(
        s"unknown source.format '$other' (expected json | graft-cdc | " +
        "graft-replication | graft-jdbc-cdc)")
    }
    // `initial` snapshot mode rides the SAME query as a union branch: the
    // snapshot file-stream is exhausted after its first listing, and the
    // shared checkpoint remembers the consumed table files — so a restart
    // does not re-snapshot ("only if no previous snapshot exists",
    // README.md:60) and both phases commit through one sink log.
    if (cfg.snapshot.enabled && cfg.snapshot.mode == graft.app.SnapshotConfig.ModeInitial)
      snapshotEventStream(spark, cfg).map(_ unionAll cdc).getOrElse(cdc)
    else cdc
  }

  /** Streaming scan of the snapshot tables as SNAPSHOT ChangeEvents
    * (None when no tables are configured). Assumes immutable table
    * files — the snapshot store is a static point-in-time copy.
    */
  def snapshotEventStream(spark: SparkSession, cfg: ConnectorConfig): Option[DataFrame] =
    cfg.snapshot.tables.toList match {
      case Nil => None
      case tables => Some(tables.map { t =>
        val path = s"${cfg.snapshot.dataDir}/$t.parquet"
        val schema = spark.read.parquet(path).schema // peek for the stream schema
        // the streaming file source wants a directory; a single-file table
        // is addressed through a glob so the parent becomes the base path
        val streamPath =
          if (new java.io.File(path).isFile) s"${cfg.snapshot.dataDir}/{$t}.parquet" else path
        graft.sources.SnapshotSource.asSnapshotEvents(
          spark.readStream.schema(schema).parquet(streamPath), t, "public")
      }.reduce(_ unionAll _))
    }

  /** Normalize + route + default-handle: ChangeEvent stream → Kafka sink
    * contract (topic/key/value/headers). With a [[PipelineProbe]] the O17
    * metrics ride as fused codegen'd accumulator bumps: it attaches
    * PRE-handler, so records the handler's filters silently drop surface
    * as quality counters, and post-handler for the per-topic success
    * counts. The probe costs less than perfbench's prefix ablation can
    * resolve: `streaming.probe_s` reads between −0.07 and 0.14 s on a
    * 1.5–2.3 s `snapshot_kafka` pass (4-core host). The ~0.8 s once
    * charged to it was a per-query recompile of the stage, caused by the
    * snapshot's folded `eventTime` literal in the generated code (see
    * [[graft.functions.QueryConstant]]). `None` is the uninstrumented
    * transform.
    */
  def defaultTransform(events: DataFrame, cfg: ConnectorConfig,
      probe: Option[PipelineProbe] = None): DataFrame = {
    val router = TopicRouter(cfg.kafka.tableTopicMapping)
    val watched = probe.fold(events)(_.attach(events))
    val records = cfg.serializer match {
      case graft.app.ConnectorConfig.SerializerDebezium =>
        // envelope lane emits string key/value; the sink contract (and
        // the client-side balancers hashing `key`) expect binary
        Handlers.debeziumEnvelope(watched, router, cfg.keyField,
            emitTruncates = cfg.emitTruncates)
          .select(col("topic"),
            col("key").cast("binary").as("key"),
            col("value").cast("binary").as("value"))
      case _ =>
        Handlers.declarative(watched, router, cfg.keyField,
          keepEventTime = false, emitTruncates = cfg.emitTruncates)
    }
    val placed = withPlacement(records, cfg)
    probe.fold(placed)(_.attachSink(placed))
  }

  /** Client-side balancer placement (reference `config.go:48-51`):
    * `ReferenceHash` and `CRC32Balancer` are pure key functions, so they
    * compute `partition = f(key) % topicPartitions` as an explicit sink
    * column — Spark's Kafka writer honors a `partition` column over the
    * producer's partitioner. `ReferenceHash` masks the FNV-1a hash
    * non-negative before the modulo (the kafka-go contract); CRC32 is
    * already unsigned. Both stay inside the sink projection's codegen
    * (fnv1a32 is a native expression). `LeastBytes` remains rejected at
    * config time: least-loaded placement depends on producer state no
    * declarative column can see.
    */
  private def withPlacement(records: DataFrame, cfg: ConnectorConfig): DataFrame = {
    import org.apache.spark.sql.functions.{call_function, crc32, lit}
    val n = cfg.kafka.topicPartitions
    cfg.kafka.balancer match {
      case graft.app.KafkaSinkConfig.BalancerReferenceHash =>
        require(n > 0, "ReferenceHash needs topicPartitions > 0")
        graft.GraftExtensions.register(records.sparkSession)
        records.withColumn("partition",
          (call_function("fnv1a32", col("key")).bitwiseAND(lit(0x7FFFFFFF)) % n).cast("int"))
      case graft.app.KafkaSinkConfig.BalancerCrc32 =>
        require(n > 0, "CRC32Balancer needs topicPartitions > 0")
        records.withColumn("partition", (crc32(col("key")) % n).cast("int"))
      case _ => records
    }
  }

  /** Per-key ORDERED delivery (SURVEY §7 "Hard parts"): the reference
    * preserves WAL order globally per slot; a keyed Kafka topic can
    * express the useful narrowing of that — every key's changes in
    * commit order on one partition. This variant colocates each routing
    * key (`repartition(key)`) and sorts within partitions by
    * (key, eventTime) before the sink, so the producer writes each
    * key's records in event order; the sort column is carried through
    * the handler and dropped before the write (the Kafka writer rejects
    * extra columns). One extra exchange per micro-batch — the price of
    * the ordering guarantee. For strict broker-side ordering under
    * producer retries, pair with `kafka.enable.idempotence=true`
    * (else a retried batch can overtake an in-flight one). The probe
    * attaches as in [[defaultTransform]].
    */
  def orderedTransform(events: DataFrame, cfg: ConnectorConfig,
      probe: Option[PipelineProbe] = None): DataFrame = {
    val watched = probe.fold(events)(_.attach(events))
    val placed = withPlacement(
      Handlers.declarative(watched,
          TopicRouter(cfg.kafka.tableTopicMapping), cfg.keyField, keepEventTime = true)
        .repartition(col("key"))
        .sortWithinPartitions(col("key"), col("eventTime"))
        .drop("eventTime"), // narrow projection: keeps the sort, drops the column
      cfg)
    probe.fold(placed)(_.attachSink(placed))
  }

  /** Production sink: Spark's Kafka writer with the reference's producer
    * options; trigger interval ≙ batch ticker (O13); checkpoint ≙ LSN ACK
    * (O14).
    */
  def kafkaSink(records: DataFrame, cfg: ConnectorConfig): DataStreamWriter[Row] = {
    val w = records.writeStream
      .format("kafka")
      .trigger(Trigger.ProcessingTime(cfg.kafka.producerBatchTickerDuration.toMillis))
      .option("checkpointLocation", cfg.checkpointDir)
    cfg.kafka.sinkOptions.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
  }

  /** Test/file sink with identical commit semantics: parquet append with
    * the same checkpoint-after-write contract as the Kafka sink. Used by
    * the resume tests (mirrors `connector_test.go:416-648`).
    */
  def parquetSink(records: DataFrame, cfg: ConnectorConfig, outDir: String): DataStreamWriter[Row] =
    records.writeStream
      .format("parquet")
      .trigger(Trigger.ProcessingTime(cfg.kafka.producerBatchTickerDuration.toMillis))
      .option("checkpointLocation", cfg.checkpointDir)
      .option("path", outDir)

  /** Fail on a sink name that is none of kafka, parquet or replica —
    * loudly, like an unknown `source.format`: a typo'd name must not
    * fall through to the broker.
    */
  private[graft] def requireKnownSink(sink: String): Unit =
    if (!Seq("kafka", "parquet", "replica").contains(sink))
      throw new IllegalArgumentException(
        s"unknown sink '$sink' (expected kafka | parquet | replica)")

  /** Wire the full pipeline to a parquet sink and start it. */
  def startToParquet(spark: SparkSession, cfg: ConnectorConfig, outDir: String,
      probe: Option[PipelineProbe] = None): StreamingQuery =
    parquetSink(defaultTransform(source(spark, cfg), cfg, probe), cfg, outDir).start()

  /** Wire the full pipeline to the Kafka sink and start it. */
  def startToKafka(spark: SparkSession, cfg: ConnectorConfig,
      probe: Option[PipelineProbe] = None): StreamingQuery =
    kafkaSink(defaultTransform(source(spark, cfg), cfg, probe), cfg).start()

  /** Wire the source straight into a queryable replica table
    * ([[Materialize]]): the self-contained deployment shape — source →
    * continuously-applied table, no broker in between. Same snapshot
    * modes and checkpoint/ACK semantics; `cfg.keyField` is the replica
    * key; the change's event time orders the merge (CDC lanes that carry
    * an LSN in the data map can pass it via `seqCol`).
    */
  def startToReplica(spark: SparkSession, cfg: ConnectorConfig,
      tablePath: String): StreamingQuery =
    Materialize.applyStream(
      source(spark, cfg), cfg.keyField, tablePath,
      checkpoint = cfg.checkpointDir,
      nBuckets = cfg.replica.nBuckets, seqCol = cfg.replica.seqField)

  /** O3-O5 routing with a LIVE hypertable registry (reference upstream
    * maintains the chunk→parent map from the catalog while streaming,
    * `connector.go:204-209`): the transform is re-derived once per
    * micro-batch inside `foreachBatch` with the registry's current
    * snapshot, so a chunk table created by DDL mid-stream routes to its
    * parent from the next batch on — no restart. Within a batch the map
    * is still a compiled literal (codegen'd probe, no shuffle); the
    * refresh cost is one registry pull per batch, never per row.
    * Checkpoint semantics are unchanged (the batch commits after the
    * writer returns) — delivery is at-least-once, as a retried batch
    * re-appends (the reference's guarantee, `README.md` at-least-once).
    */
  def startToParquetLiveRouting(
      spark: SparkSession, cfg: ConnectorConfig,
      registry: graft.route.HypertableRegistry, outDir: String): StreamingQuery =
    source(spark, cfg).writeStream
      .trigger(Trigger.ProcessingTime(cfg.kafka.producerBatchTickerDuration.toMillis))
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        Handlers.declarative(batch,
            TopicRouter(cfg.kafka.tableTopicMapping, registry.snapshot()), cfg.keyField)
          .write.mode("append").parquet(outDir)
      }
      .start()

  /** The snapshot phase as a BOUNDED run of the same streaming pipeline
    * (`Trigger.AvailableNow`): stream-scan the configured tables as
    * SNAPSHOT events, apply the identical transform, deliver through the
    * same sink kind, and terminate when the scan is exhausted (reference
    * `connector.go:82-94` — snapshot-only mode "executes snapshot and
    * returns"). Downstream consumers can't tell the phases apart except
    * by `op`, exactly as `README.md:72-77` describes.
    *
    * Going through the streaming engine (not a one-off batch write) is
    * load-bearing twice over: the snapshot gets its own checkpoint under
    * `<checkpointDir>/snapshot`, so a killed snapshot resumes at the
    * last committed chunk (the reference's chunk-claim/resume
    * bookkeeping, `README.md:242-248`) — and the parquet sink's
    * `_spark_metadata` exactly-once file log stays consistent, which a
    * bare batch append into a streaming sink directory would corrupt
    * (batch-written files are invisible to readers of a file-sink dir).
    * Returns the finished bounded query.
    */
  def runSnapshotPhase(
      spark: SparkSession, cfg: ConnectorConfig, sink: String, outDir: String,
      registry: Option[MetricsRegistry] = None,
      probe: Option[PipelineProbe] = None): StreamingQuery = {
    requireKnownSink(sink)
    val snap = snapshotEventStream(spark, cfg).getOrElse(
      throw new IllegalArgumentException("snapshot mode requires snapshot.tables"))
    val ckpt = s"${cfg.checkpointDir}/snapshot"
    // snapshot metric family (reference README.md:292-301): progress of
    // the bounded run, one committed micro-batch ≙ one claimed chunk
    val t0 = System.currentTimeMillis()
    registry.foreach { r =>
      r.setSnapshotInProgress(true)
      r.setSnapshotTotalTables(cfg.snapshot.tables.size.toLong)
    }
    // scope to OUR bounded query: the listener is session-global
    val qid = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val progressListener = registry.map { r =>
      val l = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.id == qid.get) {
            r.incrementSnapshotChunk()
            r.addSnapshotRows(e.progress.numInputRows)
          }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(l)
      l
    }
    def finish(): Unit = {
      progressListener.foreach(spark.streams.removeListener)
      registry.foreach { r =>
        r.setSnapshotInProgress(false)
        r.setSnapshotDurationMs(System.currentTimeMillis() - t0)
      }
    }
    try runSnapshotPhaseInner(spark, cfg, sink, outDir, snap, ckpt,
      q => qid.set(q.id), probe)
    finally finish()
  }

  private def runSnapshotPhaseInner(
      spark: SparkSession, cfg: ConnectorConfig, sink: String, outDir: String,
      snap: DataFrame, ckpt: String,
      onStart: StreamingQuery => Unit,
      probe: Option[PipelineProbe]): StreamingQuery = {
    if (sink == "replica") {
      // the replica sink consumes raw ChangeEvents (its merge IS the
      // handler); SNAPSHOT ops upsert like inserts
      val q = Materialize.applyStream(snap, cfg.keyField, outDir, ckpt,
        nBuckets = cfg.replica.nBuckets, seqCol = cfg.replica.seqField)
      onStart(q)
      // AvailableNow semantics: drain what the bounded snapshot source has
      q.processAllAvailable(); q.stop()
      return q
    }
    // the snapshot race is the throughput-critical path: same fused
    // probe as the CDC stream
    val records = defaultTransform(snap, cfg, probe)
    val writer =
      if (sink == "parquet") parquetSink(records, cfg, outDir) else kafkaSink(records, cfg)
    val q = writer.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
    onStart(q)
    q.awaitTermination() // bounded: returns when the table scan is drained
    q
  }
}
