package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Op

/** Streaming CDC apply: maintain a QUERYABLE replica table from the
  * change-event stream — the downstream half the reference delegates to
  * Kafka consumers (its pipeline ends at the topic; a real deployment's
  * next hop is exactly this materialization). q46 defines the apply
  * semantics as a batch query (latest change per key, deletes drop the
  * row); this lane keeps that result continuously up to date, and the
  * registered q64 replays a batched change log through it under the
  * same DuckDB oracle.
  *
  * Layout and cost model (the Hudi/Iceberg copy-on-write shape, built
  * from parquet + dynamic partition overwrite): the replica is hash-
  * bucketed by key into `nBuckets` directory partitions. A micro-batch
  *   1. collapses to its latest change per key (one small shuffle,
  *      batch-sized);
  *   2. computes the touched bucket set (≤ nBuckets, driver-side);
  *   3. reads ONLY the touched buckets of the current replica
  *      (partition-pruned scan);
  *   4. merges on (event_time, seq) — newest wins, incoming beats
  *      existing at a full tie, so at-least-once redelivery is
  *      idempotent;
  *   5. rewrites ONLY the touched buckets (dynamic partition overwrite).
  * At 100 TB the per-batch write cost is (touched buckets) ×
  * (bucket size), independent of table size; size nBuckets so a bucket
  * is a few GB and a typical batch touches a fraction of them.
  *
  * Deletes persist as TOMBSTONES (the row keeps its op = DELETE and its
  * position; readers filter it). Dropping the row instead would let an
  * out-of-order OLDER change arriving in a LATER micro-batch resurrect
  * the key — with the tombstone in place the merge window sees the
  * delete's position and the stale change loses. Tombstones older than
  * the source's max out-of-orderness are reclaimed by [[vacuum]].
  *
  * TRUNCATE applies as a TABLE-level tombstone: a persisted horizon
  * `(event_time, seq)` under the table path. The truncating batch
  * rewrites every bucket with its pre-horizon rows (and pre-horizon
  * per-key tombstones) dropped, deletes fully-emptied bucket
  * directories, and emits the cleared keys into the change feed so
  * incremental views retract them; every LATER batch drops incoming
  * changes at or before the horizon at ingest — the out-of-order
  * protection per-key tombstones cannot provide for an op with no row
  * identity. The reference decodes the wire truncate and silently drops
  * it (`connector.go:140-142`) — parity for a Kafka-only pipeline, but
  * a correctness hazard for this replica lane, hence first-class here.
  *
  * Exactly-once effect: the sink is idempotent (re-applying any prefix
  * of delivered batches reproduces the same files), so the streaming
  * checkpoint's at-least-once redelivery composes to exactly-once
  * replica state — same argument as the reference's ACK-after-flush
  * (`/root/reference/connector.go` checkpoint discipline), shifted from
  * Kafka offsets to table state. The incrementally maintained views do
  * NOT inherit it under a crash: see [[applyStream]]'s `onChanges`.
  */
object Materialize {

  /** Replica schema: k, op, data, event_time, seq, bucket(partition). */
  private val KeyCol = "k"

  /** TRUNCATE horizon marker: a table-level tombstone. A TRUNCATE event
    * (op with no row identity — the source table was emptied at one log
    * position) cannot be keyed per-row, so its out-of-order protection
    * is a persisted horizon `(event_time µs, seq)` under the table path:
    * every change at or before the horizon is dead — existing rows are
    * cleared when the truncate applies, and any LATE pre-truncate change
    * arriving in a later batch is dropped at ingest, exactly the job
    * per-key tombstones do for deletes. The file is tiny, read per
    * batch, and advanced monotonically; redelivered truncates recompute
    * the same horizon, keeping the apply idempotent.
    *
    * Ordering convention at a FULL position tie (same event_time, both
    * seqs null): the row change SURVIVES — `TRUNCATE` then reload inside
    * one transaction shares one commit timestamp, and the reload must
    * land. With a monotone `seqCol` (LSN) stamped on both, exact wire
    * order is honored instead; a null seq orders below any stamped seq
    * (the merge window's `desc_nulls_last` convention).
    */
  private val HorizonFile = "_graft_truncate_horizon"

  /** (epoch µs, seq): seq None ⇔ the truncate carried no `seqCol`. */
  private type Horizon = (Long, Option[Long])

  private def horizonOrder(h: Horizon): (Long, Long) =
    (h._1, h._2.getOrElse(Long.MinValue))

  private def readHorizon(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String): Option[Horizon] = {
    val p = new Path(tablePath, HorizonFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                finally in.close()
      val parts = txt.split('|')
      Some((parts(0).toLong,
        if (parts.length > 1 && parts(1).nonEmpty) Some(parts(1).toLong) else None))
    }
  }

  private def writeHorizon(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String, h: Horizon): Unit = {
    val out = fs.create(new Path(tablePath, HorizonFile), true)
    try out.write(s"${h._1}|${h._2.fold("")(_.toString)}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Single-writer lease for a replica table. The copy-on-write merge
    * (read touched buckets → dynamically overwrite touched buckets) is
    * only correct with ONE writer; two connectors pointed at the same
    * `tablePath` would silently interleave reads and overwrites. The
    * reference gets the equivalent guarantee from replication-slot
    * exclusivity — PostgreSQL admits one consumer per slot
    * (`/root/reference/README.md:36-42`); this is that contract shifted
    * to the table: a `_graft_writer.lock` file under the table path
    * (underscore prefix — invisible to parquet readers) holds the
    * holder's instance id, its modification time is the heartbeat. A
    * second writer with a different id is rejected while the lease is
    * fresh; a crashed writer's lease expires after `ttlMs` with no
    * unlock step (crash-safe, like the slot's session-scoped activity
    * flag). Every streaming lane acquires at start and renews per
    * micro-batch, failing the query if the lease was lost (e.g. a
    * GC pause past the TTL let another writer take over).
    */
  final class WriterLease(spark: SparkSession, tablePath: String,
      val instanceId: String, ttlMs: Long = 60000L) {
    private val path = new Path(tablePath, "_graft_writer.lock")
    private def fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def holder(): Option[(String, Long)] =
      if (!fs.exists(path)) None
      else {
        val in = fs.open(path)
        val id = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                 finally in.close()
        Some(id -> fs.getFileStatus(path).getModificationTime)
      }

    private def write(): Unit = {
      val out = fs.create(path, true)
      try out.write(instanceId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

    def acquire(): WriterLease = {
      holder() match {
        case Some((id, mtime)) if id != instanceId =>
          val age = System.currentTimeMillis() - mtime
          if (age < ttlMs) throw new IllegalStateException(
            s"replica at $tablePath already has an active writer '$id' " +
            s"(heartbeat ${age}ms ago, ttl ${ttlMs}ms); one writer per " +
            "replica — the slot-exclusivity contract")
        case _ => ()
      }
      write()
      this
    }

    /** Heartbeat + fencing: fail fast if another writer took over. */
    def renew(): Unit = holder() match {
      case Some((id, _)) if id == instanceId => write()
      case other => throw new IllegalStateException(
        s"writer lease on $tablePath lost to ${other.map(_._1)} — " +
        "refusing to write (the merge contract is single-writer)")
    }

    def release(): Unit = holder() match {
      case Some((id, _)) if id == instanceId => fs.delete(path, false); ()
      case _ => ()
    }
  }

  object WriterLease {
    /** Default writer identity: the CHECKPOINT — a restart of the same
      * streaming query (same checkpoint dir) is the same logical writer
      * and re-enters its own lease immediately, while a second connector
      * (necessarily a different checkpoint) conflicts. Explicit ids
      * override for tests/multi-writer fencing.
      */
    def identity(explicit: String, checkpoint: String): String =
      Option(explicit).getOrElse(
        "ckpt-" + java.util.UUID.nameUUIDFromBytes(
          checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .toString.take(8))
  }

  /** The one sink skeleton every replica stream shares (the Structured
    * Streaming sink contract): take the single-writer lease on each of
    * `tablePaths` at start, renew them at the top of every micro-batch,
    * and run `apply(batch, batchId)` inside `foreachBatch`, so the
    * batch commits (ACKs) only after the apply returned.
    */
  private def leasedStream(events: DataFrame, tablePaths: Seq[String],
      checkpoint: String, instanceId: String)(
      apply: (DataFrame, Long) => Unit): StreamingQuery = {
    val leases = tablePaths.map(p => new WriterLease(events.sparkSession, p,
      WriterLease.identity(instanceId, checkpoint)).acquire())
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        leases.foreach(_.renew())
        apply(batch.toDF(), batchId)
      }
      .start()
  }

  /** Start continuously applying `events` (ChangeEvent schema) into the
    * replica at `tablePath`, keyed by `keyField` (a data-map key, e.g.
    * the table's PK column). `seqCol` optionally names a data-map field
    * carrying the change's LOG POSITION (LSN / commit sequence): real
    * CDC apply order is log order, with the event timestamp only a
    * coarse prefix of it — when set, ties in event time resolve by
    * sequence, exactly the reference's per-key delivery-order guarantee.
    *
    * `onChanges` receives each batch's change feed ([[applyBatchCdf]])
    * after the replica merge — the hook an incrementally-maintained
    * view hangs on: pass one that calls [[applyAggregateDelta]],
    * [[applyMomentsDelta]] or [[applyMinMaxDelta]] to keep that view
    * current without ever rescanning the replica. The default ignores
    * the feed, which is lazy, so no job evaluates it.
    *
    * A view fed this way is exactly-once only while every batch
    * completes both writes. The view write runs AFTER the replica
    * overwrite; if the process dies between the two, the redelivered
    * batch finds the replica already merged, its change feed nets to
    * before == after and cancels, and the view misses that batch for
    * good.
    */
  def applyStream(events: DataFrame, keyField: String, tablePath: String,
      checkpoint: String, nBuckets: Int = 16,
      seqCol: Option[String] = None,
      instanceId: String = null,
      onChanges: DataFrame => Unit = _ => ()): StreamingQuery =
    leasedStream(events, Seq(tablePath), checkpoint, instanceId) { (batch, _) =>
      onChanges(applyBatchCdf(batch, keyField, tablePath, nBuckets, seqCol))
    }

  /** Apply one batch of change events to the replica (idempotent). */
  def applyBatch(batch: DataFrame, keyField: String, tablePath: String,
      nBuckets: Int = 16, seqCol: Option[String] = None): Unit = {
    applyBatchCdf(batch, keyField, tablePath, nBuckets, seqCol)
    ()
  }

  /** Fan a MULTI-TABLE change stream out to one replica per table (the
    * real connector shape: a publication carries every configured
    * table). `tables` maps full table name → its key field; each table
    * materializes under `baseDir/<namespace>.<name>` with its own
    * bucket layout. Unconfigured tables are ignored, like events for
    * unmapped topics in the router. The per-table apply loop runs
    * inside ONE foreachBatch, so the batch commits (ACKs) only after
    * every table's merge landed — tables never drift apart by more
    * than the in-flight batch.
    */
  def applyStreamPerTable(events: DataFrame, tables: Map[String, String],
      baseDir: String, checkpoint: String, nBuckets: Int = 16,
      seqCol: Option[String] = None,
      instanceId: String = null): StreamingQuery =
    leasedStream(events, tables.keys.map(fullName => s"$baseDir/$fullName").toSeq,
        checkpoint, instanceId) { (batch, _) =>
      val b = batch.localCheckpoint(true) // one source read feeds all tables
      tables.foreach { case (fullName, keyField) =>
        applyBatch(
          b.filter(concat_ws(".", col("tableNamespace"), col("tableName")) === fullName),
          keyField, s"$baseDir/$fullName", nBuckets, seqCol)
      }
    }

  /** Replica + PERSISTED change feed in one stream: each batch's net
    * changes land under `changesDir/batch=<id>` — the downstream
    * fan-out artifact: an audit trail, a batch-readable feed for
    * incremental consumers (standard partition-column layout), and the
    * input shape [[applyAggregateDelta]] takes. Exactly-once by
    * write-once: the feed partition is written BEFORE the replica
    * apply and only if not already complete (its `_SUCCESS` marker),
    * so a redelivered batch neither duplicates rows nor replaces the
    * original changes with the degraded no-op view a post-apply
    * recomputation would yield (a redelivered DELETE finds its key
    * already tombstoned and nets to nothing).
    */
  def applyStreamWithChangelog(events: DataFrame, keyField: String,
      tablePath: String, changesDir: String, checkpoint: String,
      nBuckets: Int = 16, seqCol: Option[String] = None,
      instanceId: String = null): StreamingQuery =
    leasedStream(events, Seq(tablePath), checkpoint, instanceId) { (b, batchId) =>
      val part = new Path(changesDir, s"batch=$batchId")
      val fs = part.getFileSystem(b.sparkSession.sparkContext.hadoopConfiguration)
      applyBatchCdf(b, keyField, tablePath, nBuckets, seqCol,
        beforeTableWrite = changes =>
          if (!fs.exists(new Path(part, "_SUCCESS")))
            changes.write.mode("overwrite").parquet(part.toString))
      ()
    }

  /** Apply one batch and return its CHANGE DATA FEED: the net row-level
    * effect on the replica, one row per key the batch actually changed —
    * `before` (the key's live row prior to this batch, null if absent)
    * and `after` (its live row now, null if deleted). Keys where the
    * incoming change LOST the merge (stale out-of-order data, redelivered
    * deletes) emit nothing; a redelivered upsert emits before == after,
    * which cancels in any delta consumer. A view fed from this feed
    * therefore counts a batch exactly once only if the batch's FIRST
    * delivery reached the view; a crash after the replica write but
    * before the view write loses the batch for the view (see
    * [[applyStream]]'s `onChanges`). This is the feed
    * that makes the replica a SOURCE: incremental aggregate maintenance
    * ([[applyAggregateDelta]]), audit trails, downstream CDC fan-out.
    */
  def applyBatchCdf(batch: DataFrame, keyField: String, tablePath: String,
      nBuckets: Int = 16, seqCol: Option[String] = None,
      beforeTableWrite: DataFrame => Unit = _ => ()): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    def mapField(name: String) =
      coalesce(element_at($"newData", name), element_at($"oldData", name))
    val seq = seqCol.map(c => mapField(c).cast("long")).getOrElse(lit(null).cast("long"))
    val fs = new Path(tablePath).getFileSystem(s.sparkContext.hadoopConfiguration)
    // --- ONE pass over the batch (r17 probe fusion, guide §2.4) -----
    // The old shape paid two full batch scans before the merge (the
    // truncate-position probe — even on the truncate-free common case —
    // plus the upserts window/checkpoint) and two separate driver
    // collects. TRUNCATE rows have no row identity (null key), so they
    // now ride a DEDICATED partition of the same latest-per-key window
    // (partition key (is-truncate, k) — a null-key row op still drops,
    // and no real key can collide with the truncate partition): rn == 1
    // in that partition IS the batch's max truncate position under the
    // identical (event_time desc, seq desc_nulls_last) order. One scan
    // + one checkpoint feeds the truncate probe, the bucket probe, and
    // the merge union; both probes collapse into ONE driver job over
    // the small checkpointed frame.
    val isTrunc = $"op" === lit(Op.Truncate)
    val wBatch = Window.partitionBy(isTrunc, col(KeyCol))
      .orderBy($"event_time".desc, $"seq".desc_nulls_last, $"op")
    val pre = batch
      .withColumn(KeyCol, mapField(keyField))
      .filter(isTrunc || col(KeyCol).isNotNull)
      .withColumn("seq", seq)
      .withColumn("event_time", $"eventTime")
      .withColumn("rn", row_number().over(wBatch))
      .filter($"rn" === 1)
      .select(col(KeyCol), $"op", $"newData".as("data"), $"event_time", $"seq")
      .withColumn("bucket", pmod(xxhash64(col(KeyCol)), lit(nBuckets)).cast("int"))
      // materialized once: feeds the fused probe AND the merge union —
      // without this the source scan + window would run per consumer
      .localCheckpoint(true)
    // fused probe: the batch's truncate position (max struct orders
    // non-null seq above null at equal time — desc_nulls_last's pick;
    // ≤ 1 row matches post-window anyway) + the incoming keys' buckets,
    // in one driver job. The bucket set is taken BEFORE the horizon
    // ingest filter (the horizon isn't known yet): a superset only adds
    // touched buckets whose merge rewrites identical rows — the CDF is
    // driven by incoming WINNERS, so output is unchanged; rows dropped
    // by the in-batch window share their winner's key, hence bucket.
    val probeRow = pre.agg(
      max(when(isTrunc,
        struct(unix_micros($"event_time").as("t"), $"seq".as("s")))).as("tr"),
      collect_set(when(!isTrunc, $"bucket")).as("bks")).collect()(0)
    // --- TRUNCATE horizon (see HorizonFile doc) ---------------------
    val batchTrunc: Option[Horizon] =
      if (probeRow.isNullAt(0)) None
      else {
        val r = probeRow.getStruct(0)
        Some((r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      }
    val persisted = readHorizon(fs, tablePath)
    val horizon: Option[Horizon] =
      (batchTrunc.toSeq ++ persisted.toSeq).reduceOption { (a, b) =>
        if (Ordering[(Long, Long)].gteq(horizonOrder(a), horizonOrder(b))) a else b
      }
    // a change SURVIVES the horizon iff its (event_time, seq) is not
    // strictly before it; a full tie survives (TRUNCATE-then-reload in
    // one transaction shares the commit timestamp — the reload lands)
    def survives(t: Column, sq: Column): Column = horizon.fold(lit(true)) {
      case (ht, hs) =>
        unix_micros(t) > ht || (unix_micros(t) === ht &&
          coalesce(sq, lit(Long.MinValue)) >= lit(hs.getOrElse(Long.MinValue)))
    }
    // a NEW truncate clears the table: every existing bucket is read,
    // pre-horizon rows (per-key tombstones included — the horizon itself
    // is now the stronger guard) dropped, emptied buckets deleted.
    // A REDELIVERED truncate (position ≤ persisted horizon) re-runs the
    // clear against an already-conformant table — a no-op rewrite,
    // keeping the apply idempotent.
    val clearPass = batchTrunc.isDefined
    // latest change per key within the batch; DELETE carries its key in
    // the pre-image when the post-image is empty (replica identity).
    // Pre-horizon changes are dropped at ingest — survival is monotone
    // in (event_time, seq), so filtering after the latest-per-key window
    // is equivalent to filtering before it.
    val upserts = pre.filter($"op" =!= lit(Op.Truncate) &&
      survives($"event_time", $"seq"))
    val emptyCdf = upserts.limit(0).select(
      col(KeyCol), $"data".as("before"), $"data".as("after"))
    // "table exists" = it has bucket partitions — the writer lease file
    // alone (created at stream start, before batch 0) is not a table
    def bucketDirs: Array[Int] =
      if (!fs.exists(new Path(tablePath))) Array.empty
      else fs.listStatus(new Path(tablePath)).map(_.getPath.getName)
        .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt)
    val existingBuckets = bucketDirs
    // touched buckets: ≤ nBuckets ints — bounded driver-side by design.
    // A clear pass touches every existing bucket (the truncate rewrites
    // or deletes each one); otherwise only the incoming keys' buckets.
    val incomingBuckets = probeRow.getSeq[Int](1).toArray
    val touched =
      if (clearPass) (existingBuckets ++ incomingBuckets).distinct
      else incomingBuckets
    if (touched.isEmpty) {
      // nothing to merge — but a truncate of an empty/absent table must
      // still pin its horizon (late pre-truncate changes stay dead)
      horizon.filter(_ => clearPass).foreach(writeHorizon(fs, tablePath, _))
      return emptyCdf
    }
    val existing =
      if (existingBuckets.nonEmpty)
        s.read.parquet(tablePath)
          .filter($"bucket".isin(touched.toIndexedSeq.map(Integer.valueOf): _*))
          .withColumn("src", lit("existing"))
          .select(col(KeyCol), $"op", $"data", $"event_time", $"seq", $"bucket", $"src")
          // materialize BEFORE the overwrite below: truncating lineage here
          // is what makes read-then-overwrite-the-same-path safe
          .localCheckpoint(true)
      else upserts.withColumn("src", lit("existing")).limit(0)
    // the clear: existing rows at or before a batch truncate die here
    // (no-op unless this batch carries a truncate — the persisted-
    // horizon invariant keeps the stored table post-horizon already)
    val existingSurvivors =
      if (clearPass) existing.filter(survives($"event_time", $"seq"))
      else existing
    // merge: newest (event_time, seq) wins — DELETEs included, so the
    // winning row may be a tombstone; at a full tie the INCOMING change
    // wins, so re-applying a batch that already landed rewrites
    // identical rows — idempotence under at-least-once redelivery.
    // Every incoming change leaves a row (data or tombstone), so every
    // touched bucket appears in the output and dynamic overwrite
    // replaces exactly the touched set (clear-emptied buckets excepted —
    // deleted explicitly below).
    val wMerge = Window.partitionBy(col(KeyCol))
      .orderBy($"event_time".desc, $"seq".desc_nulls_last, ($"src" === "existing").asc)
    val winners = existingSurvivors.unionByName(upserts.withColumn("src", lit("incoming")))
      .withColumn("rn", row_number().over(wMerge))
      .filter($"rn" === 1)
      // checkpointed: feeds the table overwrite AND the change feed, and
      // must not lazily re-read the files the overwrite replaces
      .localCheckpoint(true)
    // CDF: keys where the incoming change won — before from the prior
    // live row (tombstone ⇒ absent ⇒ null), after from the winner —
    // PLUS, on a clear pass, every key the truncate removed (before =
    // its pre-batch row, after = null) that no incoming change rewrote:
    // the feed is what keeps downstream incremental views exact, so a
    // truncate must retract what it cleared. Derived entirely from
    // CHECKPOINTED frames, so it reflects the PRE-apply state no matter
    // when it is evaluated.
    val prior = existing.select(col(KeyCol),
      when($"op" =!= Op.Delete, $"data").as("before"))
    val incomingAfter = winners.filter($"src" === "incoming")
      .select(col(KeyCol), when($"op" =!= Op.Delete, $"data").as("after"))
    val clearedAfter =
      if (!clearPass) incomingAfter
      else incomingAfter.unionByName(
        existing.filter(!survives($"event_time", $"seq") && $"op" =!= Op.Delete)
          .select(col(KeyCol))
          // keys the batch also writes are already covered above
          .join(upserts.select(col(KeyCol)), Seq(KeyCol), "left_anti")
          .withColumn("after", lit(null).cast("map<string,string>")))
    val changes = clearedAfter
      .join(prior, Seq(KeyCol), "left")
      .filter($"before".isNotNull || $"after".isNotNull) // delete of absent key: no-op
      .select(col(KeyCol), $"before", $"after")
    // change-feed persistence runs BEFORE the replica overwrite: on a
    // retry after a crash between the two, the feed already holds the
    // original (pre-apply) changes and the idempotent replica write
    // simply lands again — the feed never records the degraded
    // post-apply view a recomputation would produce
    beforeTableWrite(changes)
    // only touched buckets are rewritten; a bucket the truncate fully
    // emptied produces no output rows, so a clear pass deletes it
    // explicitly (the vacuum discipline) — without a truncate every
    // touched bucket keeps at least its winner, and no probe runs
    rewriteBuckets(
      winners.select(col(KeyCol), $"op", $"data", $"event_time", $"seq", $"bucket"),
      tablePath, if (clearPass) touched.toSet else Set.empty)
    // the horizon is pinned LAST: a crash anywhere above redelivers into
    // a recomputation of the same horizon, so ordering here is for
    // tidiness, not correctness
    if (clearPass) horizon.foreach(writeHorizon(fs, tablePath, _))
    changes
  }

  /** Exact scaled-long encoding of a string measure from the replica's
    * row-image map: value × 10^scale, required to be an integer in long
    * range. Anything not exactly representable — non-numeric text,
    * extra NONZERO fractional digits, overflow — fails the batch with
    * `raise_error` naming the field and offending value; NEVER a silent
    * truncation, under BOTH ANSI settings (staging uses `try_cast`, so
    * the reject is this lane's own message, not a mode-dependent null).
    *
    * Two lanes, split by a per-row regex on the rendering:
    *   - FAST: a plain integral rendering with few enough digits that
    *     the scaled value provably fits a long — real CDC integer
    *     measures wholesale — takes one codegen'd regex + a long cast
    *     + a long multiply, no BigDecimal staging at all. The digit cap
    *     (18−scale) matters twice: the long multiply cannot wrap, and
    *     the non-ANSI string→long cast TRUNCATES fractional strings
    *     ('3.5' → 3), so it must never see a string the regex did not
    *     clear as integral.
    *   - SLOW (anything else): DECIMAL(38,18) staging; integrality is
    *     checked by EXACT remainder against 10^-scale on the staged
    *     value BEFORE any scaling multiply (the scaled product's type
    *     loses fractional precision under allowPrecisionLoss, so a
    *     post-multiply `% 1` check could pass values the lane must
    *     reject), and the long-range bounds compare against
    *     Long.Min/Max/10^scale pre-multiply for the same reason —
    *     asymmetrically, since Long.MinValue/10^scale is itself
    *     encodable. A plain
    *     rendering with nonzero digits past the 18 staging places is
    *     rejected by inspection of the STRING (the cast alone would
    *     round it away silently). Exponent renderings ('1e-19') are
    *     outside the contract — PostgreSQL renders numeric columns
    *     plain — and surface as a reject via the staging cast only
    *     when they exceed DECIMAL(38,18) range.
    */
  private def scaledLongMeasure(raw: Column, measureField: String, scale: Int): Column = {
    require(scale >= 0 && scale <= 18, s"measureScale must be in [0, 18], got $scale")
    def err(why: String) = raise_error(concat(
      lit(s"measure '$measureField' value '"), raw,
      lit(s"' $why at scale $scale"))).cast("long")
    val exact = raw.try_cast(org.apache.spark.sql.types.DecimalType(38, 18))
    val unit = lit(new java.math.BigDecimal(java.math.BigInteger.ONE, scale)) // 10^-scale
    // asymmetric long range: Long.MinValue/10^scale IS representable,
    // so the lower bound admits exactly one more ulp than |MaxValue|
    val ubound = lit(new java.math.BigDecimal(Long.MaxValue).movePointLeft(scale))
    val lbound = lit(new java.math.BigDecimal(Long.MinValue).movePointLeft(scale))
    val slow =
      when(exact.isNull, err("is not numeric (or beyond DECIMAL(38,18)) — cannot encode"))
        .when(raw.rlike("\\.[0-9]{18}[0-9]*[1-9]"),
          err("has nonzero digits past 18 fractional places — cannot encode"))
        .when((exact % unit) =!= lit(java.math.BigDecimal.ZERO) ||
            exact > ubound || exact < lbound,
          err("is not exactly representable as a scaled long"))
        .otherwise((exact * lit(java.math.BigDecimal.TEN.pow(scale))).cast("long"))
    val fastDigits = 18 - scale
    val withFast =
      if (fastDigits < 1) slow
      else when(raw.rlike(s"^[+-]?[0-9]{1,$fastDigits}$$"),
        raw.cast("long") * lit(java.math.BigInteger.TEN.pow(scale).longValueExact()))
        .otherwise(slow)
    when(raw.isNull, lit(null).cast("long")).otherwise(withFast)
  }

  /** The change feed as signed measure deltas `(grp, v, sign)`: one
    * −1 row per `before` image and one +1 row per `after` image, `v`
    * the measure through [[scaledLongMeasure]]. A redelivered change
    * (before == after) yields a cancelling pair; every view maintainer
    * below folds these rows.
    */
  private def signedDeltas(changes: DataFrame, groupField: String,
      measureField: String, measureScale: Int): DataFrame = {
    def side(image: String, sign: Long) =
      changes.filter(col(image).isNotNull).select(
        element_at(col(image), groupField).as("grp"),
        scaledLongMeasure(element_at(col(image), measureField),
          measureField, measureScale).as("v"),
        lit(sign).as("sign"))
    side("before", -1L).unionByName(side("after", 1L))
  }

  /** Rewrite the bucket partitions of `path` that `rows` holds (dynamic
    * overwrite), then delete each bucket of `mayEmpty` that `rows` no
    * longer fills: dynamic overwrite keeps an emptied partition's stale
    * files. An empty `mayEmpty` skips the probe job.
    */
  private def rewriteBuckets(rows: DataFrame, path: String, mayEmpty: Set[Int]): Unit = {
    rows.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(path)
    if (mayEmpty.nonEmpty) {
      val still = rows.select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
      val fs = new Path(path).getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
      (mayEmpty -- still).foreach(b => fs.delete(new Path(path, s"bucket=$b"), true))
    }
  }

  /** Incrementally maintain a grouped-aggregate table (count + an exact
    * integer sum per group) from a change feed — the materialized-view
    * half of CDC apply: instead of recomputing `SELECT grp, count(*),
    * sum(m) FROM replica GROUP BY grp` over the full table, each batch
    * applies only its NET deltas (−before, +after per changed key).
    * Because [[applyBatchCdf]] emits before == after for redelivered
    * changes and nothing for merge losers, a redelivered batch whose
    * first delivery reached the view adds nothing. That is not
    * exactly-once under a crash: a batch whose replica write completed
    * but whose view write did not is lost for the view (the window
    * [[applyStream]]'s `onChanges` describes). The view table is
    * output-sized (one row per group); at a group cardinality where the
    * full rewrite matters, shard it with the replica's bucket pattern.
    */
  def applyAggregateDelta(changes: DataFrame, groupField: String,
      measureField: String, aggPath: String): Unit =
    applyAggregateDelta(changes, groupField, measureField, aggPath, measureScale = 0)

  /** As above with a DECIMAL measure: `measureScale` fixed-point digits
    * are carried exactly as scaled longs (value × 10^scale), so sums
    * stay exact under any accumulation order — decode the view with
    * `m / 10^scale`. A measure not exactly representable at the given
    * scale (extra fractional digits, |scaled| > Long.Max) FAILS THE
    * BATCH LOUDLY instead of truncating (the pre-r14 lane cast straight
    * to long, so the first `totalprice`-style decimal a warehouse user
    * tried silently lost its cents). scale = 0 keeps integer measures
    * byte-identical — and now rejects fractional input too.
    */
  def applyAggregateDelta(changes: DataFrame, groupField: String,
      measureField: String, aggPath: String, measureScale: Int): Unit = {
    val s = changes.sparkSession
    import s.implicits._
    val deltas = signedDeltas(changes, groupField, measureField, measureScale)
      .select($"grp", $"sign".as("dn"), ($"v" * $"sign").as("dm"))
    val fs = new Path(aggPath).getFileSystem(s.sparkContext.hadoopConfiguration)
    val current =
      if (fs.exists(new Path(aggPath)))
        s.read.parquet(aggPath)
          .select($"grp", $"n".as("dn"), $"m".as("dm"))
          .localCheckpoint(true) // lineage cut: we overwrite what we read
      else deltas.limit(0)
    current.unionByName(deltas)
      .groupBy($"grp").agg(sum($"dn").as("n"), sum($"dm").as("m"))
      .filter($"n" =!= 0) // a group whose last member left vanishes
      .write.mode("overwrite").parquet(aggPath)
  }

  /** Incrementally maintain grouped MOMENTS (n, Σv, Σv²) — the exact
    * mean/variance/stddev view. Second moments are SUBTRACTABLE, so
    * this is [[applyAggregateDelta]]'s pattern with one more column;
    * the subtlety is exactness: Σv² of cents-scaled measures overflows
    * BIGINT already at sf0.01 (the q85 lesson), so the second moment
    * is a DECIMAL(38,0) sum — exact under any accumulation order — and
    * the variance is derived at READ time from exact integers through
    * one fixed-shape double chain (never accumulated in floating
    * point, where deltas could not cancel exactly under redelivery).
    * Measures encode via [[scaledLongMeasure]]: decimal-exact, loud on
    * non-representable input.
    */
  def applyMomentsDelta(changes: DataFrame, groupField: String,
      measureField: String, aggPath: String, measureScale: Int = 0): Unit = {
    val s = changes.sparkSession
    import s.implicits._
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val deltas = signedDeltas(changes, groupField, measureField, measureScale)
      .select($"grp", $"sign".as("dn"), ($"v" * $"sign").as("ds1"),
        ($"v".cast(dec38) * $"v" * $"sign").as("ds2"))
    val fs = new Path(aggPath).getFileSystem(s.sparkContext.hadoopConfiguration)
    val current =
      if (fs.exists(new Path(aggPath)))
        s.read.parquet(aggPath)
          .select($"grp", $"n".as("dn"), $"s1".as("ds1"), $"s2".as("ds2"))
          .localCheckpoint(true) // lineage cut: we overwrite what we read
      else deltas.limit(0)
    current.unionByName(deltas)
      .groupBy($"grp")
      .agg(sum($"dn").as("n"), sum($"ds1").as("s1"),
        sum($"ds2").cast(dec38).as("s2"))
      .filter($"n" =!= 0)
      .write.mode("overwrite").parquet(aggPath)
  }

  /** The maintained moments view with derived mean/variance (population):
    * m2 = n·Σv² − (Σv)² computed in exact decimals, one double chain at
    * the end, FLOAT presentation (wide-decimal→double casts differ in
    * the last ulp across engines — the q165/q205 rule).
    */
  def momentsView(s: SparkSession, aggPath: String): DataFrame = {
    import s.implicits._
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val m2 = ($"s2" * $"n") - ($"s1".cast(dec38) * $"s1")
    s.read.parquet(aggPath)
      .select($"grp", $"n", $"s1",
        ($"s1".cast("double") / $"n").cast("float").as("mean"),
        (m2.cast("double") / ($"n" * $"n").cast("double")).cast("float").as("var_pop"))
  }

  /** Incrementally maintain a MIN/MAX (+count) grouped view — the first
    * NON-SUBTRACTABLE aggregate a warehouse user asks for after
    * count+sum ([[applyAggregateDelta]]): a delete of the current
    * extremum cannot be applied from the delta alone, the maintainer
    * must know the runner-up.
    *
    * Design: a persisted VALUE-COUNT INDEX `(grp, v, cnt)` hash-bucketed
    * by GROUP into `nBuckets` directory partitions, alongside the
    * output view `(grp, mn, mx, n)` bucketed the same way. Each batch:
    *   1. nets the change feed to (grp, v, ±1) deltas (batch-sized;
    *      redelivered changes arrive as before == after and cancel);
    *   2. reads ONLY the touched groups' index buckets — by explicit
    *      bucket-directory paths, so untouched groups' buckets are
    *      never LISTED, read, or written (spec-pinned by corrupting an
    *      untouched bucket and applying anyway);
    *   3. merges counts, drops zero rows, rewrites exactly those
    *      buckets (dynamic overwrite + explicit delete of emptied
    *      dirs — the copy-on-write replica discipline at group grain);
    *   4. recomputes `(mn, mx, n)` from the merged index for the
    *      touched buckets' groups only and rewrites exactly those view
    *      buckets.
    *
    * Why an index instead of recomputing affected groups from the
    * replica: the replica is bucketed by KEY hash, so a group's rows
    * spread across every bucket and an "affected groups only" recompute
    * would still be a full-table scan whenever any delete touched any
    * extremum. The index is the group-keyed projection that makes the
    * recompute partition-pruned — per-batch cost is (touched group
    * buckets) × (bucket size), independent of table size, the same
    * shape as the replica merge itself. Storage is one (grp, v) pair
    * per distinct live value — bounded by the replica, typically far
    * smaller. Redelivery of a batch that already reached the index is
    * a no-op through the feed ([[applyBatchCdf]]), with the same crash
    * window between the replica and view writes as
    * [[applyStream]]'s `onChanges`; TRUNCATE retractions flow through the
    * same deltas, emptying the view.
    */
  def applyMinMaxDelta(changes: DataFrame, groupField: String,
      measureField: String, indexPath: String, viewPath: String,
      nBuckets: Int = 16, measureScale: Int = 0): Unit = {
    val s = changes.sparkSession
    import s.implicits._
    val deltas = signedDeltas(changes, groupField, measureField, measureScale)
      .groupBy($"grp", $"v").agg(sum($"sign").as("cnt"))
      .filter($"cnt" =!= 0)
      .withColumn("bucket", pmod(xxhash64($"grp"), lit(nBuckets)).cast("int"))
      // feeds the touched-bucket probe AND the merge — one evaluation
      .localCheckpoint(true)
    // ≤ nBuckets ints, driver-side by design
    val touched = deltas.select($"bucket").distinct().collect().map(_.getInt(0))
    if (touched.isEmpty) return
    val fs = new Path(indexPath).getFileSystem(s.sparkContext.hadoopConfiguration)
    // explicit bucket-directory reads: untouched buckets are not even
    // LISTED — basePath keeps the bucket partition column alive
    def bucketRead(base: String, buckets: Seq[Int]): Option[DataFrame] = {
      val dirs = buckets.map(b => s"$base/bucket=$b")
        .filter(d => fs.exists(new Path(d)))
      if (dirs.isEmpty) None
      else Some(s.read.option("basePath", base).parquet(dirs: _*))
    }
    val current = bucketRead(indexPath, touched.toIndexedSeq)
      .map(_.select($"grp", $"v", $"cnt", $"bucket")
        // lineage cut: we overwrite the buckets we just read
        .localCheckpoint(true))
      .getOrElse(deltas.limit(0))
    val merged = current.unionByName(deltas)
      .groupBy($"grp", $"v", $"bucket").agg(sum($"cnt").as("cnt"))
      .filter($"cnt" =!= 0)
      // feeds the index rewrite AND the view recompute
      .localCheckpoint(true)
    rewriteBuckets(merged.select($"grp", $"v", $"cnt", $"bucket"), indexPath, touched.toSet)
    // view rows for every group living in the touched buckets (a
    // superset of the touched groups — same-bucket neighbors recompute
    // to their unchanged values; cost stays bucket-bounded)
    val recomputed = merged.groupBy($"grp", $"bucket")
      .agg(min($"v").as("mn"), max($"v").as("mx"), sum($"cnt").as("n"))
      .select($"grp", $"mn", $"mx", $"n", $"bucket")
      .localCheckpoint(true)
    rewriteBuckets(recomputed, viewPath, touched.toSet)
  }

  /** The maintained min/max view as a DataFrame (grp, mn, mx, n);
    * empty-table-safe like [[replica]].
    */
  def minMaxView(s: SparkSession, viewPath: String): DataFrame = {
    val p = new Path(viewPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val hasBuckets = fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith("bucket="))
    if (hasBuckets)
      s.read.parquet(viewPath).select(col("grp"), col("mn"), col("mx"), col("n"))
    else s.range(0).select(
      lit(null).cast("string").as("grp"),
      lit(null).cast("long").as("mn"),
      lit(null).cast("long").as("mx"),
      lit(null).cast("long").as("n"))
  }

  /** The stored replica frame, robust to a FULLY-TRUNCATED table: a
    * truncate with no reload deletes every bucket directory, and a bare
    * `read.parquet` over a dir holding only the horizon/lease markers
    * (underscore-prefixed — invisible to parquet) cannot infer a schema.
    * An empty replica is a queryable empty table, not an error.
    */
  private def readTable(s: SparkSession, tablePath: String): DataFrame = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val hasBuckets = fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith("bucket="))
    if (hasBuckets) s.read.parquet(tablePath)
    else s.range(0).select(
      lit(null).cast("string").as(KeyCol),
      lit(null).cast("string").as("op"),
      lit(null).cast("map<string,string>").as("data"),
      lit(null).cast("timestamp").as("event_time"),
      lit(null).cast("long").as("seq"),
      lit(null).cast("int").as("bucket"))
  }

  /** Point lookup on the replica — the serving path: the key's bucket is
    * computable client-side (same xxhash64 the writer used), so the scan
    * prunes to ONE bucket directory regardless of table size; at a few
    * GB per bucket that is an index-free O(bucket) read, the replica
    * layout's second dividend after partial rewrites.
    */
  def lookup(s: SparkSession, tablePath: String, key: String,
      nBuckets: Int = 16): DataFrame = {
    import s.implicits._
    // the writer's pmod(xxhash64(k), n), evaluated driver-side (same
    // expression, same default seed) — no job just to find the bucket
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        org.apache.spark.sql.types.StringType)),
      42L /* functions.xxhash64's fixed seed */).eval(null).asInstanceOf[Long]
    val bucket = (((h % nBuckets) + nBuckets) % nBuckets).toInt
    readTable(s, tablePath)
      .filter($"bucket" === bucket) // partition-pruned to one directory
      .filter(col(KeyCol) === key && $"op" =!= Op.Delete)
      .select(col(KeyCol), $"data", $"event_time", $"seq")
  }

  /** TIME TRAVEL over the persisted change feed: reconstruct the
    * replica's live state AS OF the end of `batch` by folding the
    * feed's net changes — each key's state is its latest `after` at or
    * before that batch (null ⇒ deleted). The feed partitions make this
    * a partition-PRUNED scan of batches ≤ N, and because the feed
    * records NET per-batch changes, the fold is one latest-per-key
    * window, not an event replay.
    */
  def replicaAsOf(s: SparkSession, changesDir: String, batch: Long): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy(col(KeyCol)).orderBy($"batch".desc)
    s.read.parquet(changesDir)
      .filter($"batch" <= batch) // partition-pruned
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"after".isNotNull)
      .select(col(KeyCol), $"after".as("data"))
  }

  /** The replica as a DataFrame: current row per live key (tombstones
    * filtered at read — a parquet predicate on the op column).
    */
  def replica(s: SparkSession, tablePath: String): DataFrame =
    readTable(s, tablePath)
      .filter(col("op") =!= Op.Delete)
      .select(col(KeyCol), col("data"), col("event_time"), col("seq"))

  /** Reclaim tombstones whose event time precedes `before` — safe once
    * `before` trails the source's watermark by its max out-of-orderness
    * (no change older than a reclaimed tombstone can still arrive). A
    * full-table maintenance pass like [[graft.sources.Compaction]], not
    * a per-batch cost; buckets with nothing to reclaim are untouched.
    */
  def vacuum(s: SparkSession, tablePath: String, before: Timestamp): Unit = {
    import s.implicits._
    val all = readTable(s, tablePath)
    val reclaimable = all
      .filter($"op" === Op.Delete && $"event_time" < lit(before))
    // bounded: ≤ nBuckets ints
    val buckets = reclaimable.select($"bucket").distinct().collect().map(_.getInt(0))
    if (buckets.isEmpty) return
    val kept = all.filter($"bucket".isin(buckets.toIndexedSeq.map(Integer.valueOf): _*))
      .filter(!($"op" === Op.Delete && $"event_time" < lit(before)))
      .localCheckpoint(true) // lineage cut: we overwrite what we read
    // a bucket holding ONLY reclaimed tombstones empties and is deleted
    rewriteBuckets(kept, tablePath, buckets.toSet)
  }
}
