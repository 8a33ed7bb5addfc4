package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Event-time stream processing surface (SURVEY §2B "Streaming"):
  * watermarked tumbling/sliding windows, session windows, stateful
  * exact dedup, and custom per-key state via flatMapGroupsWithState.
  *
  * All transforms take/return streaming DataFrames with the events schema
  * (event_id, ts timestamp, user_id, event_type, value) so they compose
  * with any source (file, Kafka, rate). Scale notes: every stateful op
  * shuffles once on its grouping key; the watermark bounds state size —
  * without it a 100 TB stream accumulates state forever.
  */
object EventStreams {

  /** Tumbling/sliding event-time window aggregate with late-data drop.
    * slide == width gives tumbling windows (the batch twin is
    * EventsTime.q20Tumbling — same bucketing).
    */
  def windowedCounts(
      events: DataFrame,
      watermark: String = "10 minutes",
      width: String = "1 hour",
      slide: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n"), col("sum_value"))

  /** Session windows: gap-based grouping with event-time timeout — the
    * streaming twin of Windows.q16Sessionize.
    */
  def sessionCounts(
      events: DataFrame,
      watermark: String = "10 minutes",
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"), col("n_events"))

  /** Streaming PSI drift monitor — the population stability index
    * (the standard model-monitoring drift score; see e.g. the public
    * credit-scoring literature) computed per event-time window against
    * a fixed reference distribution: PSI = Σ_bins (p−q)·ln(p/q), with
    * Laplace smoothing on the observed side and ε-smoothing on the
    * reference so empty bins stay finite. Declarative all the way:
    * ONE watermarked stateful aggregation produces per-window bin
    * counts as fixed columns (no second stateful op, no custom
    * state), and the score is a closed-form expression over them —
    * at scale this shuffles once on the window key with map-side
    * partial counts, state bounded by the watermark. Values outside
    * [lo, hi) clamp into the edge bins (the monitoring convention:
    * out-of-range mass IS drift signal, not an error). PSI > 0.2 is
    * the conventional "investigate" line.
    *
    * This is the streaming twin of the batch Stats family (q144's KS
    * answers "did it move?" offline; this answers it continuously).
    */
  def psiDrift(
      events: DataFrame,
      refProportions: Seq[Double],
      lo: Double, hi: Double,
      watermark: String = "10 minutes",
      width: String = "1 hour",
      threshold: Double = 0.2): DataFrame = {
    require(refProportions.nonEmpty, "need at least one reference bin")
    val nBins = refProportions.length
    val eps = 1e-6
    val refSmoothed = {
      val z = refProportions.map(_ + eps)
      val tot = z.sum
      z.map(_ / tot)
    }
    val binW = (hi - lo) / nBins
    val bin = least(greatest(
      floor((col("value") - lit(lo)) / lit(binW)), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("int")
    val counts = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width))
      .agg(count(lit(1)).as("n"),
        (0 until nBins).map(i =>
          sum(when(bin === i, 1L).otherwise(0L)).as(s"c$i")): _*)
    val psi = (0 until nBins).map { i =>
      val p = (col(s"c$i") + 1).cast("double") / (col("n") + nBins)
      val q = lit(refSmoothed(i))
      (p - q) * log(p / q)
    }.reduce(_ + _)
    counts.select(
      col("window.start").as("window_start"),
      col("window.end").as("window_end"),
      col("n"), psi.as("psi"))
      .withColumn("drifted", col("psi") > threshold)
  }

  /** Driver-side helper: bin a static (batch) column into the reference
    * proportions [[psiDrift]] consumes. The collect is bounded by
    * nBins — this is a tiny model, not data movement.
    */
  def referenceProportions(df: DataFrame, valueCol: String,
      lo: Double, hi: Double, nBins: Int = 10): Seq[Double] = {
    val binW = (hi - lo) / nBins
    val bin = least(greatest(
      floor((col(valueCol) - lit(lo)) / lit(binW)), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("int")
    val counts = df.groupBy(bin.as("b")).count()
      .collect().map(r => r.getAs[Int]("b") -> r.getAs[Long]("count")).toMap
    val total = counts.values.sum.toDouble
    (0 until nBins).map(i => counts.getOrElse(i, 0L) / total)
  }

  /** Stateful exact dedup on a key with bounded state: duplicates arriving
    * within the watermark horizon are dropped exactly; the watermark lets
    * Spark expire state for old keys (`dropDuplicatesWithinWatermark`
    * semantics — at-least-once upstream becomes effectively-once here).
    */
  def dedupByKey(
      events: DataFrame,
      keys: Seq[String] = Seq("event_id"),
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-stream inner join with watermarks and a time-bound condition
    * (SURVEY §2B joins row): match each left event to right events of the
    * same user within `window` AFTER it. Both watermarks + the time bound
    * let Spark expire join state — unbounded state otherwise.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      watermark: String = "10 minutes",
      joinWindow: String = "15 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"), col("ts").as("r_ts"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $joinWindow") &&
        col("l_id") =!= col("r_id"))
      .select(col("user_id"), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** Stream-STATIC join: enrich each arriving event with a dimension
    * table — the most common production join, and the cheap one: the
    * static side needs no watermark and holds no join state (it is
    * re-planned per micro-batch, broadcast when small), so this scales
    * with the dimension size, not the stream's history. Contrast with
    * the stream-stream joins above, whose state is watermark-bounded.
    */
  def streamStaticJoin(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** LEFT OUTER stream-stream join: like [[streamStreamJoin]], but a
    * left event with no partner inside the join window is still emitted
    * (right columns null) once the watermark proves no partner can
    * arrive anymore. This is the "unmatched detection" shape — orders
    * with no payment within 15 minutes — which an inner join cannot
    * express: the null row IS the signal, and its emission time is
    * watermark-bounded, exactly how Spark bounds the join state that a
    * 100 TB stream would otherwise accumulate forever.
    */
  def streamStreamLeftJoin(
      left: DataFrame,
      right: DataFrame,
      watermark: String = "10 minutes",
      joinWindow: String = "15 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"), col("ts").as("r_ts"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $joinWindow") &&
        col("l_id") =!= col("r_id"),
      "leftOuter")
      .select(col("user_id"), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** Streaming near-duplicate FLAGGING of a document stream — the ingest
    * twin of the batch MinHash+LSH dedup (queries/Dedup.q41): each
    * arriving document is shingle-hashed and MinHash-signed by the
    * native expressions (pure map, no shuffle), exploded into its LSH
    * band buckets, and compared against the signatures previously seen
    * in each bucket via `flatMapGroupsWithState` — per-bucket state is
    * the signature list of that bucket's historical documents. A
    * signature-agreement hit ≥ `estThreshold` emits a flag
    * `(doc_id, dup_of, est)`; a miss admits the document into bucket
    * state. State persists across micro-batches, so a near-copy arriving
    * hours after the original is still caught.
    *
    * This is the candidate-flag stage of production streaming dedup: the
    * flag stream is at-least-once per band (a duplicate pair can be
    * flagged by several bands — consumers take `anyFlag(doc_id)`), and
    * exact verification of flagged pairs runs downstream exactly like
    * the batch family's verify step. State per bucket is capped at
    * `maxPerBucket` signatures (oldest kept — at 100 TB the bucket key
    * space scales with the corpus while each bucket stays tiny; pair a
    * production deployment with a state-TTL timeout to bound the total).
    */
  def nearDupFlags(
      docs: DataFrame,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      estThreshold: Double = 0.5,
      maxPerBucket: Int = 64): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    graft.GraftExtensions.register(s)
    val banded = docs
      .withColumn("sig",
        call_function("minhash_signature", call_function("word_shingle_hashes", col("text"))))
      .select(col("doc_id").cast("long").as("doc_id"), col("sig"),
        explode(expr(
          s"""transform(sequence(0, ${bands - 1}),
             |  b -> struct(b AS band,
             |       xxhash64(slice(sig, b*$rowsPerBand+1, $rowsPerBand)) AS bucket))""".stripMargin))
          .as("bb"))
      .select($"doc_id", $"bb.band", $"bb.bucket", $"sig")
      .as[(Long, Int, Long, Seq[Long])]
    banded
      .groupByKey(r => (r._2, r._3)) // one state cell per (band, bucket)
      .flatMapGroupsWithState[Seq[(Long, Seq[Long])], (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          var seen = state.getOption.getOrElse(Seq.empty)
          val out = Seq.newBuilder[(Long, Long, Double)]
          // deterministic intra-batch order: earliest doc id is the
          // original, later ones the candidate duplicates
          rows.toSeq.sortBy(_._1).foreach { case (docId, _, _, sig) =>
            // prevId != docId: an at-least-once upstream can re-deliver a
            // document; it must not be flagged as a duplicate of itself
            val hit = seen.iterator
              .filter(_._1 != docId)
              .map { case (prevId, prevSig) =>
                var agree = 0
                var i = 0
                val n = math.min(prevSig.length, sig.length)
                while (i < n) { if (prevSig(i) == sig(i)) agree += 1; i += 1 }
                (prevId, agree.toDouble / math.max(n, 1))
              }
              .filter(_._2 >= estThreshold)
              .foldLeft(Option.empty[(Long, Double)]) { (best, cur) =>
                if (best.forall(_._2 < cur._2)) Some(cur) else best
              }
            hit match {
              case Some((prevId, est)) => out += ((docId, prevId, est))
              case None =>
                // membership check also covers re-delivery of a unique doc
                if (seen.size < maxPerBucket && !seen.exists(_._1 == docId))
                  seen = seen :+ ((docId, sig))
            }
          }
          state.update(seen)
          out.result().iterator
      }
      .toDF("doc_id", "dup_of", "est")
  }

  /** Per-user activity profile processor for [[userActivity]] — the
    * arbitrary-state v2 (`transformWithState`) lane. What this API adds
    * over flatMapGroupsWithState, demonstrated here: MULTIPLE typed
    * state variables per key (a ValueState for the running (count, sum)
    * plus a ListState for the recent-event ring — v1 forces one state
    * object, so capping a list means rewriting the whole blob), each
    * independently TTL-able, plus timers and schema evolution. State
    * lives in RocksDB (the required provider for this operator), so at
    * 100 TB key spaces state spills off-heap instead of OOMing executors.
    */
  private class UserActivityProcessor(keepLast: Int)
      extends StatefulProcessor[Long, (Long, Long, Double), (Long, Long, Double, Seq[Long])] {

    @transient private var stats: ValueState[(Long, Double)]  = _
    @transient private var recent: ListState[Long]            = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      stats = getHandle.getValueState[(Long, Double)]("stats",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
      recent = getHandle.getListState[Long]("recent", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Double, Seq[Long])] = {
      var (n, sum) = if (stats.exists()) stats.get() else (0L, 0.0)
      // deterministic intra-batch order (same discipline as sequenceNumbers)
      rows.toSeq.sortBy(_._2).foreach { case (_, eventId, v) =>
        n += 1; sum += v
        recent.appendValue(eventId)
      }
      val all = recent.get().toSeq
      val capped = all.takeRight(keepLast)
      if (capped.length != all.length) recent.put(capped.toArray)
      stats.update((n, sum))
      Iterator.single((user, n, sum, capped))
    }
  }

  /** Per-user running activity via the Spark 4 arbitrary-state v2 API
    * (`transformWithState`): emits one (user_id, n_events, sum_value,
    * recent_event_ids) row per user per micro-batch, with the running
    * totals in a ValueState and the last-`keepLast` event ids in a
    * ListState. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — the v2 operator does not
    * run on the default HDFS-backed store.
    */
  def userActivity(events: DataFrame, keepLast: Int = 3): DataFrame = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("value").cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserActivityProcessor(keepLast),
        TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "n_events", "sum_value", "recent_event_ids")
  }

  /** Per-user running counter via custom state (the
    * `flatMapGroupsWithState` lane for logic windows/aggs can't express):
    * emits (user_id, event_id, seq_no) with a monotonically increasing
    * per-user sequence, state = one long per key. Production pipelines
    * with unbounded key spaces should pass an event-time timeout (with a
    * watermark on the input) so idle keys expire; NoTimeout keeps state
    * for every key seen.
    */
  def sequenceNumbers(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val typed = events.select(col("user_id").cast("long"), col("event_id").cast("long"))
      .as[(Long, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          var seq = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).map { case (_, eventId) =>
            seq += 1; (user, eventId, seq)
          }
          state.update(seq)
          out.iterator
      }
      .toDF("user_id", "event_id", "seq_no")
  }

  /** Streaming OHLC bars — the q169 batch twin as one watermarked
    * tumbling-window aggregation: per (event_type, window) the
    * chronological open/close (min/max_by on the (ts, event_id) order
    * key, deterministic under ties) plus high/low/count. State is one
    * row per open window per type, watermark-bounded; the only shuffle
    * keys on (type, window).
    */
  def ohlcBars(
      events: DataFrame,
      watermark: String = "10 minutes",
      width: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))

  /** Streaming burst flags — the q186 batch twin: users whose event
    * count inside one tumbling window reaches `threshold`, emitted as
    * they close. The (user, window) aggregation is the single stateful
    * shuffle; the filter is stateless on its output. The batch audit
    * answers "who EVER burst"; this lane answers "who is bursting NOW"
    * for rate limiting at ingest time.
    */
  def burstFlags(
      events: DataFrame,
      watermark: String = "10 minutes",
      width: String = "1 hour",
      threshold: Long = 3L): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") >= threshold)
      .select(col("window.start").as("window_start"), col("user_id"),
        col("n_events"))

  /** Streaming control band — q211's Bollinger twin at ingest time:
    * per event type, each closed time bucket's count compares against
    * the trailing `trail` closed buckets' mean ± 2σ (exact integer
    * sufficient statistics in state, the band math one double per
    * emission). State per key = the open bucket's running count + the
    * trailing deque of closed counts (bounded by `trail`); a bucket
    * CLOSES when a later bucket's first event arrives — the
    * ingest-time discipline `burstFlags` documents (an event-time
    * version would hang emission on the watermark instead). Emits one
    * row per closed bucket: (event_type, bucket_start, n, nw,
    * trail_mean, above, below).
    */
  def controlBand(events: DataFrame, widthUs: Long = 3600L * 1000000L,
      trail: Int = 7): DataFrame = {
    import events.sparkSession.implicits._
    val typed = events
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .as[(String, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, List[Long]), (String, Long, Long, Long, Double, Boolean, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (typ: String, rows: Iterator[(String, Long)],
         state: GroupState[(Long, Long, List[Long])]) =>
          // state: (open bucket id, open count, trailing closed counts)
          var (openB, openN, closed) =
            state.getOption.getOrElse((Long.MinValue, 0L, List.empty[Long]))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Double, Boolean, Boolean)]
          def close(): Unit = if (openB != Long.MinValue) {
            val nw = closed.length.toLong
            if (nw > 0) {
              val mean = closed.sum.toDouble / nw
              val sd = math.sqrt(
                closed.map(x => x.toDouble * x).sum / nw - mean * mean)
              out += ((typ, openB * widthUs, openN, nw, mean,
                openN > mean + 2 * sd, openN < mean - 2 * sd))
            }
            closed = (closed :+ openN).takeRight(trail)
          }
          rows.toSeq.map(_._2).sorted.foreach { us =>
            val b = us / widthUs
            if (b != openB) {
              if (b < openB) () // late event for a closed bucket: dropped
              else { close(); openB = b; openN = 0L }
            }
            if (us / widthUs == openB) openN += 1
          }
          state.update((openB, openN, closed))
          out.iterator
      }
      .toDF("event_type", "bucket_start_us", "n", "nw", "trail_mean",
        "above", "below")
  }

  /** Per-user clamped ledger processor for [[clampedBalance]] — the
    * streaming twin of q199's batch fold: one ValueState long per user
    * carries the balance across micro-batches, each batch's events
    * apply `bal ← clamp(bal + Δ, 0, cap)` in (us, event_id) order, and
    * every event's post-update balance is emitted. State is ONE long
    * per key (RocksDB-backed), so an unbounded user space stays
    * off-heap.
    */
  private class BalanceProcessor(capCents: Long)
      extends StatefulProcessor[Long, (Long, Long, Long, Long), (Long, Long, Long)] {

    @transient private var bal: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bal = getHandle.getValueState[Long]("bal", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var b = if (bal.exists()) bal.get() else 0L
      // (user, us, event_id, delta) sorted like the batch fold's sort_array
      val out = rows.toSeq.sortBy(r => (r._2, r._3)).map { case (_, _, eid, delta) =>
        b = math.min(math.max(b + delta, 0L), capCents)
        (user, eid, b)
      }
      bal.update(b)
      out.iterator
    }
  }

  /** Streaming clamped running balance (q199's twin): per-user ledger
    * state via `transformWithState`, emitting (user_id, event_id,
    * balance_cents) per event with the same clamp law as the batch
    * fold — a batch replay and the incremental stream agree exactly
    * (pinned in EventStreamsSpec). Requires the RocksDB state store
    * provider, like [[userActivity]].
    */
  def clampedBalance(events: DataFrame, capCents: Long = 20000L): DataFrame = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("us"),
        col("event_id").cast("long"),
        when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(lit(-100L)).as("delta"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new BalanceProcessor(capCents),
        TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "event_id", "balance_cents")
  }

  /** Per-fingerprint index processor for [[streamingDedup]] — the
    * ingest-shaped twin of q101's batch merge: the fp→(owner, count)
    * index lives as PER-KEY state (two longs in RocksDB) instead of a
    * persisted parquet table, and each micro-batch is checked against
    * it with no corpus-sized work at all. A key emits one row per
    * batch it appears in: the running count plus `is_new` marking the
    * batch that created it (the survivor emission).
    */
  private class DedupIndexProcessor
      extends StatefulProcessor[String, (String, Long), (String, Long, Long, Boolean)] {

    @transient private var owner: ValueState[Long] = _
    @transient private var count: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      owner = getHandle.getValueState[Long]("owner", Encoders.scalaLong, TTLConfig.NONE)
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        fp: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long, Boolean)] = {
      val ids = rows.map(_._2).toSeq.sorted // deterministic intra-batch order
      val isNew = !owner.exists()
      val own = if (isNew) ids.head else owner.get()
      val n = (if (count.exists()) count.get() else 0L) + ids.size
      if (isNew) owner.update(own)
      count.update(n)
      Iterator.single((fp, own, n, isNew))
    }
  }

  /** Streaming incremental exact dedup (q101's ingest twin): documents
    * arrive as an unbounded stream, each micro-batch is fingerprinted
    * and checked against the PERSISTED index — here per-key
    * `transformWithState` state rather than q101's parquet index
    * table — and survivors (first corpus-wide occurrence) are exactly
    * the `is_new` rows. Per-batch cost is O(batch + touched keys):
    * the exact shape a 100 TB continuous ingest runs, with the index
    * sharded across executors in RocksDB and restored from the
    * checkpoint on restart (restart safety pinned in
    * EventStreamsSpec: a re-crawled text after a kill/restart is NOT
    * re-emitted as a survivor). Batch ≡ stream law: replaying any
    * batch partition of a corpus in doc_id order yields q101's
    * one-shot answer — same survivors, same final counts.
    */
  def streamingDedup(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(md5(col("text")).as("fp"), col("doc_id").cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new DedupIndexProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("fp", "owner_doc", "n_copies", "is_new")
  }

  /** Per-gram train-membership flag for [[streamingContamination]]:
    * state exists iff SOME train document has carried this L-gram —
    * the persisted fingerprint index, bounded by the number of
    * distinct TRAIN grams (eval-only grams write nothing). Eval rows
    * of a gram emit whenever the flag is set by this batch or any
    * earlier one; emission order is sorted (doc, pos) so replays are
    * deterministic.
    */
  private class ContamIndexProcessor
      extends StatefulProcessor[String, (String, Long, String, Long), (Long, String, Long)] {

    @transient private var trainSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      trainSeen = getHandle.getValueState[Long]("train", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        h: String,
        rows: Iterator[(String, Long, String, Long)],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      val rs = rows.toSeq
      val hasTrain = rs.exists(_._3 == "train")
      val known = trainSeen.exists()
      if (hasTrain && !known) trainSeen.update(1L)
      if (known || hasTrain)
        rs.filter(_._3 != "train").sortBy(r => (r._2, r._4))
          .iterator.map(r => (r._2, r._3, r._4))
      else Iterator.empty
    }
  }

  /** Streaming substring contamination — the ingest twin of
    * q246SplitContamination (the strict GPT-3/Pile decontamination
    * standard): as documents arrive, each is cut into stride-1
    * L-token grams keyed by md5 (16-byte keys, never gram text);
    * train docs' grams build a PERSISTED fingerprint index (RocksDB
    * `transformWithState` state, one flag per distinct train gram),
    * and each val/test doc's grams probe it AT ARRIVAL — one row
    * (doc_id, split, pos) per contaminated gram occurrence, exactly
    * the per-gram evidence q246 aggregates. Inherently prospective:
    * an eval doc is flagged against the train grams ingested up to
    * and including its own micro-batch (a later-arriving train doc
    * does not retro-flag — re-run the batch audit q246 for the
    * retrospective answer). Batch ≡ stream law (EventStreamsSpec):
    * replaying train docs before eval docs reproduces q246's
    * per-doc gram and coverage counts exactly; the index survives a
    * kill/restart.
    *
    * At 100 TB: per-batch cost is O(batch grams) with ONE shuffle
    * keyed by gram hash; state is bounded by distinct train grams,
    * sharded across executors in RocksDB — the same shape as
    * [[streamingDedup]] one granularity down.
    *
    * Input schema: (doc_id, text, split) with split ∈
    * {train, val, test}; L defaults to the batch audit's
    * [[graft.queries.Dedup.SubstrL]] = 8.
    */
  def streamingContamination(docs: DataFrame, L: Int = 8): DataFrame = {
    import docs.sparkSession.implicits._
    graft.GraftExtensions.register(docs.sparkSession)
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("split"),
        posexplode(call_function("word_ngrams", col("text"), lit(L)))
          .as(Seq("p", "g")))
      .select(md5(col("g")).as("h"), col("doc_id"), col("split"),
        col("p").cast("long").as("pos"))
      .as[(String, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new ContamIndexProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("doc_id", "split", "pos")
  }

  /** Per-segment first-occurrence flag for [[streamingSegmentDedup]]:
    * state exists iff SOME earlier batch (or an earlier row of this
    * batch) carried this segment hash — one RocksDB flag per distinct
    * segment, the CCNet fingerprint index as stream state. Within a
    * batch, rows sort by (doc_id, seg_no) so the keeper is the same
    * globally-first instance q286 picks when batches replay the corpus
    * in doc_id order; every instance is emitted with its keep verdict
    * so the per-batch reassembly sees all segments of every document.
    */
  private class SegmentDedupProcessor
      extends StatefulProcessor[Array[Byte], (Array[Byte], Long, Long, String), (Long, Long, String, Boolean)] {

    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        h: Array[Byte],
        rows: Iterator[(Array[Byte], Long, Long, String)],
        timerValues: TimerValues): Iterator[(Long, Long, String, Boolean)] = {
      val rs = rows.toSeq.sortBy(r => (r._2, r._3)) // deterministic keeper
      val known = seen.exists()
      if (!known) seen.update(1L)
      rs.iterator.zipWithIndex.map { case (r, i) =>
        (r._2, r._3, r._4, !known && i == 0)
      }
    }
  }

  /** Streaming CCNet duplicate-SEGMENT removal — the ingest twin of
    * q286 (`graft.queries.Dedup.q286SegmentDedup`): documents arrive as
    * an unbounded stream, each is cut into non-overlapping W-word
    * segments, and every segment probes a PERSISTED first-occurrence
    * index (md5(segment) → flag in `transformWithState` RocksDB state —
    * never the text) AT ARRIVAL. Output is one row per segment
    * instance (doc_id, seg_no, s, keep); q286's
    * [[graft.queries.Dedup.reassembleSegments]] folds a
    * micro-batch of these back into cleaned documents — documents
    * arrive whole, so reconstruction is batch-local and rides
    * foreachBatch ([[streamSegmentDedupToParquet]] is the composed
    * end-to-end query). Batch ≡ stream law (EventStreamsSpec):
    * replaying the corpus in doc_id order reproduces q286's cleaned
    * documents exactly. Inherently prospective, like
    * [[streamingContamination]]: the keeper is the first ARRIVAL, which
    * equals q286's global (doc_id, seg_no) min whenever arrival order
    * respects doc_id.
    *
    * At 100 TB: per-batch cost is O(batch segments) with ONE shuffle
    * keyed by segment hash (fixed 32-byte keys); state is bounded by
    * distinct segments, sharded across executors in RocksDB — the
    * [[streamingDedup]] shape one granularity down, which is exactly
    * how CCNet ran it (hash shards over the dump, Wenzek et al. 2019
    * §2.1, streamed here instead of re-scanned).
    */
  def streamingSegmentDedup(docs: DataFrame, w: Int = 16): DataFrame = {
    import docs.sparkSession.implicits._
    graft.GraftExtensions.register(docs.sparkSession)
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        posexplode(call_function("word_windows", col("text"), lit(w)))
          .as(Seq("p", "s")))
      // 16-byte unhex(md5) state key, changed in the SAME commit as the
      // batch twin's shuffle key (r17): half the RocksDB key bytes and
      // shuffle width, identical collision structure (unhex∘md5 is
      // injective on md5 output), batch ≡ stream law re-run
      .select(unhex(md5($"s")).as("h"), $"doc_id",
        ($"p" + 1).cast("long").as("seg_no"), $"s")
      .as[(Array[Byte], Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new SegmentDedupProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("doc_id", "seg_no", "s", "keep")
  }

  /** The composed end-to-end query: stream in documents, dedup
    * segments against the persisted index, land cleaned documents as
    * parquet — reconstruction inside foreachBatch, so a batch commits
    * only after its cleaned docs are durable.
    */
  def streamSegmentDedupToParquet(docs: DataFrame, outPath: String,
      checkpoint: String, w: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    streamingSegmentDedup(docs, w).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.queries.Dedup.reassembleSegments(batch.toDF())
          .write.mode("append").parquet(outPath)
      }
      .start()

  /** Streaming CCNet per-segment LM quality filtering — q294's ingest
    * twin, and CCNet's actual deployment form (Wenzek et al. 2019
    * §2.3: score incoming documents against a FROZEN reference-corpus
    * LM, not a model retrained per batch). The frozen
    * [[graft.queries.LangModel.SegQualityModel]] (bigram tables +
    * median threshold) is trained once via `segQualityTrain`; each
    * micro-batch is then scored STATELESSLY — per-segment add-one
    * bigram log-probability against the frozen tables, drop below the
    * frozen median, reassemble per document — inside foreachBatch, so
    * a batch commits only after its cleaned docs are durable. No
    * streaming state at all (unlike [[streamingSegmentDedup]]'s
    * first-occurrence index): given the model, a document's verdicts
    * depend on nothing outside the document, which is what makes the
    * lane embarrassingly shardable at 100 TB ingest. Batch ≡ stream
    * law (EventStreamsSpec): replaying the training corpus through
    * this query reproduces q294's one-shot output exactly.
    */
  def streamSegmentQualityToParquet(docs: DataFrame,
      model: graft.queries.LangModel.SegQualityModel, outPath: String,
      checkpoint: String, w: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.queries.LangModel.segmentQualityFilterBatch(model, batch.toDF(), w)
          .write.mode("append").parquet(outPath)
      }
      .start()

  /** Streaming KN-4 perplexity filtering against a LOADED persisted
    * model — the q295 serving path as continuous ingest, and the
    * full deployment loop closed: q290 trains, q291/kn4Export ships
    * the ARPA split, this lane scores ARRIVING documents against the
    * loaded tables ([[graft.queries.LangModel.kn4ScoreBatch]], the
    * stored-else-backoff rule) and stamps a keep verdict at the
    * caller's frozen avg-logprob threshold. Stateless given the
    * model — foreachBatch, batch commits after its scores are
    * durable. Batch ≡ stream law (EventStreamsSpec): replaying the
    * eval fold reproduces q295's scores exactly. Documents with an
    * out-of-model level-3 type score NULL (keep = false) — the
    * closed-vocabulary treatment is q293's lane; a deployment
    * composes both.
    */
  def streamKn4PerplexityToParquet(docs: DataFrame,
      model: graft.queries.LangModel.Kn4ServedModel, threshold: Float,
      outPath: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.queries.LangModel.kn4ScoreBatch(model, batch.toDF())
          .withColumn("keep",
            col("avg_logprob_kn4").isNotNull &&
              col("avg_logprob_kn4") >= lit(threshold))
          .write.mode("append").parquet(outPath)
      }
      .start()

  /** Per-shard space-saving table for [[heavyHitters]] — Metwally et
    * al. 2005's bounded-memory top-k summary as `MapState`: at most
    * `capacity` (word → (count, overcount)) entries per shard in
    * RocksDB. A new word beyond capacity evicts the (count, word)-min
    * entry and inherits its count as both estimate floor and recorded
    * overcount — the classic guarantees hold per shard: estimate ≥
    * true ≥ estimate − overcount, and any word with true count >
    * batchTotal/capacity is present. The shard batch is first
    * pre-aggregated to (word, count) — so per-batch memory is bounded
    * by the batch's DISTINCT vocabulary, never its token count — and
    * applied in sorted word order, which is bit-identical to the
    * sorted-token order (grouped updates telescope; see
    * [[SpaceSaving.ingest]]), so replays reproduce identical tables;
    * each batch emits the shard's full table snapshot.
    */
  private class SpaceSavingProcessor(capacity: Int)
      extends StatefulProcessor[Long, (Long, String), (Long, String, Long, Long)] {

    @transient private var tblState: MapState[String, (Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      tblState = getHandle.getMapState[String, (Long, Long)]("tbl",
        Encoders.STRING, Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(
        shard: Long,
        rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, String, Long, Long)] = {
      val tbl: SpaceSaving.Table = scala.collection.mutable.Map.empty
      tblState.iterator().foreach { case (k, v) => tbl(k) = v }
      val counts = scala.collection.mutable.Map.empty[String, Long]
      rows.foreach { r => counts(r._2) = counts.getOrElse(r._2, 0L) + 1L }
      counts.toSeq.sortBy(_._1).foreach { case (w, c) =>
        SpaceSaving.ingest(tbl, w, c, capacity).foreach(tblState.removeKey)
      }
      tbl.foreach { case (k, v) => tblState.updateValue(k, v) }
      tbl.toSeq.sortBy(_._1)
        .iterator.map { case (w, (c, e)) => (shard, w, c, e) }
    }
  }

  /** Streaming heavy hitters over the document token stream — the
    * bounded-memory frequent-items summary a 100 TB continuous ingest
    * keeps instead of an unbounded word count: words shard by hash (a
    * word lives in exactly ONE shard, so per-shard space-saving error
    * bounds are per-word bounds), each shard maintains a
    * capacity-bounded table in RocksDB `MapState`, and every
    * micro-batch emits the shard's table snapshot
    * (shard, word, count_est, overcount_max). Full-capacity ⇒ exact
    * (the q71 grading discipline): with capacity ≥ per-shard
    * vocabulary the tables are exact streaming word counts and a
    * batch `groupBy(word).count` reproduces them — the batch ≡ stream
    * law pinned in EventStreamsSpec alongside the bounded-capacity
    * error-bound law. The SAME ingest/merge core is also the
    * registered, oracle-gated batch query q269 (TextOps
    * .q269SpaceSaving), completing the mergeable-sketch trio's oracle
    * anchoring (q242 HLL, q257 CMS, q269 SpaceSaving).
    */
  def heavyHitters(docs: DataFrame, capacity: Int = 1 << 16,
      shards: Int = 8): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .select(pmod(xxhash64(col("w")), lit(shards)).cast("long").as("shard"),
        col("w"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new SpaceSavingProcessor(capacity),
        TimeMode.None(), OutputMode.Append())
      .toDF("shard", "word", "count_est", "overcount_max")
  }

  /** Re-shard heavy-hitter table snapshots onto `newShards` shards —
    * the operation a cluster resize needs. Each word moves to
    * `pmod(xxhash64(word), newShards)`. Because [[heavyHitters]] puts
    * every word in exactly ONE old shard, the entries arriving at a
    * new shard summarize DISJOINT token streams: a word absent from
    * another old shard's table was truly absent from that shard's
    * stream (count 0), not evicted, so no cross-table floor is owed
    * and the combine is a plain union (the fa = fb = 0 case of
    * [[SpaceSaving.merge]]). The union is then re-bounded to the
    * `capacity` largest estimates per new shard; surviving entries
    * keep their exact (count_est, overcount_max), so the per-word
    * bounds est ≥ true ≥ est − overcount carry over verbatim — the
    * law EventStreamsSpec pins against exact re-sharded truth.
    *
    * [[heavyHitters]] emits a FULL table snapshot every micro-batch
    * (append mode), so a caller that feeds several epochs would see
    * the same word several times; rather than silently double-count
    * capacity slots, duplicates are collapsed to the word's LATEST
    * snapshot entry first (per-word counts are monotone across
    * epochs, so max(count_est) — ties resolved by the paired
    * overcount — is exactly the newest row). For the documented
    * single-snapshot input the collapse is an identity.
    *
    * Scale shape: two shuffles over capacity-BOUNDED frames (input ≤
    * oldShards × capacity × epochs rows, independent of corpus
    * size): the per-word collapse, then the new-shard rank
    * (WindowGroupLimit prunes map-side). For tables over the SAME
    * stream (replicas, not epochs) use [[SpaceSaving.merge]], which
    * owes the eviction floors.
    */
  /** One CMS register per grouping key (coord = row·width + bucket):
    * a single Long `ValueState` that each batch increments by the
    * key's arrival count — increments are commutative integers, so
    * replay order cannot change a register and restarts are exact.
    */
  private class CmsRegisterProcessor
      extends StatefulProcessor[Long, Long, (Long, Long, Long)] {

    @transient private var reg: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      reg = getHandle.getValueState[Long]("reg", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(
        coord: Long,
        rows: Iterator[Long],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var add = 0L
      rows.foreach(_ => add += 1L)
      val nv = (if (reg.exists()) reg.get() else 0L) + add
      reg.update(nv)
      Iterator.single((coord / graft.queries.Analytic.CmsWidth,
        coord % graft.queries.Analytic.CmsWidth, nv))
    }
  }

  /** Streaming Count-Min sketch over the document token stream — the
    * ingest twin of the batch q257 (same md5-slice hash family, same
    * 4x512 register plane), and the counting complement of
    * [[heavyHitters]]: SpaceSaving keeps the top-k WORDS in bounded
    * space; CMS keeps a fixed-size register plane answering point
    * frequency queries for EVERY word with one-sided error. Each
    * micro-batch emits the new values of the registers it touched;
    * registers only grow, so the latest (max) emission per register IS
    * the table — the batch ≡ stream law EventStreamsSpec pins against
    * an independent reference sketch.
    *
    * State is 2048 Longs REGARDLESS of corpus size — the streaming
    * operator whose memory truly never grows. Per batch: one shuffle
    * of the depth-x fan-out keyed by register coordinate (2048 keys,
    * same cost class as [[heavyHitters]]' word shuffle), per-key
    * combine inside the processor. Registers from disjoint streams
    * merge by element-wise sum (CmsSpec law), so per-shard /per-day
    * sketches roll up without replay.
    */
  def streamingCms(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val depth = graft.queries.Analytic.CmsDepth
    val width = graft.queries.Analytic.CmsWidth
    docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .select(explode(sequence(lit(0L), lit(depth - 1L))).as("i"), col("word"))
      .select((col("i") * width +
        graft.queries.Analytic.cmsBucket(col("word"), col("i"))).as("coord"))
      .as[Long]
      .groupByKey(identity)
      .transformWithState(new CmsRegisterProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("i", "bucket", "reg")
  }

  /** One HLL register per grouping key: a Long `ValueState` holding
    * the max ρ seen — max is idempotent AND commutative, so replays,
    * duplicates, and restarts cannot move a register wrongly.
    */
  private class HllRegisterProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {

    @transient private var reg: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      reg = getHandle.getValueState[Long]("reg", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(
        idx: Long,
        rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      var mx = if (reg.exists()) reg.get() else 0L
      rows.foreach { r => if (r._2 > mx) mx = r._2 }
      reg.update(mx)
      Iterator.single((idx, mx))
    }
  }

  /** Streaming HyperLogLog registers over the document trigram stream
    * — the ingest twin of the batch q242 sketch (same md5 hash, same
    * mod-64 register, same bin()-length ρ), completing the mergeable-
    * sketch streaming trio: [[heavyHitters]] (SpaceSaving, top-k),
    * [[streamingCms]] (counts), and this (distinct count). State is 64
    * Longs forever; registers are max-monotone so the latest emission
    * per register IS the sketch, duplicates and replays are free
    * (max is idempotent — the property HLL is built on), and
    * registers from disjoint streams merge by element-wise MAX (the
    * q247 set-algebra law). Per batch: one shuffle of (idx, ρ) rows
    * onto 64 keys, max-combined in the processor.
    */
  def streamingHll(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val m = 64
    val n2 = size(col("ws")) - 2
    val sh = docs
      .select(split(col("text"), " ").as("ws"))
      .select(explode(zip_with(
        slice(col("ws"), lit(1), n2),
        zip_with(slice(col("ws"), lit(2), n2), slice(col("ws"), lit(3), n2),
          (b, c) => concat(b, lit(" "), c)),
        (a, bc) => concat(a, lit(" "), bc))).as("g"))
    val hv = conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long")
    sh.select((hv % m).as("idx"), shiftright(hv, 6).as("tail"))
      .select(col("idx"),
        when(col("tail") === 0L, lit(55L))
          .otherwise(lit(55L) - length(bin(col("tail"))).cast("long")).as("rho"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new HllRegisterProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("idx", "reg")
  }

  def reshardHeavyHitters(tables: DataFrame, newShards: Int,
      capacity: Int = 1 << 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("count_est").desc, col("word"))
    tables
      .groupBy(col("word"))
      .agg(max(struct(col("count_est"), col("overcount_max"))).as("s"))
      .select(pmod(xxhash64(col("word")), lit(newShards)).cast("long").as("shard"),
        col("word"), col("s.count_est").as("count_est"),
        col("s.overcount_max").as("overcount_max"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= capacity)
      .select(col("shard"), col("word"), col("count_est"), col("overcount_max"))
  }
}
