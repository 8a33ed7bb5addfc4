package graft.streaming

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{DataType, MapType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}

import graft.model.Op
import graft.route.TopicRouter

/** Fused, codegen-resident pipeline metrics — the O17 counters
  * (reference `kafka/producer/metric.go:12-111`: counter bumps per
  * processed message) WITHOUT a `CollectMetrics` node.
  *
  * Why: `Dataset.observe`'s CollectMetricsExec does not participate in
  * whole-stage codegen, so ONE observe call splits the serializer
  * pipeline into two codegen stages and evaluates its aggregate
  * expressions interpreted per row. Measured on the envelope lane
  * (sf0.1, 600k rows): envelope 1.94s → envelope+observe 3.88s, and a
  * bare `observe(count(1))` alone costs 3.27s — the node itself, not
  * the metric expressions, is the overhead. The reference's metrics
  * are plain counter increments and must be ~free.
  *
  * This probe is a native pass-through [[Expression]] attached as a
  * projection (see [[attach]]; never folded or eliminated: it declares
  * itself non-deterministic). Its generated code is one static-shaped
  * call per row into [[PipelineProbe.update]], which bumps per-task
  * Spark accumulator copies — plain field increments, merged to the
  * driver by the standard accumulator protocol (exactly how SQLMetrics
  * travel). The whole scan→probe→serializer pipeline stays ONE fused
  * codegen stage; at 1000 executors the counters still flow through
  * task-completion accumulator merges, no extra pass, no shuffle, no
  * stage break.
  *
  * Delivery: the owning [[graft.app.Connector]]'s query-scoped
  * listener calls [[drainInto]] at each of its query's
  * StreamingQueryProgress events, which moves the per-batch DELTAS of
  * the driver-side accumulators into the [[MetricsRegistry]] (events,
  * process latency, quality violations, per-topic successes).
  *
  * Counter semantics — AT-LEAST-ONCE, inflate-never-lose (pinned by
  * MetricsSpec's retry-injection test): updates from FAILED task
  * attempts are dropped by Spark's accumulator protocol (user
  * accumulators don't countFailedValues), so a plain task retry counts
  * each row exactly once. What CAN inflate the counters is a re-run of
  * a previously SUCCESSFUL task — stage resubmission after a lost
  * shuffle output, or speculative twins that both complete. That
  * matches the reference connector's own counters, which re-count a
  * message whenever the process reprocesses it after a restart
  * (`metric.go` bumps per handled message, and redelivered WAL entries
  * are handled again); treat absolute counter values as throughput
  * telemetry, not an exactly-once ledger — the exactly-once ledger is
  * the sink itself.
  */
final class PipelineProbe(
    @transient private val sc: SparkContext,
    router: TopicRouter,
    keyField: String,
    name: String = "graft") extends Serializable {

  val events = new LongAccumulator
  val unknownOp = new LongAccumulator
  val unroutableTable = new LongAccumulator
  val nullKey = new LongAccumulator
  val latency = new LatestLatencyAccumulator
  val topics = new TopicCountAccumulator

  locally {
    sc.register(events, s"$name.events")
    sc.register(unknownOp, s"$name.quality.unknown_op")
    sc.register(unroutableTable, s"$name.quality.unroutable_table")
    sc.register(nullKey, s"$name.quality.null_key")
    sc.register(latency, s"$name.process_latency")
    sc.register(topics, s"$name.topic_writes")
  }

  /** Attach the pre-handler probe (events + quality + latency) to a
    * ChangeEvent-schema frame. The probe rides as a PASS-THROUGH
    * projection wrapping `op` — not a filter: the optimizer pushes any
    * filter below a deterministic Project by SUBSTITUTING aliases into
    * the predicate, which re-built the row-image maps twice per row
    * (measured: the whole +1.3s observed on the first probe attempt was
    * that duplicated `map(...)`). The probe call itself is free: the
    * ~0.8 s of a ~2.7 s snapshot pass that perfbench's prefix ablation
    * still charged to it was a per-query RECOMPILE — the snapshot's
    * folded `eventTime` literal was inlined into the generated
    * `update(...)` call, so every query compiled its stage anew and ran
    * on cold JIT code. [[graft.functions.QueryConstant]] keeps the
    * stamp out of the source text.
    * Project-over-Project collapsing refuses to duplicate a
    * non-deterministic or multi-use non-cheap alias, so the maps stay
    * computed ONCE below and every downstream consumer reads the probed
    * `op` attribute.
    */
  def attach(events: DataFrame): DataFrame = {
    val children = Seq("op", "tableNamespace", "tableName", "eventTime",
      "oldData", "newData").map(f => UnresolvedAttribute(Seq(f)))
    events.withColumn("op",
      PipelineProbe.column(PipelineProbeExpr(children, this)))
  }

  /** Attach the post-handler per-topic success counter to a
    * sink-contract frame — the same pass-through-projection shape,
    * wrapping `topic`.
    */
  def attachSink(records: DataFrame): DataFrame =
    records.withColumn("topic", PipelineProbe.column(
      TopicProbeExpr(UnresolvedAttribute(Seq("topic")), this)))

  // ---- per-row executor-side update (runs on per-task accumulator
  // copies; single-threaded within a task, so the caches are safe) ----

  @transient private lazy val opU8: Array[UTF8String] =
    Array(Op.Insert, Op.Update, Op.Delete, Op.Snapshot, Op.Truncate)
      .map(UTF8String.fromString)
  @transient private lazy val keyU8: UTF8String = UTF8String.fromString(keyField)

  // single-entry fast path + small map behind it: CDC batches touch few
  // tables, so routing resolution (string allocs) runs per TABLE, not
  // per row
  @transient private var cacheNs: UTF8String = _
  @transient private var cacheName: UTF8String = _
  @transient private var cacheRoutable: Boolean = false
  @transient private lazy val routeCache =
    new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Boolean]]

  private def kindOf(op: UTF8String): Int = {
    if (op == null) return -1
    var i = 0
    while (i < opU8.length) {
      if (opU8(i).equals(op)) return i
      i += 1
    }
    -1
  }

  private def routable(ns: UTF8String, nm: UTF8String): Boolean = {
    if (ns == null || nm == null) return router.resolve(
      if (ns == null) "" else ns.toString, if (nm == null) "" else nm.toString).isDefined
    if (cacheNs != null && ns.equals(cacheNs) && nm.equals(cacheName)) return cacheRoutable
    var byName = routeCache.get(ns)
    var hit = if (byName == null) null else byName.get(nm)
    if (hit == null) {
      hit = java.lang.Boolean.valueOf(router.resolve(ns.toString, nm.toString).isDefined)
      if (byName == null) {
        byName = new java.util.HashMap[UTF8String, java.lang.Boolean]
        routeCache.put(ns.clone(), byName)
      }
      byName.put(nm.clone(), hit)
    }
    cacheNs = ns.clone(); cacheName = nm.clone(); cacheRoutable = hit.booleanValue()
    cacheRoutable
  }

  // rows of one table share a map layout (the image maps come from one
  // projection), so the key sits at the same slot — probe the cached
  // slot first, scan only on a layout change
  @transient private var keySlot: Int = 0

  private def keyIsNull(img: MapData): Boolean = {
    if (img == null) return true
    val keys = img.keyArray()
    val n = img.numElements()
    if (keySlot < n && keyU8.equals(keys.getUTF8String(keySlot)))
      return img.valueArray().isNullAt(keySlot)
    var i = 0
    while (i < n) {
      if (keyU8.equals(keys.getUTF8String(i))) {
        keySlot = i
        return img.valueArray().isNullAt(i)
      }
      i += 1
    }
    true // absent ≙ element_at(img, keyField) IS NULL
  }

  def update(op: UTF8String, ns: UTF8String, nm: UTF8String,
      etNull: Boolean, etMicros: Long,
      oldData: MapData, newData: MapData): Boolean = {
    events.add(1L)
    val kind = kindOf(op)
    if (kind < 0) unknownOp.add(1L)
    if (!routable(ns, nm)) unroutableTable.add(1L)
    // row ops only: TRUNCATE has no row identity, its null key is the
    // contract, not a violation
    if (kind >= 0 && kind != 4) {
      val img = if (kind == 2) oldData else newData // DELETE reads the pre-image
      if (keyIsNull(img)) nullKey.add(1L)
    }
    if (!etNull) latency.observe(etMicros)
    true
  }

  def updateTopic(topic: UTF8String): Boolean = {
    topics.addTopic(topic)
    true
  }

  // ---- driver-side per-batch delta drain (listener-bus thread) ----

  @transient private var lastEvents = 0L
  @transient private var lastUnknown = 0L
  @transient private var lastUnroutable = 0L
  @transient private var lastNullKey = 0L
  @transient private var lastLatObs = 0L
  @transient private var lastTopicCounts: Map[String, Long] = _

  /** Counter deltas (and the latest-latency gauge) accumulated since
    * the previous drain. Counters never reset, so a drain racing a
    * running batch only SPLITS counts across two drains — nothing is
    * lost or double-counted.
    */
  def drain(): PipelineProbe.Deltas = synchronized {
    val e = events.value - lastEvents; lastEvents += e
    val uo = unknownOp.value - lastUnknown; lastUnknown += uo
    val ut = unroutableTable.value - lastUnroutable; lastUnroutable += ut
    val nk = nullKey.value - lastNullKey; lastNullKey += nk
    val (latObs, _, lat) = latency.value
    val latAdvanced = latObs > lastLatObs
    if (latAdvanced) lastLatObs = latObs
    val tc = topics.value
    val prev = if (lastTopicCounts == null) Map.empty[String, Long] else lastTopicCounts
    val td = tc.iterator
      .map { case (t, n) => t -> (n - prev.getOrElse(t, 0L)) }
      .filter(_._2 > 0L).toMap
    lastTopicCounts = tc
    PipelineProbe.Deltas(e, uo, ut, nk, latAdvanced, lat, td)
  }

  /** [[drain]] into `registry`: the process-latency gauge (when a row
    * arrived), the bulk-request gauge (`batchDurationMs`), the quality
    * violations and the per-topic successes. Returns the batch's
    * metrics when it carried events.
    */
  def drainInto(registry: MetricsRegistry, batchId: Long,
      batchDurationMs: Long): Option[PipelineProbe.BatchMetrics] = {
    val d = drain()
    if (d.latencyAdvanced) registry.setProcessLatency(d.latencyMs)
    registry.setBulkRequestLatency(batchDurationMs)
    if (d.unknownOp > 0) registry.incrementQualityViolation("unknown_op", d.unknownOp)
    if (d.unroutableTable > 0)
      registry.incrementQualityViolation("unroutable_table", d.unroutableTable)
    if (d.nullKey > 0) registry.incrementQualityViolation("null_key", d.nullKey)
    d.topicDeltas.foreach { case (t, n) => registry.incrementSuccess(t, n) }
    if (d.events == 0) None
    else Some(PipelineProbe.BatchMetrics(batchId, d.events,
      if (d.latencyAdvanced) d.latencyMs else 0L, batchDurationMs))
  }
}

object PipelineProbe {
  final case class Deltas(
      events: Long,
      unknownOp: Long,
      unroutableTable: Long,
      nullKey: Long,
      latencyAdvanced: Boolean,
      latencyMs: Long,
      topicDeltas: Map[String, Long])

  /** One drained micro-batch (≙ the reference's `ResponseHandler.OnSuccess`
    * accounting plus its latency gauges). `processLatencyMs` is the
    * latency of the batch's most recently processed row — the value
    * the `graft_cdc_process_latency_current` gauge takes — or 0 when
    * no row advanced it.
    */
  final case class BatchMetrics(
      batchId: Long,
      events: Long,
      processLatencyMs: Long,
      batchDurationMs: Long)

  private[streaming] def column(e: Expression): Column =
    org.apache.spark.sql.graft.PlanShim.column(e)
}

/** "Latency of the most recently processed row" — the reference's
  * process-latency gauge semantics (set per message,
  * `kafka/producer/metric.go`). Per task: the wall clock is read once
  * (first row), each row overwrites (stamp, latency) — two field
  * writes plus a count bump. Merge keeps the entry with the newest
  * stamp (max latency on a tie) and SUMS the observation count.
  *
  * The stamp is `System.currentTimeMillis` — the one clock comparable
  * across executor JVMs (nanoTime origins are per-JVM-arbitrary, so a
  * nanoTime-stamped "latest" winner would be meaningless on a real
  * cluster; ms resolution is exactly the fidelity a latest-row GAUGE
  * needs). Per-batch "did any row arrive" detection does NOT lean on
  * clock resolution at all: the summed observation count is exact, so
  * two batches landing in the same millisecond still both advance.
  */
final class LatestLatencyAccumulator
    extends AccumulatorV2[java.lang.Long, (Long, Long, Long)] {
  private var obs = 0L // rows observed (merge: sum — exact advance detection)
  private var stamp = 0L // currentTimeMillis captured once per task copy
  private var latencyMs = 0L
  @transient private var taskNowMs = 0L

  def observe(eventTimeMicros: Long): Unit = {
    if (taskNowMs == 0L) taskNowMs = System.currentTimeMillis()
    obs += 1L
    stamp = taskNowMs
    latencyMs = taskNowMs - eventTimeMicros / 1000L
  }

  override def isZero: Boolean = obs == 0L
  override def copy(): LatestLatencyAccumulator = {
    val c = new LatestLatencyAccumulator
    c.obs = obs; c.stamp = stamp; c.latencyMs = latencyMs
    c
  }
  override def reset(): Unit = { obs = 0L; stamp = 0L; latencyMs = 0L; taskNowMs = 0L }
  override def add(v: java.lang.Long): Unit = observe(v.longValue())
  override def merge(other: AccumulatorV2[java.lang.Long, (Long, Long, Long)]): Unit =
    synchronized {
      other match {
        case o: LatestLatencyAccumulator =>
          obs += o.obs
          if (o.stamp > stamp || (o.stamp == stamp && o.latencyMs > latencyMs)) {
            stamp = o.stamp; latencyMs = o.latencyMs
          }
        case _ => throw new UnsupportedOperationException(
          s"cannot merge ${other.getClass.getName}")
      }
    }
  override def value: (Long, Long, Long) = synchronized((obs, stamp, latencyMs))
}

/** Per-topic success counts. The hot path caches the last topic's
  * UTF8String→String conversion: a micro-batch writes few distinct
  * topics, so the per-row cost is one equals + one HashMap bump.
  */
final class TopicCountAccumulator extends AccumulatorV2[String, Map[String, Long]] {
  private val counts = new java.util.HashMap[String, java.lang.Long]
  @transient private var lastU8: UTF8String = _
  @transient private var lastS: String = _

  def addTopic(t: UTF8String): Unit = {
    if (t == null) return
    val s =
      if (lastU8 != null && t.equals(lastU8)) lastS
      else { lastU8 = t.clone(); lastS = lastU8.toString; lastS }
    val prev = counts.get(s)
    counts.put(s, if (prev == null) 1L else java.lang.Long.valueOf(prev.longValue() + 1L))
  }

  override def isZero: Boolean = counts.isEmpty
  override def copy(): TopicCountAccumulator = synchronized {
    val c = new TopicCountAccumulator; c.counts.putAll(counts); c
  }
  override def reset(): Unit = synchronized(counts.clear())
  override def add(v: String): Unit = {
    val prev = counts.get(v)
    counts.put(v, if (prev == null) 1L else java.lang.Long.valueOf(prev.longValue() + 1L))
  }
  override def merge(other: AccumulatorV2[String, Map[String, Long]]): Unit =
    synchronized {
      other match {
        case o: TopicCountAccumulator =>
          o.counts.forEach { (t, n) =>
            val prev = counts.get(t)
            counts.put(t,
              if (prev == null) n else java.lang.Long.valueOf(prev.longValue() + n.longValue()))
          }
        case _ => throw new UnsupportedOperationException(
          s"cannot merge ${other.getClass.getName}")
      }
    }
  override def value: Map[String, Long] = synchronized {
    val b = Map.newBuilder[String, Long]
    counts.forEach((t, n) => b += t -> n.longValue())
    b.result()
  }
}

/** The probe as a Catalyst expression: a PASS-THROUGH of its first
  * child (`op`) whose value-add is its side effect. Declared
  * non-deterministic so the optimizer neither folds it away, nor
  * collapses it into a consumer projection (which would duplicate the
  * side effect per use), nor pushes a filter below it. Codegen is one
  * helper call per row — the MapDropKey pattern — so the stage stays
  * whole-stage-fused.
  */
case class PipelineProbeExpr(children: Seq[Expression], probe: PipelineProbe)
    extends Expression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = children.head.nullable
  override def foldable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_metrics_probe"

  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType) match {
      case Seq(StringType, StringType, StringType, TimestampType,
        MapType(StringType, StringType, _), MapType(StringType, StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (op string, ns string, table string, eventTime timestamp, " +
          s"oldData map<string,string>, newData map<string,string>), got " +
          other.map(_.catalogString).mkString("(", ", ", ")"))
    }

  override def eval(input: InternalRow): Any = {
    val op = children(0).eval(input).asInstanceOf[UTF8String]
    val ns = children(1).eval(input).asInstanceOf[UTF8String]
    val nm = children(2).eval(input).asInstanceOf[UTF8String]
    val et = children(3).eval(input)
    val od = children(4).eval(input).asInstanceOf[MapData]
    val nd = children(5).eval(input).asInstanceOf[MapData]
    probe.update(op, ns, nm, et == null,
      if (et == null) 0L else et.asInstanceOf[Long], od, nd)
    op
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pipelineProbe", probe, classOf[PipelineProbe].getName)
    val evs = children.map(_.genCode(ctx))
    val sink = ctx.freshName("probeRes")
    val resultCode =
      code"""
        ${evs(0).code}
        ${evs(1).code}
        ${evs(2).code}
        ${evs(3).code}
        ${evs(4).code}
        ${evs(5).code}
        boolean $sink = $ref.update(
          ${evs(0).isNull} ? null : ${evs(0).value},
          ${evs(1).isNull} ? null : ${evs(1).value},
          ${evs(2).isNull} ? null : ${evs(2).value},
          ${evs(3).isNull}, ${evs(3).isNull} ? 0L : ${evs(3).value},
          ${evs(4).isNull} ? null : ${evs(4).value},
          ${evs(5).isNull} ? null : ${evs(5).value});
      """
    ev.copy(code = resultCode, isNull = evs(0).isNull, value = evs(0).value)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Sink-side per-topic counter probe: pass-through of its one string
  * child (`topic`), counting as a side effect.
  */
case class TopicProbeExpr(child: Expression, probe: PipelineProbe)
    extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_topic_probe"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string topic column, got ${t.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input).asInstanceOf[UTF8String]
    probe.updateTopic(t)
    t
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pipelineProbe", probe, classOf[PipelineProbe].getName)
    val c = child.genCode(ctx)
    val sink = ctx.freshName("probeRes")
    val resultCode =
      code"""
        ${c.code}
        boolean $sink = $ref.updateTopic(${c.isNull} ? null : ${c.value});
      """
    ev.copy(code = resultCode, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(child = newChildren.head)
}
