package perfbench

import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.app.{ConnectorConfig, KafkaSinkConfig}
import graft.route.TopicRouter
import graft.sources.SnapshotSource
import graft.streaming.{CdcPipeline, PipelineProbe}
import graft.transform.Handlers

/** `snapshot_kafka`: the connector's initial snapshot of `lineitem` and
  * `orders` through the production transform (flat serializer, fused
  * probe) into the noop sink that stands in for the broker. One pass is
  * one job over both tables; passes repeat for the measuring window.
  */
object SnapshotKafka extends Workload {
  val tables: Seq[(String, String)] = Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")
  private val mapping = tables.map { case (t, _) => s"public.$t" -> t }.toMap
  private val router = TopicRouter(mapping)

  private def dataDir(ctx: Ctx) = s"${ctx.runDir}/data"
  private def cfg(key: String) = ConnectorConfig(sourceDir = "", checkpointDir = "",
    kafka = KafkaSinkConfig(brokers = Seq("localhost:9092"), tableTopicMapping = mapping,
      producerBatchTickerDuration = 100.millis),
    keyField = key)

  def prepare(ctx: Ctx): Unit =
    DataGen.write(ctx.spark, dataDir(ctx), ctx.seed, tables.map(_._1),
      files = Map("lineitem" -> 6, "orders" -> 2))

  private def events(ctx: Ctx, table: String): DataFrame =
    ctx.spans("sources.snapshot")(SnapshotSource.snapshot(ctx.spark, dataDir(ctx), table))

  /** The production frame: per table, snapshot events through
    * `defaultTransform` with a probe (the key field is per table), one
    * union so a pass is one job.
    */
  private def records(ctx: Ctx): (DataFrame, Seq[PipelineProbe]) = {
    val parts = tables.map { case (t, key) =>
      val probe = new PipelineProbe(ctx.spark.sparkContext, router, key, s"bench.$t")
      (ctx.spans("streaming.default_transform")(
        CdcPipeline.defaultTransform(events(ctx, t), cfg(key), Some(probe))), probe)
    }
    (parts.map(_._1).reduce(_ unionByName _), parts.map(_._2))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Source rows: the generator's row counts. */
  private def rows(ctx: Ctx): Long = tables.map { case (t, _) => DataGen.rows(t) }.sum

  @volatile private var checked: Option[(Digest, Digest)] = None

  /** The warm-up pass is the correctness pass: it drains the production
    * frame into a (topic, key, value) digest, compared in `measure`
    * with one built from the source rows by plain string concatenation,
    * independent of the image map, map_set_key and to_json.
    */
  def warm(ctx: Ctx): Unit = {
    val got = digest(records(ctx)._1)
    val want = digest(tables.map { case (t, key) => expected(ctx, t, key) }.reduce(_ unionByName _))
    checked = Some((got, want))
  }

  def measure(ctx: Ctx): Unit = {
    val r = ctx.report
    val n = rows(ctx)
    val before = ctx.countersNow()
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (passes.length < 2 || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      val (df, probes) = records(ctx)
      val (_, s) = ctx.timed(ctx.spans("sink.noop")(noop(df)))
      passes += s
      val delivered = probes.map(_.topics.value.values.sum).sum
      r.check(delivered == n, s"pass ${passes.length}: $delivered records for $n source rows")
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val after = ctx.countersNow()

    val (got, exp) = checked.get
    r.check(got.count == n, s"digest pass: ${got.count} records for $n source rows")
    r.check(got == exp, s"record digest $got != expected $exp")

    val med = Stats.median(passes.toSeq)
    val tail = Stats.tail(passes.toSeq.map(_ * 1000))
    r.metric("wall_s", med, "s")
    r.line(f"snapshot_kafka rows_per_s = ${n / med}%.0f rows/s (median of ${passes.length} passes of $n rows)")
    r.line(f"snapshot_kafka pass wall p50 = ${med * 1000}%.1f ms, p${tail.pct}%.1f = ${tail.value}%.1f ms (n=${tail.n})")

    if (ctx.trace) {
      (after - before).metrics(windowS, ctx.cores).foreach { case (k, v, u) => r.metric(k, v, u) }
      r.metric("transform.value_bytes_per_row", got.valueBytes.toDouble / got.count, "bytes")
      ablate(ctx)
    }
  }

  /** Rounds of prefix-ablation passes in a traced run. */
  val AblationRounds = 5

  /** Prefix-ablation passes: source only, +route, +handler, +probe (the
    * production frame), and the envelope serializer on top of routing.
    * The prefixes run interleaved, one pass each per round after one
    * uncounted warm-up round, so a drift in the host shifts all of them
    * alike. A layer's cost is the difference
    * of two prefixes' medians; its spread is the interquartile range of
    * the per-round differences. Each prefix's sink materializes that
    * prefix's own columns, so a difference can come out negative.
    */
  private def ablate(ctx: Ctx): Unit = {
    def union(f: (String, String) => DataFrame): DataFrame =
      tables.map { case (t, key) => f(t, key) }.reduce(_ unionByName _)
    def routed(ctx: Ctx, t: String): DataFrame =
      events(ctx, t).withColumn("topic", ctx.spans("route.resolve")(
        router.resolveColumn(col("tableNamespace"), col("tableName"))))
        .filter(col("topic").isNotNull)
    val prefixes: Seq[(String, () => DataFrame)] = Seq(
      "source" -> (() => union((t, _) => events(ctx, t))),
      "route" -> (() => union((t, _) => routed(ctx, t))),
      "handler" -> (() => union((t, k) => ctx.spans("transform.declarative")(
        Handlers.declarative(events(ctx, t), router, k)))),
      "probe" -> (() => records(ctx)._1),
      "envelope" -> (() => union((t, k) => ctx.spans("transform.envelope")(
        Handlers.debeziumEnvelope(events(ctx, t), router, k)))))
    // round 0 compiles each prefix's plan and is not counted
    val rounds = (0 to AblationRounds).map { _ =>
      prefixes.map { case (name, mk) =>
        name -> ctx.timed(ctx.spans(s"ablation.$name")(noop(mk())))._2
      }.toMap
    }.tail
    def med(k: String): Double = Stats.median(rounds.map(_(k)))
    val layers = Seq(
      ("sources.snapshot.scan_s", "source", ""), ("route.s", "route", "source"),
      ("transform.flat_s", "handler", "route"), ("streaming.probe_s", "probe", "handler"),
      ("transform.envelope_s", "envelope", "route"))
    val r = ctx.report
    val shown = layers.map { case (metric, hi, lo) =>
      def at(round: Map[String, Double]): Double = round(hi) - (if (lo.isEmpty) 0.0 else round(lo))
      val value = med(hi) - (if (lo.isEmpty) 0.0 else med(lo))
      r.metric(metric, value, "s")
      f"$metric=$value%.3f s (IQR ${Stats.iqr(rounds.map(at))}%.3f)"
    }
    r.line(s"snapshot_kafka ablation (median of $AblationRounds interleaved rounds): " +
      shown.mkString(", "))
  }

  final case class Digest(count: Long, lo: Long, hi: Long, valueBytes: Long) {
    override def equals(o: Any): Boolean = o match {
      case d: Digest => count == d.count && lo == d.lo && hi == d.hi
      case _ => false
    }
    override def hashCode: Int = (count, lo, hi).hashCode
    override def toString: String = s"(n=$count, lo=$lo, hi=$hi)"
  }

  /** Order-insensitive digest of (topic, key, value): the sums of the
    * two 32-bit halves of each record's xxhash64, so no sum overflows.
    */
  def digest(df: DataFrame): Digest = {
    val h = xxhash64(col("topic"), col("key"), col("value"))
    val row = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32)), sum(length(col("value")))).head()
    def l(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    Digest(l(0), l(1), l(2), l(3))
  }

  /** The records the connector must emit for one table: topic, the key
    * column's text, and `{"col":"text",...,"operation":"SNAPSHOT"}` with
    * the columns in table order.
    */
  private def expected(ctx: Ctx, table: String, key: String): DataFrame = {
    val src = ctx.spark.read.parquet(s"${dataDir(ctx)}/$table.parquet")
    val fields = src.columns.toSeq.flatMap(c => Seq(
      lit((if (c == src.columns.head) "{" else ",") + "\"" + c + "\":\""),
      col(c).cast("string"), lit("\"")))
    src.select(lit(table).as("topic"),
      col(key).cast("string").cast("binary").as("key"),
      concat((fields :+ lit(",\"operation\":\"SNAPSHOT\"}")): _*).cast("binary").as("value"))
  }
}
