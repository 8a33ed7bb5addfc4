package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.queries.{Dedup, FamilyCaches, LangModel, TextOps, Timeseries}

/** `lanes_driver`: a fixed list of registered queries run
  * sequentially in a closed loop, starting from cold family caches, with
  * every cache build inside the timed window. Each lane is built through
  * its registered builder and drained by an order-insensitive digest of
  * all its columns, which is both the sink and the correctness check
  * against the values pinned in `lanes_pins.json`.
  *
  * The lane inputs are the repository's sf0.1 `documents` and `events`
  * tables, kept under `perfbench/data/sf0.1`, so the pinned results hold
  * for every run and every seed.
  */
object Lanes extends Workload {

  /** Construction-bound lanes: most of their wall is eager checkpoint
    * jobs and planning. `q250`/`q251` share the session's unigram
    * training cache, and `q270_cdc_truncate` runs `Materialize` merges
    * and a truncate horizon into a replica table.
    */
  val driverLanes: Seq[String] = Seq(
    "q250_unigram_train", "q251_unigram_encode", "q270_cdc_truncate")

  /** The tables those lanes read. */
  val tables: Seq[String] = Seq("documents", "events")

  final case class Pin(rows: Long, lo: Long, hi: Long)

  /** Doubles and floats rounded to 6 decimals at any nesting depth, so
    * last-ulp differences in summation order do not change a digest.
    */
  def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast("double"), 6)
    case ArrayType(et, _) => transform(c, x => normalized(x, et))
    case MapType(_, vt, _) => transform_values(c, (_, v) => normalized(v, vt))
    case StructType(fs) => when(c.isNull, lit(null)).otherwise(
      struct(fs.toIndexedSeq.map(f => normalized(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** Row count and the sums of the two 32-bit halves of each row's
    * xxhash64 over all (normalized) columns.
    */
  def digest(df: DataFrame): Pin = {
    val cols = df.schema.fields.toIndexedSeq.map(f => normalized(col(s"`${f.name}`"), f.dataType))
    val h = xxhash64(cols: _*)
    val row = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32))).head()
    def l(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    Pin(l(0), l(1), l(2))
  }

  def readPins(path: String): Map[String, Pin] = {
    if (!Files.exists(Paths.get(path))) return Map.empty
    val txt = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    "\"(q\\w+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(-?\\d+)\\s*,\\s*\"lo\"\\s*:\\s*(-?\\d+)\\s*,\\s*\"hi\"\\s*:\\s*(-?\\d+)\\s*\\}"
      .r.findAllMatchIn(txt)
      .map(m => m.group(1) -> Pin(m.group(2).toLong, m.group(3).toLong, m.group(4).toLong))
      .toMap
  }

  /** Drops every session-memoized family cache and persisted frame. */
  def coldCaches(ctx: Ctx): Unit = {
    Dedup.clearCaches(ctx.spark)
    LangModel.clearCaches(ctx.spark)
    TextOps.clearCaches(ctx.spark)
    Timeseries.clearCaches(ctx.spark)
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private val name = "lanes_driver"
  private val lanes = driverLanes

  private def dataDir(ctx: Ctx) = sys.props.getOrElse("perfbench.data", "perfbench/data/sf0.1")

  /** The inputs are fixed files: preparing them is reading their footers. */
  def prepare(ctx: Ctx): Unit =
    tables.foreach(t => graft.sources.Tables.load(ctx.spark, dataDir(ctx), t).schema)

  /** JIT, the noop writer and parquet footers over every table, so the
    * first lane is not charged session start-up.
    */
  def warm(ctx: Ctx): Unit = tables.foreach { t =>
    graft.sources.Tables.load(ctx.spark, dataDir(ctx), t)
      .write.format("noop").mode("overwrite").save()
  }

  def measure(ctx: Ctx): Unit = {
    val r = ctx.report
    val pinsFile = sys.props.getOrElse("perfbench.pins", "perfbench/lanes_pins.json")
    val pins = readPins(pinsFile)
    coldCaches(ctx)
    final case class Lane(name: String, constructS: Double, writeS: Double,
        eagerJobs: Long, jobs: Long, builds: Long, pin: Pin)
    val before = ctx.countersNow()
    val phases0 = ctx.phases.map(p => (p.analysisMs.sum, p.optimizationMs.sum, p.planningMs.sum))
    val t0 = System.nanoTime()
    val done = lanes.map { lane =>
      val builder = SparkEntry.queries(lane)
      val builds0 = FamilyCaches.buildCount
      val c0 = ctx.countersNow()
      val (df, constructS) = ctx.timed(ctx.spans("queries.construct")(builder(ctx.spark, dataDir(ctx))))
      val c1 = ctx.countersNow()
      val (pin, writeS) = ctx.timed(ctx.spans("queries.write")(digest(df)))
      val c2 = ctx.countersNow()
      Lane(lane, constructS, writeS, (c1 - c0).jobs, (c2 - c0).jobs,
        FamilyCaches.buildCount - builds0, pin)
    }
    val lanesS = (System.nanoTime() - t0) / 1e9
    val after = ctx.countersNow()

    done.foreach { l =>
      pins.get(l.name) match {
        case Some(p) => r.check(p == l.pin, s"${l.name}: got ${l.pin}, pinned $p")
        case None => r.check(ok = false, s"${l.name}: no pinned result (got ${l.pin})")
      }
    }

    val perLane = done.map(l => (l.constructS + l.writeS) * 1000)
    val tail = Stats.tail(perLane)
    r.metric("wall_s", lanesS, "s")
    r.line(f"$name lanes_s = $lanesS%.3f s (${lanes.length} lanes, cache builds inside)")
    r.line(f"$name per-lane wall p50 = ${Stats.median(perLane)}%.1f ms, " +
      f"p${tail.pct}%.1f = ${tail.value}%.1f ms (n=${tail.n})")

    if (ctx.trace) {
      (after - before).metrics(lanesS, ctx.cores).foreach { case (k, v, u) => r.metric(k, v, u) }
      val constructS = done.map(_.constructS).sum
      r.metric("queries.construct_s", constructS, "s")
      r.metric("queries.write_s", done.map(_.writeS).sum, "s")
      r.metric("queries.eager_jobs", done.map(_.eagerJobs).sum.toDouble, "count")
      r.metric("queries.cache_builds", done.map(_.builds).sum.toDouble, "count")
      r.metric("queries.construct_share", constructS / lanesS, "ratio")
      for (p <- ctx.phases; (a0, o0, p0) <- phases0) {
        r.metric("queries.analysis_ms", p.analysisMs.sum - a0, "ms")
        r.metric("queries.optimization_ms", p.optimizationMs.sum - o0, "ms")
        r.metric("queries.planning_ms", p.planningMs.sum - p0, "ms")
      }
      done.foreach { l =>
        r.metric(s"queries.${l.name}.s", l.constructS + l.writeS, "s")
        r.metric(s"queries.${l.name}.jobs", l.jobs.toDouble, "count")
      }
      r.line(f"$name construct share = ${constructS / lanesS}%.3f; per lane (construct/write s, jobs): " +
        done.map(l => f"${l.name}=${l.constructS}%.2f/${l.writeS}%.2f/${l.jobs}").mkString(", "))
    }
  }
}
