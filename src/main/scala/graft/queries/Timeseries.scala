package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Time-series idioms over the event stream that every warehouse
  * eventually grows: gaps-and-islands streaks, exact interval
  * concurrency via a DISTRIBUTED prefix sum (the sweep line without a
  * single-partition window), and EWMA smoothing as an ordered fold.
  * Each pins a cross-engine corner (date arithmetic on islands, tie
  * ordering at interval endpoints, fold seeding) under the DuckDB
  * oracle.
  */
object Timeseries {

  /** q121: gaps-and-islands — per-user streaks of consecutive active
    * days. The island key is `day - row_number()` (consecutive days
    * share it); two grouped aggregates collapse islands to per-user
    * streak stats. At scale: one (user, day) distinct shuffle, then the
    * window and both aggregates all key on user_id — AQE coalesces them
    * onto one exchange footprint; nothing is quadratic and no state
    * exceeds a user's day count.
    */
  def q121Streaks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
    Tables.load(s, dir, "events")
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .withColumn("island", date_sub($"day", row_number().over(w)))
      .groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_streaks"), max($"len").as("best_streak"))
      .orderBy($"user_id")
  }

  val q121StreaksSql: String =
    """WITH du AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |isl AS (
      |  SELECT user_id,
      |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS island
      |  FROM du),
      |st AS (
      |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |  max(len) AS best_streak
      |FROM st GROUP BY 1 ORDER BY 1""".stripMargin

  /** q122: exact session concurrency (peak per day) — the sweep line.
    * Sessions come from the q16 gap rule (30 min); each emits a +1 at
    * its start and a -1 at its end, and the concurrency curve is the
    * GLOBAL running sum over (ts, delta DESC) — +1 before -1 at a tie,
    * i.e. closed intervals: a session starting the instant another ends
    * overlaps it.
    *
    * A global running sum is the textbook excuse for a single-partition
    * window; this is the distributed form instead: range-partition the
    * deltas on the sort key, run the per-partition running sum (one
    * partition-local window), and add each partition's prefix offset —
    * the per-partition totals are a ≤`parts`-row frame, so the offset
    * window is bounded by construction and the broadcast join puts the
    * offsets back without a shuffle. Tie groups split across partition
    * boundaries are harmless: equal-delta runs reach the same prefix
    * value multiset under any linear extension, so the per-day max is
    * invariant.
    */
  def q122Sweepline(s: SparkSession, dir: String, parts: Int = 32): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sessions = Tables.load(s, dir, "events")
      .withColumn("ts_us", unix_micros($"ts"))
      .withColumn("prev_us", lag($"ts_us", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_us".isNull || $"ts_us" - $"prev_us" > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts_us").as("start_us"), max($"ts_us").as("end_us"))
    val deltas = sessions.select($"start_us".as("ts_us"), lit(1L).as("delta"))
      .unionAll(sessions.select($"end_us".as("ts_us"), lit(-1L).as("delta")))
    val ranged = deltas.repartitionByRange(parts, $"ts_us".asc, $"delta".desc)
      .withColumn("pid", spark_partition_id())
    // ≤`parts` rows: the one place a single-partition window is sound
    val offsets = ranged.groupBy($"pid").agg(sum($"delta").as("ptotal"))
      .withColumn("offset", coalesce(
        sum($"ptotal").over(Window.orderBy($"pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select($"pid", $"offset")
    ranged
      .withColumn("run", sum($"delta").over(
        Window.partitionBy($"pid").orderBy($"ts_us".asc, $"delta".desc)))
      .join(broadcast(offsets), "pid")
      .groupBy(to_date(timestamp_micros($"ts_us")).as("day"))
      .agg(max($"run" + $"offset").as("peak_concurrent"))
      .orderBy($"day")
  }

  val q122SweeplineSql: String =
    """WITH t AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us,
      |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |tagged AS (
      |  SELECT user_id, ts_us,
      |    sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM t),
      |sessions AS (
      |  SELECT user_id, session_id, min(ts_us) AS start_us, max(ts_us) AS end_us
      |  FROM tagged GROUP BY 1, 2),
      |deltas AS (
      |  SELECT start_us AS ts_us, 1 AS delta FROM sessions
      |  UNION ALL
      |  SELECT end_us AS ts_us, -1 AS delta FROM sessions),
      |curve AS (
      |  SELECT ts_us,
      |    sum(delta) OVER (ORDER BY ts_us, delta DESC
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM deltas)
      |SELECT CAST(make_timestamp(ts_us) AS DATE) AS day,
      |  CAST(max(run) AS BIGINT) AS peak_concurrent
      |FROM curve GROUP BY 1 ORDER BY 1""".stripMargin

  /** q123: EWMA smoothing of the per-type daily event counts —
    * `s_1 = x_1`, `s_i = 0.3·x_i + 0.7·s_{i-1}` — as an ordered
    * `aggregate` fold over the collected day series. The fold is
    * seeded with the first element (matching DuckDB's seedless
    * `list_reduce`) and every coefficient is a shared literal, so the
    * two engines execute the identical IEEE op sequence and the doubles
    * hash-match bit-for-bit. Per-key state is the day axis (one struct
    * per day), not the data mass — the same boundedness argument as
    * q95's frame — and the counts feeding the fold are exact integers,
    * so no float summation order can diverge upstream of it.
    */
  def q123Ewma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val folded = aggregate(
      slice($"xs", lit(2), size($"xs") - 1),
      array(struct(
        element_at($"xs", 1).getField("day").as("day"),
        element_at($"xs", 1).getField("n").as("n"),
        element_at($"xs", 1).getField("n").cast("double").as("ewma"))),
      (acc, x) => concat(acc, array(struct(
        x.getField("day").as("day"),
        x.getField("n").as("n"),
        (lit(0.3) * x.getField("n") +
          lit(0.7) * element_at(acc, size(acc)).getField("ewma")).as("ewma")))))
    Tables.load(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
      .groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"n"))).as("xs"))
      .select($"event_type", explode(folded).as("e"))
      .select($"event_type", $"e.day".as("day"), $"e.n".as("n"),
        $"e.ewma".as("ewma"))
      .orderBy($"event_type", $"day")
  }

  /** Oracle-only quadratic fold (the q103 discipline): DuckDB's
    * `list_reduce` re-folds each prefix to surface the running value —
    * O(days²) on the tiny day axis, oracle-side only.
    */
  val q123EwmaSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |ser AS (
      |  SELECT event_type,
      |    list(day ORDER BY day) AS days,
      |    list(n ORDER BY day) AS ns
      |  FROM daily GROUP BY 1),
      |ew AS (
      |  SELECT event_type, unnest(days) AS day, unnest(ns) AS n,
      |    unnest(list_transform(range(1, len(ns) + 1),
      |      i -> list_reduce(list_transform(ns[1:i], v -> CAST(v AS DOUBLE)),
      |             (a, x) -> 0.3 * x + 0.7 * a))) AS ewma
      |  FROM ser)
      |SELECT event_type, day, n, ewma FROM ew
      |ORDER BY event_type, day""".stripMargin

  /** q130: calendar gap filling with last-observation-carried-forward —
    * the densify step before any rolling metric: every user's daily
    * series gets its missing days materialized (`sequence` over the
    * per-user [min, max] span), zero-filled counts, a `filled` flag,
    * and the carried-forward last observed count via an IGNORE NULLS
    * running `last`. At scale everything keys on user_id: the daily
    * aggregate, the span aggregate, the axis join, and the ffill
    * window share one exchange footprint under AQE, and the explode
    * fan-out is bounded by each user's own span (never a global axis).
    */
  def q130GapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.load(s, dir, "events")
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val axis = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
    axis.join(daily, Seq("user_id", "day"), "left")
      .select($"user_id", $"day",
        coalesce($"n_events", lit(0L)).as("n_events"),
        $"n_events".isNull.as("filled"),
        last($"n_events", ignoreNulls = true)
          .over(Window.partitionBy($"user_id").orderBy($"day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("carried"))
      .orderBy($"user_id", $"day")
  }

  val q130GapFillSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2),
      |axis AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1)),
      |j AS (
      |  SELECT a.user_id, a.day, d.n_events FROM axis a
      |  LEFT JOIN daily d ON d.user_id = a.user_id AND d.day = a.day)
      |SELECT user_id, day, COALESCE(n_events, 0) AS n_events,
      |  n_events IS NULL AS filled,
      |  last_value(n_events IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
      |FROM j ORDER BY user_id, day""".stripMargin

  /** q132: robust outlier counting by median absolute deviation — the
    * metric-quality monitor that survives the heavy tails a mean/stddev
    * z-score drowns in. Two exact-percentile passes (per-type median,
    * then the median of absolute deviations — interpolated
    * PERCENTILE_CONT semantics, the q128 convention), each a grouped
    * aggregate over the handful of event types whose tiny result
    * broadcasts back onto the fact scan. The outlier rule compares on a
    * 1e-6 rounding grid on BOTH engines so a sub-ULP interpolation
    * difference cannot flip a count (the q128 cent-rounding argument,
    * applied to the comparison instead of the sum); the reported
    * med/mad round to 2 dp. For groups too large to hold an exact
    * percentile multiset, the scale path is the q102 mergeable sketch —
    * registered exact so the oracle gates the rule itself.
    */
  def q132MadAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events").select($"event_type", $"value")
    val med = ev.groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs($"value" - $"med"))
    val mad = dev.groupBy($"event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(round($"adev", 6) > round($"mad" * lit(3.0), 6), 1L)
          .otherwise(0L)).as("n_outliers"),
        round(first($"med"), 2).as("med"),
        round(first($"mad"), 2).as("mad"))
      .orderBy($"event_type")
  }

  val q132MadAnomalySql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
      |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN round(d.adev, 6) > round(ma.mad * 3.0, 6)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(min(d.med), 2) AS med, round(min(ma.mad), 2) AS mad
      |FROM dev d JOIN mad ma USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q157: per-group linear trend — ordinary least squares of daily
    * event volume over the day index, one fit PER event type ("is the
    * error rate climbing?"): the grouped twin of q134's global fit.
    * Day index = days since the global first day (broadcast one-row
    * min), so x is a small exact integer and all five regression sums
    * are exact BIGINTs on the bounded (type × day) frame; slope and
    * intercept are single fixed-shape double expressions over them —
    * bit-identical cross-engine, they stay double. The corpus-sized
    * work is ONE (type, day) aggregation with map-side partials.
    */
  def q157Trend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.load(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.agg(min($"d").as("d0"))
    val xy = daily.crossJoin(broadcast(d0))
      .select($"event_type", datediff($"d", $"d0").cast("long").as("x"), $"y")
    xy.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"event_type", $"n_days",
        (($"n_days" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n_days" * $"sxx" - $"sx" * $"sx")).as("slope"),
        (($"sy" - (($"n_days" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n_days" * $"sxx" - $"sx" * $"sx")) * $"sx") / $"n_days")
          .as("intercept"))
      .orderBy($"event_type")
  }

  /** q162: CUSUM change-point detection over daily purchase volume —
    * "which day did the level shift?". CUSUM_k = Σ_{i≤k}(c_i − mean) =
    * cum_k − k·mean accumulates drift from the global mean; the day
    * where |CUSUM| peaks is the maximum-likelihood single change point
    * (Page's cumulative-sum procedure, stated over exact integers).
    *
    * Scale shape: the only corpus-sized work is the daily count
    * aggregation; the ordered cumsum and the peak flag live on the
    * BOUNDED day frame (q147's convention — days grow with the
    * calendar, not the data). mean = S/D is one division of exact
    * longs; cusum = cum − k·mean is a fixed three-op chain mirrored
    * textually in the oracle, so every double is bit-identical and the
    * argmax flag cannot flip cross-engine.
    */
  def q162Cusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.load(s, dir, "events")
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    val tot = daily.agg(sum($"c").as("stot"), count(lit(1)).as("nd"))
    val byDay = Window.orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = daily
      .withColumn("k", count(lit(1)).over(byDay))
      .withColumn("cum_c", sum($"c").over(byDay))
      .crossJoin(broadcast(tot))
      .withColumn("cusum",
        $"cum_c" - $"k" * ($"stot".cast("double") / $"nd"))
    val peak = cusum.agg(max(abs($"cusum")).as("peak"))
    cusum.crossJoin(broadcast(peak))
      .select($"d", $"c", $"cum_c", $"cusum",
        (abs($"cusum") === $"peak").as("is_peak"))
      .orderBy($"d")
  }

  val q162CusumSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS stot,
      |               CAST(COUNT(*) AS BIGINT) AS nd FROM daily),
      |cs AS (
      |  SELECT d, c,
      |    CAST(COUNT(*) OVER w AS BIGINT) AS k,
      |    CAST(SUM(c) OVER w AS BIGINT) AS cum_c,
      |    CAST(SUM(c) OVER w AS BIGINT)
      |      - COUNT(*) OVER w * (CAST(stot AS DOUBLE) / nd) AS cusum
      |  FROM daily CROSS JOIN tot
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW)),
      |pk AS (SELECT MAX(abs(cusum)) AS peak FROM cs)
      |SELECT d, c, cum_c, cusum, abs(cusum) = peak AS is_peak
      |FROM cs CROSS JOIN pk
      |ORDER BY d""".stripMargin

  /** q165: per-user time-weighted average value — each event's value
    * "holds" until the user's next event, so the mean weights each
    * value by its holding duration (the sensor/price-feed semantics a
    * plain AVG silently gets wrong when sampling is irregular). One
    * per-user window computes the lead timestamp; the last event has
    * no holding interval and drops out.
    *
    * Exactness: duration is exact µs integers (unix_micros ≡ DuckDB
    * epoch_us on naive-UTC timestamps); value is an exact 2-decimal
    * source column lifted to integer CENTS (the q115 money-cents
    * pattern — a wide-decimal Σ(v·dur) would hit the engines'
    * 1-ulp-divergent decimal→double cast), so Σ(cents·dur) is an
    * exact BIGINT aggregate and the twa is one fixed two-division
    * double chain — bit-identical cross-engine. Corpus-sized work:
    * the user-keyed window shuffle, then the per-user aggregation
    * rides the same partitioning.
    */
  def q165TimeWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.load(s, dir, "events")
      .select($"user_id", $"ts", $"event_id",
        round($"value" * 100).cast("long").as("cents"))
      .withColumn("dur",
        (unix_micros(lead($"ts", 1).over(w)) - unix_micros($"ts")))
      .filter($"dur".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"dur").as("total_dur_us"),
        (sum($"cents" * $"dur").cast("double") /
          lit(100.0) / sum($"dur")).as("twa"))
      .orderBy($"user_id")
  }

  val q165TimeWeightedSql: String =
    """WITH t AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |    epoch_us(lead(ts, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id)) - epoch_us(ts) AS dur
      |  FROM events)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(SUM(dur) AS BIGINT) AS total_dur_us,
      |  CAST(SUM(cents * dur) AS DOUBLE) / CAST(100.0 AS DOUBLE)
      |    / CAST(SUM(dur) AS BIGINT) AS twa
      |FROM t WHERE dur IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q169: OHLC bars — per (event_type, day): open / high / low /
    * close of `value` plus count and exact-decimal volume, the
    * canonical time-bucketed downsampling for price/metric feeds.
    * Open/close are FIRST/LAST by the total (ts, event_id) order —
    * computed by one full-frame ordered window sharing the same
    * partition keys as the final aggregation, so the window shuffle is
    * the only corpus-sized exchange and the aggregate rides it.
    * High/low/open/close are undisturbed source doubles (no
    * arithmetic — exact cross-engine); volume is the q1 decimal-sum
    * convention.
    */
  def q169Ohlc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wf = Window.partitionBy($"event_type", $"d").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(s, dir, "events")
      .select($"event_type", to_date($"ts").as("d"), $"ts", $"event_id", $"value")
      .withColumn("open_v", first($"value").over(wf))
      .withColumn("close_v", last($"value").over(wf))
      .groupBy($"event_type", $"d")
      .agg(min($"open_v").as("open"), max($"value").as("high"),
        min($"value").as("low"), min($"close_v").as("close"),
        count(lit(1)).as("n_events"),
        Exact.dsum($"value").as("volume"))
      .orderBy($"event_type", $"d")
  }

  val q169OhlcSql: String =
    s"""WITH t AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, value,
      |    first_value(value) OVER w AS open_v,
      |    last_value(value) OVER w AS close_v
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |SELECT event_type, d, MIN(open_v) AS open, MAX(value) AS high,
      |  MIN(value) AS low, MIN(close_v) AS close,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  ${Exact.sqlDsum("value")} AS volume
      |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q180: event-time disorder (lateness) profile — for each order, how
    * far its event time (o_orderdate) lags the maximum event time
    * already seen in ARRIVAL order (o_orderkey as the ingestion
    * sequence): the distribution that picks a streaming watermark
    * delay. The running max over the global arrival order is the
    * q144/q153 distributed prefix pattern with MAX instead of SUM —
    * range-partition on the key, per-partition running max, the
    * ≤`parts`-row per-partition maxima broadcast back as prefix
    * maxima — so no single-partition window at any scale. Lateness is
    * exact integer days, bucketed by fixed thresholds; output is the
    * bounded bucket histogram.
    */
  def q180Lateness(s: SparkSession, dir: String, parts: Int = 32): DataFrame = {
    import s.implicits._
    val o = Tables.load(s, dir, "orders")
      .select($"o_orderkey".as("k"), datediff($"o_orderdate",
        lit(java.sql.Date.valueOf("1992-01-01"))).cast("long").as("t"))
    val ranged = o.repartitionByRange(parts, $"k".asc)
      .withColumn("pid", spark_partition_id())
    val pmax = ranged.groupBy($"pid").agg(max($"t").as("pm"))
      .select($"pid", max($"pm").over(Window.orderBy($"pid")
        .rowsBetween(Window.unboundedPreceding, -1)).as("prev_max"))
    val run = ranged
      .withColumn("rm_in", max($"t").over(Window.partitionBy($"pid")
        .orderBy($"k").rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(pmax), "pid")
      .withColumn("rm", greatest($"rm_in", coalesce($"prev_max", lit(Long.MinValue))))
      .withColumn("late_days", $"rm" - $"t")
    val bucket = when($"late_days" === 0, "a_on_time")
      .when($"late_days" <= 7, "b_within_7d")
      .when($"late_days" <= 30, "c_within_30d")
      .when($"late_days" <= 365, "d_within_1y")
      .otherwise("e_over_1y")
    run.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), max($"late_days").as("max_late_days"))
      .orderBy($"bucket")
  }

  val q180LatenessSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS t
      |  FROM orders),
      |r AS (
      |  SELECT k, t,
      |    MAX(t) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) - t AS late_days
      |  FROM o),
      |b AS (
      |  SELECT CASE WHEN late_days = 0 THEN 'a_on_time'
      |    WHEN late_days <= 7 THEN 'b_within_7d'
      |    WHEN late_days <= 30 THEN 'c_within_30d'
      |    WHEN late_days <= 365 THEN 'd_within_1y'
      |    ELSE 'e_over_1y' END AS bucket, late_days
      |  FROM r)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MAX(late_days) AS BIGINT) AS max_late_days
      |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q187: daily volume anomalies per event type — days whose count
    * z-scores beyond ±2 against that type's own daily history: the
    * "did Tuesday's error volume spike?" alert, computed batch-side.
    * The variance comes from exact integer sufficient statistics
    * (D, Σc, Σc²) per type — the q53 discipline, never a float
    * accumulation — and mean/var/z are fixed-shape double expressions
    * broadcast back onto the bounded (type, day) frame. The only
    * corpus-sized work is the daily count aggregation. The flag
    * compares identically-shaped doubles, so it cannot flip
    * cross-engine.
    */
  def q187DailyAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.load(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    val stats = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("nd"), sum($"c").as("sc"),
        sum($"c" * $"c").as("sqc"))
    val mean = $"sc".cast("double") / $"nd"
    val varr = ($"sqc".cast("double") - $"sc".cast("double") * $"sc" / $"nd") /
      ($"nd" - 1)
    daily.join(broadcast(stats), "event_type")
      .withColumn("z", ($"c" - mean) / sqrt(varr))
      .filter(abs($"z") > 2.0)
      .select($"event_type", $"d", $"c",
        mean.as("mean_daily"), $"z")
      .orderBy($"event_type", $"d")
  }

  val q187DailyAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
      |    CAST(SUM(c) AS BIGINT) AS sc,
      |    CAST(SUM(c * c) AS BIGINT) AS sqc
      |  FROM daily GROUP BY 1),
      |z AS (
      |  SELECT daily.event_type, d, c,
      |    CAST(sc AS DOUBLE) / nd AS mean_daily,
      |    (c - CAST(sc AS DOUBLE) / nd) /
      |      sqrt((CAST(sqc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / nd)
      |        / (nd - 1)) AS z
      |  FROM daily JOIN st USING (event_type))
      |SELECT event_type, d, c, mean_daily, z
      |FROM z WHERE abs(z) > 2.0
      |ORDER BY event_type, d""".stripMargin

  val q157TrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |d0 AS (SELECT MIN(d) AS d0 FROM daily),
      |xy AS (SELECT event_type, CAST(d - d0 AS BIGINT) AS x, y
      |       FROM daily CROSS JOIN d0),
      |sums AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM xy GROUP BY 1)
      |SELECT event_type, n_days,
      |  CAST(n_days * sxy - sx * sy AS DOUBLE) / (n_days * sxx - sx * sx)
      |    AS slope,
      |  (sy - (CAST(n_days * sxy - sx * sy AS DOUBLE) /
      |    (n_days * sxx - sx * sx)) * sx) / n_days AS intercept
      |FROM sums ORDER BY event_type""".stripMargin

  /** q198: interval-overlap join — which pairs of users were active
    * at the same time, and for how long? Sessions (q16's 30-minute-gap
    * rule) become [start, end] µs intervals; the overlap JOIN is the
    * operator Spark lacks natively: a naive theta-join
    * (`a.st ≤ b.en AND b.st ≤ a.en`) is a broadcast-nested-loop
    * cross product. Instead each interval explodes to the HOUR buckets
    * it spans (fan-out bounded by session length, sessions are
    * minutes-scale), the join is a plain bucket EQUIJOIN, and the
    * classic double-count across shared buckets is eliminated WITHOUT
    * a distinct shuffle by the q108 first-shared-bucket gate: a pair
    * overlapping in many buckets is emitted only in the hour of
    * `greatest(a.st, b.st)` — the first bucket both occupy, unique per
    * pair of intervals. Overlap durations are exact µs integers. At
    * 100 TB everything shuffles once on the hour bucket; per-bucket
    * population is the concurrency level, not the corpus.
    */
  /** Kept as a forwarder: the lanes benchmark calls it by name. */
  def clearCaches(s: SparkSession): Unit = FamilyCaches.clear(s)

  /** The interval-overlap pair table: q198 presents it sorted, q203 and
    * q215 consume it as their edge source — a [[FamilyCaches]]
    * artifact per (session, dir), so q215 does not pay q198's
    * presentation sort on top of a rebuild.
    */
  private[queries] def intervalOverlapPairs(s: SparkSession, dir: String): DataFrame =
    FamilyCaches.memo(s, s"intervalOverlapPairs:$dir")(
      intervalOverlapPairsUncached(s, dir).localCheckpoint(true))

  def q198IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    intervalOverlapPairs(s, dir).orderBy($"user_a", $"user_b")
  }

  private[queries] def intervalOverlapPairsUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val HourUs = 3600L * 1000000L
    val sess = Tables.load(s, dir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
      .withColumn("prev_us", lag($"ts_us", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_us".isNull || $"ts_us" - $"prev_us" > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts_us").as("st"), max($"ts_us").as("en"))
    val bucketed = sess.select($"user_id", $"session_id", $"st", $"en",
      explode(sequence(floor($"st" / HourUs), floor($"en" / HourUs)))
        .as("bucket"))
    val a = bucketed.select($"bucket", $"user_id".as("ua"),
      $"session_id".as("sa"), $"st".as("sta"), $"en".as("ena"))
    val b = bucketed.select($"bucket", $"user_id".as("ub"),
      $"session_id".as("sb"), $"st".as("stb"), $"en".as("enb"))
    a.join(b, Seq("bucket"))
      .filter($"ua" < $"ub")
      .filter($"sta" <= $"enb" && $"stb" <= $"ena")
      // first-shared-bucket gate: dedup without a distinct
      .filter($"bucket" === floor(greatest($"sta", $"stb") / HourUs))
      .select($"ua".as("user_a"), $"ub".as("user_b"),
        (least($"ena", $"enb") - greatest($"sta", $"stb")).as("ov_us"))
      .groupBy($"user_a", $"user_b")
      .agg(count(lit(1)).as("n_overlaps"),
        sum($"ov_us").as("total_overlap_us"))
  }

  /** Oracle: the same sessionization, then the DIRECT inequality
    * overlap join (DuckDB's IEJoin executes it without the bucket
    * trick) — the bucket-equijoin plan must reproduce the plain
    * theta-join's answer exactly.
    */
  val q198IntervalJoinSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sess AS (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
      |    ts_us
      |  FROM marked),
      |iv AS (
      |  SELECT user_id, session_id, MIN(ts_us) AS st, MAX(ts_us) AS en
      |  FROM sess GROUP BY 1, 2)
      |SELECT a.user_id AS user_a, b.user_id AS user_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_overlaps,
      |  CAST(SUM(LEAST(a.en, b.en) - GREATEST(a.st, b.st)) AS BIGINT) AS total_overlap_us
      |FROM iv a JOIN iv b
      |  ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
      |GROUP BY 1, 2 ORDER BY user_a, user_b""".stripMargin

  /** q199: clamped running balance — a cumulative sum with a floor and
    * a cap (`bal ← clamp(bal + Δ, 0, cap)`), the credit/inventory/
    * rate-limiter ledger no window frame can express: the clamp makes
    * each step depend on the FULL folded history, not on any
    * subtractable aggregate. Purchases deposit their exact cents;
    * every other event draws 100. The Spark answer is the per-key
    * sequential fold (q123's discipline): one user-keyed shuffle
    * collects each user's deltas in (ts, event_id) order and a linear
    * fold emits every intermediate balance — per-user state is the
    * user's own event count, never corpus-scale, and all arithmetic is
    * exact integers. The oracle refolds prefixes per user (quadratic
    * on the tiny per-user lists, oracle-side only).
    */
  def q199ClampedBalance(s: SparkSession, dir: String,
      capCents: Long = 20000L): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        when($"event_type" === "purchase",
          round($"value" * 100).cast("long")).otherwise(lit(-100L)).as("delta"))
    val ser = ev.groupBy($"user_id")
      .agg(sort_array(collect_list(struct($"us", $"event_id", $"delta")))
        .as("xs"))
    def clamp(c: Column): Column = least(greatest(c, lit(0L)), lit(capCents))
    val folded = aggregate(
      slice($"xs", lit(2), size($"xs") - 1),
      array(struct(
        element_at($"xs", 1).getField("event_id").as("event_id"),
        clamp(element_at($"xs", 1).getField("delta")).as("bal"))),
      (acc, x) => concat(acc, array(struct(
        x.getField("event_id").as("event_id"),
        clamp(element_at(acc, size(acc)).getField("bal") + x.getField("delta"))
          .as("bal")))))
    ser.select($"user_id", explode(folded).as("e"))
      .select($"user_id", $"e.event_id".as("event_id"),
        $"e.bal".as("balance_cents"))
      .orderBy($"user_id", $"event_id")
  }

  def q199ClampedBalanceSql(capCents: Long = 20000L): String =
    s"""WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN event_type = 'purchase'
      |         THEN CAST(round(value * 100) AS BIGINT) ELSE -100 END AS delta
      |  FROM events),
      |ser AS (
      |  SELECT user_id, list(event_id ORDER BY us, event_id) AS eids,
      |    list(delta ORDER BY us, event_id) AS ds
      |  FROM ev GROUP BY 1),
      |ex AS (
      |  SELECT user_id, unnest(eids) AS event_id,
      |    unnest(list_transform(range(1, len(ds) + 1),
      |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT), ds[1:i]),
      |             (a, x) -> LEAST(GREATEST(a + x, 0), $capCents)))) AS balance_cents
      |  FROM ser)
      |SELECT user_id, event_id, balance_cents
      |FROM ex ORDER BY user_id, event_id""".stripMargin

  /** q201: Holt double-exponential smoothing (level + trend) of the
    * per-type daily counts, with the one-step-ahead forecast — the
    * trend-aware upgrade of q123's EWMA: a simple EWMA lags any ramp,
    * Holt's paired recurrences (`l ← α·x + (1−α)(l+b)`,
    * `b ← β·(l−l_prev) + (1−β)·b`, α=0.5 β=0.3, seeded l₁=x₁ b₁=0)
    * track it. The two mutually-recursive state variables are exactly
    * what no window frame expresses — the fold carries a (level,
    * trend) struct through the day axis in order (q123's discipline;
    * `l_i` is spelled twice with the identical textual shape inside
    * the trend update so both engines execute the same IEEE sequence).
    * Per-type state is the bounded day axis; the only corpus shuffle
    * is the daily count aggregate.
    */
  def q201Holt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = lit(0.5)
    val ia = lit(0.5)
    val b = lit(0.3)
    val ib = lit(0.7)
    def lNext(x: Column, acc: Column): Column =
      a * x + ia * (acc.getField("l") + acc.getField("b"))
    val folded = aggregate(
      slice($"xs", lit(2), size($"xs") - 1),
      array(struct(
        element_at($"xs", 1).getField("day").as("day"),
        element_at($"xs", 1).getField("n").as("n"),
        element_at($"xs", 1).getField("n").cast("double").as("l"),
        lit(0.0).as("b"))),
      (acc, x) => {
        val prev = element_at(acc, size(acc))
        concat(acc, array(struct(
          x.getField("day").as("day"),
          x.getField("n").as("n"),
          lNext(x.getField("n"), prev).as("l"),
          (b * (lNext(x.getField("n"), prev) - prev.getField("l")) +
            ib * prev.getField("b")).as("b"))))
      })
    Tables.load(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
      .groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"n"))).as("xs"))
      .select($"event_type", explode(folded).as("e"))
      .select($"event_type", $"e.day".as("day"), $"e.n".as("n"),
        $"e.l".as("level"), $"e.b".as("trend"),
        ($"e.l" + $"e.b").as("forecast_next"))
      .orderBy($"event_type", $"day")
  }

  /** q211: Bollinger control bands — per-type daily counts against a
    * TRAILING 7-day mean ± 2σ (q187 compares to the series' WHOLE
    * history; a control chart must adapt to drift, so the reference
    * window slides). The rolling n/Σx/Σx² ride one type-keyed ROWS
    * frame as exact integers; mean, the population σ, both bands, and
    * the breach flags are fixed-shape doubles computed ONCE per row
    * from those integers (the q53 discipline — never a rolling
    * stddev-of-double whose accumulation order floats). Warm-up rows
    * (fewer than 7 trailing days) report with their shorter window, n
    * tells the reader which. One (type, day) aggregate + one bounded
    * window.
    */
  def q211Bollinger(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-7, -1)
    val daily = Tables.load(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val mean = $"sx".cast("double") / $"nw"
    val sd = sqrt($"sxx".cast("double") / $"nw"
      - ($"sx".cast("double") / $"nw") * ($"sx".cast("double") / $"nw"))
    daily
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("sx", sum($"n").over(w))
      .withColumn("sxx", sum($"n" * $"n").over(w))
      .filter($"nw" > 0)
      .select($"event_type", $"day", $"n", $"nw",
        mean.as("trail_mean"),
        (mean - lit(2.0) * sd).as("lower"),
        (mean + lit(2.0) * sd).as("upper"),
        ($"n" > mean + lit(2.0) * sd).as("above"),
        ($"n" < mean - lit(2.0) * sd).as("below"))
      .orderBy($"event_type", $"day")
  }

  val q211BollingerSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |roll AS (
      |  SELECT *,
      |    CAST(COUNT(*) OVER tw AS BIGINT) AS nw,
      |    CAST(SUM(n) OVER tw AS BIGINT) AS sx,
      |    CAST(SUM(n * n) OVER tw AS BIGINT) AS sxx
      |  FROM daily
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY day
      |                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, day, n, nw,
      |  CAST(sx AS DOUBLE) / nw AS trail_mean,
      |  CAST(sx AS DOUBLE) / nw - 2.0 * sqrt(CAST(sxx AS DOUBLE) / nw
      |    - (CAST(sx AS DOUBLE) / nw) * (CAST(sx AS DOUBLE) / nw)) AS lower,
      |  CAST(sx AS DOUBLE) / nw + 2.0 * sqrt(CAST(sxx AS DOUBLE) / nw
      |    - (CAST(sx AS DOUBLE) / nw) * (CAST(sx AS DOUBLE) / nw)) AS upper,
      |  n > CAST(sx AS DOUBLE) / nw + 2.0 * sqrt(CAST(sxx AS DOUBLE) / nw
      |    - (CAST(sx AS DOUBLE) / nw) * (CAST(sx AS DOUBLE) / nw)) AS above,
      |  n < CAST(sx AS DOUBLE) / nw - 2.0 * sqrt(CAST(sxx AS DOUBLE) / nw
      |    - (CAST(sx AS DOUBLE) / nw) * (CAST(sx AS DOUBLE) / nw)) AS below
      |FROM roll WHERE nw > 0
      |ORDER BY event_type, day""".stripMargin

  /** q213: daily value percentile bands — per (type, day): n, exact
    * p50/p90 of the event value, the latency-dashboard shape every
    * operations report carries. Spark's exact `percentile` is
    * bit-identical to DuckDB's `quantile_cont` on identical double
    * inputs (spec-verified equivalence the q183/q192 family
    * established), and the inputs here are RAW parquet doubles — no
    * arithmetic upstream to diverge. One (type, day) shuffle; per-group
    * state is that group's own values.
    */
  def q213DailyPctl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"))
      .orderBy($"event_type", $"day")
  }

  val q213DailyPctlSql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.9) AS p90
      |FROM events GROUP BY 1, 2
      |ORDER BY event_type, day""".stripMargin

  /** q206: seasonality-adjusted spike detection — q187's raw daily
    * z-score flags every weekend as an anomaly when traffic has a
    * weekly rhythm; this one deseasonalizes first: each (type, day)
    * count compares against the mean of ITS OWN WEEKDAY's history
    * (the q177 Monday-epoch weekday), and a day flags when it exceeds
    * 1.5× that weekday mean. The comparison stays in exact integers by
    * cross-multiplying (`2·n·d_w > 3·s_w` instead of dividing), so the
    * flag is exact; the reported ratio is one fixed-shape double. Two
    * bounded aggregates over the daily frame — corpus touches one
    * (type, day) shuffle.
    */
  def q206SeasonalSpike(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.load(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("wd", pmod(datediff($"day", lit(java.sql.Date.valueOf("1970-01-05"))), lit(7)))
    val prof = daily.groupBy($"event_type", $"wd")
      .agg(count(lit(1)).as("d_w"), sum($"n").as("s_w"))
    daily.join(prof, Seq("event_type", "wd"))
      .select($"event_type", $"day", $"n",
        ($"s_w".cast("double") / $"d_w").as("weekday_mean"),
        ($"n".cast("double") * $"d_w" / $"s_w").as("ratio"),
        (lit(2L) * $"n" * $"d_w" > lit(3L) * $"s_w").as("flagged"))
      .orderBy($"event_type", $"day")
  }

  val q206SeasonalSpikeSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |wdd AS (
      |  SELECT *, CAST(((day - DATE '1970-01-05') % 7 + 7) % 7 AS BIGINT) AS wd
      |  FROM daily),
      |prof AS (
      |  SELECT event_type, wd, CAST(COUNT(*) AS BIGINT) AS d_w,
      |    CAST(SUM(n) AS BIGINT) AS s_w
      |  FROM wdd GROUP BY 1, 2)
      |SELECT wdd.event_type, day, n,
      |  CAST(s_w AS DOUBLE) / d_w AS weekday_mean,
      |  CAST(n AS DOUBLE) * d_w / s_w AS ratio,
      |  2 * n * d_w > 3 * s_w AS flagged
      |FROM wdd JOIN prof ON wdd.event_type = prof.event_type AND wdd.wd = prof.wd
      |ORDER BY wdd.event_type, day""".stripMargin

  /** Oracle: a recursive CTE stepping the identical recurrences day by
    * day (NOT the q123 `list_reduce` refold idiom: DuckDB's lambda
    * executor updates a struct accumulator's fields IN PLACE, so a
    * later field's `a.l` reads the freshly-written new level — a
    * measured wrong-answer; the recursive CTE evaluates the row
    * atomically). The level expression is repeated inside the trend
    * update with the same textual shape as the Spark fold, and every
    * constant is an explicit DOUBLE so no decimal arithmetic sneaks in.
    */
  val q201HoltSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, day, n,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
      |  FROM daily),
      |holt AS (
      |  SELECT event_type, day, n, i, CAST(n AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
      |  FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT x.event_type, x.day, x.n, x.i,
      |    CAST(0.5 AS DOUBLE) * x.n + CAST(0.5 AS DOUBLE) * (h.l + h.b) AS l,
      |    CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * x.n
      |        + CAST(0.5 AS DOUBLE) * (h.l + h.b)) - h.l)
      |      + CAST(0.7 AS DOUBLE) * h.b AS b
      |  FROM holt h JOIN idx x
      |    ON x.event_type = h.event_type AND x.i = h.i + 1)
      |SELECT event_type, day, n, l AS level, b AS trend,
      |  l + b AS forecast_next
      |FROM holt ORDER BY event_type, day""".stripMargin
}
