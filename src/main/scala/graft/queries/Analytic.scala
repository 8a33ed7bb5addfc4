package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import Exact._

/** Round-2 widening of the relational/analytic surface (SURVEY §2B):
  * pivot, distribution window functions (ntile/percent_rank/cume_dist),
  * exact percentiles, string- and date-function suites, JSON extraction,
  * generators (posexplode), hopping event-time windows, salted skew
  * aggregation, and CDC log-compaction apply.
  *
  * Same scale discipline as Relational: declarative plans, map-side
  * partial aggregation, one shuffle per groupBy/window key, codegen'd
  * built-ins only.
  */
object Analytic {

  /** Pivot: order counts and exact-decimal totals per priority × status.
    * Spark plans a single-shuffle pivot aggregation (statuses become
    * conditional aggregates map-side — the same plan the hand-written
    * CASE form yields, which is exactly how the oracle states it).
    */
  def q25Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .pivot($"o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select($"o_orderpriority",
        coalesce($"F", lit(0L)).as("n_f"),
        coalesce($"O", lit(0L)).as("n_o"),
        coalesce($"P", lit(0L)).as("n_p"))
      .orderBy($"o_orderpriority")
  }

  val q25PivotSql: String =
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Unpivot (melt) — the inverse of q25's pivot: wide numeric columns to
    * (key, metric, value) long format, the normalization step feature
    * pipelines apply before per-metric aggregation. `Dataset.unpivot` is
    * a pure narrow projection (each row expands map-side, no shuffle);
    * the oracle states the same reshape as a UNION ALL, the
    * engine-portable formulation.
    */
  def q55Unpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "part")
      .select($"p_partkey", $"p_retailprice".as("retail"),
        $"p_size".cast("double").as("size"))
      .unpivot(Array($"p_partkey"), Array($"retail", $"size"), "metric", "value")
      .orderBy($"p_partkey", $"metric")
  }

  val q55UnpivotSql: String =
    """SELECT p_partkey, 'retail' AS metric, p_retailprice AS value FROM part
      |UNION ALL
      |SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
      |ORDER BY p_partkey, metric""".stripMargin

  /** Distribution window functions: quartile bucket (ntile), percent_rank
    * and cume_dist over account balance within each market segment. The
    * order includes the unique key so every rank is deterministic.
    */
  def q26Ntile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal", $"c_custkey")
    Tables.load(s, dir, "customer")
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .select($"c_mktsegment", $"c_custkey", $"c_acctbal", $"quartile", $"pct_rank", $"cume")
      .orderBy($"c_mktsegment", $"c_custkey")
  }

  val q26NtileSql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  /** Exact (interpolating) percentiles + median per order status. Both
    * engines sort the doubles and interpolate at rank p·(n-1) with the
    * same lower + (upper-lower)·frac formula, so values compare exactly.
    */
  def q27Percentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        percentile($"o_totalprice", lit(0.25)).as("p25"),
        median($"o_totalprice").as("p50"),
        percentile($"o_totalprice", lit(0.75)).as("p75"),
        percentile($"o_totalprice", lit(0.99)).as("p99"))
      .orderBy($"o_orderstatus")
  }

  val q27PercentilesSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  quantile_cont(o_totalprice, 0.25) AS p25,
      |  median(o_totalprice) AS p50,
      |  quantile_cont(o_totalprice, 0.75) AS p75,
      |  quantile_cont(o_totalprice, 0.99) AS p99
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** String-function suite over part: case mapping, substring, padding,
    * replace/translate, split_part, reverse, 1-based search position and
    * edit distance — each mapped 1:1 onto a DuckDB builtin with identical
    * semantics (ASCII data; levenshtein is the same integer DP on both).
    */
  def q28StringFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "part")
      .select(
        $"p_partkey",
        upper($"p_name").as("up_name"),
        substring($"p_name", 1, 8).as("name8"),
        lpad($"p_brand", 12, "*").as("brand_pad"),
        regexp_replace($"p_type", " ", "_").as("type_snake"),
        translate($"p_brand", "#", "-").as("brand_dash"),
        split_part($"p_type", lit(" "), lit(1)).as("type_head"),
        reverse($"p_brand").as("brand_rev"),
        instr($"p_name", "a").cast("long").as("first_a"),
        levenshtein($"p_brand", lit("Brand#11")).cast("long").as("brand_dist"))
      .orderBy($"p_partkey")
  }

  val q28StringFuncsSql: String =
    """SELECT p_partkey,
      |  upper(p_name) AS up_name,
      |  substr(p_name, 1, 8) AS name8,
      |  lpad(p_brand, 12, '*') AS brand_pad,
      |  replace(p_type, ' ', '_') AS type_snake,
      |  translate(p_brand, '#', '-') AS brand_dash,
      |  split_part(p_type, ' ', 1) AS type_head,
      |  reverse(p_brand) AS brand_rev,
      |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
      |  CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS brand_dist
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Date/time-function suite over orders (all values are midnight-aligned
    * timestamps, so date-vs-timestamp representation differences vanish
    * once both sides render as timestamps): truncation, field extraction,
    * ISO week, day-of-week, end-of-month, month arithmetic, day deltas.
    */
  def q29DateFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "orders")
      .select(
        $"o_orderkey",
        date_trunc("month", $"o_orderdate").as("month_start"),
        year($"o_orderdate").cast("long").as("yr"),
        quarter($"o_orderdate").cast("long").as("qtr"),
        month($"o_orderdate").cast("long").as("mon"),
        dayofmonth($"o_orderdate").cast("long").as("dom"),
        dayofweek($"o_orderdate").cast("long").as("dow_sun1"),
        weekofyear($"o_orderdate").cast("long").as("iso_week"),
        last_day($"o_orderdate").cast("timestamp").as("month_end"),
        add_months($"o_orderdate", 3).cast("timestamp").as("plus3mo"),
        datediff(lit(java.sql.Date.valueOf("2000-01-01")), $"o_orderdate")
          .cast("long").as("days_to_y2k"))
      .orderBy($"o_orderkey")
  }

  val q29DateFuncsSql: String =
    """SELECT o_orderkey,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mon,
      |  CAST(day(o_orderdate) AS BIGINT) AS dom,
      |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_sun1,
      |  CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
      |  CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3mo,
      |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** JSON extraction from the events.props payload column (the engine's
    * `get_json_object` ≙ the reference handlers' json.Marshal/Unmarshal
    * round-trip, reference example/simple/main.go:113-114): extract a
    * field, type it, and aggregate on it.
    */
  def q34JsonFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val q34JsonFuncsSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Generator surface (UDTF-shape): posexplode the word array of short
    * documents into (position, word) rows — the lateral-view/flatMap
    * pattern every training-data tokenizer pipeline uses.
    */
  def q35Explode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .filter($"doc_id" < 25)
      .select($"doc_id", posexplode(split($"text", " ")))
      .select($"doc_id", ($"pos" + 1).cast("long").as("pos"), $"col".as("w"))
      .orderBy($"doc_id", $"pos")
  }

  val q35ExplodeSql: String =
    """SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i] AS w
      |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 25),
      |     UNNEST(range(1, len(ws) + 1)) AS t(i)
      |ORDER BY doc_id, pos""".stripMargin

  /** Array / higher-order function surface over the embedding vectors:
    * reductions (min/max/size), positional access, a lambda filter
    * count, and a sequential `aggregate` fold over a slice — the fold
    * matches DuckDB's `list_sum` left-to-right double accumulation
    * bit-for-bit (the q50 discipline), which is what makes a
    * higher-order DOUBLE reduction oracle-checkable at all. Everything
    * is map-side codegen'd per row; no shuffle but the final sort.
    */
  def q68ArrayFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    e.select(
        $"vec_id",
        size($"embedding").cast("long").as("dim"),
        array_min($"embedding").cast("double").as("min_x"),
        array_max($"embedding").cast("double").as("max_x"),
        get($"embedding", lit(0)).cast("double").as("first_x"),
        filter($"embedding", x => x > 0.0f).as("pos"),
        aggregate(slice($"embedding", 1, 8), lit(0.0),
          (acc, x) => acc + x.cast("double")).as("head_sum"))
      .select($"vec_id", $"dim", $"min_x", $"max_x", $"first_x",
        size($"pos").cast("long").as("n_positive"), $"head_sum")
      .orderBy($"vec_id")
  }

  val q68ArrayFuncsSql: String =
    """SELECT vec_id,
      |  CAST(len(embedding) AS BIGINT) AS dim,
      |  CAST(list_min(embedding) AS DOUBLE) AS min_x,
      |  CAST(list_max(embedding) AS DOUBLE) AS max_x,
      |  CAST(embedding[1] AS DOUBLE) AS first_x,
      |  CAST(len(list_filter(embedding, x -> x > 0.0)) AS BIGINT) AS n_positive,
      |  list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))) AS head_sum
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Hopping (sliding) event-time windows via Spark's native TimeWindow
    * generator: 30-minute windows every 10 minutes — each event lands in
    * exactly 3 windows. At 100 TB this is the same one-shuffle groupBy as
    * a tumbling window, ×3 map-side row expansion before partial agg.
    * Aggregates are integers (count + id-sum) so no FP-order concerns.
    */
  def q36Hopping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .groupBy(window($"ts", "30 minutes", "10 minutes"))
      .agg(count(lit(1)).as("n"), sum($"event_id").as("sum_id"))
      .select($"window.start".as("wstart"), $"n", $"sum_id")
      .orderBy($"wstart")
  }

  val q36HoppingSql: String =
    """WITH slid AS (
      |  SELECT make_timestamp((epoch_us(ts) // 600000000 - j) * 600000000) AS wstart,
      |         event_id
      |  FROM events, UNNEST([0, 1, 2]) AS t(j))
      |SELECT wstart, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id
      |FROM slid GROUP BY wstart ORDER BY wstart""".stripMargin

  /** Salted two-phase aggregation (queries/Skew.saltedSumCount): the hot
    * single-key mitigation AQE cannot do. Values are exact decimal, so the
    * extra partial level cannot perturb the rendered doubles and the
    * result is identical to the direct groupBy the oracle states.
    */
  def q37SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Skew.saltedSumCount(
        Tables.load(s, dir, "lineitem"), "l_returnflag", d2($"l_quantity"), salts = 16)
      .select($"l_returnflag",
        col("sum").cast("double").as("sum_qty"), col("cnt").as("n"))
      .orderBy($"l_returnflag")
  }

  val q37SaltedAggSql: String =
    s"""SELECT l_returnflag, ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** The KMV (bottom-k) distinct sketch under the exact oracle — the
    * full-probe trick applied to a SKETCH: with capacity k far above the
    * true cardinality the bottom-k set IS the full distinct hash set, so
    * `COUNT(DISTINCT)` grades the whole typed-Aggregator machinery
    * (per-partition partial sketches, kryo buffer encoding, tree-set
    * merge) exactly. The bounded-k configuration is the same code path,
    * error-bound-graded in BottomKSketchSpec — at 100 TB a k=1024 sketch
    * replaces the distinct shuffle with mergeable 8 KB states.
    */
  def q71KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sketch = udaf(graft.functions.BottomKSketch.aggregator(1 << 20))
    Tables.load(s, dir, "events")
      .groupBy($"event_type")
      .agg(sketch($"user_id").as("sk"))
      .select($"event_type", size($"sk").cast("long").as("n_users"))
      .orderBy($"event_type")
  }

  val q71KmvDistinctSql: String =
    """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q167: sketch SET ALGEBRA — the property that makes mergeable
    * sketches a warehouse primitive rather than a one-shot estimator:
    * audience overlap ("clickers ∩ purchasers") WITHOUT a second scan,
    * computed by combining already-aggregated per-segment KMV sketches.
    * Union = merged hash set; intersection = inclusion–exclusion.
    * Registered at full capacity the sketches are the complete distinct
    * hash sets (the injective splitmix64 finisher maps distinct users to
    * distinct hashes), so all four counts are provably exact and the
    * plain COUNT(DISTINCT) SQL grades the whole path; the bounded-k
    * estimate lane is the same code, error-graded in BottomKSketchSpec.
    * At 100 TB: ONE scan builds both sketches (map-side partials); the
    * set algebra runs on two ≤k-element arrays in a single final row.
    */
  def q167SketchSetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sketch = udaf(graft.functions.BottomKSketch.aggregator(1 << 20))
    Tables.load(s, dir, "events")
      .filter($"event_type".isin("click", "purchase"))
      .groupBy($"event_type")
      .agg(sketch($"user_id").as("sk"))
      .agg(
        first(when($"event_type" === "click", $"sk"), ignoreNulls = true).as("a"),
        first(when($"event_type" === "purchase", $"sk"), ignoreNulls = true).as("b"))
      .select(
        size($"a").cast("long").as("n_click"),
        size($"b").cast("long").as("n_purchase"),
        size(array_union($"a", $"b")).cast("long").as("n_union"),
        (size($"a") + size($"b") - size(array_union($"a", $"b")))
          .cast("long").as("n_intersect"))
  }

  val q167SketchSetOpsSql: String =
    """SELECT
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |   WHERE event_type = 'click') AS n_click,
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |   WHERE event_type = 'purchase') AS n_purchase,
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |   WHERE event_type IN ('click', 'purchase')) AS n_union,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
      |     SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      |     INTERSECT
      |     SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |   t) AS n_intersect""".stripMargin

  /** Salted JOIN against a skewed fact key (q37's partner for the join
    * case): events carry ~150 distinct user ids over 10k+ rows — a
    * pathological reducer-hotspot shape for a plain shuffle join at
    * scale. The registered plan salts the fact side into `salts`
    * sub-keys and replicates the dimension side per salt, so one hot
    * key spreads over `salts` reducers; the oracle is the PLAIN join —
    * salting must be invisible in the result. (AQE's skew-join handles
    * post-shuffle size skew; explicit salting is the tool when a single
    * KEY exceeds what any one reducer should hold.)
    */
  def q67SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type")
    val dim = Tables.load(s, dir, "customer")
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
      // a skew demo must actually SHUFFLE: without the hint the small test
      // dim would broadcast and the salt would never reach an exchange
      .hint("shuffle_hash")
    Skew.saltedJoin(events, dim, "user_id", salts = 8)
      .select($"event_id", $"user_id", $"event_type", $"c_mktsegment")
      .orderBy($"event_id")
  }

  val q67SaltedJoinSql: String =
    """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin

  /** CDC log-compaction apply — materialize current state from a change
    * log: a deterministic op column (INSERT/UPDATE/DELETE) is derived
    * from the event stream, the log is compacted latest-wins per key
    * (Windows.latestByKey, the reference's keyed compaction semantics),
    * and keys whose final op is DELETE vanish from the materialized view.
    * This is the full `apply changes into` semantic on top of q15's
    * compaction primitive.
    */
  def q46CdcApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val log = Tables.load(s, dir, "events")
      .withColumn("op",
        when($"event_id" % 10 === 0, "DELETE")
          .when($"event_id" % 3 === 0, "UPDATE")
          .otherwise("INSERT"))
    Windows.latestByKey(log, keys = Seq("user_id"), orderCols = Seq("ts", "event_id"))
      .filter($"op" =!= "DELETE")
      .select($"user_id", $"op", $"event_id", $"event_type", $"value")
      .orderBy($"user_id")
  }

  /** The STREAMING-APPLY twin of q46: the same change log is replayed
    * through `streaming/Materialize.applyBatch` — the copy-on-write
    * replica lane (key-hash buckets, partition-pruned merges, partial
    * rewrites) — in three deliberately interleaved micro-batches
    * (event_id mod 3, so later-timestamped changes often land in
    * EARLIER batches), and the materialized replica itself is the query
    * result. Because the merge orders by (event_time, seq=LSN), the
    * final table state is independent of how the log was batched, and
    * the DuckDB latest-by-key oracle grades the whole lane end-to-end:
    * key extraction, per-batch compaction, cross-batch merge,
    * delete-drop, emptied-bucket cleanup.
    */
  def q64CdcReplica(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val log = Tables.load(s, dir, "events")
      .withColumn("op",
        when($"event_id" % 10 === 0, "DELETE")
          .when($"event_id" % 3 === 0, "UPDATE")
          .otherwise("INSERT"))
    val payload = map(
      lit("user_id"), $"user_id".cast("string"),
      lit("event_id"), $"event_id".cast("string"),
      lit("event_type"), $"event_type",
      lit("value"), $"value".cast("string"))
    val events = log.select(
      $"event_id".as("batch_src"), // batching handle only; dropped by applyBatch
      $"ts".as("eventTime"),
      lit("public").as("tableNamespace"), lit("events").as("tableName"),
      when($"op" === "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("oldData"),
      when($"op" =!= "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("newData"),
      $"op")
      // the replay harness re-filters this log per batch; materialize the
      // scan once instead of three times
      .localCheckpoint(true)
    val tablePath =
      java.nio.file.Files.createTempDirectory("graft_q64_replica").toString + "/t"
    (0 until 3).foreach { i =>
      graft.streaming.Materialize.applyBatch(
        events.filter(pmod($"batch_src", lit(3)) === i).drop("batch_src"),
        keyField = "user_id", tablePath, nBuckets = 8, seqCol = Some("event_id"))
    }
    graft.streaming.Materialize.replica(s, tablePath)
      .select(
        $"k".cast("long").as("user_id"),
        $"seq".as("event_id"),
        element_at($"data", "event_type").as("event_type"),
        element_at($"data", "value").cast("double").as("value"),
        $"event_time")
      .orderBy($"user_id")
  }

  /** Incrementally-maintained materialized aggregate over the CDC
    * stream: the same interleaved replay as q64, but each batch's CHANGE
    * FEED (net before/after per key from the replica merge) drives
    * delta-maintenance of a grouped count+sum view — no full recompute
    * ever touches the replica. The oracle states the view DECLARATIVELY
    * (aggregate over the final latest-by-key state), so the gate proves
    * the incremental path computes exactly what the batch query defines
    * — including deletes retracting rows and group counts, and updates
    * moving keys between groups.
    */
  def q65IncrMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val log = Tables.load(s, dir, "events")
      .withColumn("op",
        when($"event_id" % 10 === 0, "DELETE")
          .when($"event_id" % 3 === 0, "UPDATE")
          .otherwise("INSERT"))
    val payload = map(
      lit("user_id"), $"user_id".cast("string"),
      lit("event_id"), $"event_id".cast("string"),
      lit("event_type"), $"event_type",
      lit("value"), $"value".cast("string"))
    val events = log.select(
      $"event_id".as("batch_src"),
      $"ts".as("eventTime"),
      lit("public").as("tableNamespace"), lit("events").as("tableName"),
      when($"op" === "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("oldData"),
      when($"op" =!= "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("newData"),
      $"op")
      .localCheckpoint(true) // one scan feeds all three replay batches
    val base = java.nio.file.Files.createTempDirectory("graft_q65_mv").toString
    val tablePath = s"$base/t"
    val aggPath = s"$base/agg"
    (0 until 3).foreach { i =>
      val changes = graft.streaming.Materialize.applyBatchCdf(
        events.filter(pmod($"batch_src", lit(3)) === i).drop("batch_src"),
        keyField = "user_id", tablePath, nBuckets = 8, seqCol = Some("event_id"))
      graft.streaming.Materialize.applyAggregateDelta(
        changes, groupField = "event_type", measureField = "event_id", aggPath)
    }
    s.read.parquet(aggPath)
      .select($"grp".as("event_type"), $"n", $"m".as("sum_event_id"))
      .orderBy($"event_type")
  }

  /** q271 — incrementally-maintained MIN/MAX view (the first
    * NON-subtractable aggregate after q65's count+sum): the same
    * interleaved replay as q65, but each batch's change feed drives
    * `Materialize.applyMinMaxDelta` — a group-bucketed value-count
    * index that makes deletes of the current extremum exactly
    * applicable from partition-pruned bucket merges, never a replica
    * rescan (see the method's scaladoc for why the index, not an
    * affected-group recompute, is the scale shape). The q64 op pattern
    * deletes every 10th event_id, so batch replays routinely remove a
    * group's live minimum or maximum and the runner-up must surface;
    * updates move keys between groups, retracting from one side's
    * extremes while asserting the other's. The oracle states the view
    * DECLARATIVELY: min/max/count per group over the final
    * latest-by-key state — the gate proves the incremental path equals
    * the batch definition including extremum withdrawal, which no
    * monotone (insert-only) min/max maintenance could pass.
    */
  def q271CdcMinMaxMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = replayMinMaxIndex(s, dir)
    graft.streaming.Materialize.minMaxView(s, s"$base/view")
      .select($"grp".as("event_type"), $"mn".as("min_event_id"),
        $"mx".as("max_event_id"), $"n")
      .orderBy($"event_type")
  }

  /** The q271/q273/q275/q276 replay: the interleaved q64 change log
    * driven through `applyBatchCdf` + `applyMinMaxDelta`, leaving the
    * value index under `<base>/idx` and the min/max view under
    * `<base>/view`. Memoized per (session, dir) — the deployment model
    * these queries express is ONE incrementally-maintained index
    * serving every non-subtractable view (min/max, median, top-k,
    * distinct), so the family pays the replay once per session, like a
    * real maintainer pays it once per batch. The artifact is only the
    * DISK directory (a [[FamilyCaches.memoDir]] entry): no RDDs survive
    * the per-query bench sweep, each query reads the index back from
    * parquet.
    */
  private def replayMinMaxIndex(s: SparkSession, dir: String): String =
    FamilyCaches.memoDir(s, s"q271Replay:$dir", "graft_q271_mv")(
      replayMinMaxIndexInto(s, dir, _))

  private def replayMinMaxIndexInto(s: SparkSession, dir: String, base: String): Unit = {
    import s.implicits._
    val log = Tables.load(s, dir, "events")
      .withColumn("op",
        when($"event_id" % 10 === 0, "DELETE")
          .when($"event_id" % 3 === 0, "UPDATE")
          .otherwise("INSERT"))
    val payload = map(
      lit("user_id"), $"user_id".cast("string"),
      lit("event_id"), $"event_id".cast("string"),
      lit("event_type"), $"event_type",
      lit("value"), $"value".cast("string"))
    val events = log.select(
      $"event_id".as("batch_src"),
      $"ts".as("eventTime"),
      lit("public").as("tableNamespace"), lit("events").as("tableName"),
      when($"op" === "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("oldData"),
      when($"op" =!= "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("newData"),
      $"op")
      .localCheckpoint(true) // one scan feeds all three replay batches
    (0 until 3).foreach { i =>
      val changes = graft.streaming.Materialize.applyBatchCdf(
        events.filter(pmod($"batch_src", lit(3)) === i).drop("batch_src"),
        keyField = "user_id", s"$base/t", nBuckets = 8, seqCol = Some("event_id"))
      graft.streaming.Materialize.applyMinMaxDelta(
        changes, groupField = "event_type", measureField = "event_id",
        s"$base/idx", s"$base/view", nBuckets = 8)
    }
  }

  /** q273 — exact per-group MEDIAN served FROM the maintained value
    * index (the order statistic a min/max view cannot give and a
    * count+sum view cannot either): q271's replay leaves the
    * group-bucketed (grp, v, cnt) index current, and the nearest-rank
    * median — the smallest v whose cumulative count reaches
    * ceil(n/2) — is one group-partitioned window over that
    * INDEX-SIZED frame, never the replica. This is the argument that
    * the value index is the general maintenance structure for
    * non-subtractable aggregates: min/max (q271), any quantile (here),
    * distinct counts — all served from the same incrementally-held
    * multiset. The oracle restates the median declaratively over final
    * latest-by-key state with the identical nearest-rank rule.
    */
  def q273CdcMedianMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = replayMinMaxIndex(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"grp").orderBy($"v")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy($"grp")
    s.read.parquet(s"$base/idx")
      .select($"grp", $"v", $"cnt")
      .withColumn("cum", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(wAll))
      .filter($"cum" >= expr("(n + 1) div 2"))
      .groupBy($"grp")
      .agg(min($"v").as("median_event_id"))
      .select($"grp".as("event_type"), $"median_event_id")
      .orderBy($"event_type")
  }

  /** q275 — top-k values per group served from the maintained value
    * index (the "top products per category" warehouse view): like the
    * median (q273), an order statistic no delta-maintained aggregate
    * can hold, read off the q271 index with one group-partitioned
    * window over the INDEX-sized frame. k = 3, ties impossible here
    * (the measure is the unique event_id) so the view is exactly
    * oracle-checkable; with duplicate values the index's (v, cnt) rows
    * rank by v and a cnt-expansion would recover per-row semantics.
    */
  def q275CdcTopkMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = replayMinMaxIndex(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"grp").orderBy($"v".desc)
    s.read.parquet(s"$base/idx")
      .select($"grp", $"v")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"grp".as("event_type"), $"rk", $"v".as("event_id"))
      .orderBy($"event_type", $"rk")
  }

  val q275CdcTopkMvSql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN event_id % 10 = 0 THEN 'DELETE'
      |                 WHEN event_id % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM events),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log),
      |vals AS (
      |  SELECT event_type, event_id AS v FROM latest
      |  WHERE rn = 1 AND op <> 'DELETE'),
      |ranked AS (
      |  SELECT event_type, v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v DESC) AS rk
      |  FROM vals)
      |SELECT event_type, CAST(rk AS BIGINT) AS rk, CAST(v AS BIGINT) AS event_id
      |FROM ranked WHERE rk <= 3
      |ORDER BY event_type, rk""".stripMargin

  /** q276 — exact DISTINCT-measure count per group from the value
    * index: the multiset's support size is `count(*)` over index rows
    * (one row per live (grp, v)), maintained incrementally where a
    * delta-view would need approximate sketches or full recomputes.
    * Together q271/q273/q275/q276 are the argument that ONE
    * group-bucketed value-count index serves the whole
    * non-subtractable family: min/max, any quantile, top-k, distinct.
    */
  def q276CdcDistinctMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = replayMinMaxIndex(s, dir)
    s.read.parquet(s"$base/idx")
      .groupBy($"grp")
      .agg(count(lit(1)).as("n_distinct"), sum($"cnt").as("n_rows"))
      .select($"grp".as("event_type"), $"n_distinct", $"n_rows")
      .orderBy($"event_type")
  }

  val q276CdcDistinctMvSql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN event_id % 10 = 0 THEN 'DELETE'
      |                 WHEN event_id % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM events),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log),
      |vals AS (
      |  SELECT event_type, event_id AS v FROM latest
      |  WHERE rn = 1 AND op <> 'DELETE')
      |SELECT event_type,
      |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM vals GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val q273CdcMedianMvSql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN event_id % 10 = 0 THEN 'DELETE'
      |                 WHEN event_id % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM events),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log),
      |vals AS (
      |  SELECT event_type, event_id AS v FROM latest
      |  WHERE rn = 1 AND op <> 'DELETE'),
      |ranked AS (
      |  SELECT event_type, v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rk,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM vals)
      |SELECT event_type, CAST(MIN(v) AS BIGINT) AS median_event_id
      |FROM ranked WHERE rk = (n + 1) // 2
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val q271CdcMinMaxMvSql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN event_id % 10 = 0 THEN 'DELETE'
      |                 WHEN event_id % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM events),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log)
      |SELECT event_type,
      |  CAST(MIN(event_id) AS BIGINT) AS min_event_id,
      |  CAST(MAX(event_id) AS BIGINT) AS max_event_id,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM latest WHERE rn = 1 AND op <> 'DELETE'
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q284 — the q271 min/max maintenance over a DECIMAL measure
    * (`o_totalprice`, the literal example from every warehouse): the
    * orders table becomes a CDC log keyed by CUSTOMER (each customer
    * has ~10 orders, so latest-by-key is a real merge and deletes and
    * updates withdraw live extrema), replayed in three interleaved
    * batches through `applyBatchCdf` + `applyMinMaxDelta` at
    * `measureScale = 2`. The index carries value × 100 as exact scaled
    * longs — compares and sums exact under any accumulation order —
    * and a value NOT representable at the scale fails the batch loudly
    * (MaterializeSpec pins the reject path; the pre-r14 lane silently
    * truncated "1234.56" to 1234). The oracle restates the view
    * declaratively with the money-cents recipe
    * (`round(o_totalprice*100)` — both engines' doubles are within
    * 1e-9 of 2-decimal values, so rounding modes agree).
    *
    * At 100 TB: identical shape to q271 — per-batch cost is (touched
    * group buckets) × (bucket size), independent of table size; the
    * decimal path adds one fixed-point scale per measure read, no new
    * shuffle, no type widening of the index.
    */
  def q284CdcDecimalMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = replayDecimalMv(s, dir)
    graft.streaming.Materialize.minMaxView(s, s"$base/view")
      .select($"grp".as("o_orderpriority"),
        $"mn".as("min_totalprice_cents"), $"mx".as("max_totalprice_cents"), $"n")
      .orderBy($"o_orderpriority")
  }

  /** Memoized per (session, dir) like the q271 family's replay: the
    * deployment model is ONE maintained index; the suite prices view
    * reads and QBench's cold column publishes the replay.
    */
  private def replayDecimalMv(s: SparkSession, dir: String): String =
    FamilyCaches.memoDir(s, s"q284Replay:$dir", "graft_q284_mv")(
      replayDecimalMvInto(s, dir, _))

  private def replayDecimalMvInto(s: SparkSession, dir: String, base: String): Unit = {
    import s.implicits._
    val log = Tables.load(s, dir, "orders")
      .withColumn("op",
        when($"o_orderkey" % 10 === 0, "DELETE")
          .when($"o_orderkey" % 3 === 0, "UPDATE")
          .otherwise("INSERT"))
    val payload = map(
      lit("o_custkey"), $"o_custkey".cast("string"),
      lit("o_orderkey"), $"o_orderkey".cast("string"),
      lit("o_orderpriority"), $"o_orderpriority",
      lit("o_totalprice"), $"o_totalprice".cast("string"))
    val events = log.select(
      $"o_orderkey".as("batch_src"),
      $"o_orderdate".cast("timestamp").as("eventTime"),
      lit("public").as("tableNamespace"), lit("orders").as("tableName"),
      when($"op" === "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("oldData"),
      when($"op" =!= "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("newData"),
      $"op")
      .localCheckpoint(true) // one scan feeds all three replay batches
    (0 until 3).foreach { i =>
      val changes = graft.streaming.Materialize.applyBatchCdf(
        events.filter(pmod($"batch_src", lit(3)) === i).drop("batch_src"),
        keyField = "o_custkey", s"$base/t", nBuckets = 8,
        seqCol = Some("o_orderkey"))
      graft.streaming.Materialize.applyMinMaxDelta(
        changes, groupField = "o_orderpriority", measureField = "o_totalprice",
        s"$base/idx", s"$base/view", nBuckets = 8, measureScale = 2)
      // the q288 moments view rides the SAME replay (one maintained
      // family per table, several views — the q271 deployment model)
      graft.streaming.Materialize.applyMomentsDelta(
        changes, groupField = "o_orderpriority", measureField = "o_totalprice",
        s"$base/moments", measureScale = 2)
    }
  }

  /** q288 — exact incremental MEAN/VARIANCE view over the decimal
    * measure (the subtractable second-moment completion of the MV
    * family): maintained as (n, Σcents, Σcents²) deltas on q284's
    * replay — the second moment a BIGINT cannot hold (Σcents² passes
    * 2⁶³ already at sf0.01) lives in an exact DECIMAL(38,0) sum, and
    * the variance derives at read time from exact integers through one
    * fixed-shape double chain, FLOAT-presented (the q165/q205
    * wide-decimal→double ulp rule). The oracle restates mean/variance
    * declaratively over final latest-by-key state with the identical
    * integer-moment expression.
    *
    * At 100 TB: [[graft.streaming.Materialize.applyAggregateDelta]]'s
    * shape exactly — per-batch cost is batch-sized deltas merged into
    * an output-sized (one row per group) table; exactness under
    * redelivery is inherited from the feed because integer deltas
    * cancel exactly where floating-point accumulation could not.
    */
  def q288CdcMomentsMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = replayDecimalMv(s, dir)
    graft.streaming.Materialize.momentsView(s, s"$base/moments")
      .select($"grp".as("o_orderpriority"), $"n",
        $"s1".as("sum_totalprice_cents"), $"mean".as("mean_cents"),
        $"var_pop".as("var_pop_cents"))
      .orderBy($"o_orderpriority")
  }

  val q288CdcMomentsMvSql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN o_orderkey % 10 = 0 THEN 'DELETE'
      |                 WHEN o_orderkey % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM orders),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM log),
      |vals AS (
      |  SELECT o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM latest WHERE rn = 1 AND op <> 'DELETE'),
      |m AS (
      |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS s1,
      |    SUM(CAST(cents AS HUGEINT) * cents) AS s2
      |  FROM vals GROUP BY o_orderpriority)
      |SELECT o_orderpriority, n, s1 AS sum_totalprice_cents,
      |  CAST(CAST(s1 AS DOUBLE) / n AS FLOAT) AS mean_cents,
      |  CAST(CAST(s2 * n - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
      |       / CAST(n * n AS DOUBLE) AS FLOAT) AS var_pop_cents
      |FROM m ORDER BY o_orderpriority""".stripMargin

  val q284CdcDecimalMvSql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN o_orderkey % 10 = 0 THEN 'DELETE'
      |                 WHEN o_orderkey % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM orders),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM log),
      |vals AS (
      |  SELECT o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM latest WHERE rn = 1 AND op <> 'DELETE')
      |SELECT o_orderpriority,
      |  MIN(cents) AS min_totalprice_cents,
      |  MAX(cents) AS max_totalprice_cents,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM vals GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val q65IncrMvSql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN event_id % 10 = 0 THEN 'DELETE'
      |                 WHEN event_id % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM events),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_event_id
      |FROM latest WHERE rn = 1 AND op <> 'DELETE'
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q270 — TRUNCATE through the replica lane, end-to-end under the
    * oracle: the q64 change log gets one TRUNCATE event injected at the
    * corpus' midpoint position and is replayed through `applyBatch` in
    * three interleaved batches (event_id mod 3 — so pre-truncate
    * changes arrive both BEFORE the truncating batch and AFTER it, the
    * latter exercising the persisted horizon against late stragglers).
    * The truncate position (t0, s0) = the latest (ts, event_id) among
    * events with event_id ≤ 99% of max(event_id) — aggregate + top-1,
    * no global sort — and its seq rides the event's `seqCol` map field
    * exactly like row changes' LSNs do. The DuckDB twin restates the
    * contract declaratively: latest-by-key over ONLY the events at or
    * after the truncate position (ties at (t0, s0) survive — the
    * truncate-then-reload convention, Materialize.HorizonFile doc),
    * deletes dropped. The reference decodes wire truncates and drops
    * them (`connector.go:140-142`); this gate is what proves our
    * replica does not silently diverge instead.
    *
    * Scale shape: the truncating batch is the only one that reads every
    * bucket (the clear IS a full-table rewrite — unavoidable semantics);
    * every other batch stays touched-bucket-pruned, and the horizon
    * check adds one tiny file read per batch.
    */
  def q270CdcTruncate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev0 = Tables.load(s, dir, "events")
    val maxId = ev0.agg(max($"event_id")).first().getLong(0)
    // cut at the 99th id-percentile: ids are assigned in rough time
    // order, so ~half the users have NO post-cut activity (measured at
    // sf0.01 AND sf0.1) — the truncate must make those keys VANISH, and
    // their pre-cut changes redelivered in the post-truncate batch are
    // live resurrection bait for the horizon. A median cut would leave
    // every user with post-cut activity and the gate could not tell a
    // working truncate from a broken one (latest-by-key only sees each
    // key's newest event).
    val cut = ev0.filter($"event_id" <= maxId * 99L / 100L)
      .orderBy($"ts".desc, $"event_id".desc).limit(1)
      .select($"ts", $"event_id").first()
    val (t0, s0) = (cut.getTimestamp(0), cut.getLong(1))
    val log = ev0
      .withColumn("op",
        when($"event_id" % 10 === 0, "DELETE")
          .when($"event_id" % 3 === 0, "UPDATE")
          .otherwise("INSERT"))
    val payload = map(
      lit("user_id"), $"user_id".cast("string"),
      lit("event_id"), $"event_id".cast("string"),
      lit("event_type"), $"event_type",
      lit("value"), $"value".cast("string"))
    val rowEvents = log.select(
      $"event_id".as("batch_src"),
      $"ts".as("eventTime"),
      lit("public").as("tableNamespace"), lit("events").as("tableName"),
      when($"op" === "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("oldData"),
      when($"op" =!= "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("newData"),
      $"op")
    // the TRUNCATE event: commit position (t0, s0) carried through the
    // same seqCol map field the row changes use for their LSN
    val truncEvent = s.range(1).select(
      lit(1L).as("batch_src"), // delivered in the MIDDLE batch
      lit(t0).as("eventTime"),
      lit("public").as("tableNamespace"), lit("events").as("tableName"),
      lit(null).cast("map<string,string>").as("oldData"),
      map(lit("event_id"), lit(s0.toString),
        lit("cascade"), lit("false")).as("newData"),
      lit(graft.model.Op.Truncate).as("op"))
    val events = rowEvents.unionByName(truncEvent)
      // the replay harness re-filters this log per batch; materialize the
      // scan once instead of three times
      .localCheckpoint(true)
    val tablePath =
      java.nio.file.Files.createTempDirectory("graft_q270_replica").toString + "/t"
    (0 until 3).foreach { i =>
      graft.streaming.Materialize.applyBatch(
        events.filter(pmod($"batch_src", lit(3)) === i).drop("batch_src"),
        keyField = "user_id", tablePath, nBuckets = 8, seqCol = Some("event_id"))
    }
    graft.streaming.Materialize.replica(s, tablePath)
      .select(
        $"k".cast("long").as("user_id"),
        $"seq".as("event_id"),
        element_at($"data", "event_type").as("event_type"),
        element_at($"data", "value").cast("double").as("value"),
        $"event_time")
      .orderBy($"user_id")
  }

  val q270CdcTruncateSql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN event_id % 10 = 0 THEN 'DELETE'
      |                 WHEN event_id % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM events),
      |cut AS (
      |  SELECT ts AS t0, event_id AS s0 FROM events
      |  WHERE event_id <= (SELECT max(event_id) * 99 // 100 FROM events)
      |  ORDER BY ts DESC, event_id DESC LIMIT 1),
      |surv AS (
      |  SELECT l.* FROM log l, cut c
      |  WHERE l.ts > c.t0 OR (l.ts = c.t0 AND l.event_id >= c.s0)),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM surv)
      |SELECT user_id, event_id, event_type, value, ts AS event_time
      |FROM latest WHERE rn = 1 AND op <> 'DELETE'
      |ORDER BY user_id""".stripMargin

  val q64CdcReplicaSql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN event_id % 10 = 0 THEN 'DELETE'
      |                 WHEN event_id % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM events),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log)
      |SELECT user_id, event_id, event_type, value, ts AS event_time
      |FROM latest WHERE rn = 1 AND op <> 'DELETE'
      |ORDER BY user_id""".stripMargin

  val q46CdcApplySql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN event_id % 10 = 0 THEN 'DELETE'
      |                 WHEN event_id % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM events),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log)
      |SELECT user_id, op, event_id, event_type, value
      |FROM latest WHERE rn = 1 AND op <> 'DELETE'
      |ORDER BY user_id""".stripMargin

  /** q92 — replica TIME TRAVEL under the oracle: the q64 change log is
    * replayed through `applyBatchCdf` with the change feed persisted
    * write-once per batch, and the query result is `replicaAsOf` at the
    * MIDDLE batch — state reconstructed from feed batches 0..1 alone
    * (one partition-pruned latest-per-key fold, no event replay). The
    * oracle restates the contract declaratively: latest-by-(ts,
    * event_id) over exactly the events of batches 0..1, deletes
    * dropped. Batches are interleaved by event_id (not time-ordered),
    * so the gate also re-proves merge correctness at the as-of point —
    * including changes that LOST their batch's merge and must be
    * invisible to time travel.
    */
  def q92TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val log = Tables.load(s, dir, "events")
      .withColumn("op",
        when($"event_id" % 10 === 0, "DELETE")
          .when($"event_id" % 3 === 0, "UPDATE")
          .otherwise("INSERT"))
    val payload = map(
      lit("user_id"), $"user_id".cast("string"),
      lit("event_id"), $"event_id".cast("string"),
      lit("event_type"), $"event_type")
    val events = log.select(
      $"event_id".as("batch_src"),
      $"ts".as("eventTime"),
      lit("public").as("tableNamespace"), lit("events").as("tableName"),
      when($"op" === "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("oldData"),
      when($"op" =!= "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("newData"),
      $"op")
      .localCheckpoint(true)
    val base = java.nio.file.Files.createTempDirectory("graft_q92_tt").toString
    val tbl = s"$base/t"; val chg = s"$base/changes"
    (0 until 3).foreach { i =>
      graft.streaming.Materialize.applyBatchCdf(
        events.filter(pmod($"batch_src", lit(3)) === i).drop("batch_src"),
        keyField = "user_id", tbl, nBuckets = 8, seqCol = Some("event_id"),
        beforeTableWrite =
          ch => ch.write.mode("overwrite").parquet(s"$chg/batch=$i"))
    }
    graft.streaming.Materialize.replicaAsOf(s, chg, batch = 1)
      .select($"k".cast("long").as("user_id"),
        element_at($"data", "event_id").cast("long").as("event_id"),
        element_at($"data", "event_type").as("event_type"))
      .orderBy($"user_id")
  }

  val q92TimeTravelSql: String =
    """WITH log AS (
      |  SELECT *, CASE WHEN event_id % 10 = 0 THEN 'DELETE'
      |                 WHEN event_id % 3 = 0 THEN 'UPDATE'
      |                 ELSE 'INSERT' END AS op
      |  FROM events WHERE event_id % 3 <> 2),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log)
      |SELECT user_id, event_id, event_type
      |FROM latest WHERE rn = 1 AND op <> 'DELETE'
      |ORDER BY user_id""".stripMargin

  /** q97 — SCD Type-2 history from the change log: every change becomes
    * a VERSION row with its validity interval ([ts, next change's ts)),
    * open-ended for the key's current version — the standard
    * slowly-changing-dimension product a warehouse derives from CDC,
    * and the batch twin of the replica lane's time travel (q92 answers
    * "state as of X", this materializes ALL the intervals at once).
    * One partitioned window (lead over each key's change sequence), no
    * joins; DELETE rows stay in the history as tombstone versions, so
    * a key's lifecycle — including gaps while it did not exist — is
    * reconstructible from the intervals alone.
    */
  def q97Scd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.load(s, dir, "events")
      .withColumn("op",
        when($"event_id" % 10 === 0, "DELETE")
          .when($"event_id" % 3 === 0, "UPDATE")
          .otherwise("INSERT"))
      .select($"user_id", $"event_id", $"op", $"event_type",
        $"ts".as("valid_from"),
        lead($"ts", 1).over(w).as("valid_to"),
        (lead($"ts", 1).over(w).isNull && $"op" =!= "DELETE").as("is_current"))
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  val q97Scd2Sql: String =
    """SELECT user_id, event_id,
      |  CASE WHEN event_id % 10 = 0 THEN 'DELETE'
      |       WHEN event_id % 3 = 0 THEN 'UPDATE'
      |       ELSE 'INSERT' END AS op,
      |  event_type,
      |  ts AS valid_from,
      |  LEAD(ts) OVER w AS valid_to,
      |  (LEAD(ts) OVER w IS NULL
      |    AND event_id % 10 <> 0) AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  /** q83 — the Debezium-envelope serializer
    * (`Handlers.debeziumEnvelope`) under the oracle: the q46/q64 change
    * log (ops derived from event_id, eventTime = ts, so everything is
    * deterministic) rides the real handler path — op filtering, topic
    * routing, key extraction from the correct image, and the full
    * envelope (explicit-null before/after, c/u/d codes, epoch-millis
    * ts_ms, source block) — and the oracle reconstructs every JSON byte
    * by string concatenation. UPDATE/DELETE pre-images are synthesized
    * (event_id - 1) since the parquet log has no real ones; the doubles
    * column stays out of the payload (engine double→string rendering is
    * not portable — the q21 convention).
    */
  def q83Debezium(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val log = Tables.load(s, dir, "events")
      .withColumn("op",
        when($"event_id" % 10 === 0, "DELETE")
          .when($"event_id" % 3 === 0, "UPDATE")
          .otherwise("INSERT"))
    def img(eventId: Column) = map(
      lit("user_id"), $"user_id".cast("string"),
      lit("event_id"), eventId.cast("string"),
      lit("event_type"), $"event_type")
    val nullMap = lit(null).cast("map<string,string>")
    val events = log.select(
      $"ts".as("eventTime"),
      lit("public").as("tableNamespace"), lit("events").as("tableName"),
      when($"op".isin("UPDATE", "DELETE"), img($"event_id" - 1))
        .otherwise(nullMap).as("oldData"),
      when($"op" =!= "DELETE", img($"event_id"))
        .otherwise(nullMap).as("newData"),
      $"op")
    graft.transform.Handlers.debeziumEnvelope(
        events,
        graft.route.TopicRouter(Map("public.events" -> "events-topic")),
        keyField = "user_id")
      .orderBy($"key", $"value")
  }

  /** q128: per-group winsorization — outliers clipped to the exact
    * [p05, p95] band before aggregation, the robust-statistics guard
    * every metrics pipeline ends up needing. Two passes, both scale-
    * correct: one grouped exact-percentile aggregate over the handful
    * of groups (interpolated PERCENTILE_CONT semantics, matching
    * DuckDB's quantile_cont), whose tiny result broadcasts back onto
    * the fact scan for the clip-and-sum pass — the naive per-group
    * window would drag every row through a per-flag sort instead. The
    * clipped sum rounds to 2 dp: summation ORDER differs across
    * engines/partitionings, and cent-rounding absorbs the sub-ULP tail
    * while the bounds themselves are deterministic.
    */
  def q128Winsorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
    val bounds = li.groupBy($"l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.05)").as("p05"),
        expr("percentile(l_extendedprice, 0.95)").as("p95"))
    li.join(broadcast(bounds), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(first($"p05"), 2).as("p05"),
        round(first($"p95"), 2).as("p95"),
        round(sum(least(greatest($"l_extendedprice", $"p05"), $"p95")), 2)
          .as("winsorized_sum"))
      .orderBy($"l_returnflag")
  }

  val q128WinsorizeSql: String =
    """WITH b AS (
      |  SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, 0.05) AS p05,
      |    quantile_cont(l_extendedprice, 0.95) AS p95
      |  FROM lineitem GROUP BY 1)
      |SELECT li.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  round(min(b.p05), 2) AS p05, round(min(b.p95), 2) AS p95,
      |  round(SUM(least(greatest(li.l_extendedprice, b.p05), b.p95)), 2)
      |    AS winsorized_sum
      |FROM lineitem li JOIN b ON b.l_returnflag = li.l_returnflag
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q127: the outbox event router (Debezium outbox SMT parity) under
    * the oracle. The events table plays the outbox table — each row an
    * INSERT whose post-image carries `aggregatetype`/`aggregateid`/
    * `payload`/`id` — and [[graft.transform.Handlers.outboxRoute]]
    * emits the sink contract: derived topic, aggregate key, payload
    * VERBATIM (no re-serialization), id header. The oracle re-derives
    * all four as plain strings, proving route/key/payload/id fidelity.
    * One scan, pure projection — nothing to shuffle at any scale.
    */
  def q127Outbox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val outbox = Tables.load(s, dir, "events").select(
      $"ts".as("eventTime"),
      lit("public").as("tableNamespace"), lit("outbox").as("tableName"),
      lit(null).cast("map<string,string>").as("oldData"),
      map(
        lit("id"), $"event_id".cast("string"),
        lit("aggregatetype"), $"event_type",
        lit("aggregateid"), $"user_id".cast("string"),
        lit("payload"), $"props").as("newData"),
      lit(graft.model.Op.Insert).as("op"))
    graft.transform.Handlers.outboxRoute(outbox)
      .select($"topic", $"key".cast("string").as("key"),
        $"value".cast("string").as("value"),
        element_at($"headers", 1).getField("value").cast("string").as("hdr_id"))
      .orderBy($"hdr_id")
  }

  val q127OutboxSql: String =
    """SELECT 'outbox.event.' || event_type AS topic,
      |  CAST(user_id AS VARCHAR) AS key,
      |  props AS value,
      |  CAST(event_id AS VARCHAR) AS hdr_id
      |FROM events ORDER BY hdr_id""".stripMargin

  val q83DebeziumSql: String =
    """WITH log AS (
      |  SELECT event_id, ts, user_id, event_type,
      |    CASE WHEN event_id % 10 = 0 THEN 'd'
      |         WHEN event_id % 3 = 0 THEN 'u'
      |         ELSE 'c' END AS opc
      |  FROM events),
      |imgs AS (
      |  SELECT *,
      |    '{"user_id":"' || CAST(user_id AS VARCHAR) || '","event_id":"' ||
      |      CAST(event_id AS VARCHAR) || '","event_type":"' || event_type || '"}' AS after_j,
      |    '{"user_id":"' || CAST(user_id AS VARCHAR) || '","event_id":"' ||
      |      CAST(event_id - 1 AS VARCHAR) || '","event_type":"' || event_type || '"}' AS before_j
      |  FROM log)
      |SELECT 'events-topic' AS topic, CAST(user_id AS VARCHAR) AS key,
      |  '{"before":' || CASE WHEN opc IN ('u','d') THEN before_j ELSE 'null' END ||
      |  ',"after":' || CASE WHEN opc <> 'd' THEN after_j ELSE 'null' END ||
      |  ',"op":"' || opc || '","ts_ms":' || CAST(epoch_ms(ts) AS VARCHAR) ||
      |  ',"source":{"connector":"graft","schema":"public","table":"events"}}' AS value
      |FROM imgs ORDER BY key, value""".stripMargin

  /** q102 — one-pass mergeable quantile SKETCH per group: the scale
    * path for percentiles. q27's exact percentiles sort each group; at
    * 100 TB the right operator is Spark's built-in `percentile_approx`
    * (a Greenwald–Khanna-style summary: bounded memory per group,
    * partial-mergeable, one shuffle of sketch state — never row data).
    * Registered at full accuracy, where the summary holds every rank
    * and the answer is EXACTLY the discrete quantile — so the DuckDB
    * `quantile_disc` oracle grades the whole sketch lane, the same
    * full-capacity⇒exact discipline as q71 (KMV) / q77 (Misra–Gries);
    * the bounded-accuracy path is rank-error-graded in
    * QuantileSketchSpec.
    */
  def q102QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        percentile_approx($"value", lit(0.5), lit(1000000)).as("p50"),
        percentile_approx($"value", lit(0.9), lit(1000000)).as("p90"),
        percentile_approx($"value", lit(0.99), lit(1000000)).as("p99"))
      .orderBy($"event_type")
  }

  val q102QuantileSketchSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  quantile_disc(value, 0.5) AS p50,
      |  quantile_disc(value, 0.9) AS p90,
      |  quantile_disc(value, 0.99) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q242: HyperLogLog-style register sketch for distinct counting —
    * the REGISTER-MAX family beside q71's bottom-k: the Flajolet et al.
    * 2007 estimator over m = 64 registers, built end-to-end from
    * portable integer ops so BOTH engines compute the identical sketch
    * (hash = first 60 bits of md5; register = h mod 64; ρ = 55 −
    * bit_length(h div 64), bit_length via the minimal `bin()` string
    * both engines share). The elements are the corpus's word
    * 3-shingles; crucially the sketch path needs NO distinct and NO
    * shuffle — max(ρ) per register is duplicate-insensitive and
    * map-side combinable, which is the whole reason HLL is a warehouse
    * primitive: at 100 TB the sketch is one scan producing 64 longs,
    * vs the exact baseline's corpus-wide distinct shuffle (computed
    * here only to grade the estimate). Harmonic sum folds the 64
    * registers in index order; the raw estimate α₆₄·m²/Σ2^(−M_j) and
    * Flajolet's small-range correction (taken iff raw ≤ 2.5m with
    * empty registers — branch decided on identical doubles) present as
    * FLOAT per the libm rule (`ln`).
    */
  def q242HllDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = 64
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"text")
    // trigram shingles via the native word_ngrams scan (r15); string
    // shape identical to the oracle's ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
    val sh = docs
      .select(explode(call_function("word_ngrams", $"text", lit(3))).as("g"))
      .localCheckpoint(true) // sketch lane + exact baseline
    val hv = conv(substring(md5($"g"), 1, 15), 16, 10).cast("long")
    val withRho = sh.select((hv % m).as("idx"),
        shiftright(hv, 6).as("tail"))
      .select($"idx",
        when($"tail" === 0L, lit(55L))
          .otherwise(lit(55L) - length(bin($"tail")).cast("long")).as("rho"))
    val regs = withRho.groupBy($"idx").agg(max($"rho").as("reg"))
    val fullRegs = s.range(m).select($"id".as("idx"))
      .join(regs, Seq("idx"), "left")
      .select($"idx", coalesce($"reg", lit(0L)).as("reg"))
    val sums = fullRegs.agg(
      LangModel.orderedSum($"idx",
        // 2^reg is a power of two — exact as a double in both engines
        lit(1.0) / pow(lit(2.0), $"reg".cast("double"))).as("hsum"),
      sum(when($"reg" === 0L, 1L).otherwise(0L)).as("v_zero"))
    val exact = sh.agg(count_distinct($"g").as("exact_distinct"))
    val est = sums.crossJoin(broadcast(exact))
      .withColumn("raw", lit(0.709) * lit(m) * lit(m) / $"hsum")
      .withColumn("est_d",
        when($"raw" <= lit(160.0) && $"v_zero" > 0L,
          lit(64.0) * log(lit(64.0) / $"v_zero")).otherwise($"raw"))
    est.select(lit(m.toLong).as("m"), $"v_zero",
      $"raw".cast("float").as("raw_estimate"),
      $"est_d".cast("float").as("estimate"),
      $"exact_distinct",
      (($"est_d" - $"exact_distinct".cast("double"))
        / $"exact_distinct".cast("double")).cast("float").as("rel_error"))
  }

  /** q247: HLL register SET ALGEBRA — the property that makes the
    * q242 sketch a warehouse primitive rather than a one-shot
    * estimator (the register twin of q167's KMV set ops): per-source
    * trigram-vocabulary registers build in ONE scan (a (source, idx)
    * max — still no distinct, no row shuffle beyond the 20×64-row
    * aggregate), and the UNION cardinality of all sources comes from
    * register-wise max over the already-aggregated per-source
    * registers — no second corpus pass, the exact operation a
    * warehouse runs when merging per-partition/per-day sketches.
    * Per-source and union estimates are graded against exact distinct
    * counts computed only for the report.
    *
    * Same portable integer construction as q242 (md5 hash, mod-64
    * register, bin()-length ρ); harmonic sums fold each bounded
    * 64-register frame in index order; ln presents FLOAT.
    */
  def q247HllSetops(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = 64
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"source", $"text")
    val sh = docs
      .select($"source",
        explode(call_function("word_ngrams", $"text", lit(3))).as("g"))
      .localCheckpoint(true) // sketch lane + the two exact baselines
    val hv = conv(substring(md5($"g"), 1, 15), 16, 10).cast("long")
    val withRho = sh.select($"source", (hv % m).as("idx"),
        shiftright(hv, 6).as("tail"))
      .select($"source", $"idx",
        when($"tail" === 0L, lit(55L))
          .otherwise(lit(55L) - length(bin($"tail")).cast("long")).as("rho"))
    val perSrc = withRho.groupBy($"source", $"idx").agg(max($"rho").as("reg"))
      .localCheckpoint(true) // bounded 20×64; feeds per-source AND union
    val unionRegs = perSrc.groupBy($"idx").agg(max($"reg").as("reg"))
      .select(lit("__union__").as("scope"), $"idx", $"reg")
    val scoped = perSrc.select($"source".as("scope"), $"idx", $"reg")
      .unionByName(unionRegs)
    val fullRegs = scoped.select($"scope").distinct()
      .crossJoin(s.range(m).select($"id".as("idx")))
      .join(scoped, Seq("scope", "idx"), "left")
      .select($"scope", $"idx", coalesce($"reg", lit(0L)).as("reg"))
    val sums = fullRegs.groupBy($"scope").agg(
      LangModel.orderedSum($"idx",
        lit(1.0) / pow(lit(2.0), $"reg".cast("double"))).as("hsum"),
      sum(when($"reg" === 0L, 1L).otherwise(0L)).as("v_zero"))
    val exactSrc = sh.groupBy($"source".as("scope"))
      .agg(count_distinct($"g").as("exact_distinct"))
    val exactUnion = sh.agg(count_distinct($"g").as("exact_distinct"))
      .select(lit("__union__").as("scope"), $"exact_distinct")
    val est = sums.join(exactSrc.unionByName(exactUnion), Seq("scope"))
      .withColumn("raw", lit(0.709) * lit(m) * lit(m) / $"hsum")
      .withColumn("est_d",
        when($"raw" <= lit(160.0) && $"v_zero" > 0L,
          lit(64.0) * log(lit(64.0) / $"v_zero")).otherwise($"raw"))
    est.select($"scope", $"v_zero",
        $"est_d".cast("float").as("estimate"),
        $"exact_distinct",
        (($"est_d" - $"exact_distinct".cast("double"))
          / $"exact_distinct".cast("double")).cast("float").as("rel_error"))
      .orderBy($"scope")
  }

  /** CMS shape: depth (independent hash rows) and width (buckets per
    * row). 4x512 = 2048 registers — a fixed 16 KB of longs regardless
    * of corpus size.
    */
  val CmsDepth = 4
  val CmsWidth = 512
  /** How many top-frequency words the q257 report grades. */
  val CmsTopK = 20

  /** Row-i bucket of a word: 28 bits sliced from the word's md5 at
    * offset 7i, mod the width — the q242 portable-hash idiom (md5 and
    * hex-parse are engine-identical), with DISJOINT digest slices
    * standing in for the d pairwise-independent hash functions.
    */
  private[graft] def cmsBucket(word: Column, i: Column): Column =
    conv(md5(word).substr((i * 7 + 1).cast("int"), lit(7)), 16, 10)
      .cast("long") % CmsWidth

  /** q257 — Count-Min sketch point-frequency estimates (Cormode &
    * Muthukrishnan 2005): the COUNTING sketch beside q242/q247's
    * distinct-counting HLL and the streaming lane's SpaceSaving top-k.
    * Every word occurrence increments one register per hash row; a
    * word's estimate is the MIN over its d registers — never an
    * undercount (each of its registers holds its true count plus
    * non-negative collision mass), which the report exposes as the
    * per-word `overcount` column (>= 0 by construction, the sketch's
    * one-sided error law). Graded against exact counts for the top-20
    * words (count DESC, word tie-break).
    *
    * At 100 TB: the sketch path is ONE corpus scan into a
    * 4x512-register aggregate — map-side combined, duplicate-friendly,
    * NO distinct and no corpus-keyed shuffle (the same reason HLL is a
    * warehouse primitive; registers are additionally mergeable by
    * element-wise SUM across shards/days, law-tested in CmsSpec). The
    * exact word counts exist only to grade the report (one word-keyed
    * shuffle); the probe joins the top-k frame against the broadcast
    * 2048-row register table.
    */
  def q257CmsEstimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.load(s, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .localCheckpoint(true) // sketch lane + exact baseline
    val regs = words
      .select(explode(sequence(lit(0L), lit(CmsDepth - 1L))).as("i"), $"word")
      .select($"i", cmsBucket($"word", $"i").as("bucket"))
      .groupBy($"i", $"bucket").agg(count(lit(1)).as("reg"))
    val topk = words.groupBy($"word").agg(count(lit(1)).as("true_cnt"))
      .orderBy($"true_cnt".desc, $"word").limit(CmsTopK)
    val est = topk
      .select($"word", $"true_cnt",
        explode(sequence(lit(0L), lit(CmsDepth - 1L))).as("i"))
      .select($"word", $"true_cnt", $"i", cmsBucket($"word", $"i").as("bucket"))
      .join(broadcast(regs), Seq("i", "bucket"))
      .groupBy($"word", $"true_cnt").agg(min($"reg").as("cms_est"))
    est.select($"word", $"true_cnt", $"cms_est",
        ($"cms_est" - $"true_cnt").as("overcount"))
      .orderBy($"true_cnt".desc, $"word")
  }

  val q257CmsEstimateSql: String =
    s"""WITH w AS (
      |  SELECT word FROM
      |    (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$')),
      |occ AS (
      |  SELECT t.i,
      |    CAST(('0x' || substring(md5(word), CAST(t.i * 7 + 1 AS INT), 7))
      |      AS BIGINT) % $CmsWidth AS bucket
      |  FROM w, (SELECT unnest(range(0, $CmsDepth)) AS i) t),
      |regs AS (
      |  SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS reg
      |  FROM occ GROUP BY 1, 2),
      |topk AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS true_cnt
      |  FROM w GROUP BY word
      |  ORDER BY true_cnt DESC, word LIMIT $CmsTopK),
      |probe AS (
      |  SELECT word, true_cnt, t.i,
      |    CAST(('0x' || substring(md5(word), CAST(t.i * 7 + 1 AS INT), 7))
      |      AS BIGINT) % $CmsWidth AS bucket
      |  FROM topk, (SELECT unnest(range(0, $CmsDepth)) AS i) t),
      |e AS (
      |  SELECT word, true_cnt, MIN(reg) AS cms_est
      |  FROM probe JOIN regs USING (i, bucket)
      |  GROUP BY 1, 2)
      |SELECT word, true_cnt, cms_est, cms_est - true_cnt AS overcount
      |FROM e ORDER BY true_cnt DESC, word""".stripMargin

  val q247HllSetopsSql: String =
    """WITH sh AS (
      |  SELECT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      |  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents),
      |       LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)),
      |h AS (SELECT source,
      |        CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS hv
      |      FROM sh),
      |r AS (SELECT source, hv % 64 AS idx,
      |        CASE WHEN hv // 64 = 0 THEN 55
      |             ELSE 55 - CAST(length(bin(hv // 64)) AS BIGINT) END AS rho
      |      FROM h),
      |ps AS (SELECT source, idx, CAST(MAX(rho) AS BIGINT) AS reg
      |       FROM r GROUP BY 1, 2),
      |un AS (SELECT '__union__' AS scope, idx, CAST(MAX(reg) AS BIGINT) AS reg
      |       FROM ps GROUP BY 2),
      |sc AS (SELECT source AS scope, idx, reg FROM ps
      |       UNION ALL SELECT scope, idx, reg FROM un),
      |fr AS (SELECT s.scope, t.i AS idx, CAST(COALESCE(sc.reg, 0) AS BIGINT) AS reg
      |       FROM (SELECT DISTINCT scope FROM sc) s
      |       CROSS JOIN (SELECT unnest(range(0, 64)) AS i) t
      |       LEFT JOIN sc ON sc.scope = s.scope AND sc.idx = t.i),
      |ss AS (SELECT scope,
      |        list_sum(list(CAST(1.0 AS DOUBLE)
      |          / pow(CAST(2.0 AS DOUBLE), CAST(reg AS DOUBLE))
      |          ORDER BY idx)) AS hsum,
      |        CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
      |      FROM fr GROUP BY scope),
      |ex AS (SELECT source AS scope, CAST(COUNT(DISTINCT g) AS BIGINT) AS exact_distinct
      |       FROM sh GROUP BY 1
      |       UNION ALL
      |       SELECT '__union__', CAST(COUNT(DISTINCT g) AS BIGINT) FROM sh),
      |e AS (SELECT ss.scope, ss.v_zero, ex.exact_distinct,
      |        CAST(0.709 AS DOUBLE) * 64 * 64 / ss.hsum AS raw
      |      FROM ss JOIN ex ON ex.scope = ss.scope),
      |f AS (SELECT scope, v_zero, exact_distinct, raw,
      |        CASE WHEN raw <= CAST(160.0 AS DOUBLE) AND v_zero > 0
      |             THEN CAST(64.0 AS DOUBLE) * ln(CAST(64.0 AS DOUBLE) / v_zero)
      |             ELSE raw END AS est_d
      |      FROM e)
      |SELECT scope, v_zero,
      |  CAST(est_d AS FLOAT) AS estimate,
      |  exact_distinct,
      |  CAST((est_d - CAST(exact_distinct AS DOUBLE))
      |    / CAST(exact_distinct AS DOUBLE) AS FLOAT) AS rel_error
      |FROM f ORDER BY scope""".stripMargin

  val q242HllDistinctSql: String =
    """WITH sh AS (
      |  SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      |  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
      |       LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)),
      |h AS (SELECT CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS hv FROM sh),
      |b AS (SELECT hv % 64 AS idx, hv // 64 AS tail FROM h),
      |r AS (SELECT idx,
      |        CASE WHEN tail = 0 THEN 55
      |             ELSE 55 - CAST(length(bin(tail)) AS BIGINT) END AS rho
      |      FROM b),
      |mx AS (SELECT idx, CAST(MAX(rho) AS BIGINT) AS reg FROM r GROUP BY idx),
      |fr AS (SELECT t.i AS idx, CAST(COALESCE(mx.reg, 0) AS BIGINT) AS reg
      |       FROM (SELECT unnest(range(0, 64)) AS i) t LEFT JOIN mx ON mx.idx = t.i),
      |s AS (SELECT
      |        list_sum(list(CAST(1.0 AS DOUBLE)
      |          / pow(CAST(2.0 AS DOUBLE), CAST(reg AS DOUBLE))
      |          ORDER BY idx)) AS hsum,
      |        CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
      |      FROM fr),
      |ex AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS exact_distinct FROM sh),
      |e AS (SELECT s.v_zero, ex.exact_distinct,
      |        CAST(0.709 AS DOUBLE) * 64 * 64 / s.hsum AS raw
      |      FROM s CROSS JOIN ex),
      |f AS (SELECT v_zero, exact_distinct, raw,
      |        CASE WHEN raw <= CAST(160.0 AS DOUBLE) AND v_zero > 0
      |             THEN CAST(64.0 AS DOUBLE) * ln(CAST(64.0 AS DOUBLE) / v_zero)
      |             ELSE raw END AS est_d
      |      FROM e)
      |SELECT CAST(64 AS BIGINT) AS m, v_zero,
      |  CAST(raw AS FLOAT) AS raw_estimate,
      |  CAST(est_d AS FLOAT) AS estimate,
      |  exact_distinct,
      |  CAST((est_d - CAST(exact_distinct AS DOUBLE))
      |    / CAST(exact_distinct AS DOUBLE) AS FLOAT) AS rel_error
      |FROM f""".stripMargin
}
