package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Migration validation — the answer to "does the replica match the
  * source?" after a CDC cutover (the reference world's operational
  * acceptance test; the reference itself offers nothing here, a real
  * user diffs tables by hand). The primitive is an order-independent
  * table checksum: a 60-bit hash per canonicalized row, XOR-folded per
  * key bucket. XOR is commutative/associative and overflow-free, so the
  * checksum is partitioning- and order-insensitive by construction, and
  * per-BUCKET sums localize a divergence to 1/16th of the keyspace
  * instead of one all-or-nothing verdict (re-bucket recursively to
  * binary-search a corrupt range at 100 TB — each pass is one map-side
  * scan + a 16-row aggregate).
  *
  * Canonicalization avoids every engine-variance trap: exact-decimal
  * money columns cast to DECIMAL(12,2) before stringifying (never a
  * computed double), dates render ISO, nulls become a sentinel distinct
  * from any value, and the hash is an md5 prefix (byte-identical
  * everywhere) rather than an engine-private hash function.
  */
object Validation {

  /** The reusable primitive under q115: per-bucket XOR of a 60-bit md5
    * prefix over a caller-supplied canonical row string, plus counts.
    * Two frames with equal output are content-identical per bucket
    * regardless of row order or partitioning — compare source vs
    * replica after a cutover (MigrationE2eSpec does exactly this).
    */
  def checksum(df: DataFrame, bucket: org.apache.spark.sql.Column,
      canonical: org.apache.spark.sql.Column): DataFrame =
    df.select(bucket.as("bucket"),
        conv(substring(md5(canonical), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("bucket"))
      .agg(expr("bit_xor(h)").as("checksum"), count(lit(1)).as("n_rows"))
      .orderBy(col("bucket"))

  /** q115: per-bucket XOR checksum + row count over lineitem. */
  def q115ReplicaChecksum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val canon = concat_ws("|",
      $"l_orderkey".cast("string"),
      $"l_linenumber".cast("string"),
      coalesce($"l_quantity".cast("decimal(12,2)").cast("string"), lit("∅")),
      coalesce($"l_extendedprice".cast("decimal(12,2)").cast("string"), lit("∅")),
      coalesce($"l_returnflag", lit("∅")),
      coalesce($"l_shipdate".cast("string"), lit("∅")))
    checksum(Tables.load(s, dir, "lineitem"), $"l_orderkey" % 16, canon)
  }

  /** q118: skyline (Pareto frontier) — parts not dominated on
    * (maximize p_size, maximize p_retailprice); the classic preference
    * query whose declarative semantics is a quadratic NOT EXISTS
    * dominance test. Executed as the standard two-phase distributed
    * skyline: (1) local Pareto pruning — per-size max price, a map-side-
    * combined aggregate that shrinks the corpus to one row per value of
    * the first dimension (any same-size lower-price row is dominated by
    * its size's maximum, so nothing on the frontier is lost); (2) the
    * merge pass — one running-max window over that BOUNDED maxima frame
    * (cardinality = the size domain, ~50 for integer sizes, never the
    * corpus), keeping sizes whose max price strictly exceeds every
    * larger size's; (3) a broadcast join back to recover all part rows
    * carrying a frontier (size, price) pair — equal pairs are mutually
    * non-dominating and all belong on the skyline, matching the
    * NOT-EXISTS oracle's strictness exactly.
    */
  def q118Skyline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.load(s, dir, "part")
      .select($"p_partkey", $"p_name", $"p_size", $"p_retailprice")
    val maxima = p.groupBy($"p_size").agg(max($"p_retailprice").as("p_retailprice"))
    val wPrev = org.apache.spark.sql.expressions.Window
      .orderBy($"p_size".desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val frontier = maxima
      .withColumn("prev_max", max($"p_retailprice").over(wPrev))
      .filter($"prev_max".isNull || $"prev_max" < $"p_retailprice")
      .select($"p_size", $"p_retailprice")
    p.join(broadcast(frontier), Seq("p_size", "p_retailprice"))
      .select($"p_partkey", $"p_name", $"p_size", $"p_retailprice")
      .orderBy($"p_partkey")
  }

  val q118SkylineSql: String =
    """SELECT p_partkey, p_name, p_size, p_retailprice FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_size >= p.p_size AND q.p_retailprice >= p.p_retailprice
      |    AND (q.p_size > p.p_size OR q.p_retailprice > p.p_retailprice))
      |ORDER BY p_partkey""".stripMargin

  val q115ReplicaChecksumSql: String =
    """WITH h AS (
      |  SELECT l_orderkey % 16 AS bucket,
      |    CAST(('0x' || substring(md5(
      |      CAST(l_orderkey AS VARCHAR) || '|' ||
      |      CAST(l_linenumber AS VARCHAR) || '|' ||
      |      COALESCE(CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR), '∅') || '|' ||
      |      COALESCE(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR), '∅') || '|' ||
      |      COALESCE(l_returnflag, '∅') || '|' ||
      |      COALESCE(CAST(l_shipdate AS VARCHAR), '∅')), 1, 15)) AS BIGINT) AS h
      |  FROM lineitem)
      |SELECT bucket, bit_xor(h) AS checksum, CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q137: the per-column data-quality profile — row count, null
    * count, and exact distinct cardinality for every lineitem column,
    * the first report any ingestion pipeline runs on a new table. ONE
    * pass: all 11 null-counters and distinct-aggregates live in a
    * single `agg`, which Spark plans as one Expand (×12 row fan-out,
    * map-side, no extra scans) feeding partial aggregates — versus 11
    * separate jobs for the naive per-column loop. The one-row result
    * explodes into the (column, stats) report frame. Exact integers
    * only; distinct-count of doubles compares raw parquet values, no
    * arithmetic. The oracle is the 11-way UNION ALL stating the same
    * numbers per column.
    */
  def q137Profile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
    val cols = li.columns.sorted
    // r16 optimization: the single 11-distinct `agg` planned as one
    // ×12 Expand — every row fanned out twelve ways into a two-level
    // hash aggregate carrying all columns at once. A UNION of
    // per-column aggregates reads ONE parquet column per branch
    // (column pruning per scan), partial-aggregates the distinct
    // values map-side, and rolls each branch up to one row —
    // an interleaved A/B measured 4.7 s → 1.4 s at sf0.1
    // with identical output. n_rows = Σ group counts, n_null = the
    // null group's count, n_distinct = non-null group count — exact
    // integers, oracle unchanged.
    cols.map { c =>
      li.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .agg(sum($"cnt").as("n_rows"),
          sum(when($"v".isNull, $"cnt").otherwise(0L)).as("n_null"),
          sum(when($"v".isNotNull, 1L).otherwise(0L)).as("n_distinct"))
        .select(lit(c).as("column"), $"n_rows", $"n_null", $"n_distinct")
    }.reduce(_ unionAll _).orderBy($"column")
  }

  /** q142: referential-integrity orphan report — for each FK edge of
    * the star schema, how many child rows reference a missing parent.
    * Four hard PK edges (clean in this data — the zeros ARE the report)
    * plus the filtered-dimension variant every warehouse actually
    * fights: orders pointing at customers with a negative balance
    * ("inactive" parent — present as a row, invalid as a reference).
    *
    * Per edge: ONE left join against the distinct parent keyset + a
    * conditional count — no per-edge rescans of the parent, no anti-join
    * + count(*) double pass. At scale the dim keysets broadcast;
    * lineitem→orders shuffles both sides on the key once — the plan a
    * hand-written validator would pick.
    */
  def q142RiOrphans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def edge(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val keys = parent.select(col(pkey).as(key)).distinct()
        .withColumn("present", lit(1))
      child.select(col(key)).join(keys, Seq(key), "left")
        .agg(count(lit(1)).as("child_rows"),
          sum($"present".isNull.cast("long")).as("orphans"))
        .select(lit(name).as("relationship"), $"child_rows", $"orphans")
    }
    val li = Tables.load(s, dir, "lineitem")
    val orders = Tables.load(s, dir, "orders")
    val cust = Tables.load(s, dir, "customer")
    Seq(
      edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
      edge("lineitem->part", li, "l_partkey",
        Tables.load(s, dir, "part"), "p_partkey"),
      edge("lineitem->supplier", li, "l_suppkey",
        Tables.load(s, dir, "supplier"), "s_suppkey"),
      edge("orders->customer", orders, "o_custkey", cust, "c_custkey"),
      edge("orders->active_customer", orders, "o_custkey",
        cust.filter($"c_acctbal" >= 0), "c_custkey"))
      .reduce(_ unionAll _)
      .orderBy($"relationship")
  }

  val q142RiOrphansSql: String = {
    def edge(name: String, child: String, key: String,
        parent: String, pkey: String, parentFilter: String = "") =
      s"""SELECT '$name' AS relationship, CAST(COUNT(*) AS BIGINT) AS child_rows,
         |  CAST(SUM(CASE WHEN p.$pkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphans
         |FROM $child c LEFT JOIN
         |  (SELECT DISTINCT $pkey FROM $parent $parentFilter) p
         |  ON c.$key = p.$pkey""".stripMargin
    Seq(
      edge("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("orders->active_customer", "orders", "o_custkey", "customer",
        "c_custkey", "WHERE c_acctbal >= 0"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
  }

  val q137ProfileSql: String = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")
    .map(c =>
      s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
         |FROM lineitem""".stripMargin)
    .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")

  /** q181: duplicate-charge detection — purchase pairs by the same user
    * for the same whole-dollar amount within 24 hours: the classic
    * payments-integrity rule (retried charge, double submit). The join
    * keys on (user, dollar) — an EQUIJOIN, so candidates shuffle once
    * on the composite key and the time-band predicate filters inside
    * each key group; `a.event_id < b.event_id` emits each unordered
    * pair once. At 100 TB key groups are per-user-per-amount tiny, so
    * the quadratic-within-group cost is bounded by charge frequency,
    * not corpus size. All-integer arithmetic (cents, µs).
    */
  def q181DoubleCharge(s: SparkSession, dir: String,
      windowHours: Int = 24): DataFrame = {
    import s.implicits._
    val p = Tables.load(s, dir, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id",
        (round($"value" * 100).cast("long")).as("cents"),
        unix_micros($"ts").as("us"), $"event_id")
      .withColumn("dollars", expr("cents DIV 100"))
    val winUs = windowHours.toLong * 3600L * 1000000L
    p.as("a").join(p.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.dollars" === $"b.dollars" &&
          $"a.event_id" < $"b.event_id" &&
          abs($"b.us" - $"a.us") <= winUs)
      .select($"a.user_id".as("user_id"), $"a.dollars".as("dollars"),
        $"a.event_id".as("first_event"), $"b.event_id".as("second_event"),
        abs($"b.us" - $"a.us").as("gap_us"))
      .orderBy($"user_id", $"first_event", $"second_event")
  }

  def q181DoubleChargeSql(windowHours: Int = 24): String =
    s"""WITH p AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) // 100 AS dollars,
      |    epoch_us(ts) AS us, event_id
      |  FROM events WHERE event_type = 'purchase')
      |SELECT a.user_id, a.dollars, a.event_id AS first_event,
      |  b.event_id AS second_event, abs(b.us - a.us) AS gap_us
      |FROM p a JOIN p b
      |  ON a.user_id = b.user_id AND a.dollars = b.dollars
      | AND a.event_id < b.event_id
      | AND abs(b.us - a.us) <= ${windowHours.toLong * 3600L * 1000000L}
      |ORDER BY a.user_id, first_event, second_event""".stripMargin

  /** q186: burst (rate-limit) audit — users whose event rate exceeded
    * `threshold` events within one clock hour, with their peak hourly
    * rate and the hours involved: the bot/abuse screen run before
    * behavioral data feeds training. One (user, hour) aggregation
    * (map-side partials), then a per-user reduce — both shuffles key
    * on the user axis; nothing else is corpus-sized. `date_trunc` hour
    * semantics agree across engines on naive-UTC timestamps.
    */
  def q186Burst(s: SparkSession, dir: String, threshold: Long = 3L): DataFrame = {
    import s.implicits._
    val hourly = Tables.load(s, dir, "events")
      .groupBy($"user_id", date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy($"user_id")
      .agg(max($"c").as("peak_hourly"),
        sum(($"c" >= threshold).cast("long")).as("n_burst_hours"),
        min(when($"c" >= threshold, $"h")).as("first_burst_hour"))
      .filter($"n_burst_hours" >= 1)
      .orderBy($"user_id")
  }

  def q186BurstSql(threshold: Long = 3L): String =
    s"""WITH hourly AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, CAST(MAX(c) AS BIGINT) AS peak_hourly,
      |  CAST(SUM(CASE WHEN c >= $threshold THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_burst_hours,
      |  MIN(CASE WHEN c >= $threshold THEN h END) AS first_burst_hour
      |FROM hourly GROUP BY user_id
      |HAVING SUM(CASE WHEN c >= $threshold THEN 1 ELSE 0 END) >= 1
      |ORDER BY user_id""".stripMargin

  /** q210: fact-to-detail reconciliation — does each order header's
    * `o_totalprice` equal its lines' `Σ price·(1−disc)·(1+tax)`? The
    * classic warehouse closing audit (and exactly what a replica
    * consumer runs to validate a CDC-materialized pair of tables
    * against each other). All money arithmetic stays in exact decimal
    * (the Exact.d2 discipline) so a drift is REAL, never a float
    * artifact; the per-status report carries mismatch counts (tolerance
    * one cent) and total absolute drift with one final double cast. At
    * 100 TB: one orderkey-shuffle join + two aggregates; AQE shares the
    * key partitioning.
    */
  def q210Reconcile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = Tables.load(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sum(Exact.d2($"l_extendedprice") * Exact.oneMinus($"l_discount")
        * Exact.onePlus($"l_tax")).as("line_total"))
    Tables.load(s, dir, "orders")
      .join(lines, $"o_orderkey" === $"l_orderkey", "left")
      .select($"o_orderstatus",
        (coalesce($"line_total", lit(0).cast("decimal(18,6)"))
          - Exact.d2($"o_totalprice")).as("drift"))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(abs($"drift") > lit(BigDecimal("0.01")), 1L).otherwise(0L)).as("n_mismatched"),
        sum(abs($"drift")).cast("double").as("total_abs_drift"))
      .orderBy($"o_orderstatus")
  }

  val q210ReconcileSql: String = {
    s"""WITH lines AS (
      |  SELECT l_orderkey,
      |    SUM(${Exact.sqlD2("l_extendedprice")} * ${Exact.sqlOneMinus("l_discount")}
      |      * ${Exact.sqlOnePlus("l_tax")}) AS line_total
      |  FROM lineitem GROUP BY 1),
      |d AS (
      |  SELECT o_orderstatus,
      |    COALESCE(line_total, CAST(0 AS DECIMAL(18,6))) - ${Exact.sqlD2("o_totalprice")} AS drift
      |  FROM orders LEFT JOIN lines ON o_orderkey = l_orderkey)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CASE WHEN abs(drift) > 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
      |  CAST(SUM(abs(drift)) AS DOUBLE) AS total_abs_drift
      |FROM d GROUP BY 1 ORDER BY o_orderstatus""".stripMargin
  }

  /** q219: k-anonymity audit — the privacy gate a training-data
    * pipeline runs before releasing records with quasi-identifiers
    * (Sweeney's k-anonymity, public formulation): every combination of
    * QI values must be shared by at least k records, or the class's
    * members are re-identifiable by linkage. QI here = (nation,
    * market segment, $1000 account-balance band) — the classic
    * demographic-plus-banded-numeric shape; the audit emits every
    * equivalence class below the k threshold with its size, i.e. the
    * records a release would have to suppress or generalize. The
    * balance band is FLOOR of the identical double division on both
    * engines (the q193 floor rule).
    *
    * At 100 TB: one QI-keyed aggregate with map-side partials; the
    * output is bounded by the class count, never the corpus.
    */
  def q219KAnonymity(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "customer")
      .groupBy($"c_nationkey".as("nation"), $"c_mktsegment".as("segment"),
        floor($"c_acctbal" / 1000.0).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("class_k"),
        concat_ws(",", sort_array(collect_list($"c_custkey"))).as("member_keys"))
      .filter($"class_k" < k)
      .orderBy($"nation", $"segment", $"bal_band")
  }

  def q219KAnonymitySql(k: Int = 5): String =
    s"""SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |  CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
      |  CAST(COUNT(*) AS BIGINT) AS class_k,
      |  string_agg(c_custkey, ',' ORDER BY c_custkey) AS member_keys
      |FROM customer
      |GROUP BY 1, 2, 3 HAVING COUNT(*) < $k
      |ORDER BY nation, segment, bal_band""".stripMargin

  /** q220: generalization-ladder selection — the k-anonymity FIX:
    * given a ladder of coarser balance bands ($1000 → $2000 → $4000 →
    * $8000 → no band), report per level how many equivalence classes
    * exist, how many violate k, the worst class size, and the number
    * of records living in violating classes (the suppression cost of
    * releasing at that level). The release picks the finest level
    * whose violation count is acceptable — the standard
    * generalization-vs-utility trade made queryable. One pass: the
    * ladder explodes 4 band levels per record (plus the bandless
    * level), then ONE (level, QI) aggregate and ONE level rollup.
    */
  def q220GeneralizationLadder(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val leveled = Tables.load(s, dir, "customer")
      .select($"c_custkey", $"c_nationkey", $"c_mktsegment", $"c_acctbal",
        explode(array(lit(1000), lit(2000), lit(4000), lit(8000))).as("level"))
    val classes = leveled
      .groupBy($"level", $"c_nationkey", $"c_mktsegment",
        floor($"c_acctbal" / $"level".cast("double")).cast("long").as("band"))
      .agg(count(lit(1)).as("ck"))
    classes.groupBy($"level")
      .agg(count(lit(1)).as("n_classes"),
        sum(when($"ck" < k, 1L).otherwise(0L)).as("n_risky"),
        min($"ck").as("min_k"),
        sum(when($"ck" < k, $"ck").otherwise(0L)).as("n_exposed_records"))
      .orderBy($"level")
  }

  /** q222: declarative data-expectations suite (the Deequ/
    * Great-Expectations operator class): a fixed set of named
    * constraints — completeness, key uniqueness, value ranges,
    * referential integrity, cross-table temporal sanity — evaluated in
    * bulk, emitting per-constraint checked/violation counts and a
    * pass flag. Two of the range gates are deliberately tighter than
    * the data (quantity ≤ 40, discount ≤ 0.05) so the violation path
    * is exercised, not just the all-green path.
    *
    * Scale shape: the four single-table constraints ride ONE aggregate
    * pass over lineitem (count-distinct via Expand beside plain sums —
    * the q137 one-scan-profile shape); referential integrity is one
    * anti-join; the temporal check one equijoin. Report assembly is a
    * union of one-row frames — nothing collects.
    */
  def q222Expectations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
    val base = l.agg(
      count(lit(1)).as("n"),
      sum(when($"l_orderkey".isNull, 1L).otherwise(0L)).as("null_ok"),
      sum(when($"l_quantity" < 1 || $"l_quantity" > 40, 1L).otherwise(0L)).as("qty_viol"),
      sum(when($"l_discount" < 0 || $"l_discount" > 0.05, 1L).otherwise(0L)).as("disc_viol"),
      countDistinct($"l_orderkey", $"l_linenumber").as("n_keys"))
      .localCheckpoint(true) // one row; five report rows read it
    def row(name: String, checked: org.apache.spark.sql.Column,
        viol: org.apache.spark.sql.Column) =
      base.select(lit(name).as("constraint"), checked.cast("long").as("n_checked"),
        viol.cast("long").as("n_violations"))
    val orphans = l.select($"l_orderkey")
      .join(o.select($"o_orderkey"), $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).as("v"))
    val late = l.select($"l_orderkey", $"l_shipdate")
      .join(o.select($"o_orderkey", $"o_orderdate"), $"l_orderkey" === $"o_orderkey")
      .agg(count(lit(1)).as("n"),
        sum(when($"l_shipdate" < $"o_orderdate", 1L).otherwise(0L)).as("v"))
      .localCheckpoint(true)
    row("complete_l_orderkey", $"n", $"null_ok")
      .unionByName(row("unique_l_orderkey_linenumber", $"n", $"n" - $"n_keys"))
      .unionByName(row("range_l_quantity_1_40", $"n", $"qty_viol"))
      .unionByName(row("range_l_discount_0_0.05", $"n", $"disc_viol"))
      .unionByName(base.crossJoin(broadcast(orphans))
        .select(lit("ref_l_orderkey_in_orders").as("constraint"),
          $"n".cast("long").as("n_checked"), $"v".cast("long").as("n_violations")))
      .unionByName(late.select(lit("ship_after_order_date").as("constraint"),
        $"n".cast("long").as("n_checked"), $"v".cast("long").as("n_violations")))
      .withColumn("passed", $"n_violations" === 0L)
      .orderBy($"constraint")
  }

  val q222ExpectationsSql: String =
    """WITH base AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ok,
      |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 40 THEN 1 ELSE 0 END) AS BIGINT) AS qty_viol,
      |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS disc_viol,
      |    CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS n_keys
      |  FROM lineitem),
      |orph AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem
      |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
      |late AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS v
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |rep AS (
      |  SELECT 'complete_l_orderkey' AS constraint, n AS n_checked, null_ok AS n_violations FROM base
      |  UNION ALL SELECT 'unique_l_orderkey_linenumber', n, n - n_keys FROM base
      |  UNION ALL SELECT 'range_l_quantity_1_40', n, qty_viol FROM base
      |  UNION ALL SELECT 'range_l_discount_0_0.05', n, disc_viol FROM base
      |  UNION ALL SELECT 'ref_l_orderkey_in_orders', base.n, orph.v FROM base, orph
      |  UNION ALL SELECT 'ship_after_order_date', n, v FROM late)
      |SELECT "constraint", n_checked, n_violations,
      |  n_violations = 0 AS passed
      |FROM rep ORDER BY "constraint"""".stripMargin

  /** q224: foreign-key discovery profiling — the schema-inference pass
    * a pipeline runs over undocumented data (inclusion-dependency
    * mining, public formulation): for each candidate (child column →
    * parent column) pair, measure value containment (fraction of
    * distinct child values present in the parent) and parent-key
    * uniqueness; a pair is an FK candidate iff containment is total
    * AND the parent side is unique. The candidate list covers the
    * schema's four real FKs plus a deliberately REVERSED pair
    * (orders.o_orderkey → lineitem.l_orderkey) that containment
    * accepts but parent-uniqueness rejects — the report must
    * discriminate, not rubber-stamp. Per candidate: two distinct
    * aggregates + one anti-join on the distinct sets (never row-level
    * joins); the report unions one-row frames.
    */
  def q224FkDiscovery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r16 optimization: the old shape paid THREE value-keyed shuffles
    // per edge (child distinct + eager checkpoint, parent
    // countDistinct, anti-join) plus two broadcast-exchange jobs to
    // reassemble three 1-row frames. All four statistics are facts
    // about the per-VALUE union of the two key columns, so ONE
    // map-side-combined aggregate keyed on the value computes them
    // together, and the 1-row report needs no crossJoins. Exact
    // integers throughout — identical output, oracle unchanged.
    def audit(childTable: String, childCol: String,
        parentTable: String, parentCol: String): DataFrame = {
      val child = Tables.load(s, dir, childTable).select(col(childCol).as("v"))
        .filter($"v".isNotNull)
        .select($"v", lit(1L).as("isC"), lit(0L).as("isP"))
      val parent = Tables.load(s, dir, parentTable).select(col(parentCol).as("v"))
        .select($"v", lit(0L).as("isC"), lit(1L).as("isP"))
      child.unionByName(parent)
        .groupBy($"v")
        .agg(max($"isC").as("inC"), sum($"isP").as("np"))
        .agg(
          sum($"inC").as("n_child_distinct"),
          sum($"np").as("n_parent_rows"),
          // countDistinct excludes NULL keys; the null-v group must not
          // count (its rows still count into n_parent_rows above)
          sum(when($"np" > 0 && $"v".isNotNull, 1L).otherwise(0L))
            .as("n_parent_distinct"),
          sum(when($"inC" === 1L && $"np" > 0, 1L).otherwise(0L))
            .as("n_contained"))
        .select(
          lit(s"$childTable.$childCol").as("child"),
          lit(s"$parentTable.$parentCol").as("parent"),
          $"n_child_distinct", $"n_parent_rows", $"n_parent_distinct",
          $"n_contained",
          ($"n_contained".cast("double") /
            $"n_child_distinct").as("containment"),
          ($"n_contained" === $"n_child_distinct" &&
            $"n_parent_rows" === $"n_parent_distinct").as("is_fk"))
    }
    Seq(
      audit("lineitem", "l_orderkey", "orders", "o_orderkey"),
      audit("lineitem", "l_partkey", "part", "p_partkey"),
      audit("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      audit("orders", "o_custkey", "customer", "c_custkey"),
      audit("orders", "o_orderkey", "lineitem", "l_orderkey"))
      .reduce(_ unionByName _)
      .orderBy($"child", $"parent")
  }

  val q224FkDiscoverySql: String = {
    def one(ct: String, cc: String, pt: String, pc: String) =
      s"""SELECT '$ct.$cc' AS child, '$pt.$pc' AS parent,
        |  (SELECT CAST(COUNT(DISTINCT $cc) AS BIGINT) FROM $ct
        |   WHERE $cc IS NOT NULL) AS n_child_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $pt) AS n_parent_rows,
        |  (SELECT CAST(COUNT(DISTINCT $pc) AS BIGINT) FROM $pt) AS n_parent_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT $cc AS v FROM $ct WHERE $cc IS NOT NULL) c
        |   WHERE c.v IN (SELECT $pc FROM $pt)) AS n_contained""".stripMargin
    val parts = Seq(
      one("lineitem", "l_orderkey", "orders", "o_orderkey"),
      one("lineitem", "l_partkey", "part", "p_partkey"),
      one("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      one("orders", "o_custkey", "customer", "c_custkey"),
      one("orders", "o_orderkey", "lineitem", "l_orderkey"))
      .mkString("\nUNION ALL\n")
    s"""WITH rep AS (
      |$parts)
      |SELECT child, parent, n_child_distinct, n_parent_rows,
      |  n_parent_distinct, n_contained,
      |  CAST(n_contained AS DOUBLE) / n_child_distinct AS containment,
      |  n_contained = n_child_distinct AND n_parent_rows = n_parent_distinct AS is_fk
      |FROM rep ORDER BY child, parent""".stripMargin
  }

  def q220GeneralizationLadderSql(k: Int = 5): String =
    s"""WITH leveled AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal, level
      |  FROM customer CROSS JOIN (SELECT unnest([1000, 2000, 4000, 8000]) AS level) l),
      |classes AS (
      |  SELECT level, c_nationkey, c_mktsegment,
      |    CAST(FLOOR(c_acctbal / CAST(level AS DOUBLE)) AS BIGINT) AS band,
      |    CAST(COUNT(*) AS BIGINT) AS ck
      |  FROM leveled GROUP BY 1, 2, 3, 4)
      |SELECT level, CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(CASE WHEN ck < $k THEN 1 ELSE 0 END) AS BIGINT) AS n_risky,
      |  MIN(ck) AS min_k,
      |  CAST(SUM(CASE WHEN ck < $k THEN ck ELSE 0 END) AS BIGINT) AS n_exposed_records
      |FROM classes GROUP BY 1 ORDER BY level""".stripMargin

  /** q232: l-diversity ladder — the second half of the standard privacy
    * audit pair (Machanavajjhala et al.'s distinct l-diversity, public
    * formulation): k-anonymity (q219/q220) bounds how FEW records share
    * a QI class, but a class whose members all carry the SAME sensitive
    * value still leaks it (the homogeneity attack). Here the sensitive
    * attribute is the market segment, the QI is (nation, balance band),
    * and the report rides q220's generalization ladder: per band level,
    * how many classes exist, how many carry fewer than l distinct
    * sensitive values, the worst diversity, and how many records sit in
    * violating classes. One (level, QI) aggregate with a distinct-count
    * beside the plain count, then one level rollup — q220's exact
    * shape, map-side partials throughout.
    */
  def q232LDiversity(s: SparkSession, dir: String, l: Int = 3): DataFrame = {
    import s.implicits._
    val leveled = Tables.load(s, dir, "customer")
      .select($"c_custkey", $"c_nationkey", $"c_mktsegment", $"c_acctbal",
        explode(array(lit(1000), lit(2000), lit(4000), lit(8000))).as("level"))
    val classes = leveled
      .groupBy($"level", $"c_nationkey",
        floor($"c_acctbal" / $"level".cast("double")).cast("long").as("band"))
      .agg(count(lit(1)).as("ck"),
        countDistinct($"c_mktsegment").as("lk"))
    classes.groupBy($"level")
      .agg(count(lit(1)).as("n_classes"),
        sum(when($"lk" < l, 1L).otherwise(0L)).as("n_l_violations"),
        min($"lk").as("min_l"),
        sum(when($"lk" < l, $"ck").otherwise(0L)).as("n_exposed_records"))
      .orderBy($"level")
  }

  def q232LDiversitySql(l: Int = 3): String =
    s"""WITH leveled AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal, level
      |  FROM customer CROSS JOIN (SELECT unnest([1000, 2000, 4000, 8000]) AS level) x),
      |classes AS (
      |  SELECT level, c_nationkey,
      |    CAST(FLOOR(c_acctbal / CAST(level AS DOUBLE)) AS BIGINT) AS band,
      |    CAST(COUNT(*) AS BIGINT) AS ck,
      |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS lk
      |  FROM leveled GROUP BY 1, 2, 3)
      |SELECT level, CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(CASE WHEN lk < $l THEN 1 ELSE 0 END) AS BIGINT) AS n_l_violations,
      |  MIN(lk) AS min_l,
      |  CAST(SUM(CASE WHEN lk < $l THEN ck ELSE 0 END) AS BIGINT) AS n_exposed_records
      |FROM classes GROUP BY 1 ORDER BY level""".stripMargin

  /** q292: t-closeness audit — the third member of the standard
    * privacy-audit trio (Li, Li & Venkatasubramanian 2007): k-anonymity
    * (q219) bounds class size, l-diversity (q232) bounds value
    * homogeneity, but a class can satisfy both and still leak — e.g.
    * all its balances in the top band while the table spans all bands
    * (the skewness attack). t-closeness requires each class's
    * SENSITIVE-VALUE DISTRIBUTION to sit within t of the global one
    * under Earth-Mover's Distance; for an ORDERED attribute (the
    * $2000 account-balance band here; QI = nation × market segment)
    * the paper's EMD is the cumulative-difference form
    * EMD(P,Q) = Σᵢ|Σ_{j≤i}(pⱼ−qⱼ)| / (m−1).
    *
    * Cross-engine exactness: pⱼ−qⱼ = cntⱼ/ck − gⱼ/N is held as the
    * INTEGER numerator cntⱼ·N − gⱼ·ck over the common denominator
    * ck·N; the cumulative sums and their absolute values stay BIGINT
    * and one fixed-shape double division lands the EMD at the end
    * (float presentation; the violation flag compares the
    * float-rounded value on both sides — the q132 rounding-grid rule).
    * Missing (class, band) cells matter (p = 0 where q > 0 still moves
    * earth), so classes cross-join the GLOBAL band list and left-join
    * their own counts.
    *
    * At 100 TB: one record-level (QI, band) aggregate with map-side
    * partials; everything after is class-count × band-count sized
    * (bounded by the released taxonomy, never the corpus). The BIGINT
    * numerators are bounded by ck·N — past ~3·10⁹ records per release
    * audit, lift the numerator to DECIMAL(38,0), same shape.
    */
  def q292TCloseness(s: SparkSession, dir: String, t: Double = 0.2): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val banded = Tables.load(s, dir, "customer")
      .select($"c_nationkey".as("nation"), $"c_mktsegment".as("segment"),
        floor($"c_acctbal" / 2000.0).cast("long").as("band"))
    val global = banded.groupBy($"band").agg(count(lit(1)).as("g"))
      .localCheckpoint(true) // tiny; feeds the bin list AND the totals
    val nBins = global.agg(count(lit(1)).as("m"), sum($"g").cast("long").as("nn"))
    val cells = banded.groupBy($"nation", $"segment", $"band")
      .agg(count(lit(1)).as("cnt"))
    val classes = cells.groupBy($"nation", $"segment")
      .agg(sum($"cnt").cast("long").as("ck"))
    val grid = classes.crossJoin(global) // class × band, bounded
      .join(cells, Seq("nation", "segment", "band"), "left")
      .crossJoin(broadcast(nBins))
      .select($"nation", $"segment", $"band", $"ck", $"m", $"nn",
        (coalesce($"cnt", lit(0L)) * $"nn" - $"g" * $"ck").as("num"))
    val w = W.partitionBy($"nation", $"segment").orderBy($"band")
    grid.withColumn("cum", sum($"num").over(w))
      .groupBy($"nation", $"segment")
      .agg(max($"ck").as("class_k"),
        (sum(abs($"cum")).cast("double") /
          (max($"ck" * $"nn").cast("double") * (max($"m") - lit(1))))
          .cast("float").as("emd"))
      .select($"nation", $"segment", $"class_k", $"emd",
        ($"emd" > lit(t.toFloat)).as("violates_t"))
      .orderBy($"nation", $"segment")
  }

  def q292TClosenessSql(t: Double = 0.2): String =
    s"""WITH banded AS (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |    CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS band
      |  FROM customer),
      |global AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS g FROM banded GROUP BY band),
      |nbins AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |            CAST(SUM(g) AS BIGINT) AS nn FROM global),
      |cells AS (SELECT nation, segment, band, CAST(COUNT(*) AS BIGINT) AS cnt
      |          FROM banded GROUP BY 1, 2, 3),
      |classes AS (SELECT nation, segment, CAST(SUM(cnt) AS BIGINT) AS ck
      |            FROM cells GROUP BY 1, 2),
      |grid AS (
      |  SELECT cl.nation, cl.segment, gb.band, cl.ck, nb.m, nb.nn,
      |    COALESCE(ce.cnt, 0) * nb.nn - gb.g * cl.ck AS num
      |  FROM classes cl CROSS JOIN global gb
      |  LEFT JOIN cells ce ON ce.nation = cl.nation
      |    AND ce.segment = cl.segment AND ce.band = gb.band
      |  CROSS JOIN nbins nb),
      |cum AS (
      |  SELECT nation, segment, ck, m, nn,
      |    SUM(num) OVER (PARTITION BY nation, segment ORDER BY band) AS cum
      |  FROM grid)
      |SELECT nation, segment, MAX(ck) AS class_k,
      |  CAST(CAST(SUM(abs(cum)) AS DOUBLE)
      |       / (CAST(MAX(ck * nn) AS DOUBLE) * (MAX(m) - 1)) AS FLOAT) AS emd,
      |  CAST(CAST(SUM(abs(cum)) AS DOUBLE)
      |       / (CAST(MAX(ck * nn) AS DOUBLE) * (MAX(m) - 1)) AS FLOAT)
      |    > CAST($t AS FLOAT) AS violates_t
      |FROM cum GROUP BY nation, segment ORDER BY nation, segment""".stripMargin
}
