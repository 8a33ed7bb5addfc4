package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Statistical language-model scoring and importance weighting over the
  * documents corpus — the quality/mixture signals a training-data
  * pipeline computes per document before sampling (KenLM-style n-gram
  * perplexity filters; DSIR importance resampling, Xie et al. 2023,
  * public formulation with hashed n-gram features).
  *
  * Determinism (the q53/q82 convention): every model statistic (n-gram
  * counts, bucket counts, vocabulary size) is an exact integer
  * aggregate; per-token/bigram log terms are one fixed-shape double
  * expression over those integers; per-document totals fold the terms
  * in position order (sorted-array fold ≡ DuckDB
  * `list_sum(list(term ORDER BY pos))`). Because libm `ln` and Java
  * `Math.log` disagree by 1 ulp on ~1/37k inputs (measured over the
  * first 1.2M integers), every ln-derived score is presented in SINGLE
  * precision: IEEE double→float rounding is a primitive, engine-
  * identical op that absorbs the divergence while keeping ~7
  * significant digits — plenty for a filtering signal.
  *
  * At 100 TB: the count models are one map-side-combined shuffle each;
  * scoring joins the exploded corpus against the model — the bucketed
  * DSIR model (64 rows) broadcasts, and a production bigram model would
  * be pruned to the top-K n-grams and broadcast likewise. Everything
  * else is scan + one grouped fold per document.
  */
object LangModel {

  private[queries] def ws: Column = split(col("text"), " ")

  /** Ordered fold of per-position double terms: sum in position order so
    * the result is bit-identical across engines and partitionings.
    */
  private[queries] def orderedSum(pos: Column, term: Column): Column = {
    // one native JVM call per group (sort + fold fused, stage stays in
    // whole-stage codegen) — the declarative array_sort/transform/
    // aggregate chain ran THREE interpreted lambda passes per element
    // in every ordered-fold aggregate's output projection. Sort order
    // and null propagation are bit-identical (OrderedFoldSpec pins the
    // equality against the old spelling; the cast matches the fold's
    // double promotion of `acc + x`).
    graft.GraftExtensions.register(org.apache.spark.sql.SparkSession.active)
    call_function("ordered_fold",
      collect_list(struct(pos.as("pos"), term.cast("double").as("t"))))
  }

  /** q104: bigram language-model scoring. Train add-one-smoothed bigram
    * statistics on the corpus itself, then score every document by its
    * total and mean bigram log-probability — the "perplexity filter"
    * signal (documents whose transitions are improbable under the
    * corpus model are candidates for removal).
    */
  def q104BigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    // bigrams via the native word_ngrams scan (r15 — the q41/q279
    // interpreted-lambda lesson), built lazily per consumer
    val uni = docs.select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c1"))
    val voc = uni.agg(count(lit(1)).as("v"))
    val big = docs.select(explode(call_function("word_ngrams", $"text", lit(2))).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("c2"))
    val terms = docs.select($"doc_id",
        posexplode(call_function("word_ngrams", $"text", lit(2))).as(Seq("pos", "b")))
      .join(big, "b")
      .withColumn("w1", split($"b", " ").getItem(0))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(broadcast(voc))
      // P(w2|w1) with add-one smoothing over the unigram vocabulary
      .select($"doc_id", $"pos",
        log(($"c2" + lit(1.0)) / ($"c1" + $"v")).as("t"))
    // ln-based scores are PRESENTED in single precision: libm ln differs
    // from Java Math.log by 1 ulp on ~1/37k inputs (measured: 32 of the
    // first 1.2M integers), so a double presentation cannot hash-match
    // across engines; IEEE double→float rounding is a primitive op,
    // engine-identical, and absorbs the 1-ulp divergence. The fold
    // itself stays double.
    terms.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        orderedSum($"pos", $"t").as("sum_lp"))
      .select($"doc_id", $"n_bigrams",
        $"sum_lp".cast("float").as("sum_logprob"),
        ($"sum_lp" / $"n_bigrams").cast("float").as("avg_logprob"))
      .orderBy($"doc_id")
  }

  val q104BigramLmSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bi AS (SELECT doc_id,
      |         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bs
      |       FROM d),
      |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      |        FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w),
      |voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      |bg AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c2
      |       FROM (SELECT unnest(bs) AS b FROM bi) GROUP BY b),
      |t AS (SELECT u.doc_id, u.pos,
      |        ln((bg.c2 + CAST(1.0 AS DOUBLE)) / (uni.c1 + voc.v)) AS t
      |      FROM (SELECT doc_id, unnest(bs) AS b,
      |              generate_subscripts(bs, 1) AS pos FROM bi) u
      |      JOIN bg ON bg.b = u.b
      |      JOIN uni ON uni.w = string_split(u.b, ' ')[1]
      |      CROSS JOIN voc)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(list_sum(list(t ORDER BY pos)) AS FLOAT) AS sum_logprob,
      |  CAST(list_sum(list(t ORDER BY pos)) / CAST(COUNT(*) AS BIGINT) AS FLOAT) AS avg_logprob
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q258 — CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data"): the curation recipe that splits each source's
    * documents into HEAD / MIDDLE / TAIL terciles by language-model
    * score and keeps head+middle for training. The per-doc signal is
    * q104's add-one-smoothed bigram mean log-probability
    * (float-presented per the libm rule); the tercile BOUNDARIES are
    * per-source exact percentiles, broadcast back onto the docs —
    * head: avg_lp > p66 (most probable = lowest perplexity), tail:
    * avg_lp <= p33, middle between. Docs with < 2 words carry no
    * bigram signal and are out of scope on both engines. Output: per
    * (source, bucket) doc/word totals and the bucket's score range.
    *
    * At 100 TB: the scoring pipeline is q104's (two vocabulary-sized
    * count joins + one per-doc ordered fold); the bucketing adds ONE
    * per-source aggregate (20 rows) broadcast back — no per-source
    * sort, no window over the corpus (an ntile(3) would funnel each
    * source through one partition). The exact `percentile` grades the
    * oracle; at petabyte scale the same plan runs with
    * `approx_percentile` boundaries unchanged in shape.
    */
  def q258CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents")
      .select($"doc_id", $"source", $"text", ws.as("ws"))
    val uni = docs.select(explode($"ws").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c1"))
    val voc = uni.agg(count(lit(1)).as("v"))
    val big = docs.select(explode(call_function("word_ngrams", $"text", lit(2))).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("c2"))
    val scored = docs.select($"doc_id",
        posexplode(call_function("word_ngrams", $"text", lit(2))).as(Seq("pos", "b")))
      .join(big, "b")
      .withColumn("w1", split($"b", " ").getItem(0))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(broadcast(voc))
      .select($"doc_id", $"pos",
        log(($"c2" + lit(1.0)) / ($"c1" + $"v")).as("t"))
      .groupBy($"doc_id")
      .agg((orderedSum($"pos", $"t") / count(lit(1)))
        .cast("float").as("avg_lp"))
      .localCheckpoint(true) // bounds aggregate AND the classify join
    val withSrc = docs.select($"doc_id", $"source", size($"ws").as("nw"))
      .join(scored, "doc_id")
    val bounds = withSrc.groupBy($"source").agg(
      percentile($"avg_lp", lit(1.0) / 3).as("p33"),
      percentile($"avg_lp", lit(2.0) / 3).as("p66"))
    withSrc.join(broadcast(bounds), "source")
      .withColumn("bucket",
        when($"avg_lp" > $"p66", lit("head"))
          .when($"avg_lp" <= $"p33", lit("tail"))
          .otherwise(lit("middle")))
      .groupBy($"source", $"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"nw").cast("long").as("n_words"),
        min($"avg_lp").as("worst_avg_lp"),
        max($"avg_lp").as("best_avg_lp"))
      .orderBy($"source", $"bucket")
  }

  val q258CcnetBucketsSql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws
      |           FROM documents),
      |bi AS (SELECT doc_id,
      |         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bs
      |       FROM d),
      |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      |        FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w),
      |voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      |bg AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c2
      |       FROM (SELECT unnest(bs) AS b FROM bi) GROUP BY b),
      |sc AS (SELECT u.doc_id,
      |         CAST(list_sum(list(ln((bg.c2 + CAST(1.0 AS DOUBLE)) / (uni.c1 + voc.v))
      |             ORDER BY u.pos)) / CAST(COUNT(*) AS BIGINT) AS FLOAT) AS avg_lp
      |       FROM (SELECT doc_id, unnest(bs) AS b,
      |               generate_subscripts(bs, 1) AS pos FROM bi) u
      |       JOIN bg ON bg.b = u.b
      |       JOIN uni ON uni.w = string_split(u.b, ' ')[1]
      |       CROSS JOIN voc
      |       GROUP BY u.doc_id),
      |ds AS (SELECT d.source, d.doc_id, CAST(len(d.ws) AS BIGINT) AS nw, sc.avg_lp
      |       FROM d JOIN sc ON sc.doc_id = d.doc_id),
      |bounds AS (SELECT source,
      |             quantile_cont(avg_lp, CAST(1.0 AS DOUBLE) / 3) AS p33,
      |             quantile_cont(avg_lp, CAST(2.0 AS DOUBLE) / 3) AS p66
      |           FROM ds GROUP BY source),
      |cl AS (SELECT ds.source, nw, avg_lp,
      |         CASE WHEN avg_lp > p66 THEN 'head'
      |              WHEN avg_lp <= p33 THEN 'tail'
      |              ELSE 'middle' END AS bucket
      |       FROM ds JOIN bounds ON bounds.source = ds.source)
      |SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(nw) AS BIGINT) AS n_words,
      |  MIN(avg_lp) AS worst_avg_lp, MAX(avg_lp) AS best_avg_lp
      |FROM cl GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin

  /** q105: DSIR-style importance weights with hashed unigram features.
    * Target distribution = the English subset; raw = the whole corpus.
    * Each token hashes (md5 prefix, engine-portable) into one of 64
    * buckets; a document's log importance weight is the positionwise sum
    * of log(p_target(bucket)/p_raw(bucket)) with +0.5 smoothing —
    * documents whose token distribution resembles the target score high
    * and get upsampled in the mixture (q61's gate would consume this).
    */
  def q105DsirWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = 64
    val tok = Tables.load(s, dir, "documents")
      .select($"doc_id", $"lang", posexplode(ws).as(Seq("pos", "w")))
      .withColumn("bucket",
        conv(substring(md5($"w"), 1, 6), 16, 10).cast("long") % B)
    val raw = tok.groupBy($"bucket").agg(count(lit(1)).as("rc"))
    val tgt = tok.filter($"lang" === "en")
      .groupBy($"bucket").agg(count(lit(1)).as("tc"))
    val totals = tok.agg(count(lit(1)).as("rt"),
      sum(when($"lang" === "en", 1L).otherwise(0L)).as("tt"))
    val weights = raw.join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select($"bucket",
        (log((coalesce($"tc", lit(0L)) + lit(0.5)) / ($"tt" + lit(32.0))) -
          log(($"rc" + lit(0.5)) / ($"rt" + lit(32.0)))).as("wt"))
    tok.join(broadcast(weights), "bucket")
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tokens"),
        orderedSum($"pos", $"wt").as("li"))
      // single-precision presentation for the same libm-ln reason as q104
      .select($"doc_id", $"lang", $"n_tokens",
        $"li".cast("float").as("log_importance"))
      .orderBy($"doc_id")
  }

  val q105DsirWeightsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, w, pos,
      |    CAST(('0x' || substring(md5(w), 1, 6)) AS BIGINT) % 64 AS bucket
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w,
      |          generate_subscripts(string_split(text, ' '), 1) AS pos
      |        FROM documents)),
      |raw AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS rc FROM tok GROUP BY bucket),
      |tgt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tc
      |        FROM tok WHERE lang = 'en' GROUP BY bucket),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS rt,
      |          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt
      |        FROM tok),
      |wts AS (
      |  SELECT raw.bucket,
      |    ln((COALESCE(tgt.tc, 0) + CAST(0.5 AS DOUBLE)) / (tot.tt + CAST(32.0 AS DOUBLE)))
      |      - ln((raw.rc + CAST(0.5 AS DOUBLE)) / (tot.rt + CAST(32.0 AS DOUBLE))) AS wt
      |  FROM raw LEFT JOIN tgt ON tgt.bucket = raw.bucket CROSS JOIN tot)
      |SELECT tok.doc_id, tok.lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(list_sum(list(wts.wt ORDER BY tok.pos)) AS FLOAT) AS log_importance
      |FROM tok JOIN wts ON wts.bucket = tok.bucket
      |GROUP BY tok.doc_id, tok.lang ORDER BY tok.doc_id""".stripMargin

  /** q106: inverted-index construction — the posting-list build behind
    * BM25/keyword retrieval (q82 consumes these statistics). Emits per
    * term: document frequency, total term frequency, and the first five
    * posting doc ids; top terms by df. One (term, doc) shuffle then one
    * term shuffle — at 100 TB the posting lists themselves would land
    * partitioned by term (bucketed write), which is exactly the shape
    * this aggregation produces.
    */
  def q106InvertedIndex(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    import s.implicits._
    val tf = Tables.load(s, dir, "documents")
      .select($"doc_id", explode(ws).as("w"))
      .groupBy($"w", $"doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy($"w")
      .agg(count(lit(1)).as("df"),
        sum($"tf").as("tf_total"),
        concat_ws(",",
          transform(slice(array_sort(collect_list($"doc_id")), 1, 5),
            _.cast("string"))).as("head_postings"))
      .orderBy($"df".desc, $"w")
      .limit(k)
  }

  val q106InvertedIndexSql: String =
    """WITH tf AS (
      |  SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w, doc_id)
      |SELECT w, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total,
      |  array_to_string(list_sort(list(doc_id))[1:5], ',') AS head_postings
      |FROM tf GROUP BY w ORDER BY df DESC, w LIMIT 50""".stripMargin

  /** q120: conjunctive (AND) boolean retrieval — the other half of the
    * retrieval pair next to q82's ranked BM25: documents containing ALL
    * query terms, ranked by summed term frequency. Executes as the
    * posting-list intersection the inverted index (q106) exists for:
    * the scan filters to the broadcast-size query term set FIRST (at
    * scale this is the partition-pruned read of those terms' posting
    * shards), one (doc, term) tf aggregate, then a doc-level
    * terms-present == |Q| gate — no self-join per term, no repeated
    * corpus scans.
    */
  def q120BooleanRetrieval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = Seq("table", "row", "value")
    val tf = Tables.load(s, dir, "documents")
      .select($"doc_id", explode(ws).as("w"))
      .filter($"w".isin(terms: _*))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    tf.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"tf").as("tf_sum"))
      .filter($"n_terms" === terms.length)
      .select($"doc_id", $"tf_sum")
      .orderBy($"tf_sum".desc, $"doc_id")
  }

  val q120BooleanRetrievalSql: String =
    """WITH tf AS (
      |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w IN ('table', 'row', 'value')
      |  GROUP BY doc_id, w)
      |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_sum
      |FROM tf GROUP BY doc_id
      |HAVING CAST(COUNT(*) AS BIGINT) = 3
      |ORDER BY tf_sum DESC, doc_id""".stripMargin

  /** The q112 linear model: weights are independent literals on both
    * engines (the fastText/CCNet-style quality classifier stand-in — a
    * trained model would broadcast its weight vector the same way).
    */
  private val QLexicon = Seq("table", "row", "value", "query", "data")

  /** q112: model-based quality scoring — apply a fixed logistic model
    * over per-document lexical features and emit the keep/drop verdict
    * (the production shape of "quality filtering": a trained linear
    * classifier scored per document, CCNet / fastText-style, public
    * recipe). Features come from ONE explode + one doc-keyed aggregate
    * (exact integers: token/distinct/lexicon/char counts — no
    * interpreted per-row lambdas), the logit is one fixed-shape double
    * expression over those integers, and the sigmoid is presented in
    * single precision (the q104 libm-vs-JVM discipline, here for `exp`).
    * At 100 TB: map-side partial aggregation on doc_id, then a
    * map-only model application — no joins, no driver state.
    */
  def q112QualityModel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lex = QLexicon
    val feats = Tables.load(s, dir, "documents")
      .select($"doc_id", explode(ws).as("w"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct($"w").as("n_distinct"),
        sum(when($"w".isin(lex: _*), 1L).otherwise(0L)).as("n_lexicon"),
        sum(length($"w")).as("n_chars"))
    val z = lit(-2.0) +
      lit(0.35) * log($"n_tokens") +
      lit(2.0) * ($"n_distinct" / $"n_tokens") +
      lit(1.5) * ($"n_lexicon" / $"n_tokens") +
      lit(0.05) * ($"n_chars" / $"n_tokens")
    feats
      .withColumn("score_d", lit(1.0) / (lit(1.0) + exp(-z)))
      .select($"doc_id", $"n_tokens", $"n_distinct", $"n_lexicon",
        $"score_d".cast("float").as("quality_score"),
        ($"score_d" >= 0.5).as("keep"))
      .orderBy($"doc_id")
  }

  /** Shared scored frame for the model-evaluation family (q194/q195):
    * the q112 logistic quality score per document together with its
    * language — the score is the model's prediction, `lang = 'en'` the
    * label those queries grade it against (the lexicon feature is an
    * English-word ratio, so the score IS an English-ness classifier).
    * Same feature aggregate and fixed-shape sigmoid as q112,
    * float-presented so both engines see bit-identical score values.
    */
  private[queries] def qualityScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lex = QLexicon
    val feats = Tables.load(s, dir, "documents")
      .select($"doc_id", $"lang", explode(ws).as("w"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct($"w").as("n_distinct"),
        sum(when($"w".isin(lex: _*), 1L).otherwise(0L)).as("n_lexicon"),
        sum(length($"w")).as("n_chars"))
    val z = lit(-2.0) +
      lit(0.35) * log($"n_tokens") +
      lit(2.0) * ($"n_distinct" / $"n_tokens") +
      lit(1.5) * ($"n_lexicon" / $"n_tokens") +
      lit(0.05) * ($"n_chars" / $"n_tokens")
    feats
      .withColumn("score_d", lit(1.0) / (lit(1.0) + exp(-z)))
      .select($"doc_id", $"lang", $"score_d".cast("float").as("quality_score"))
  }

  /** CTE twin of [[qualityScores]]: defines
    * `qscore(doc_id, lang, quality_score)` — splice as
    * `WITH $qualityScoresCte, ...`.
    */
  private[queries] val qualityScoresCte: String = {
    val lexList = QLexicon.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""qf AS (
      |  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct,
      |    CAST(SUM(CASE WHEN list_contains($lexList, w) THEN 1 ELSE 0 END) AS BIGINT) AS n_lexicon,
      |    CAST(SUM(length(w)) AS BIGINT) AS n_chars
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY doc_id, lang),
      |qscore AS (
      |  SELECT doc_id, lang, CAST(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-(
      |    CAST(-2.0 AS DOUBLE) +
      |    CAST(0.35 AS DOUBLE) * ln(n_tokens) +
      |    CAST(2.0 AS DOUBLE) * (n_distinct / n_tokens) +
      |    CAST(1.5 AS DOUBLE) * (n_lexicon / n_tokens) +
      |    CAST(0.05 AS DOUBLE) * (n_chars / n_tokens)))) AS FLOAT) AS quality_score
      |  FROM qf)""".stripMargin
  }

  val q112QualityModelSql: String = {
    val lexList = QLexicon.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH f AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct,
      |    CAST(SUM(CASE WHEN list_contains($lexList, w) THEN 1 ELSE 0 END) AS BIGINT) AS n_lexicon,
      |    CAST(SUM(length(w)) AS BIGINT) AS n_chars
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY doc_id),
      |s AS (
      |  SELECT *, CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-(
      |    CAST(-2.0 AS DOUBLE) +
      |    CAST(0.35 AS DOUBLE) * ln(n_tokens) +
      |    CAST(2.0 AS DOUBLE) * (n_distinct / n_tokens) +
      |    CAST(1.5 AS DOUBLE) * (n_lexicon / n_tokens) +
      |    CAST(0.05 AS DOUBLE) * (n_chars / n_tokens)))) AS score_d
      |  FROM f)
      |SELECT doc_id, n_tokens, n_distinct, n_lexicon,
      |  CAST(score_d AS FLOAT) AS quality_score, score_d >= 0.5 AS keep
      |FROM s ORDER BY doc_id""".stripMargin
  }

  /** q129: collocation mining — pointwise mutual information over the
    * corpus bigrams, `PMI(a,b) = ln(c_ab·M²/(N·c_a·c_b))` with unigram
    * mass M and bigram mass N, min-support 5, top-k. The statistics are
    * exact integer counts (two grouped aggregates, the q104 shapes);
    * the two tiny scalar masses ride a broadcast crossJoin; and the PMI
    * is ONE fixed-shape double expression so both engines execute the
    * identical IEEE sequence — presented as float per the q104 ln-ULP
    * rule, with the bigram as a total tie-break. At 100 TB the only
    * shuffles are the token/bigram count aggregates; the final top-k is
    * a TakeOrderedAndProject merge.
    */
  def q129Pmi(s: SparkSession, dir: String, k: Int = 100): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text", ws.as("ws"))
    val uni = docs.select(explode($"ws").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c1"))
    val m = uni.agg(sum($"c1").as("m"))
    val bi = docs.select(explode(call_function("word_ngrams", $"text", lit(2))).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("c2"))
    val n = bi.agg(sum($"c2").as("n"))
    bi.filter($"c2" >= 5)
      .withColumn("w1", split($"b", " ").getItem(0))
      .withColumn("w2", split($"b", " ").getItem(1))
      .join(uni.select($"w".as("w1"), $"c1".as("ca")), "w1")
      .join(uni.select($"w".as("w2"), $"c1".as("cb")), "w2")
      .crossJoin(broadcast(m)).crossJoin(broadcast(n))
      .select($"b".as("bigram"), $"c2".as("n_pair"),
        log(($"c2".cast("double") * $"m" * $"m") /
          ($"n".cast("double") * $"ca" * $"cb")).cast("float").as("pmi"))
      .orderBy($"pmi".desc, $"bigram")
      .limit(k)
  }

  val q129PmiSql: String =
    """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM w GROUP BY w),
      |m AS (SELECT CAST(SUM(c1) AS BIGINT) AS m FROM uni),
      |ws AS (SELECT string_split(text, ' ') AS l FROM documents),
      |bg AS (SELECT unnest(list_transform(range(1, greatest(len(l), 1)),
      |         i -> l[i] || ' ' || l[i + 1])) AS b FROM ws),
      |bi AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY b),
      |n AS (SELECT CAST(SUM(c2) AS BIGINT) AS n FROM bi)
      |SELECT bi.b AS bigram, bi.c2 AS n_pair,
      |  CAST(ln((CAST(bi.c2 AS DOUBLE) * m.m * m.m)
      |    / (CAST(n.n AS DOUBLE) * ua.c1 * ub.c1)) AS FLOAT) AS pmi
      |FROM bi
      |JOIN uni ua ON ua.w = string_split(bi.b, ' ')[1]
      |JOIN uni ub ON ub.w = string_split(bi.b, ' ')[2]
      |CROSS JOIN m CROSS JOIN n
      |WHERE bi.c2 >= 5
      |ORDER BY pmi DESC, bigram LIMIT 100""".stripMargin

  /** q133: vocabulary-growth (Heaps-law) profile — per docid-bucket
    * token mass, newly-seen type count, and their running totals: the
    * curve a corpus builder reads to decide whether more crawl still
    * buys vocabulary. Exact integers only. "New in bucket b" = the
    * type's min doc_id lands in b, so the per-bucket numbers come from
    * two grouped aggregates (token mass; min-doc per type) — the full
    * (doc, type) mass never sorts globally. The cumulative window runs
    * over the BUCKET frame only; `bucketDocs` is the operator's scale
    * knob (pick it so #buckets stays ~1e4 at any corpus size — the
    * q95 bounded-frame argument; a fixed-width global axis, not a
    * data-mass window).
    */
  def q133VocabGrowth(s: SparkSession, dir: String, bucketDocs: Int = 50): DataFrame = {
    import s.implicits._
    val tok = Tables.load(s, dir, "documents")
      .select($"doc_id", explode(ws).as("w"))
    val bucketTokens = tok
      .groupBy(floor($"doc_id" / bucketDocs).cast("long").as("bucket"))
      .agg(count(lit(1)).as("bucket_tokens"))
    val newTypes = tok.groupBy($"w").agg(min($"doc_id").as("fd"))
      .groupBy(floor($"fd" / bucketDocs).cast("long").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val cum = Window.partitionBy(lit(0)).orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketTokens.join(newTypes, Seq("bucket"), "left")
      .withColumn("new_types", coalesce($"new_types", lit(0L)))
      .withColumn("cum_tokens", sum($"bucket_tokens").over(cum))
      .withColumn("cum_types", sum($"new_types").over(cum))
      .orderBy($"bucket")
  }

  val q133VocabGrowthSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |bt AS (
      |  SELECT CAST(floor(doc_id / 50) AS BIGINT) AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS bucket_tokens
      |  FROM tok GROUP BY 1),
      |nt AS (
      |  SELECT CAST(floor(fd / 50) AS BIGINT) AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS new_types
      |  FROM (SELECT w, min(doc_id) AS fd FROM tok GROUP BY 1) GROUP BY 1)
      |SELECT bt.bucket, bt.bucket_tokens,
      |  COALESCE(nt.new_types, 0) AS new_types,
      |  CAST(SUM(bt.bucket_tokens) OVER (ORDER BY bt.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY bt.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
      |FROM bt LEFT JOIN nt USING (bucket)
      |ORDER BY bucket""".stripMargin

  /** q134: Zipf rank-frequency fit — least-squares slope/intercept of
    * ln(freq) on ln(rank) over the top-1000 types, the one-row corpus
    * health number (natural text sits near slope −1; a far-off slope
    * flags boilerplate or spam). The frequency aggregate is the only
    * corpus-mass shuffle; top-1000 rides a `TakeOrderedAndProject`
    * merge and the rank window runs on that bounded frame. The five
    * regression sums accumulate doubles in partition order, so the
    * closed-form slope is presented as FLOAT: the sums' relative error
    * is ~1e-13 while float resolves ~6e-8 — the q104 presentation rule
    * derived from an explicit error bound rather than luck.
    */
  def q134ZipfSlope(s: SparkSession, dir: String, topN: Int = 1000): DataFrame = {
    import s.implicits._
    val top = Tables.load(s, dir, "documents")
      .select(explode(ws).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w").limit(topN)
    top
      .withColumn("rank", row_number().over(
        Window.partitionBy(lit(0)).orderBy($"c".desc, $"w")))
      .select(log($"rank".cast("double")).as("x"), log($"c".cast("double")).as("y"))
      .agg(count(lit(1)).as("n_terms"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"n_terms",
        (($"n_terms" * $"sxy" - $"sx" * $"sy") /
          ($"n_terms" * $"sxx" - $"sx" * $"sx")).as("slope_d"),
        $"sx", $"sy")
      .select($"n_terms", $"slope_d".cast("float").as("slope"),
        (($"sy" - $"slope_d" * $"sx") / $"n_terms").cast("float").as("intercept"))
  }

  val q134ZipfSlopeSql: String =
    """WITH c AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY 1 ORDER BY c DESC, w LIMIT 1000),
      |r AS (
      |  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS x,
      |    ln(CAST(c AS DOUBLE)) AS y FROM c),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM r)
      |SELECT n_terms,
      |  CAST((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) AS FLOAT) AS slope,
      |  CAST((sy - ((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)) * sx)
      |       / n_terms AS FLOAT) AS intercept
      |FROM sums""".stripMargin

  /** q178: vocabulary coverage at top-K — for each budget K (10, 100,
    * 1000), what fraction of all token OCCURRENCES the K most frequent
    * types cover: the curve that sizes a tokenizer vocabulary or a
    * stopword list. Token counting is the corpus-sized aggregation;
    * type ranks come from the q153 distributed range-partition
    * row_number on (count desc, token) — vocabulary-sized, never
    * single-partition — and each coverage number is one conditional
    * exact-integer sum and one division.
    */
  def q178VocabCoverage(s: SparkSession, dir: String,
      budgets: Seq[Int] = Seq(10, 100, 1000), parts: Int = 32): DataFrame = {
    import s.implicits._
    val counts = Tables.load(s, dir, "documents")
      .select(explode(ws).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val (ranged, off) =
      Prefix.boundedPrefix(counts, parts, lit(1L), $"c".desc, $"w".asc)
    val ranked = ranged
      .withColumn("prn", row_number().over(
        Window.partitionBy($"pid").orderBy($"c".desc, $"w".asc)).cast("long"))
      .join(broadcast(off), "pid")
      .withColumn("rk", $"prn" + $"off")
    val aggCols = count(lit(1)).as("vocab_size") +:
      sum($"c").as("total_tokens") +:
      budgets.map(k =>
        sum(when($"rk" <= k, $"c").otherwise(0L)).as(s"cov_$k"))
    val aggs = ranked.agg(aggCols.head, aggCols.tail: _*)
    aggs.select(
      explode(array(budgets.map(k => struct(
        lit(k).as("k"), $"vocab_size", $"total_tokens",
        col(s"cov_$k").as("covered_tokens"))): _*)).as("r"))
      .select($"r.k", $"r.vocab_size", $"r.total_tokens", $"r.covered_tokens",
        ($"r.covered_tokens".cast("double") / $"r.total_tokens").as("coverage"))
      .orderBy($"k")
  }

  val q178VocabCoverageSql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |counts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
      |ranked AS (
      |  SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rk
      |  FROM counts),
      |s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
      |    CAST(SUM(c) AS BIGINT) AS total_tokens,
      |    CAST(SUM(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS BIGINT) AS cov_10,
      |    CAST(SUM(CASE WHEN rk <= 100 THEN c ELSE 0 END) AS BIGINT) AS cov_100,
      |    CAST(SUM(CASE WHEN rk <= 1000 THEN c ELSE 0 END) AS BIGINT) AS cov_1000
      |  FROM ranked)
      |SELECT k, vocab_size, total_tokens, covered_tokens,
      |  CAST(covered_tokens AS DOUBLE) / total_tokens AS coverage
      |FROM (
      |  SELECT 10 AS k, vocab_size, total_tokens, cov_10 AS covered_tokens FROM s
      |  UNION ALL
      |  SELECT 100, vocab_size, total_tokens, cov_100 FROM s
      |  UNION ALL
      |  SELECT 1000, vocab_size, total_tokens, cov_1000 FROM s)
      |ORDER BY k""".stripMargin

  /** Default merge-round budget for q231. */
  val BpeRounds = 10

  /** q231 — BPE vocabulary TRAINING (q79 only counts pre-tokens): the
    * iterative merge loop of Sennrich et al. 2016, run for exactly
    * `rounds` rounds under the q215/q225 bounded-round discipline.
    * Per round: count adjacent symbol pairs over the weighted
    * vocabulary, pick the most frequent (deterministic tie-break:
    * count DESC, then lexicographic (lhs, rhs)), apply the merge
    * greedily left-to-right in every word. Output = the merge table
    * (round, lhs, rhs, merged symbol, pair count) — the artifact a
    * tokenizer ships.
    *
    * The trick that makes BOTH engines exact with zero per-row loops:
    * a word's symbol sequence is ONE string with every symbol WRAPPED
    * in delimiters ("hello" → "|h||e||l||l||o|" — `||` between
    * symbols, one `|` at each end), so greedy left-to-right merge
    * application is precisely non-overlapping string
    * `replace(s, "|l||r|", "|lr|")` — the same primitive, with the
    * same left-to-right non-overlap semantics, in Spark and DuckDB.
    * Both pattern ends land on a symbol BOUNDARY: a trailing-only
    * delimiter scheme ("h|e|…") is unanchored on the left, so a merge
    * (b,c) would also fire inside "ab|c|" (lhs `b` matching the SUFFIX
    * of symbol `ab`) — a cross-boundary merge of a pair that is not
    * present; the wrapped form cannot (the char before `|b||c|` would
    * have to be `|`). Consuming a full `|l||r|` block leaves the
    * neighbors' own delimiters intact, so adjacent disjoint pairs
    * still merge in one pass (aaaa → aa,aa). The delimiter cannot
    * collide with symbol text: pre-tokens are filtered to ^[a-z]+$
    * (the q79 letter-run convention).
    *
    * At 100 TB: the corpus is scanned ONCE into the weighted
    * vocabulary (the only corpus-sized shuffle); every round then
    * touches vocabulary-sized frames only — one pair-explode aggregate
    * (map-side combined), a 1-row argmax that rides a broadcast, and a
    * codegen'd replace projection. Per-round lineage is cut with eager
    * localCheckpoint (the q215 discipline). A round with no pairs
    * left produces no merge row and an empty vocabulary thereafter —
    * identical on both engines, spec-pinned.
    */
  /** The q231 training loop, exposed for [[q233BpeEncode]]: returns the
    * per-round merge frames AND the trained vocabulary (word → final
    * symbol string) after `rounds` merges.
    */
  private[queries] def bpeTrainFrames(s: SparkSession, dir: String,
      rounds: Int): (Seq[DataFrame], DataFrame) = {
    import s.implicits._
    val vocab0 = Tables.load(s, dir, "documents")
      .select(explode(ws).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .select($"word", regexp_replace($"word", "(.)", "|$1|").as("s"), $"freq")
      .localCheckpoint(true) // vocabulary-sized; cuts the corpus lineage
    bpeMergeLoop(s, vocab0, rounds)
  }

  /** The shared bounded-round merge loop over a wrapped-symbol weighted
    * vocabulary (word, s, freq) — q231's character lane and q272's
    * byte lane differ ONLY in their initial symbolization.
    */
  private def bpeMergeLoop(s: SparkSession, vocab0: DataFrame,
      rounds: Int): (Seq[DataFrame], DataFrame) = {
    import s.implicits._
    var vocab = vocab0
    val merges = (1 to rounds).map { r =>
      // k symbols → k+2 slots (leading + trailing ""), symbols at 1..k
      val syms = split($"s", "[|]+")
      val pairs = vocab
        .select($"freq", explode(
          when(size(syms) >= 4, transform(sequence(lit(1), size(syms) - 3),
            i => struct(get(syms, i).as("lhs"), get(syms, i + 1).as("rhs"))))
            .otherwise(array().cast("array<struct<lhs:string,rhs:string>>")))
          .as("p"))
      val best = pairs
        .groupBy($"p.lhs".as("lhs"), $"p.rhs".as("rhs"))
        .agg(sum($"freq").as("pair_count"))
        .orderBy($"pair_count".desc, $"lhs", $"rhs").limit(1)
        .select($"lhs", $"rhs", concat($"lhs", $"rhs").as("merged"),
          $"pair_count")
        .localCheckpoint(true) // ≤1 row; feeds the apply AND the output
      vocab = vocab.crossJoin(broadcast(best))
        .select($"word", replace($"s",
          concat(lit("|"), $"lhs", lit("||"), $"rhs", lit("|")),
          concat(lit("|"), $"merged", lit("|"))).as("s"), $"freq")
        .localCheckpoint(true)
      best.select(lit(r).cast("long").as("round"),
        $"lhs", $"rhs", $"merged", $"pair_count")
    }
    (merges, vocab)
  }

  def q231BpeTrain(s: SparkSession, dir: String, rounds: Int = BpeRounds): DataFrame = {
    import s.implicits._
    val (merges, _) = bpeTrainFrames(s, dir, rounds)
    merges.reduce(_ unionByName _).orderBy($"round")
  }

  /** The unrolled training CTE chain shared by the q231 and q233
    * oracles: v0..v`rounds` carry (word, s, freq); b1..b`rounds` are the
    * per-round winning merges.
    */
  private def bpeCtes(rounds: Int): String = {
    def roundCtes(r: Int) =
      s"""p$r AS (
         |  SELECT ws[i+1] AS lhs, ws[i+2] AS rhs,
         |    CAST(SUM(freq) AS BIGINT) AS pair_count
         |  FROM (SELECT freq, string_split(trim(s, '|'), '||') AS ws
         |        FROM v${r - 1}),
         |    UNNEST(range(0, greatest(len(ws) - 1, 0))) AS t(i)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT lhs, rhs, lhs || rhs AS merged, pair_count
         |  FROM p$r ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT word,
         |    replace(s, '|' || lhs || '||' || rhs || '|',
         |      '|' || merged || '|') AS s,
         |    freq
         |  FROM v${r - 1}, b$r)""".stripMargin
    s"""v0 AS MATERIALIZED (
      |  SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS s,
      |    CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$')
      |  GROUP BY word),
      |${(1 to rounds).map(roundCtes).mkString(",\n")}""".stripMargin
  }

  def q231BpeTrainSql(rounds: Int = BpeRounds): String = {
    val union = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, lhs, rhs, merged, pair_count FROM b$r")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ${bpeCtes(rounds)}
      |SELECT * FROM (
      |  $union)
      |ORDER BY round""".stripMargin
  }

  /** q233 — BPE tokenizer APPLICATION (the other half of q231: a
    * trained vocabulary is only useful if encoding with it is an
    * operator too): encode the corpus with the `rounds` trained merges
    * and report, per source, the exact word/char/BPE-token totals and
    * the chars-per-token compression the tokenizer achieves. The
    * per-word token count is read straight off the trained vocabulary's
    * final symbol string (symbols = delimiter count), so encoding is a
    * broadcast join corpus-words → vocabulary — at 100 TB the merges
    * and vocabulary are tiny; the corpus pays one scan + one broadcast
    * probe + one per-source aggregate, no shuffle keyed on anything
    * corpus-sized. chars_per_token is ONE double division of two exact
    * BIGINT sums (engine-identical bits).
    */
  def q233BpeEncode(s: SparkSession, dir: String, rounds: Int = BpeRounds): DataFrame = {
    import s.implicits._
    val (_, vocab) = bpeTrainFrames(s, dir, rounds)
    val words = Tables.load(s, dir, "documents")
      .select($"source", explode(ws).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
    words.join(broadcast(vocab.select($"word", $"s")), Seq("word"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_words"),
        sum(length($"word")).cast("long").as("n_chars"),
        // wrapped repr: k symbols → k+2 split slots (leading+trailing "")
        sum(size(split($"s", "[|]+")) - 2).cast("long").as("n_bpe_tokens"))
      .select($"source", $"n_words", $"n_chars", $"n_bpe_tokens",
        ($"n_chars".cast("double") / $"n_bpe_tokens").as("chars_per_token"))
      .orderBy($"source")
  }

  def q233BpeEncodeSql(rounds: Int = BpeRounds): String =
    s"""WITH ${bpeCtes(rounds)},
      |wrds AS (
      |  SELECT source, word
      |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$')),
      |enc AS (SELECT w.source, w.word, v.s
      |        FROM wrds w JOIN v$rounds v USING (word))
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
      |  CAST(SUM(len(string_split(trim(s, '|'), '||'))) AS BIGINT)
      |    AS n_bpe_tokens,
      |  CAST(SUM(length(word)) AS DOUBLE)
      |    / SUM(len(string_split(trim(s, '|'), '||'))) AS chars_per_token
      |FROM enc GROUP BY 1 ORDER BY source""".stripMargin

  /** Default merge-round budget for q272. */
  val ByteBpeRounds = 10

  /** q272 — BYTE-LEVEL BPE pre-tokenizer training (the GPT-2 recipe,
    * Radford et al. 2019 §2.2, public knowledge): the q231 merge loop
    * run over UTF-8 BYTE sequences instead of letter sequences, so
    * every word — multilingual, accented, emoji — is representable
    * with zero UNK tokens: the base alphabet is the 256 byte values
    * and any string is a byte sequence.
    *
    * GPT-2 maps each byte to a printable unicode char so merges
    * operate on strings; ANY injective byte→printable mapping gives
    * the identical merge sequence (pair counts only depend on byte
    * identity). Here each byte is its 2-digit uppercase HEX pair —
    * `hex(encode(word, 'UTF-8'))` sliced per byte — because Spark and
    * DuckDB compute that representation with the SAME two builtins,
    * keeping the oracle twin byte-exact where a 256-entry custom
    * mapping table would have to be hand-replicated on both sides.
    * Symbols stay in [0-9A-F], so the `|` wrapping scheme (q231's
    * boundary-anchored merge primitive) applies verbatim, and NO word
    * filter is needed — the letter-run convention exists to keep the
    * char lane's delimiter safe, which hex makes structural. A
    * multi-byte codepoint starts life SPLIT across symbols (é = C3 A9
    * as two symbols) and merges back together only if its byte pair
    * earns it — ByteBpeSpec pins merges straddling codepoint
    * boundaries from both sides.
    *
    * At 100 TB: identical shape to q231 — one corpus scan into the
    * weighted vocabulary, then vocabulary-sized rounds (pair-explode
    * aggregate with map-side combine, 1-row broadcast argmax,
    * codegen'd replace), lineage cut per round.
    */
  def q272ByteBpeTrain(s: SparkSession, dir: String,
      rounds: Int = ByteBpeRounds): DataFrame = {
    import s.implicits._
    val (merges, _) = byteBpeTrainFrames(s, dir, rounds)
    merges.reduce(_ unionByName _).orderBy($"round")
  }

  private[queries] def byteBpeTrainFrames(s: SparkSession, dir: String,
      rounds: Int): (Seq[DataFrame], DataFrame) = {
    import s.implicits._
    val vocab0 = Tables.load(s, dir, "documents")
      .select(explode(ws).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .select($"word",
        regexp_replace(hex(encode($"word", "UTF-8")), "(..)", "|$1|").as("s"),
        $"freq")
      .localCheckpoint(true) // vocabulary-sized; cuts the corpus lineage
    bpeMergeLoop(s, vocab0, rounds)
  }

  def q272ByteBpeTrainSql(rounds: Int = ByteBpeRounds): String = {
    def roundCtes(r: Int) =
      s"""p$r AS (
         |  SELECT ws[i+1] AS lhs, ws[i+2] AS rhs,
         |    CAST(SUM(freq) AS BIGINT) AS pair_count
         |  FROM (SELECT freq, string_split(trim(s, '|'), '||') AS ws
         |        FROM u${r - 1}),
         |    UNNEST(range(0, greatest(len(ws) - 1, 0))) AS t(i)
         |  GROUP BY 1, 2),
         |c$r AS MATERIALIZED (
         |  SELECT lhs, rhs, lhs || rhs AS merged, pair_count
         |  FROM p$r ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |u$r AS MATERIALIZED (
         |  SELECT word,
         |    replace(s, '|' || lhs || '||' || rhs || '|',
         |      '|' || merged || '|') AS s,
         |    freq
         |  FROM u${r - 1}, c$r)""".stripMargin
    val union = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, lhs, rhs, merged, pair_count FROM c$r")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH u0 AS MATERIALIZED (
      |  SELECT word, regexp_replace(hex(encode(word)), '(..)', '|\\1|', 'g') AS s,
      |    CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0
      |  GROUP BY word),
      |${(1 to rounds).map(roundCtes).mkString(",\n")}
      |SELECT * FROM (
      |  $union)
      |ORDER BY round""".stripMargin
  }

  /** q274 — byte-level BPE ENCODING (q233's twin for the byte lane): a
    * trained byte vocabulary is only useful if encoding with it is an
    * operator too. Per source: word/BYTE/token totals and the
    * bytes-per-token compression after `rounds` merges. Unlike q233,
    * the denominators are UTF-8 byte counts (what the byte tokenizer
    * actually compresses) and EVERY word participates — zero UNK by
    * construction, which is the lane's whole point. Same scale shape:
    * merges and vocabulary are tiny; the corpus pays one scan + one
    * broadcast probe + one per-source aggregate.
    */
  def q274ByteBpeEncode(s: SparkSession, dir: String,
      rounds: Int = ByteBpeRounds): DataFrame = {
    import s.implicits._
    val (_, vocab) = byteBpeTrainFrames(s, dir, rounds)
    val words = Tables.load(s, dir, "documents")
      .select($"source", explode(ws).as("word"))
      .filter(length($"word") > 0)
    words.join(broadcast(vocab.select($"word", $"s")), Seq("word"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_words"),
        sum(octet_length($"word")).cast("long").as("n_bytes"),
        // wrapped repr: k symbols → k+2 split slots (leading+trailing "")
        sum(size(split($"s", "[|]+")) - 2).cast("long").as("n_tokens"))
      .select($"source", $"n_words", $"n_bytes", $"n_tokens",
        ($"n_bytes".cast("double") / $"n_tokens").as("bytes_per_token"))
      .orderBy($"source")
  }

  def q274ByteBpeEncodeSql(rounds: Int = ByteBpeRounds): String = {
    // reuse q272's training CTE chain verbatim (u0..u{rounds})
    val train = q272ByteBpeTrainSql(rounds)
    val ctes = train.substring(0, train.indexOf("\nSELECT * FROM ("))
    s"""$ctes,
      |wrds AS (
      |  SELECT source, word
      |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE length(word) > 0),
      |enc AS (SELECT w.source, w.word, v.s
      |        FROM wrds w JOIN u$rounds v USING (word))
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(octet_length(encode(word))) AS BIGINT) AS n_bytes,
      |  CAST(SUM(len(string_split(trim(s, '|'), '||'))) AS BIGINT)
      |    AS n_tokens,
      |  CAST(SUM(octet_length(encode(word))) AS DOUBLE)
      |    / SUM(len(string_split(trim(s, '|'), '||'))) AS bytes_per_token
      |FROM enc GROUP BY 1 ORDER BY source""".stripMargin
  }

  /** Default merge-round budget for q255. */
  val WordPieceRounds = 10

  /** The q255 training loop, exposed for [[q256WordPieceEncode]]:
    * returns the per-round merge frames AND the trained vocabulary
    * (word → final symbol string) after `rounds` merges. q255 (merge
    * table) and q256 (encoder) are reports off the SAME merge run, so
    * it is a [[FamilyCaches]] artifact per (session, dir, rounds).
    */
  private[queries] def wordPieceTrainFrames(s: SparkSession, dir: String,
      rounds: Int): (Seq[DataFrame], DataFrame) =
    FamilyCaches.memo(s, s"wordPiece:$rounds:$dir")(
      wordPieceTrainFramesUncached(s, dir, rounds))

  private def wordPieceTrainFramesUncached(s: SparkSession, dir: String,
      rounds: Int): (Seq[DataFrame], DataFrame) = {
    import s.implicits._
    var vocab = Tables.load(s, dir, "documents")
      .select(explode(ws).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .select($"word", regexp_replace($"word", "(.)", "|$1|").as("s"), $"freq")
      .localCheckpoint(true) // vocabulary-sized; cuts the corpus lineage
    val merges = (1 to rounds).map { r =>
      // k symbols → k+2 slots (leading + trailing ""), symbols at 1..k
      val syms = split($"s", "[|]+")
      // current symbol unigram counts — the score's denominator; the
      // frame is vocabulary-sized and probed twice (lhs AND rhs)
      val symCounts = vocab
        .select($"freq", explode(syms).as("sym"))
        .filter($"sym" =!= "")
        .groupBy($"sym").agg(sum($"freq").as("c"))
        .localCheckpoint(true)
      val pairs = vocab
        .select($"freq", explode(
          when(size(syms) >= 4, transform(sequence(lit(1), size(syms) - 3),
            i => struct(get(syms, i).as("lhs"), get(syms, i + 1).as("rhs"))))
            .otherwise(array().cast("array<struct<lhs:string,rhs:string>>")))
          .as("p"))
        .groupBy($"p.lhs".as("lhs"), $"p.rhs".as("rhs"))
        .agg(sum($"freq").as("pair_count"))
      val best = pairs
        .join(broadcast(symCounts.select($"sym".as("lhs"), $"c".as("ca"))),
          Seq("lhs"))
        .join(broadcast(symCounts.select($"sym".as("rhs"), $"c".as("cb"))),
          Seq("rhs"))
        .select($"lhs", $"rhs", $"pair_count",
          floor((log($"pair_count".cast("double"))
            - log($"ca".cast("double")) - log($"cb".cast("double"))) * 1e6)
            .cast("long").as("qscore"))
        .orderBy($"qscore".desc, $"lhs", $"rhs").limit(1)
        .select($"lhs", $"rhs", concat($"lhs", $"rhs").as("merged"),
          $"pair_count", $"qscore")
        .localCheckpoint(true) // ≤1 row; feeds the apply AND the output
      vocab = vocab.crossJoin(broadcast(best.select($"lhs", $"rhs", $"merged")))
        .select($"word", replace($"s",
          concat(lit("|"), $"lhs", lit("||"), $"rhs", lit("|")),
          concat(lit("|"), $"merged", lit("|"))).as("s"), $"freq")
        .localCheckpoint(true)
      best.select(lit(r).cast("long").as("round"),
        $"lhs", $"rhs", $"merged", $"pair_count", $"qscore")
    }
    (merges, vocab)
  }

  /** q255 — WordPiece vocabulary TRAINING (Schuster & Nakajima 2012;
    * the likelihood-scored third of the tokenizer-training trio next
    * to q231's frequency-scored BPE and q250's unigram-LM EM): the
    * same bounded-round merge loop as q231, but each round merges the
    * pair maximizing the corpus-likelihood gain score
    * count(ab) / (count(a)·count(b)) — the pair whose merge most
    * increases a unigram LM's log-likelihood — instead of the raw pair
    * count. The score comparison is exact-BIGINT via the q250/q236
    * micro-nat recipe: qscore = floor((ln cnt_ab − ln cnt_a −
    * ln cnt_b)·10⁶), deterministic tie-break (qscore DESC, lhs, rhs).
    * Merge application is the q231 boundary-anchored delimiter-string
    * `replace` primitive (symbols wrapped `|sym|`, pattern `|l||r|` —
    * greedy left-to-right non-overlap, anchored at symbol boundaries
    * on BOTH sides, identical in both engines). Continuation markers ("##") are presentation-only in
    * the reference algorithm and are omitted under the letter-run
    * convention. Output = the merge table (round, lhs, rhs, merged,
    * pair count, quantized score).
    *
    * At 100 TB: identical shape to q231 — ONE corpus scan into the
    * weighted vocabulary (the only corpus-sized shuffle); per round,
    * two vocabulary-sized aggregates (symbol counts + pair counts),
    * two broadcast probes for the score's denominators, a 1-row
    * argmax, and a codegen'd replace projection; per-round lineage cut
    * with eager localCheckpoints. A round with no pairs left produces
    * no merge row and an empty vocabulary thereafter (the q231
    * convention, spec-pinned there).
    *
    * Cold start: the first consumer of the WordPiece artifact in a
    * session pays the shared merge-loop training (corpus-scan +
    * bounded rounds); later consumers read it.
    */
  def q255WordPieceTrain(s: SparkSession, dir: String,
      rounds: Int = WordPieceRounds): DataFrame = {
    import s.implicits._
    val (merges, _) = wordPieceTrainFrames(s, dir, rounds)
    merges.reduce(_ unionByName _).orderBy($"round")
  }

  /** The unrolled training CTE chain shared by the q255 and q256
    * oracles: v0..v`rounds` carry (word, s, freq); sy`r` the per-round
    * symbol counts, b`r` the winning merge under the quantized
    * likelihood score.
    */
  private def wordPieceCtes(rounds: Int): String = {
    def roundCtes(r: Int) =
      s"""sy$r AS (
         |  SELECT sym, CAST(SUM(freq) AS BIGINT) AS c
         |  FROM (SELECT freq, UNNEST(string_split(s, '|')) AS sym FROM v${r - 1})
         |  WHERE sym <> '' GROUP BY sym),
         |p$r AS (
         |  SELECT ws[i+1] AS lhs, ws[i+2] AS rhs,
         |    CAST(SUM(freq) AS BIGINT) AS pair_count
         |  FROM (SELECT freq, string_split(trim(s, '|'), '||') AS ws
         |        FROM v${r - 1}),
         |    UNNEST(range(0, greatest(len(ws) - 1, 0))) AS t(i)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT lhs, rhs, lhs || rhs AS merged, pair_count,
         |    CAST(floor((ln(CAST(pair_count AS DOUBLE))
         |      - ln(CAST(ca.c AS DOUBLE)) - ln(CAST(cb.c AS DOUBLE)))
         |      * 1000000.0) AS BIGINT) AS qscore
         |  FROM p$r
         |  JOIN sy$r ca ON ca.sym = p$r.lhs
         |  JOIN sy$r cb ON cb.sym = p$r.rhs
         |  ORDER BY qscore DESC, lhs, rhs LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT word,
         |    replace(s, '|' || lhs || '||' || rhs || '|',
         |      '|' || merged || '|') AS s,
         |    freq
         |  FROM v${r - 1}, b$r)""".stripMargin
    s"""v0 AS MATERIALIZED (
      |  SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS s,
      |    CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$')
      |  GROUP BY word),
      |${(1 to rounds).map(roundCtes).mkString(",\n")}""".stripMargin
  }

  def q255WordPieceTrainSql(rounds: Int = WordPieceRounds): String = {
    val union = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, lhs, rhs, merged, pair_count, qscore FROM b$r")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ${wordPieceCtes(rounds)}
      |SELECT * FROM (
      |  $union)
      |ORDER BY round""".stripMargin
  }

  /** q256 — WordPiece tokenizer APPLICATION (the q233/q251 analogue
    * for q255): encode the corpus by replaying the trained merges and
    * report, per source, exact word/char/token totals and the
    * chars-per-token compression. The registered encoder is the
    * merge-replay form (the q233 convention — the reference greedy
    * longest-match inference coincides with replay on any word whose
    * merge history is prefix-closed; the CONTRACT here is replay).
    * Encoding is a broadcast join corpus-words → trained vocabulary:
    * one corpus scan, one broadcast probe, one per-source aggregate.
    * Cold start: the first consumer of the WordPiece artifact pays the
    * shared merge-loop training.
    */
  def q256WordPieceEncode(s: SparkSession, dir: String,
      rounds: Int = WordPieceRounds): DataFrame = {
    import s.implicits._
    val (_, vocab) = wordPieceTrainFrames(s, dir, rounds)
    val words = Tables.load(s, dir, "documents")
      .select($"source", explode(ws).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
    words.join(broadcast(vocab.select($"word", $"s")), Seq("word"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_words"),
        sum(length($"word")).cast("long").as("n_chars"),
        // wrapped repr: k symbols → k+2 split slots (leading+trailing "")
        sum(size(split($"s", "[|]+")) - 2).cast("long").as("n_wp_tokens"))
      .select($"source", $"n_words", $"n_chars", $"n_wp_tokens",
        ($"n_chars".cast("double") / $"n_wp_tokens").as("chars_per_token"))
      .orderBy($"source")
  }

  def q256WordPieceEncodeSql(rounds: Int = WordPieceRounds): String =
    s"""WITH ${wordPieceCtes(rounds)},
      |wrds AS (
      |  SELECT source, word
      |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$')),
      |enc AS (SELECT w.source, w.word, v.s
      |        FROM wrds w JOIN v$rounds v USING (word))
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
      |  CAST(SUM(len(string_split(trim(s, '|'), '||'))) AS BIGINT)
      |    AS n_wp_tokens,
      |  CAST(SUM(length(word)) AS DOUBLE)
      |    / SUM(len(string_split(trim(s, '|'), '||'))) AS chars_per_token
      |FROM enc GROUP BY 1 ORDER BY source""".stripMargin

  /** Default EM-round budget / piece cap / piece length / word length
    * for the q250 unigram-LM trainer.
    */
  val UnigramRounds = 3
  val UnigramCap = 200
  val UnigramMaxPiece = 4
  val UnigramMaxWord = 20

  /** Viterbi segmentation of `word` under quantized piece log-probs
    * `mp` (piece → micro-nats, BIGINT): an `aggregate` fold over
    * character positions whose accumulator is the dp array of
    * (best score, best segmentation) per prefix. Candidate pieces end
    * at the current position with length 1..maxPiece; the argmax is
    * `array_max` over (score, start) structs — EXACT integer
    * comparison with the deterministic (score, j)-lexicographic
    * tie-break the DuckDB twin reproduces verbatim. Single characters
    * are always in the vocabulary, so a candidate always exists.
    * Interpreted per row (HOF lambda) — only ever applied to the
    * DISTINCT-word frame, never the corpus.
    */
  private def viterbi(word: Column, mp: Column, maxPiece: Int): Column = {
    val init = array(struct(lit(0L).as("score"), lit("").as("seg")))
      .cast("array<struct<score:bigint,seg:string>>")
    val folded = aggregate(
      sequence(lit(1), length(word)), init,
      (acc, i) => {
        val cands = filter(
          transform(sequence(greatest(lit(0), i - maxPiece), i - 1), j => {
            val q = try_element_at(mp, word.substr(j + 1, i - j))
            when(q.isNotNull, struct(
              (element_at(acc, j + 1).getField("score") + q).as("score"),
              j.as("j")))
          }),
          x => x.isNotNull)
        val best = array_max(cands)
        val bj = best.getField("j")
        array_append(acc, struct(
          best.getField("score").as("score"),
          concat(element_at(acc, bj + 1).getField("seg"),
            word.substr(bj + 1, i - bj), lit("|")).as("seg")))
      })
    element_at(folded, length(word) + 1)
  }

  /** Kept as a forwarder: the lanes benchmark calls it by name. */
  def clearCaches(s: SparkSession): Unit = FamilyCaches.clear(s)

  /** The q250 training loop, exposed for [[q251UnigramEncode]]:
    * returns the per-round summary frames, the FINAL round's
    * per-word Viterbi frame (word, freq, score, seg) — the trained
    * segmenter artifact the encoder broadcasts — and the final
    * round's quantized scoring table (piece, qlp) the n-best sampler
    * (q254) re-derives its DP from. q250/q251/q254/q259 are reports
    * off the SAME EM run, so it is a [[FamilyCaches]] artifact per
    * (session, dir, rounds).
    */
  private[queries] def unigramTrainFrames(s: SparkSession, dir: String,
      rounds: Int): (Seq[DataFrame], DataFrame, DataFrame) =
    FamilyCaches.memo(s, s"unigram:$rounds:$dir")(
      unigramTrainFramesUncached(s, dir, rounds))

  private def unigramTrainFramesUncached(s: SparkSession, dir: String,
      rounds: Int): (Seq[DataFrame], DataFrame, DataFrame) = {
    import s.implicits._
    val words = Tables.load(s, dir, "documents")
      .select(explode(ws).as("word"))
      .filter($"word".rlike("^[a-z]+$") && length($"word") <= UnigramMaxWord)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .localCheckpoint(true) // distinct-word frame; cuts the corpus lineage
    val subs = words
      .select($"freq", explode(flatten(transform(
        sequence(lit(1), least(length($"word"), lit(UnigramMaxPiece))),
        l => transform(sequence(lit(0), length($"word") - l),
          p => $"word".substr(p + 1, l))))).as("piece"))
      .groupBy($"piece").agg(sum($"freq").as("cnt"))
      .localCheckpoint(true) // seed counts; feeds chars AND vocab0
    val chars = subs.filter(length($"piece") === 1).select($"piece")
    var vocab = subs.filter(length($"piece") === 1)
      .unionByName(subs.filter(length($"piece") > 1)
        .orderBy($"cnt".desc, $"piece").limit(UnigramCap))
      .localCheckpoint(true)
    var lastVit: DataFrame = null
    var lastScored: DataFrame = null
    val summaries = (1 to rounds).map { r =>
      val tot = vocab.agg(sum($"cnt").cast("double").as("T"))
      val scored = vocab.crossJoin(broadcast(tot))
        .select($"piece",
          floor((log($"cnt".cast("double")) - log($"T")) * 1e6)
            .cast("long").as("qlp"))
        .localCheckpoint(true) // ≤ cap+|chars| rows; map AND n_pieces
      val mapRow = scored
        .agg(map_from_entries(collect_list(struct($"piece", $"qlp"))).as("mp"))
      val vit = words.crossJoin(broadcast(mapRow))
        .select($"word", $"freq", viterbi($"word", $"mp", UnigramMaxPiece).as("v"))
        .select($"word", $"freq",
          $"v.score".as("score"), $"v.seg".as("seg"))
        .localCheckpoint(true) // feeds counts, the summary, and the encoder
      lastVit = vit
      lastScored = scored
      val used = vit
        .select($"freq", explode(split($"seg", "[|]")).as("piece"))
        .filter($"piece" =!= "")
        .groupBy($"piece").agg(sum($"freq").as("cnt"))
        .localCheckpoint(true) // piece-sized; feeds both vocab halves
      vocab = chars.join(used, Seq("piece"), "left")
        .select($"piece", greatest(coalesce($"cnt", lit(0L)), lit(1L)).as("cnt"))
        .unionByName(used.filter(length($"piece") > 1)
          .orderBy($"cnt".desc, $"piece").limit(UnigramCap))
        .localCheckpoint(true)
      vit.crossJoin(broadcast(scored.agg(count(lit(1)).as("n_pieces"))))
        .groupBy($"n_pieces")
        .agg(sum($"freq" * (size(split($"seg", "[|]")) - 1)).cast("long")
          .as("viterbi_tokens"),
          sum($"freq" * $"score").cast("long").as("loglik_micro"))
        .select(lit(r).cast("long").as("round"), $"n_pieces",
          $"viterbi_tokens", $"loglik_micro")
    }
    (summaries, lastVit, lastScored)
  }

  /** q250 — unigram-LM (SentencePiece-style) tokenizer TRAINING: the
    * EM/prune twin of q231's BPE (Kudo 2018, "Subword Regularization",
    * §3 — the hard-EM variant: the E-step is the Viterbi segmentation,
    * the M-step re-estimates piece probabilities from the winning
    * segmentations' exact integer counts). Seeded with every substring
    * of length ≤ 4 (all single characters plus the `UnigramCap` most
    * frequent multi-character pieces), then `rounds` EM rounds: score
    * pieces in quantized micro-nats (floor((ln c − ln T)·10⁶) — the
    * q236 recipe that makes every distributed comparison exact
    * BIGINT), Viterbi-segment the distinct-word frame, re-count pieces
    * from the winning segmentations, re-prune to single chars (count
    * floor 1, so coverage never breaks) plus the top `UnigramCap`
    * multi-char pieces (count DESC, piece ASC tie-break). Emits the
    * training curve: per round, the scoring-vocabulary size, the total
    * Viterbi token count, and the corpus log-likelihood in micro-nats
    * — all exact BIGINTs.
    *
    * At 100 TB: the corpus is scanned ONCE into the distinct-word
    * frame (the only corpus-sized shuffle, same as q231); every EM
    * round touches vocabulary-sized frames only — the piece map rides
    * a broadcast, the Viterbi fold is per distinct word, counts are
    * one piece-keyed aggregate, and per-round lineage is cut with
    * eager localCheckpoints (the q215 discipline).
    *
    * Cold start: the first consumer of the unigram artifact in a
    * session pays the shared EM training (~9 s at sf0.1, corpus-scan
    * cost class); later consumers read it.
    */
  def q250UnigramTrain(s: SparkSession, dir: String,
      rounds: Int = UnigramRounds): DataFrame = {
    import s.implicits._
    val (summaries, _, _) = unigramTrainFrames(s, dir, rounds)
    summaries.reduce(_ unionByName _).orderBy($"round")
  }

  /** q251 — unigram tokenizer APPLICATION (the q233 analogue for
    * q250): encode the corpus with the final EM round's Viterbi
    * segmenter and report, per source, exact word/char/token totals
    * and the chars-per-token compression. The per-word token count
    * and segmentation are read off the trained per-word frame, so
    * encoding is a broadcast join corpus-words → segmenter — one
    * corpus scan, one broadcast probe, one per-source aggregate.
    * chars_per_token is ONE double division of two exact BIGINT sums.
    * Cold start: the first consumer of the unigram artifact pays the
    * shared EM run (~9 s at sf0.1).
    */
  def q251UnigramEncode(s: SparkSession, dir: String,
      rounds: Int = UnigramRounds): DataFrame = {
    import s.implicits._
    val (_, vit, _) = unigramTrainFrames(s, dir, rounds)
    val corpusWords = Tables.load(s, dir, "documents")
      .select($"source", explode(ws).as("word"))
      .filter($"word".rlike("^[a-z]+$") && length($"word") <= UnigramMaxWord)
    corpusWords.join(broadcast(vit.select($"word", $"seg")), Seq("word"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_words"),
        sum(length($"word")).cast("long").as("n_chars"),
        sum(size(split($"seg", "[|]")) - 1).cast("long").as("n_unigram_tokens"))
      .select($"source", $"n_words", $"n_chars", $"n_unigram_tokens",
        ($"n_chars".cast("double") / $"n_unigram_tokens").as("chars_per_token"))
      .orderBy($"source")
  }

  /** The unrolled EM CTE chain shared by the q250 and q251 oracles:
    * vwords/subs/chars seed the loop; per round r, sc`r` is the
    * quantized scoring table, vit`r` the recursive-CTE Viterbi
    * (depth ≤ word length; the dp array rides a LIST column), used`r`
    * the winning-segmentation counts, vocab`r` the re-pruned
    * vocabulary. DuckDB's map subscript returns a LIST — `[1]`
    * unwraps it; absent pieces yield NULL and are filtered, exactly
    * Spark's try_element_at + filter.
    */
  private[queries] def unigramCtes(rounds: Int): String = {
    def roundCtes(r: Int) =
      s"""t$r AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS T FROM vocab${r - 1}),
         |sc$r AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(floor((ln(CAST(cnt AS DOUBLE)) - ln(T)) * 1000000.0) AS BIGINT)
         |      AS qlp
         |  FROM vocab${r - 1}, t$r),
         |m$r AS (SELECT map_from_entries(list(struct_pack(k := piece, v := qlp)))
         |        AS mp FROM sc$r),
         |vr$r AS (
         |  SELECT word, freq, 0 AS pos,
         |    [struct_pack(score := CAST(0 AS BIGINT), seg := '')] AS dp
         |  FROM vwords
         |  UNION ALL
         |  SELECT word, freq, pos + 1,
         |    list_append(dp, (
         |      SELECT struct_pack(
         |        score := best.score,
         |        seg := dp[best.j + 1].seg ||
         |          substring(word, best.j + 1, pos + 1 - best.j) || '|')
         |      FROM (SELECT list_max(list_filter(
         |        list_transform(range(greatest(0, pos + 1 - $UnigramMaxPiece), pos + 1),
         |          j -> CASE WHEN m$r.mp[substring(word, j + 1, pos + 1 - j)][1]
         |                      IS NOT NULL
         |            THEN struct_pack(
         |              score := dp[j + 1].score
         |                + m$r.mp[substring(word, j + 1, pos + 1 - j)][1],
         |              j := j) END),
         |        x -> x IS NOT NULL)) AS best)))
         |  FROM vr$r, m$r WHERE pos < length(word)),
         |vit$r AS MATERIALIZED (
         |  SELECT word, freq, dp[length(word) + 1].score AS score,
         |    dp[length(word) + 1].seg AS seg
         |  FROM vr$r WHERE pos = length(word)),
         |used$r AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, UNNEST(string_split(seg, '|')) AS piece FROM vit$r)
         |  WHERE piece <> '' GROUP BY piece),
         |vocab$r AS MATERIALIZED (
         |  SELECT c.piece, greatest(COALESCE(u.cnt, 0), 1) AS cnt
         |  FROM chars c LEFT JOIN used$r u ON c.piece = u.piece
         |  UNION ALL
         |  SELECT piece, cnt FROM
         |    (SELECT piece, cnt FROM used$r WHERE length(piece) > 1
         |     ORDER BY cnt DESC, piece LIMIT $UnigramCap))""".stripMargin
    s"""vwords AS MATERIALIZED (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) <= $UnigramMaxWord
      |  GROUP BY word),
      |subs AS MATERIALIZED (
      |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM (SELECT freq, substring(word, p + 1, l) AS piece
      |        FROM vwords,
      |          UNNEST(range(1, least(length(word), $UnigramMaxPiece) + 1)) AS tl(l),
      |          UNNEST(range(0, length(word) - l + 1)) AS tp(p))
      |  GROUP BY piece),
      |chars AS MATERIALIZED (SELECT piece, cnt FROM subs WHERE length(piece) = 1),
      |vocab0 AS MATERIALIZED (
      |  SELECT piece, cnt FROM chars
      |  UNION ALL
      |  SELECT piece, cnt FROM
      |    (SELECT piece, cnt FROM subs WHERE length(piece) > 1
      |     ORDER BY cnt DESC, piece LIMIT $UnigramCap)),
      |${(1 to rounds).map(roundCtes).mkString(",\n")}""".stripMargin
  }

  def q250UnigramTrainSql(rounds: Int = UnigramRounds): String = {
    val union = (1 to rounds).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sc$r) AS n_pieces,
         |  CAST(SUM(freq * (len(string_split(seg, '|')) - 1)) AS BIGINT)
         |    AS viterbi_tokens,
         |  CAST(SUM(freq * score) AS BIGINT) AS loglik_micro
         |FROM vit$r""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH RECURSIVE ${unigramCtes(rounds)}
      |SELECT * FROM (
      |  $union)
      |ORDER BY round""".stripMargin
  }

  def q251UnigramEncodeSql(rounds: Int = UnigramRounds): String =
    s"""WITH RECURSIVE ${unigramCtes(rounds)},
      |wrds AS (
      |  SELECT source, word
      |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) <= $UnigramMaxWord),
      |enc AS (SELECT w.source, w.word, v.seg
      |        FROM wrds w JOIN vit$rounds v USING (word))
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
      |  CAST(SUM(len(string_split(seg, '|')) - 1) AS BIGINT) AS n_unigram_tokens,
      |  CAST(SUM(length(word)) AS DOUBLE)
      |    / SUM(len(string_split(seg, '|')) - 1) AS chars_per_token
      |FROM enc GROUP BY 1 ORDER BY source""".stripMargin

  /** Default n-best depth for the q254 subword-regularization lattice. */
  val UnigramNBest = 4

  /** N-best Viterbi segmentation (Kudo 2018 §4 — the lattice the
    * subword-regularization sampler draws from): the [[viterbi]] fold
    * with each prefix's DP cell widened from the single argmax to the
    * top-`n` (score, segmentation) candidates. Entries are stored as
    * (ns = −score, seg) so one ascending `array_sort` orders them best
    * first with the deterministic seg-ASC tie-break — every comparison
    * an exact BIGINT/string compare the DuckDB twin reproduces. A
    * segmentation string uniquely determines its piece path, so cells
    * never hold duplicates. Interpreted per row (HOF lambda) — only
    * ever applied to the DISTINCT-word frame, never the corpus.
    */
  private def nbestViterbi(word: Column, mp: Column, maxPiece: Int,
      n: Int): Column = {
    val init = array(array(struct(lit(0L).as("ns"), lit("").as("seg"))))
      .cast("array<array<struct<ns:bigint,seg:string>>>")
    val folded = aggregate(
      sequence(lit(1), length(word)), init,
      (acc, i) => {
        val cands = flatten(filter(
          transform(sequence(greatest(lit(0), i - maxPiece), i - 1), j => {
            val q = try_element_at(mp, word.substr(j + 1, i - j))
            when(q.isNotNull,
              transform(element_at(acc, j + 1), e =>
                struct((e.getField("ns") - q).as("ns"),
                  concat(e.getField("seg"), word.substr(j + 1, i - j), lit("|"))
                    .as("seg"))))
          }),
          x => x.isNotNull))
        array_append(acc, slice(array_sort(cands), 1, n))
      })
    element_at(folded, length(word) + 1)
  }

  /** q254 — n-best segmentation lattice of the trained unigram
    * tokenizer (subword regularization, Kudo 2018 §4): for every
    * distinct word, the top-[[UnigramNBest]] segmentations under the
    * final EM round's piece scores, reported as the per-rank training
    * curve a sampling-based augmentation recipe reads — how many
    * words/occurrences have an r-th best segmentation at all, its
    * token count, and its corpus log-likelihood in exact micro-nats.
    * Rank 1's loglik equals q250's final-round Viterbi loglik by
    * construction (the score law UnigramSpec pins per word against an
    * exhaustive-enumeration reference).
    *
    * At 100 TB: rides the q250/q251 shared training artifact (memoized
    * frames — zero extra corpus scans); the n-best DP is one broadcast
    * map probe per DISTINCT word; the report is ONE rank-keyed
    * aggregate over ≤ n × |vocab words| rows. Cold start: the first
    * consumer of the unigram artifact pays the shared EM run (~9 s at
    * sf0.1).
    */
  def q254UnigramNbest(s: SparkSession, dir: String,
      rounds: Int = UnigramRounds, nBest: Int = UnigramNBest): DataFrame = {
    import s.implicits._
    val (_, vit, scored) = unigramTrainFrames(s, dir, rounds)
    val mapRow = scored
      .agg(map_from_entries(collect_list(struct($"piece", $"qlp"))).as("mp"))
    vit.select($"word", $"freq").crossJoin(broadcast(mapRow))
      .select($"word", $"freq",
        posexplode(nbestViterbi($"word", $"mp", UnigramMaxPiece, nBest)))
      .select($"freq", ($"pos" + 1).cast("long").as("rank"),
        (-$"col.ns").as("score"), $"col.seg".as("seg"))
      .groupBy($"rank")
      .agg(count(lit(1)).as("n_words"),
        sum($"freq").cast("long").as("word_mass"),
        sum($"freq" * (size(split($"seg", "[|]")) - 1)).cast("long")
          .as("tokens"),
        sum($"freq" * $"score").cast("long").as("loglik_micro"))
      .orderBy($"rank")
  }

  def q254UnigramNbestSql(rounds: Int = UnigramRounds,
      nBest: Int = UnigramNBest): String =
    s"""WITH RECURSIVE ${unigramCtes(rounds)},
      |nvr AS (
      |  SELECT word, freq, 0 AS pos,
      |    [[struct_pack(ns := CAST(0 AS BIGINT), seg := '')]] AS dp
      |  FROM vwords
      |  UNION ALL
      |  SELECT word, freq, pos + 1,
      |    list_append(dp, list_slice(list_sort(flatten(list_filter(
      |      list_transform(range(greatest(0, pos + 1 - $UnigramMaxPiece), pos + 1),
      |        j -> CASE WHEN m$rounds.mp[substring(word, j + 1, pos + 1 - j)][1]
      |                    IS NOT NULL
      |          THEN list_transform(dp[j + 1], e -> struct_pack(
      |            ns := e.ns - m$rounds.mp[substring(word, j + 1, pos + 1 - j)][1],
      |            seg := e.seg || substring(word, j + 1, pos + 1 - j) || '|'))
      |          END),
      |      x -> x IS NOT NULL))), 1, $nBest))
      |  FROM nvr, m$rounds WHERE pos < length(word)),
      |nbest AS (
      |  SELECT freq, r AS rank,
      |    dp[length(word) + 1][r].ns AS ns, dp[length(word) + 1][r].seg AS seg
      |  FROM nvr, UNNEST(range(1, len(dp[length(word) + 1]) + 1)) AS t(r)
      |  WHERE pos = length(word))
      |SELECT CAST(rank AS BIGINT) AS rank,
      |  CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(freq) AS BIGINT) AS word_mass,
      |  CAST(SUM(freq * (len(string_split(seg, '|')) - 1)) AS BIGINT) AS tokens,
      |  CAST(SUM(freq * (-ns)) AS BIGINT) AS loglik_micro
      |FROM nbest GROUP BY 1 ORDER BY rank""".stripMargin

  /** q245: next-token distribution concentration — per context word of
    * the q104 bigram model: the NUCLEUS size (Holtzman et al. 2020's
    * top-p at p = 0.9 — the successor-type count that covers 90% of
    * the continuation mass) and the Shannon entropy of the successor
    * distribution. These are the analytics an LM data pipeline reads
    * to see where its corpus is predictable boilerplate (tiny nucleus,
    * low entropy — dedup/repetition candidates) vs open text; reported
    * for the 20 most frequent contexts.
    *
    * Exactness: nucleus membership is decided in EXACT INTEGERS
    * (successor ranked by count desc then word; member iff
    * 10·cum_before < 9·c_ctx — no float threshold anywhere); entropy
    * folds −p·ln(p) in successor order and presents FLOAT (libm
    * rule); the top-20 context cut orders on exact counts.
    *
    * Scale shape: one bigram aggregate (map-side partials), one
    * context-keyed window (never global), one context aggregate, and
    * a TakeOrdered 20-row cut.
    */
  def q245Nucleus(s: SparkSession, dir: String, topCtx: Int = 20): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
      .select($"doc_id", ws.as("ws"))
    val bg = docs.select(explode(zip_with(
        slice($"ws", lit(1), size($"ws") - 1),
        slice($"ws", lit(2), size($"ws") - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select($"b.w1", $"b.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val byCtx = Window.partitionBy($"w1").orderBy($"c2".desc, $"w2")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = bg
      .withColumn("cum", sum($"c2").over(byCtx))
      .withColumn("c1", sum($"c2").over(Window.partitionBy($"w1")))
      .withColumn("p", $"c2".cast("double") / $"c1".cast("double"))
    val perCtx = ranked.groupBy($"w1").agg(
      first($"c1").as("n_ctx"),
      count(lit(1)).as("n_succ"),
      sum(when(($"cum" - $"c2") * 10 < $"c1" * 9, 1L).otherwise(0L))
        .as("nucleus_size"),
      orderedSum($"w2", -($"p" * log($"p"))).as("entropy_d"))
    perCtx
      .select($"w1", $"n_ctx", $"n_succ", $"nucleus_size",
        $"entropy_d".cast("float").as("entropy"))
      .orderBy($"n_ctx".desc, $"w1")
      .limit(topCtx)
  }

  def q245NucleusSql(topCtx: Int = 20): String =
    s"""WITH bg AS (
      |  SELECT b.w1, b.w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
      |    SELECT unnest(list_transform(range(1, len(ws)),
      |      i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b
      |    FROM (SELECT string_split(text, ' ') AS ws FROM documents)) t
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT w1, w2, c2,
      |    CAST(SUM(c2) OVER (PARTITION BY w1 ORDER BY c2 DESC, w2
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(c2) OVER (PARTITION BY w1) AS BIGINT) AS c1
      |  FROM bg),
      |pc AS (
      |  SELECT w1, ANY_VALUE(c1) AS n_ctx, CAST(COUNT(*) AS BIGINT) AS n_succ,
      |    CAST(SUM(CASE WHEN (cum - c2) * 10 < c1 * 9 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nucleus_size,
      |    list_sum(list(-(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)
      |      * ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))) ORDER BY w2))
      |      AS entropy_d
      |  FROM r GROUP BY w1)
      |SELECT w1, n_ctx, n_succ, nucleus_size,
      |  CAST(entropy_d AS FLOAT) AS entropy
      |FROM pc ORDER BY n_ctx DESC, w1 LIMIT $topCtx""".stripMargin

  /** q259 — tokenizer FERTILITY by PREDICTED language: the
    * composition report a real tokenizer evaluation runs (fertility —
    * tokens per word — varies by language, and production corpora are
    * labeled by a language-ID model, not ground truth). Two trained
    * artifacts compose: q252's Cavnar–Trenkle rank profiles classify
    * EVERY document (the q253 out-of-place argmin, not restricted to
    * the eval split), and q250's trained unigram segmenter encodes its
    * words; the report aggregates per DETECTED language — docs, words,
    * chars, unigram tokens, chars-per-token and fertility. Documents
    * whose in-scope words are all outside the segmenter's word-length
    * bound carry zero tokens and NULL ratios (CASE-guarded on both
    * engines).
    *
    * At 100 TB: the classifier probe is q253's shape (broadcast
    * |langs|×K profile, per-doc K-row rank via WindowGroupLimit, one
    * (doc, lang)-keyed bounded aggregate); the encoder is q251's
    * (broadcast segmenter join, one corpus scan); the final aggregate
    * is |langs| rows. ALL trained artifacts are [[FamilyCaches]]
    * artifacts (the CT profile and per-doc rank profile too —
    * TextOps.ctProfCached/ctDocGCached), so both models train once per
    * session and this lane's steady-state cost is the probe joins +
    * the segmenter aggregate alone (QBench r16: 9.3 s suite → 1.3 s
    * warm). Cold start: the first consumer of each artifact pays its
    * build.
    */
  def q259FertilityByLang(s: SparkSession, dir: String,
      rounds: Int = UnigramRounds): DataFrame = {
    import s.implicits._
    // both trained artifacts ride the shared CT session cache (already
    // checkpointed, bounded frames — TextOps.ctProfCached/ctDocGCached);
    // q259 reads the per-doc profile over ALL docs — no split filter
    val prof = TextOps.ctProfCached(s, dir)
      .select($"lang".as("plang"), $"g", $"rank")
    val docG = TextOps.ctDocGCached(s, dir)
      .select($"doc_id", $"g", $"cnt", $"dr")
    val langs = prof.select($"plang").distinct()
    val matched = docG.join(broadcast(prof), Seq("g"))
      .groupBy($"doc_id", $"plang")
      .agg(sum(abs($"dr".cast("long") - $"rank".cast("long"))).as("os"),
        count(lit(1)).as("m"))
    val det = docG.groupBy($"doc_id").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(langs))
      .join(matched, Seq("doc_id", "plang"), "left")
      .select($"doc_id", $"plang",
        (coalesce($"os", lit(0L))
          + lit(TextOps.CtK.toLong) * ($"nd" - coalesce($"m", lit(0L))))
          .as("dist"))
      .groupBy($"doc_id")
      .agg(min(struct($"dist", $"plang")).as("b"))
      .select($"doc_id", $"b.plang".as("detected"))
    val (_, vit, _) = unigramTrainFrames(s, dir, rounds)
    val tok = Tables.load(s, dir, "documents")
      .select($"doc_id", explode(ws).as("word"))
      .filter($"word".rlike("^[a-z]+$") && length($"word") <= UnigramMaxWord)
      .join(broadcast(vit.select($"word", $"seg")), Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nw"),
        sum(length($"word")).cast("long").as("nc"),
        sum(size(split($"seg", "[|]")) - 1).cast("long").as("nt"))
    det.join(tok, Seq("doc_id"), "left")
      .groupBy($"detected")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"nw", lit(0L))).cast("long").as("n_words"),
        sum(coalesce($"nc", lit(0L))).cast("long").as("n_chars"),
        sum(coalesce($"nt", lit(0L))).cast("long").as("n_tokens"))
      .select($"detected", $"n_docs", $"n_words", $"n_chars", $"n_tokens",
        when($"n_tokens" > 0L,
          $"n_chars".cast("double") / $"n_tokens").as("chars_per_token"),
        when($"n_words" > 0L,
          $"n_tokens".cast("double") / $"n_words").as("fertility"))
      .orderBy($"detected")
  }

  def q259FertilityByLangSql(rounds: Int = UnigramRounds): String =
    s"""WITH RECURSIVE ${TextOps.ctCtes},
      |${unigramCtes(rounds)},
      |docg2 AS MATERIALIZED (
      |  SELECT doc_id, g, cnt, dr FROM (
      |    SELECT doc_id, g, CAST(SUM(c) AS BIGINT) AS cnt,
      |      CAST(row_number() OVER (PARTITION BY doc_id ORDER BY SUM(c) DESC, g)
      |        AS BIGINT) AS dr
      |    FROM grams GROUP BY doc_id, g)
      |  WHERE dr <= ${TextOps.CtK}),
      |nd2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nd
      |        FROM docg2 GROUP BY 1),
      |langs2 AS (SELECT DISTINCT lang AS plang FROM prof),
      |mt2 AS (
      |  SELECT d.doc_id, p.lang AS plang,
      |    CAST(SUM(abs(d.dr - p.rank)) AS BIGINT) AS os,
      |    CAST(COUNT(*) AS BIGINT) AS m
      |  FROM docg2 d JOIN prof p ON d.g = p.g GROUP BY 1, 2),
      |det2 AS (
      |  SELECT doc_id, plang AS detected FROM (
      |    SELECT nd2.doc_id, l.plang,
      |      row_number() OVER (PARTITION BY nd2.doc_id ORDER BY
      |        COALESCE(mt2.os, 0) + ${TextOps.CtK} * (nd2.nd - COALESCE(mt2.m, 0)),
      |        l.plang) AS rk
      |    FROM nd2 CROSS JOIN langs2 l
      |    LEFT JOIN mt2 ON mt2.doc_id = nd2.doc_id AND mt2.plang = l.plang)
      |  WHERE rk = 1),
      |wrds2 AS (
      |  SELECT doc_id, word
      |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$')
      |    AND length(word) <= $UnigramMaxWord),
      |tok2 AS (
      |  SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS nw,
      |    CAST(SUM(length(w.word)) AS BIGINT) AS nc,
      |    CAST(SUM(len(string_split(v.seg, '|')) - 1) AS BIGINT) AS nt
      |  FROM wrds2 w JOIN vit$rounds v ON v.word = w.word
      |  GROUP BY 1)
      |SELECT detected, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(COALESCE(nw, 0)) AS BIGINT) AS n_words,
      |  CAST(SUM(COALESCE(nc, 0)) AS BIGINT) AS n_chars,
      |  CAST(SUM(COALESCE(nt, 0)) AS BIGINT) AS n_tokens,
      |  CASE WHEN CAST(SUM(COALESCE(nt, 0)) AS BIGINT) > 0
      |       THEN CAST(SUM(COALESCE(nc, 0)) AS DOUBLE)
      |         / CAST(SUM(COALESCE(nt, 0)) AS BIGINT) END AS chars_per_token,
      |  CASE WHEN CAST(SUM(COALESCE(nw, 0)) AS BIGINT) > 0
      |       THEN CAST(SUM(COALESCE(nt, 0)) AS DOUBLE)
      |         / CAST(SUM(COALESCE(nw, 0)) AS BIGINT) END AS fertility
      |FROM det2 LEFT JOIN tok2 USING (doc_id)
      |GROUP BY detected ORDER BY detected""".stripMargin

  /** q282: interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995;
    * Chen & Goodman 1999's interpolated form, fixed discount
    * D = 0.75) — the smoothing every serious n-gram perplexity filter
    * actually uses where q104 deliberately ships the add-one
    * baseline. The KN idea: backoff mass goes to words by how many
    * DISTINCT contexts they follow (continuation probability), not by
    * raw frequency — "Francisco" is frequent but only ever follows
    * "San", so KN (correctly) scores it near-impossible after any
    * other history.
    *
    *   P(w2|w1) = (max(c(w1w2) − D, 0) + D·N1+(w1·)·Pcont(w2)) / c(w1·)
    *   Pcont(w2) = N1+(·w2) / N1+(··)
    *
    * Per-document total/mean log-probability under the corpus-trained
    * model, exactly q104's presentation contract (position-ordered
    * double fold, FLOAT presentation for the libm-ln ulp rule).
    *
    * At 100 TB: the model is three vocabulary-sized count tables (the
    * bigram-type table and its two marginals) built in ONE corpus
    * shuffle; scoring joins them back onto the bigram stream (b- and
    * w1-keyed; AQE broadcasts the vocabulary-sized sides at deployment
    * scale) and the only full-corpus aggregate is the per-doc fold.
    * All probabilities derive from exact BIGINT counts through one
    * fixed-shape double chain (the q53 determinism recipe).
    */
  def q282KneserNey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    // bigram builder is the native word_ngrams scan (r15: the
    // interpreted zip_with builder was the per-row cost — the q41/q279
    // lesson). Built lazily on each side: the count side prunes the
    // position column entirely, and re-scanning the corpus with the
    // native expression is cheaper than materializing a corpus-sized
    // positional stream (measured — the trigram/4-gram lanes DO
    // checkpoint their streams, where the join side is wider)
    val big = docs.select(explode(call_function("word_ngrams", $"text", lit(2))).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("c2"))
      .withColumn("w1", split($"b", " ").getItem(0))
      .withColumn("w2", split($"b", " ").getItem(1))
    // history marginals: token count as a history + distinct followers
    val hist = big.groupBy($"w1")
      .agg(sum($"c2").cast("long").as("ch"), count(lit(1)).as("n1f"))
    // continuation marginal: distinct predecessors, and the type total
    val cont = big.groupBy($"w2").agg(count(lit(1)).as("n1b"))
    val tot = big.agg(count(lit(1)).as("nbb"))
    val terms = docs.select($"doc_id",
        posexplode(call_function("word_ngrams", $"text", lit(2))).as(Seq("pos", "b")))
      .join(big.select($"b", $"c2", $"w1", $"w2"), "b")
      .join(hist, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(tot))
      .select($"doc_id", $"pos",
        log((greatest($"c2".cast("double") - lit(0.75), lit(0.0)) +
          lit(0.75) * $"n1f" * ($"n1b".cast("double") / $"nbb")) / $"ch").as("t"))
    terms.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        orderedSum($"pos", $"t").as("sum_lp"))
      .select($"doc_id", $"n_bigrams",
        $"sum_lp".cast("float").as("sum_logprob_kn"),
        ($"sum_lp" / $"n_bigrams").cast("float").as("avg_logprob_kn"))
      .orderBy($"doc_id")
  }

  /** q285: interpolated Kneser–Ney TRIGRAM scoring with recursive
    * backoff (Chen & Goodman 1999's interpolated form at order 3,
    * fixed D = 0.75 at every order) — q282's bigram model extended the
    * way real perplexity filters run (KenLM is 4-5-gram; order 3 is
    * where the recursion becomes generic, every further order repeats
    * the same shape). The highest order discounts RAW counts; each
    * lower order discounts CONTINUATION counts (distinct left
    * extensions), with the backoff weights taken from the SAME table
    * the level is estimated from — the Chen–Goodman discipline that
    * makes every level sum to exactly 1 over the vocabulary
    * (spec-pinned at order 3):
    *
    *   P3(w3|w1w2) = (max(c(w1w2w3)−D, 0) + D·N1+(w1w2·)·P2c(w3|w2)) / c(w1w2·)
    *   P2c(w3|w2)  = (max(N1+(·w2w3)−D, 0) + D·N1+(w2·*)·Pc(w3)) / N1+(·w2·)
    *   Pc(w3)      = N1+(·w3) / N1+(··)
    *
    * where N1+(w2·*) counts distinct w3 with N1+(·w2w3) > 0 (types in
    * the continuation table, NOT raw bigram types — a bigram seen only
    * document-initially has no trigram, and using the raw count would
    * leak its mass). No sentence padding: positions 3..n score against
    * history (w−2, w−1), q282's convention.
    *
    * At 100 TB: five count tables, ALL bounded by distinct trigram
    * types ≤ corpus tokens (never vocabulary²), built from one trigram
    * shuffle + the q282 bigram shuffle; scoring joins them back onto
    * the trigram stream by (t), (w1,w2), (w2,w3), (w2), (w3) — AQE
    * broadcasts the marginal tables at deployment scale — and the only
    * full-corpus aggregate is the per-doc ordered fold. Production
    * KenLM prunes singleton trigrams to shrink the model; the tables
    * here stay exact (the oracle demands it) and corpus-bounded.
    */
  def q285KneserNeyTrigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    // native word_ngrams gram builders (r15 — the q41/q279
    // interpreted-lambda lesson); built lazily on each side like q282
    val tg = docs.select(explode(call_function("word_ngrams", $"text", lit(3))).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c3"))
      .withColumn("w1", split($"t", " ").getItem(0))
      .withColumn("w2", split($"t", " ").getItem(1))
      .withColumn("w3", split($"t", " ").getItem(2))
      // feeds three marginal tables AND the scoring join
      .localCheckpoint(true)
    val h3 = tg.groupBy($"w1", $"w2")
      .agg(sum($"c3").cast("long").as("ch3"), count(lit(1)).as("n3f"))
    val c3t = tg.groupBy($"w2", $"w3").agg(count(lit(1)).as("n1b3"))
    val mid = c3t.groupBy($"w2")
      .agg(sum($"n1b3").cast("long").as("nmid"), count(lit(1)).as("n2f3"))
    val bg = docs.select(explode(call_function("word_ngrams", $"text", lit(2))).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("c2"))
      .withColumn("bw2", split($"b", " ").getItem(1))
    val cont = bg.groupBy($"bw2".as("w3")).agg(count(lit(1)).as("n1b"))
    val tot = bg.agg(count(lit(1)).as("nbb"))
    val pc = $"n1b".cast("double") / $"nbb"
    val p2c = (greatest($"n1b3".cast("double") - lit(0.75), lit(0.0)) +
      lit(0.75) * $"n2f3" * pc) / $"nmid"
    val p3 = (greatest($"c3".cast("double") - lit(0.75), lit(0.0)) +
      lit(0.75) * $"n3f" * p2c) / $"ch3"
    val terms = docs.select($"doc_id",
        posexplode(call_function("word_ngrams", $"text", lit(3))).as(Seq("pos", "t")))
      .join(tg.select($"t", $"c3", $"w1", $"w2", $"w3"), "t")
      .join(h3, Seq("w1", "w2"))
      .join(c3t, Seq("w2", "w3"))
      .join(mid, Seq("w2"))
      .join(cont, Seq("w3"))
      .crossJoin(broadcast(tot))
      .select($"doc_id", $"pos", log(p3).as("t"))
    terms.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        orderedSum($"pos", $"t").as("sum_lp"))
      .select($"doc_id", $"n_trigrams",
        $"sum_lp".cast("float").as("sum_logprob_kn3"),
        ($"sum_lp" / $"n_trigrams").cast("float").as("avg_logprob_kn3"))
      .orderBy($"doc_id")
  }

  /** The multiply-referenced count tables are AS MATERIALIZED: DuckDB's
    * default CTE inlining re-derives tg once per consumer (h3, c3t,
    * mid, and the scoring join each re-unnest the corpus) and the
    * optimizer's plan for the five-way join over the inlined trees ran
    * minutes where the materialized form runs in 0.2s (the q215
    * lesson).
    */
  val q285KneserNeyTrigramSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri AS (SELECT doc_id,
      |          list_transform(range(1, greatest(len(ws) - 1, 1)),
      |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS ts
      |        FROM d),
      |bi AS (SELECT doc_id,
      |         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bs
      |       FROM d),
      |tg AS MATERIALIZED (SELECT t, CAST(COUNT(*) AS BIGINT) AS c3,
      |         string_split(t, ' ')[1] AS w1, string_split(t, ' ')[2] AS w2,
      |         string_split(t, ' ')[3] AS w3
      |       FROM (SELECT unnest(ts) AS t FROM tri) GROUP BY t),
      |h3 AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS ch3,
      |         CAST(COUNT(*) AS BIGINT) AS n3f FROM tg GROUP BY w1, w2),
      |c3t AS MATERIALIZED (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS n1b3 FROM tg GROUP BY w2, w3),
      |mid AS (SELECT w2, CAST(SUM(n1b3) AS BIGINT) AS nmid,
      |          CAST(COUNT(*) AS BIGINT) AS n2f3 FROM c3t GROUP BY w2),
      |bg AS MATERIALIZED (SELECT b, CAST(COUNT(*) AS BIGINT) AS c2,
      |         string_split(b, ' ')[2] AS bw2
      |       FROM (SELECT unnest(bs) AS b FROM bi) GROUP BY b),
      |cont AS (SELECT bw2 AS w3, CAST(COUNT(*) AS BIGINT) AS n1b FROM bg GROUP BY bw2),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbb FROM bg),
      |t AS (SELECT u.doc_id, u.pos,
      |        ln((greatest(CAST(tg.c3 AS DOUBLE) - 0.75, CAST(0.0 AS DOUBLE)) +
      |            0.75 * h3.n3f *
      |              ((greatest(CAST(c3t.n1b3 AS DOUBLE) - 0.75, CAST(0.0 AS DOUBLE)) +
      |                0.75 * mid.n2f3 * (CAST(cont.n1b AS DOUBLE) / tot.nbb)) / mid.nmid))
      |           / h3.ch3) AS t
      |      FROM (SELECT doc_id, unnest(ts) AS t,
      |              generate_subscripts(ts, 1) AS pos FROM tri) u
      |      JOIN tg ON tg.t = u.t
      |      JOIN h3 ON h3.w1 = tg.w1 AND h3.w2 = tg.w2
      |      JOIN c3t ON c3t.w2 = tg.w2 AND c3t.w3 = tg.w3
      |      JOIN mid ON mid.w2 = tg.w2
      |      JOIN cont ON cont.w3 = tg.w3
      |      CROSS JOIN tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
      |  CAST(list_sum(list(t ORDER BY pos)) AS FLOAT) AS sum_logprob_kn3,
      |  CAST(list_sum(list(t ORDER BY pos)) / CAST(COUNT(*) AS BIGINT) AS FLOAT)
      |    AS avg_logprob_kn3
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q287: Stupid Backoff trigram scoring (Brants, Popat, Xu, Och &
    * Dean 2007, "Large Language Models in Machine Translation") — the
    * scheme Google built for MapReduce over 2-trillion-token corpora
    * when Kneser–Ney's continuation counts were too expensive to
    * distribute: NO discounting, NO normalization, a fixed backoff
    * multiplier α = 0.4, relative frequencies only:
    *
    *   S(w3|w1w2) = c(w1w2w3)/c(w1w2)        if c(w1w2w3) > 0
    *              = 0.4 · S(w3|w2)            otherwise
    *   S(w3|w2)   = c(w2w3)/c(w2)             if c(w2w3) > 0
    *              = 0.4 · c(w3)/N             otherwise
    *
    * (a SCORE, not a probability — the paper's point is that at web
    * scale the normalization buys nothing). Scored over the corpus's
    * own trigrams the top case always fires for the count lookup, so
    * the lane registers the held-out-shaped variant every real
    * pipeline runs: documents ending in 0 mod 10 are the EVAL fold,
    * the model trains on the other nine tenths, and eval trigrams
    * exercise all three backoff tiers (plus the unseen-everywhere
    * floor 0.4²·1/N — Brants' out-of-vocabulary convention folded to
    * count 1). ln at the end, FLOAT presentation (the libm rule).
    *
    * At 100 TB: this is the algorithm DESIGNED for this engine's
    * shape — the model is plain count tables (no continuation pass),
    * built in one trigram + one bigram + one unigram aggregate over
    * the train fold; scoring is three LEFT joins (AQE-broadcast at
    * deployment vocabulary sizes) and a fixed-shape per-row double
    * chain; the per-doc fold is the only corpus-wide aggregate.
    */
  def q287StupidBackoff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val train = docs.filter($"doc_id" % 10 =!= 0)
    val evalD = docs.filter($"doc_id" % 10 === 0)
    // gram builders are the native word_ngrams scan (r15 — the
    // q41/q279 interpreted-lambda lesson)
    val tg = train.select(explode(call_function("word_ngrams", $"text", lit(3))).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c3"))
    val bg = train.select(explode(call_function("word_ngrams", $"text", lit(2))).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("c2"))
    val ug = train.select(explode(split($"text", " ")).as("u"))
      .groupBy($"u").agg(count(lit(1)).as("c1"))
    // token total as a 1-row broadcast frame, not an eager .count()
    // job at build time — the plan stays self-contained
    val tot = train.select(sum(size(split($"text", " "))).as("ntok"))
    val ev = evalD
      .select($"doc_id",
        posexplode(call_function("word_ngrams", $"text", lit(3))).as(Seq("pos", "t")))
      .withColumn("parts", split($"t", " "))
      .withColumn("b12", concat($"parts".getItem(0), lit(" "), $"parts".getItem(1)))
      .withColumn("b23", concat($"parts".getItem(1), lit(" "), $"parts".getItem(2)))
      .withColumn("w2", $"parts".getItem(1))
      .withColumn("w3", $"parts".getItem(2))
    val score = ev
      .join(tg, Seq("t"), "left")
      .join(bg.select($"b".as("b12"), $"c2".as("ch2")), Seq("b12"), "left")
      .join(bg.select($"b".as("b23"), $"c2".as("c23")), Seq("b23"), "left")
      .join(ug.select($"u".as("w2"), $"c1".as("cw2")), Seq("w2"), "left")
      .join(ug.select($"u".as("w3"), $"c1".as("cw3")), Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .select($"doc_id", $"pos",
        log(
          when($"c3".isNotNull && $"ch2".isNotNull,
            $"c3".cast("double") / $"ch2")
          .otherwise(lit(0.4) * (
            when($"c23".isNotNull && $"cw2".isNotNull,
              $"c23".cast("double") / $"cw2")
            .otherwise(lit(0.4) *
              (coalesce($"cw3", lit(1L)).cast("double") / $"ntok".cast("double")))))
        ).as("t"))
    score.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        orderedSum($"pos", $"t").as("sum_lp"))
      .select($"doc_id", $"n_trigrams",
        $"sum_lp".cast("float").as("sum_score_sb"),
        ($"sum_lp" / $"n_trigrams").cast("float").as("avg_score_sb"))
      .orderBy($"doc_id")
  }

  /** Oracle note: nTok is folded into the SQL as a literal-free
    * cross-join scalar so both engines divide by the identical BIGINT;
    * the tier predicates test the SAME left-join nullability on both
    * sides. Count tables AS MATERIALIZED (the q285/q215 lesson).
    */
  val q287StupidBackoffSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tr AS (SELECT * FROM d WHERE doc_id % 10 <> 0),
      |evd AS (SELECT * FROM d WHERE doc_id % 10 = 0),
      |tg AS MATERIALIZED (SELECT t, CAST(COUNT(*) AS BIGINT) AS c3
      |      FROM (SELECT unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
      |              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS t FROM tr)
      |      GROUP BY t),
      |bg AS MATERIALIZED (SELECT b, CAST(COUNT(*) AS BIGINT) AS c2
      |      FROM (SELECT unnest(list_transform(range(1, len(ws)),
      |              i -> ws[i] || ' ' || ws[i+1])) AS b FROM tr)
      |      GROUP BY b),
      |ug AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS BIGINT) AS c1
      |      FROM (SELECT unnest(ws) AS u FROM tr) GROUP BY u),
      |ntok AS (SELECT CAST(SUM(len(ws)) AS BIGINT) AS n FROM tr),
      |evt AS (SELECT doc_id,
      |          list_transform(range(1, greatest(len(ws) - 1, 1)),
      |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS ts
      |        FROM evd),
      |ev AS (SELECT doc_id, pos, t,
      |         string_split(t, ' ')[1] || ' ' || string_split(t, ' ')[2] AS b12,
      |         string_split(t, ' ')[2] || ' ' || string_split(t, ' ')[3] AS b23,
      |         string_split(t, ' ')[2] AS w2, string_split(t, ' ')[3] AS w3
      |       FROM (SELECT doc_id, unnest(ts) AS t,
      |               generate_subscripts(ts, 1) AS pos FROM evt)),
      |sc AS (SELECT ev.doc_id, ev.pos,
      |         ln(CASE WHEN tg.c3 IS NOT NULL AND h2.c2 IS NOT NULL
      |              THEN CAST(tg.c3 AS DOUBLE) / h2.c2
      |            ELSE 0.4 * (CASE WHEN b23.c2 IS NOT NULL AND u2.c1 IS NOT NULL
      |              THEN CAST(b23.c2 AS DOUBLE) / u2.c1
      |              ELSE 0.4 * (CAST(COALESCE(u3.c1, 1) AS DOUBLE)
      |                          / CAST(ntok.n AS DOUBLE)) END) END) AS t
      |       FROM ev
      |       LEFT JOIN tg ON tg.t = ev.t
      |       LEFT JOIN bg h2 ON h2.b = ev.b12
      |       LEFT JOIN bg b23 ON b23.b = ev.b23
      |       LEFT JOIN ug u2 ON u2.u = ev.w2
      |       LEFT JOIN ug u3 ON u3.u = ev.w3
      |       CROSS JOIN ntok)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
      |  CAST(list_sum(list(t ORDER BY pos)) AS FLOAT) AS sum_score_sb,
      |  CAST(list_sum(list(t ORDER BY pos)) / CAST(COUNT(*) AS BIGINT) AS FLOAT)
      |    AS avg_score_sb
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The seven KN-4 model tables shared by q290 (scoring), q291
    * (export), and q295 (serving): the 4-gram type table with its
    * split words, the per-history normalizer/kept inventory, the
    * order-3/2 continuation tables, and the unigram continuation
    * denominator. One builder so a smoothing fix can never drift
    * between the lanes (they are the SAME model by construction).
    * `qg` and `tg3` are eagerly checkpointed: both feed two consumers
    * in every caller (marginals + the scoring/export join), and the
    * tables are TYPE-bounded, the only frames worth materializing
    * under the recompute-over-materialize rule.
    */
  private[queries] final case class Kn4Frames(qg: DataFrame, h4: DataFrame,
      c4t: DataFrame, mid3: DataFrame, tg3: DataFrame, mid2: DataFrame,
      cont: DataFrame, tot: DataFrame)

  /** The seven KN-4 model tables (q290 scoring, q291 export, q295
    * serving build the SAME model by construction — one builder, one
    * materialization per session): a [[FamilyCaches]] artifact per
    * (session, dir, minCount). The memoized pieces are the two
    * eagerly-checkpointed TYPE-bounded frames (qg, tg3) plus the lazy
    * marginals derived from them — re-deriving a marginal is one
    * aggregate over a checkpointed frame, exactly what each lane paid
    * before within itself.
    */
  private[queries] def kn4Frames(s: SparkSession, dir: String,
      minCount: Int = 2): Kn4Frames =
    FamilyCaches.memo(s, s"kn4:$minCount:$dir")(kn4FramesUncached(s, dir, minCount))

  private def kn4FramesUncached(s: SparkSession, dir: String, minCount: Int): Kn4Frames = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    // gram builders are the native word_ngrams expression (one fused
    // byte scan per row emitting substring-backed grams) — the
    // interpreted zip_with spelling was the lane's dominant per-row
    // cost (the q41/q279 lesson). Each side builds its stream lazily:
    // re-scanning the corpus with the native expression measured
    // cheaper than materializing a corpus-sized positional stream,
    // and recompute-over-materialize is also the cluster-honest shape
    val qg = docs.select(explode(call_function("word_ngrams", $"text", lit(4))).as("q"))
      .groupBy($"q").agg(count(lit(1)).as("c4"))
      .withColumn("w1", split($"q", " ").getItem(0))
      .withColumn("w2", split($"q", " ").getItem(1))
      .withColumn("w3", split($"q", " ").getItem(2))
      .withColumn("w4", split($"q", " ").getItem(3))
      // feeds three marginal tables AND the scoring/export join
      .localCheckpoint(true)
    val mc = lit(minCount.toLong)
    // full normalizer + kept-type discount inventory + pruned mass
    val h4 = qg.groupBy($"w1", $"w2", $"w3").agg(
      sum($"c4").cast("long").as("ch4"),
      sum(when($"c4" >= mc, 1L).otherwise(0L)).cast("long").as("nk4"),
      sum(when($"c4" >= mc, $"c4").otherwise(0L)).cast("long").as("ck4"))
    val c4t = qg.groupBy($"w2", $"w3", $"w4").agg(count(lit(1)).as("n1b4"))
    val mid3 = c4t.groupBy($"w2", $"w3")
      .agg(sum($"n1b4").cast("long").as("nmid3"), count(lit(1)).as("n3f4"))
    val tg3 = docs.select(explode(call_function("word_ngrams", $"text", lit(3))).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("cc3"))
      .select(split($"t", " ").getItem(1).as("w3"),
        split($"t", " ").getItem(2).as("w4"))
      .groupBy($"w3", $"w4").agg(count(lit(1)).as("n1b3"))
      // feeds mid2 AND the scoring/export join
      .localCheckpoint(true)
    val mid2 = tg3.groupBy($"w3")
      .agg(sum($"n1b3").cast("long").as("nmid2"), count(lit(1)).as("n2f3"))
    val bg = docs.select(explode(call_function("word_ngrams", $"text", lit(2))).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("c2"))
      .withColumn("bw2", split($"b", " ").getItem(1))
    // vocabulary-bounded; feeds the scoring join AND tot, and bg feeds
    // nothing else — checkpointing cont makes the corpus bigram scan
    // run ONCE (it ran once per consumer branch before: cont and tot
    // were separate subtrees over the lazy bg)
    val cont = bg.groupBy($"bw2".as("w4")).agg(count(lit(1)).as("n1b"))
      .localCheckpoint(true)
    // nbb = |distinct bigram types| = Σ_w4 n1b — exact integers, zero
    // extra corpus scans; coalesce preserves the replaced count(*)'s
    // 0-on-empty-corpus semantics (sum over zero rows is NULL)
    val tot = cont.agg(coalesce(sum($"n1b"), lit(0L)).cast("long").as("nbb"))
    Kn4Frames(qg, h4, c4t, mid3, tg3, mid2, cont, tot)
  }

  /** The interpolated continuation chain P3c(w4|w2w3) — and the
    * backoff mass M(h) — as column expressions over a joined
    * [[Kn4Frames]] row; ONE definition so the double chain is
    * bit-identical across q290/q291/q295 (the q53 shape rule).
    */
  private def kn4P3c: Column = {
    val pc = col("n1b").cast("double") / col("nbb")
    val p2c = (greatest(col("n1b3").cast("double") - lit(0.75), lit(0.0)) +
      lit(0.75) * col("n2f3") * pc) / col("nmid2")
    (greatest(col("n1b4").cast("double") - lit(0.75), lit(0.0)) +
      lit(0.75) * col("n3f4") * p2c) / col("nmid3")
  }

  private def kn4M: Column =
    lit(0.75) * col("nk4") + (col("ch4") - col("ck4")).cast("double")

  /** The shared DuckDB CTE prefix building the same seven tables
    * (multiply-referenced ones AS MATERIALIZED — the q285/q215
    * lesson); q290/q291/q295 append their own scoring/export tail.
    * Expression SHAPES mirror the Spark side term-for-term so the
    * double chain is bit-identical (the q53 rule).
    */
  private def kn4CtePrefix(minCount: Int): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |quad AS (SELECT doc_id,
      |           list_transform(range(1, greatest(len(ws) - 2, 1)),
      |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS qs
      |         FROM d),
      |tri AS (SELECT doc_id,
      |          list_transform(range(1, greatest(len(ws) - 1, 1)),
      |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS ts
      |        FROM d),
      |qg AS MATERIALIZED (SELECT q, CAST(COUNT(*) AS BIGINT) AS c4,
      |         string_split(q, ' ')[1] AS w1, string_split(q, ' ')[2] AS w2,
      |         string_split(q, ' ')[3] AS w3, string_split(q, ' ')[4] AS w4
      |       FROM (SELECT unnest(qs) AS q FROM quad) GROUP BY q),
      |h4 AS (SELECT w1, w2, w3, CAST(SUM(c4) AS BIGINT) AS ch4,
      |         CAST(SUM(CASE WHEN c4 >= $minCount THEN 1 ELSE 0 END) AS BIGINT) AS nk4,
      |         CAST(SUM(CASE WHEN c4 >= $minCount THEN c4 ELSE 0 END) AS BIGINT) AS ck4
      |       FROM qg GROUP BY w1, w2, w3),
      |c4t AS MATERIALIZED (SELECT w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS n1b4
      |       FROM qg GROUP BY w2, w3, w4),
      |mid3 AS (SELECT w2, w3, CAST(SUM(n1b4) AS BIGINT) AS nmid3,
      |           CAST(COUNT(*) AS BIGINT) AS n3f4 FROM c4t GROUP BY w2, w3),
      |tg3 AS MATERIALIZED (SELECT w3, w4, CAST(COUNT(*) AS BIGINT) AS n1b3
      |       FROM (SELECT string_split(t, ' ')[2] AS w3, string_split(t, ' ')[3] AS w4
      |             FROM (SELECT t FROM (SELECT unnest(ts) AS t FROM tri) GROUP BY t))
      |       GROUP BY w3, w4),
      |mid2 AS (SELECT w3, CAST(SUM(n1b3) AS BIGINT) AS nmid2,
      |           CAST(COUNT(*) AS BIGINT) AS n2f3 FROM tg3 GROUP BY w3),
      |bg AS MATERIALIZED (SELECT b, CAST(COUNT(*) AS BIGINT) AS c2,
      |         string_split(b, ' ')[2] AS bw2
      |       FROM (SELECT unnest(list_transform(range(1, len(ws)),
      |               i -> ws[i] || ' ' || ws[i+1])) AS b FROM d) GROUP BY b),
      |cont AS (SELECT bw2 AS w4, CAST(COUNT(*) AS BIGINT) AS n1b FROM bg GROUP BY bw2),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbb FROM bg)""".stripMargin

  /** The shared scoring-join SQL fragment: the corpus 4-gram stream
    * (or the kept-type table) joined to all seven model tables — the
    * FROM/JOIN tail every KN-4 oracle repeats.
    */
  private val kn4JoinTail: String =
    """JOIN h4 ON h4.w1 = qg.w1 AND h4.w2 = qg.w2 AND h4.w3 = qg.w3
      |      JOIN c4t ON c4t.w2 = qg.w2 AND c4t.w3 = qg.w3 AND c4t.w4 = qg.w4
      |      JOIN mid3 ON mid3.w2 = qg.w2 AND mid3.w3 = qg.w3
      |      JOIN tg3 ON tg3.w3 = qg.w3 AND tg3.w4 = qg.w4
      |      JOIN mid2 ON mid2.w3 = qg.w3
      |      JOIN cont ON cont.w4 = qg.w4
      |      CROSS JOIN tot""".stripMargin

  /** The interpolated continuation chain as a SQL expression — the
    * textual twin of [[kn4P3c]], shared by every KN-4 oracle tail.
    */
  private val kn4P3cSql: String =
    """((greatest(CAST(c4t.n1b4 AS DOUBLE) - 0.75, CAST(0.0 AS DOUBLE)) +
      |                0.75 * mid3.n3f4 *
      |                  ((greatest(CAST(tg3.n1b3 AS DOUBLE) - 0.75, CAST(0.0 AS DOUBLE)) +
      |                    0.75 * mid2.n2f3 * (CAST(cont.n1b AS DOUBLE) / tot.nbb))
      |                   / mid2.nmid2)) / mid3.nmid3)""".stripMargin

  /** q290: interpolated Kneser–Ney 4-GRAM scoring with KenLM-style
    * min-count pruning (Chen & Goodman 1999 at order 4; Heafield 2011's
    * production convention of shipping PRUNED top orders) — q285's
    * recursion extended one level, plus the part real deployments
    * cannot skip: 4-gram types below `minCount` (default 2 — the
    * singleton prune) are dropped from the top-order table, and the
    * mass they carried must flow to the backoff level or conditionals
    * stop summing to 1. Per history h = (w1,w2,w3):
    *
    *   P4(w4|h) = ([c4 ≥ mc]·(c4 − D) + M(h)·P3c(w4|w2w3)) / c(h·)
    *   M(h)     = D·N_kept(h·) + Σ_{pruned types of h} c4
    *
    * — a kept type contributes its discounted count; a pruned type
    * contributes its WHOLE count to the backoff mass M(h) (not just
    * the discount), so Σ_kept(c4−D) + M(h) = c(h·) and the conditional
    * sums to exactly 1 (spec-pinned at order 4 under the min-count-2
    * prune). The history marginal c(h·) keeps the FULL count — KenLM
    * prunes stored probabilities, never the normalizer. Backoff levels
    * follow q285's Chen–Goodman discipline unchanged: order-3/2
    * continuation counts from the full 4-gram/trigram type tables
    * (pruning shrinks what a model STORES, not the evidence the
    * smoothing is estimated from — SRILM's convention), unigram
    * continuation from raw bigram types. A corpus 4-gram whose type
    * was pruned scores M(h)·P3c/c(h·) — the interpolated form's
    * backoff-only path; `n_pruned` counts those positions per doc.
    *
    * At 100 TB: seven count tables, all bounded by distinct n-gram
    * TYPES ≤ corpus tokens, built from one 4-gram + one trigram + one
    * bigram shuffle; scoring joins them back onto the 4-gram stream by
    * (q), (w1w2w3), (w2w3w4), (w2w3), (w3w4), (w3), (w4) — AQE
    * broadcasts the marginals at deployment scale — and the only
    * corpus-wide aggregate is the per-doc ordered fold. Pruning is the
    * SCALE feature: a web-corpus 4-gram table is ~80% singletons, so
    * the kept top-order table a serving system materializes shrinks
    * ~5×, while this scoring pass keeps the full tables in flight for
    * exactness (the oracle demands it).
    */
  def q290KneserNey4Pruned(s: SparkSession, dir: String,
      minCount: Int = 2): DataFrame = {
    import s.implicits._
    val f = kn4Frames(s, dir, minCount)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val mc = lit(minCount.toLong)
    val p4 = (when($"c4" >= mc, $"c4".cast("double") - lit(0.75))
      .otherwise(lit(0.0)) + kn4M * kn4P3c) / $"ch4"
    val terms = docs.select($"doc_id",
        posexplode(call_function("word_ngrams", $"text", lit(4))).as(Seq("pos", "q")))
      .join(f.qg.select($"q", $"c4", $"w1", $"w2", $"w3", $"w4"), "q")
      .join(f.h4, Seq("w1", "w2", "w3"))
      .join(f.c4t, Seq("w2", "w3", "w4"))
      .join(f.mid3, Seq("w2", "w3"))
      .join(f.tg3, Seq("w3", "w4"))
      .join(f.mid2, Seq("w3"))
      .join(f.cont, Seq("w4"))
      .crossJoin(broadcast(f.tot))
      .select($"doc_id", $"pos", log(p4).as("t"),
        when($"c4" < mc, 1L).otherwise(0L).as("pruned"))
    terms.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_4grams"),
        sum($"pruned").cast("long").as("n_pruned"),
        orderedSum($"pos", $"t").as("sum_lp"))
      .select($"doc_id", $"n_4grams", $"n_pruned",
        $"sum_lp".cast("float").as("sum_logprob_kn4"),
        ($"sum_lp" / $"n_4grams").cast("float").as("avg_logprob_kn4"))
      .orderBy($"doc_id")
  }

  def q290KneserNey4PrunedSql(minCount: Int = 2): String =
    s"""${kn4CtePrefix(minCount)},
      |t AS (SELECT u.doc_id, u.pos,
      |        ln((CASE WHEN qg.c4 >= $minCount
      |              THEN CAST(qg.c4 AS DOUBLE) - 0.75 ELSE CAST(0.0 AS DOUBLE) END +
      |            (0.75 * h4.nk4 + CAST(h4.ch4 - h4.ck4 AS DOUBLE)) *
      |              $kn4P3cSql)
      |           / h4.ch4) AS t,
      |        CASE WHEN qg.c4 < $minCount THEN 1 ELSE 0 END AS pruned
      |      FROM (SELECT doc_id, unnest(qs) AS q,
      |              generate_subscripts(qs, 1) AS pos FROM quad) u
      |      JOIN qg ON qg.q = u.q
      |      $kn4JoinTail)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_4grams,
      |  CAST(SUM(pruned) AS BIGINT) AS n_pruned,
      |  CAST(list_sum(list(t ORDER BY pos)) AS FLOAT) AS sum_logprob_kn4,
      |  CAST(list_sum(list(t ORDER BY pos)) / CAST(COUNT(*) AS BIGINT) AS FLOAT)
      |    AS avg_logprob_kn4
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q291: the PRUNED model table q290's deployment ships — the
    * ARPA-file content (Jurafsky & Martin's backoff representation;
    * what KenLM/SRILM write) for the top order: one row per KEPT
    * 4-gram type carrying its full interpolated probability, plus the
    * history's backoff weight γ(h) = M(h)/c(h·). Serving equivalence
    * (spec-pinned against the hand model): score(w4|h) = stored prob
    * if the 4-gram is stored, else γ(h)·P3c(w4|w2w3) — EXACTLY
    * q290's interpolated formula, rearranged into the stored/backoff
    * split, so the export loses nothing. Lower orders export the same
    * pattern one level down; the top order is where the prune bites
    * (94% of this corpus's 4-gram types are singletons at sf0.01, 82%
    * at sf0.1 — the stored table is the small survivor).
    *
    * At 100 TB: the export is q290's count tables MINUS the
    * corpus-sized scoring join — kept-type-bounded output, one 4-gram
    * shuffle dominates; probabilities and γ go through the identical
    * fixed-shape double chain (float presentation, the libm rule).
    */
  def q291Kn4ModelExport(s: SparkSession, dir: String,
      minCount: Int = 2): DataFrame = {
    import s.implicits._
    val f = kn4Frames(s, dir, minCount)
    val prob = (($"c4".cast("double") - lit(0.75)) + kn4M * kn4P3c) / $"ch4"
    f.qg.filter($"c4" >= lit(minCount.toLong))
      .join(f.h4, Seq("w1", "w2", "w3"))
      .join(f.c4t, Seq("w2", "w3", "w4"))
      .join(f.mid3, Seq("w2", "w3"))
      .join(f.tg3, Seq("w3", "w4"))
      .join(f.mid2, Seq("w3"))
      .join(f.cont, Seq("w4"))
      .crossJoin(broadcast(f.tot))
      .select($"w1", $"w2", $"w3", $"w4", $"c4",
        prob.cast("float").as("prob"),
        (kn4M / $"ch4").cast("float").as("backoff"))
      .orderBy($"w1", $"w2", $"w3", $"w4")
  }

  def q291Kn4ModelExportSql(minCount: Int = 2): String =
    s"""${kn4CtePrefix(minCount)}
      |SELECT qg.w1, qg.w2, qg.w3, qg.w4, qg.c4,
      |  CAST(((CAST(qg.c4 AS DOUBLE) - 0.75) +
      |        (0.75 * h4.nk4 + CAST(h4.ch4 - h4.ck4 AS DOUBLE)) *
      |          $kn4P3cSql)
      |       / h4.ch4 AS FLOAT) AS prob,
      |  CAST((0.75 * h4.nk4 + CAST(h4.ch4 - h4.ck4 AS DOUBLE)) / h4.ch4 AS FLOAT)
      |    AS backoff
      |FROM qg
      |$kn4JoinTail
      |WHERE qg.c4 >= $minCount
      |ORDER BY qg.w1, qg.w2, qg.w3, qg.w4""".stripMargin

  /** q295: score documents against a LOADED persisted model — the
    * serving half q291 only produces. q291 exports the stored/backoff
    * split; no lane yet CONSUMED a persisted model, and the deployable
    * perplexity-filter path is exactly: load the ARPA tables from disk,
    * let AQE broadcast them (they are type-bounded), and score a
    * document stream in ONE pass with the stored-else-backoff rule
    *
    *   score(w4|h) = stored4(q)            if the 4-gram is stored
    *               | γ(h) · P3c(w4|w2w3)   if the history is stored
    *               | P3c(w4|w2w3)          otherwise (γ = 1, the
    *                                        absent-history convention)
    *
    * (Jurafsky & Martin's backoff evaluation; KenLM's query path.)
    * Three tables are persisted and read back as parquet: the kept
    * top-order probabilities keyed by the 4-gram string, the
    * per-history backoff pieces, and the level-3 continuation store
    * (the ARPA file's lower-order block). The backoff weight is
    * carried as its exact pieces (M(h), c(h·)) rather than the
    * collapsed γ: serving recomputes (0 + M·P3c)/c(h·) in the SAME
    * double shape q290 evaluates in-plan, so the oracle law is
    * bit-for-bit — loaded-model scores ≡ q290's interpolated scores
    * on the eval fold (doc_id % 10 = 0), `n_backoff` ≡ q290's
    * `n_pruned` there. Tier selection is LEFT-join nullability (the
    * q293/q287 discipline).
    *
    * At 100 TB: model tables are bounded by kept/level-3 TYPES —
    * the broadcastable side at deployment scale (strategy left to
    * AQE per the q278/q279 lesson: at test sf the tables share the
    * corpus dimension, and forcing broadcast would be a latent decade
    * term); the document stream is scored in one map-side pass plus
    * the per-doc ordered fold. Unlike q290, model CONSTRUCTION cost
    * is amortized across every corpus this model ever scores.
    */
  def q295Kn4ModelServe(s: SparkSession, dir: String,
      minCount: Int = 2): DataFrame = {
    import s.implicits._
    val base = kn4Export(s, dir, minCount)
    val model = kn4Load(s, base)
    val evalD = Tables.load(s, dir, "documents")
      .select($"doc_id", $"text").filter($"doc_id" % 10 === 0)
    kn4ScoreBatch(model, evalD).orderBy($"doc_id")
  }

  /** Persist the three ARPA-side tables (q295's export half) under
    * `base`: the kept top-order probabilities keyed by the 4-gram
    * string, the per-history backoff PIECES (M(h), c(h·) — not the
    * collapsed γ, so serving can reassemble q290's exact double
    * chain), and the level-3 continuation block. Returns `base`.
    */
  def kn4Export(s: SparkSession, dir: String, minCount: Int = 2,
      base: String =
        java.nio.file.Files.createTempDirectory("graft_kn4_arpa").toString): String = {
    import s.implicits._
    val f = kn4Frames(s, dir, minCount)
    val prob = (($"c4".cast("double") - lit(0.75)) + kn4M * kn4P3c) / $"ch4"
    f.qg.filter($"c4" >= lit(minCount.toLong))
      .join(f.h4, Seq("w1", "w2", "w3"))
      .join(f.c4t, Seq("w2", "w3", "w4"))
      .join(f.mid3, Seq("w2", "w3"))
      .join(f.tg3, Seq("w3", "w4"))
      .join(f.mid2, Seq("w3"))
      .join(f.cont, Seq("w4"))
      .crossJoin(broadcast(f.tot))
      .select($"q", prob.as("p"))
      .write.mode("overwrite").parquet(base + "/stored4")
    f.h4.select(concat_ws(" ", $"w1", $"w2", $"w3").as("h"),
        kn4M.as("m"), $"ch4")
      .write.mode("overwrite").parquet(base + "/hist")
    f.c4t
      .join(f.mid3, Seq("w2", "w3"))
      .join(f.tg3, Seq("w3", "w4"))
      .join(f.mid2, Seq("w3"))
      .join(f.cont, Seq("w4"))
      .crossJoin(broadcast(f.tot))
      .select(concat_ws(" ", $"w2", $"w3", $"w4").as("t3"), kn4P3c.as("p3"))
      .write.mode("overwrite").parquet(base + "/stored3")
    base
  }

  /** The loaded serving model: three parquet-backed frames, read back
    * from a [[kn4Export]] base path. Join strategy against a scored
    * stream is AQE's call (at test sf the tables share the corpus
    * dimension — the q278/q279 forced-broadcast lesson).
    */
  final case class Kn4ServedModel(stored4: DataFrame, hist: DataFrame,
      stored3: DataFrame)

  def kn4Load(s: SparkSession, base: String): Kn4ServedModel =
    Kn4ServedModel(
      s.read.parquet(base + "/stored4").withColumnRenamed("p", "stored_p"),
      s.read.parquet(base + "/hist"),
      s.read.parquet(base + "/stored3"))

  /** Score a (bounded) batch of documents against a loaded model with
    * the stored-else-backoff rule — q295's serving join, shared with
    * the streaming twin (`EventStreams.streamKn4PerplexityToParquet`).
    * Stateless given the model; output one row per doc with ≥ 1
    * 4-gram.
    */
  def kn4ScoreBatch(model: Kn4ServedModel, docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    graft.GraftExtensions.register(s)
    val grams = docs
      .select($"doc_id".cast("long").as("doc_id"),
        posexplode(call_function("word_ngrams", $"text", lit(4))).as(Seq("pos", "q")))
      .withColumn("qw", split($"q", " "))
      .select($"doc_id", $"pos", $"q",
        array_join(slice($"qw", 1, 3), " ").as("h"),
        array_join(slice($"qw", 2, 3), " ").as("t3"))
    val terms = grams
      .join(model.stored4, Seq("q"), "left")
      .join(model.hist, Seq("h"), "left")
      .join(model.stored3, Seq("t3"), "left")
      .select($"doc_id", $"pos",
        $"stored_p".isNull.as("backed_off"),
        when($"stored_p".isNotNull, log($"stored_p"))
          .when($"m".isNotNull,
            // (0 + M·P3c)/c(h·): the exact double shape of q290's
            // pruned-type branch, reassembled from the stored pieces
            log((lit(0.0) + $"m" * $"p3") / $"ch4"))
          .otherwise(log($"p3")).as("t"))
    terms.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_4grams"),
        sum(when($"backed_off", 0L).otherwise(1L)).cast("long").as("n_stored"),
        sum(when($"backed_off", 1L).otherwise(0L)).cast("long").as("n_backoff"),
        orderedSum($"pos", $"t").as("sum_lp"))
      .select($"doc_id", $"n_4grams", $"n_stored", $"n_backoff",
        $"sum_lp".cast("float").as("sum_logprob_kn4"),
        ($"sum_lp" / $"n_4grams").cast("float").as("avg_logprob_kn4"))
  }

  /** Oracle: q290's scoring tail restricted to the eval fold — the
    * serving-equivalence statement ITSELF: the loaded-model path must
    * reproduce the in-plan interpolated scores exactly.
    */
  def q295Kn4ModelServeSql(minCount: Int = 2): String =
    s"""${kn4CtePrefix(minCount)},
      |t AS (SELECT u.doc_id, u.pos,
      |        ln((CASE WHEN qg.c4 >= $minCount
      |              THEN CAST(qg.c4 AS DOUBLE) - 0.75 ELSE CAST(0.0 AS DOUBLE) END +
      |            (0.75 * h4.nk4 + CAST(h4.ch4 - h4.ck4 AS DOUBLE)) *
      |              $kn4P3cSql)
      |           / h4.ch4) AS t,
      |        CASE WHEN qg.c4 < $minCount THEN 1 ELSE 0 END AS pruned
      |      FROM (SELECT doc_id, unnest(qs) AS q,
      |              generate_subscripts(qs, 1) AS pos FROM quad
      |            WHERE doc_id % 10 = 0) u
      |      JOIN qg ON qg.q = u.q
      |      $kn4JoinTail)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_4grams,
      |  CAST(SUM(1 - pruned) AS BIGINT) AS n_stored,
      |  CAST(SUM(pruned) AS BIGINT) AS n_backoff,
      |  CAST(list_sum(list(t ORDER BY pos)) AS FLOAT) AS sum_logprob_kn4,
      |  CAST(list_sum(list(t ORDER BY pos)) / CAST(COUNT(*) AS BIGINT) AS FLOAT)
      |    AS avg_logprob_kn4
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q293: HELD-OUT interpolated Kneser–Ney with a CLOSED vocabulary —
    * the piece q282/q285/q290 (which score the training corpus, where
    * every n-gram is seen) deliberately defer, and the form a deployed
    * perplexity filter actually runs: train on nine tenths of the
    * corpus, replace SINGLETON train tokens by `<unk>` (the KenLM/
    * SRILM closed-vocab convention — the vocabulary is train types
    * with count ≥ 2 plus `<unk>`), map eval tokens through the same
    * vocabulary, and score eval bigrams against the mapped model with
    * the interpolation TERMINATED AT UNIFORM so no probability is ever
    * zero:
    *
    *   P(w2|w1) = (max(c(w1w2)−D,0) + D·N1+(w1·)·Pc(w2)) / c(w1·)
    *   Pc(w2)   = (max(N1+(·w2)−D,0) + D·T·(1/V)) / N1+(··)
    *
    * with T = distinct continuation types, V = |vocab| (kept + unk).
    * Both sums are exactly 1 (spec-pinned over the closed vocabulary,
    * including `<unk>` as history and continuation). A history absent
    * from the model (a vocab token that never starts a train bigram —
    * c(w1·) = 0) backs off to Pc outright, the γ = 1 convention; an
    * unseen bigram of seen words takes the discount-funded Pc mass; an
    * OOV eval token scores as `<unk>` wherever it stands. `n_oov`
    * counts eval token positions mapped to `<unk>`.
    *
    * At 100 TB: vocabulary mapping is two LEFT equijoins of the bigram
    * stream against the kept-vocab table (AQE broadcasts it at
    * deployment scale) — no self-joins, no stream re-keying; the model
    * tables are q282's, built from the MAPPED stream; scoring is three
    * LEFT joins + the per-doc ordered fold. Null-handling is semantic:
    * left-join nullability IS the backoff tier selector (the q287
    * discipline).
    */
  def q293KnHeldOut(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val train = docs.filter($"doc_id" % 10 =!= 0)
    val evalD = docs.filter($"doc_id" % 10 === 0)
    val ug = train.select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c1"))
    val kept = ug.filter($"c1" >= 2).select($"w")
      .localCheckpoint(true) // four join consumers (train + eval, both slots)
    val vsize = kept.agg((count(lit(1)) + lit(1L)).as("v")) // + <unk>
    def mapped(bi: DataFrame): DataFrame = bi
      .join(kept.select($"w".as("r1"), lit(1L).as("k1")), Seq("r1"), "left")
      .join(kept.select($"w".as("r2"), lit(1L).as("k2")), Seq("r2"), "left")
    val rawTrain = train
      .select(explode(call_function("word_ngrams", $"text", lit(2))).as("b"))
      .select(split($"b", " ").getItem(0).as("r1"),
        split($"b", " ").getItem(1).as("r2"))
    val bg = mapped(rawTrain)
      .select(when($"k1".isNotNull, $"r1").otherwise(lit("<unk>")).as("w1"),
        when($"k2".isNotNull, $"r2").otherwise(lit("<unk>")).as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val hist = bg.groupBy($"w1")
      .agg(sum($"c2").cast("long").as("ch"), count(lit(1)).as("n1f"))
    val cont = bg.groupBy($"w2").agg(count(lit(1)).as("n1b"))
    val tot = cont.agg(sum($"n1b").cast("long").as("nbb"), count(lit(1)).as("tt"))
    val ev = mapped(evalD
        .select($"doc_id",
          posexplode(call_function("word_ngrams", $"text", lit(2))).as(Seq("pos", "b")))
        .select($"doc_id", $"pos", split($"b", " ").getItem(0).as("r1"),
          split($"b", " ").getItem(1).as("r2")))
      .select($"doc_id", $"pos",
        when($"k1".isNotNull, $"r1").otherwise(lit("<unk>")).as("w1"),
        when($"k2".isNotNull, $"r2").otherwise(lit("<unk>")).as("w2"),
        // every token counted once: w2 of every bigram + w1 of the first
        (when($"k2".isNull, 1L).otherwise(0L) +
          when($"k1".isNull && $"pos" === 0, 1L).otherwise(0L)).as("oov"))
    val pc = (greatest(coalesce($"n1b", lit(0L)).cast("double") - lit(0.75), lit(0.0)) +
      lit(0.75) * $"tt" * (lit(1.0) / $"v")) / $"nbb"
    val p = when($"ch".isNotNull,
      (greatest(coalesce($"c2", lit(0L)).cast("double") - lit(0.75), lit(0.0)) +
        lit(0.75) * $"n1f" * pc) / $"ch").otherwise(pc)
    val terms = ev
      .join(bg, Seq("w1", "w2"), "left")
      .join(hist, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(vsize))
      .select($"doc_id", $"pos", $"oov", log(p).as("t"))
    terms.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum($"oov").cast("long").as("n_oov"),
        orderedSum($"pos", $"t").as("sum_lp"))
      .select($"doc_id", $"n_bigrams", $"n_oov",
        $"sum_lp".cast("float").as("sum_logprob_kn_ho"),
        ($"sum_lp" / $"n_bigrams").cast("float").as("avg_logprob_kn_ho"))
      .orderBy($"doc_id")
  }

  /** Oracle note: DuckDB's generate_subscripts is 1-based where Spark's
    * posexplode is 0-based — pos only orders the fold, except the
    * first-bigram OOV credit, which tests pos = 1 here and pos = 0 in
    * Spark. Left-join nullability selects tiers identically; count
    * tables AS MATERIALIZED (the q285/q215 lesson); double shapes
    * mirrored term-for-term.
    */
  val q293KnHeldOutSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |             list_transform(range(1, len(string_split(text, ' '))),
      |               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]) AS bs
      |           FROM documents),
      |tr AS (SELECT * FROM d WHERE doc_id % 10 <> 0),
      |evd AS (SELECT * FROM d WHERE doc_id % 10 = 0),
      |ug AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      |       FROM (SELECT unnest(ws) AS w FROM tr) GROUP BY w),
      |kept AS MATERIALIZED (SELECT w FROM ug WHERE c1 >= 2),
      |vs AS (SELECT CAST(COUNT(*) + 1 AS BIGINT) AS v FROM kept),
      |rawbi AS (SELECT string_split(b, ' ')[1] AS r1, string_split(b, ' ')[2] AS r2
      |          FROM (SELECT unnest(bs) AS b FROM tr)),
      |bg AS MATERIALIZED (
      |  SELECT CASE WHEN k1.w IS NOT NULL THEN rawbi.r1 ELSE '<unk>' END AS w1,
      |         CASE WHEN k2.w IS NOT NULL THEN rawbi.r2 ELSE '<unk>' END AS w2,
      |         CAST(COUNT(*) AS BIGINT) AS c2
      |  FROM rawbi
      |  LEFT JOIN kept k1 ON k1.w = rawbi.r1
      |  LEFT JOIN kept k2 ON k2.w = rawbi.r2
      |  GROUP BY 1, 2),
      |hist AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS ch,
      |           CAST(COUNT(*) AS BIGINT) AS n1f FROM bg GROUP BY w1),
      |cont AS MATERIALIZED (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM bg GROUP BY w2),
      |tot AS (SELECT CAST(SUM(n1b) AS BIGINT) AS nbb,
      |          CAST(COUNT(*) AS BIGINT) AS tt FROM cont),
      |evb AS (SELECT doc_id, pos,
      |          string_split(b, ' ')[1] AS r1, string_split(b, ' ')[2] AS r2
      |        FROM (SELECT doc_id, unnest(bs) AS b,
      |                generate_subscripts(bs, 1) AS pos FROM evd)),
      |ev AS (SELECT doc_id, pos,
      |         CASE WHEN k1.w IS NOT NULL THEN evb.r1 ELSE '<unk>' END AS w1,
      |         CASE WHEN k2.w IS NOT NULL THEN evb.r2 ELSE '<unk>' END AS w2,
      |         (CASE WHEN k2.w IS NULL THEN 1 ELSE 0 END +
      |          CASE WHEN k1.w IS NULL AND pos = 1 THEN 1 ELSE 0 END) AS oov
      |       FROM evb
      |       LEFT JOIN kept k1 ON k1.w = evb.r1
      |       LEFT JOIN kept k2 ON k2.w = evb.r2),
      |t AS (SELECT ev.doc_id, ev.pos, ev.oov,
      |        ln(CASE WHEN hist.ch IS NOT NULL
      |             THEN (greatest(CAST(COALESCE(bg.c2, 0) AS DOUBLE) - 0.75, CAST(0.0 AS DOUBLE)) +
      |                   0.75 * hist.n1f *
      |                     ((greatest(CAST(COALESCE(cont.n1b, 0) AS DOUBLE) - 0.75, CAST(0.0 AS DOUBLE)) +
      |                       0.75 * tot.tt * (CAST(1.0 AS DOUBLE) / vs.v)) / tot.nbb)) / hist.ch
      |             ELSE (greatest(CAST(COALESCE(cont.n1b, 0) AS DOUBLE) - 0.75, CAST(0.0 AS DOUBLE)) +
      |                   0.75 * tot.tt * (CAST(1.0 AS DOUBLE) / vs.v)) / tot.nbb END) AS t
      |      FROM ev
      |      LEFT JOIN bg ON bg.w1 = ev.w1 AND bg.w2 = ev.w2
      |      LEFT JOIN hist ON hist.w1 = ev.w1
      |      LEFT JOIN cont ON cont.w2 = ev.w2
      |      CROSS JOIN tot CROSS JOIN vs)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(oov) AS BIGINT) AS n_oov,
      |  CAST(list_sum(list(t ORDER BY pos)) AS FLOAT) AS sum_logprob_kn_ho,
      |  CAST(list_sum(list(t ORDER BY pos)) / CAST(COUNT(*) AS BIGINT) AS FLOAT)
      |    AS avg_logprob_kn_ho
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q294: per-SEGMENT LM quality filtering with document
    * reconstruction — the step CCNet actually runs after segment dedup
    * (Wenzek et al. 2019 §2.3: score each paragraph under a corpus LM,
    * drop the bad ones, keep the document): every 16-word segment is
    * scored under the corpus add-one bigram model (q104's tables),
    * segments below the corpus-wide MEDIAN segment score are dropped,
    * and documents reassemble in order — the second lane (after q286)
    * that REWRITES the corpus rather than reporting on it. Segments too
    * short to score (a 1-word tail has no bigram) are kept: no
    * evidence, no drop. The threshold is the exact nearest-rank median
    * of the FLOAT-presented scores (the libm-ln rule: double sums fold
    * per segment in position order, one float rounding before any
    * cross-engine comparison), computed with the q148/q164b DISTRIBUTED
    * prefix pattern — range-partition the distinct-score counts,
    * per-partition cumulative + broadcast partition offsets — so no
    * unpartitioned window touches a data-sized frame at any scale.
    *
    * At 100 TB: model tables are vocabulary-bounded; segments and
    * their bigrams are one corpus-linear pass each (native
    * word_windows / word_ngrams scans); the median works on DISTINCT
    * float scores (≤ segment count, heavily collapsed by the float
    * grid); reassembly is q286's doc-keyed aggregate.
    */
  def q294SegmentQualityFilter(s: SparkSession, dir: String,
      w: Int = 16): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val W = org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val uni = docs.select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c1"))
    val voc = uni.agg(count(lit(1)).as("v"))
    val big = docs.select(explode(call_function("word_ngrams", $"text", lit(2))).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("c2"))
    val seg = docs.select($"doc_id",
        posexplode(call_function("word_windows", $"text", lit(w))).as(Seq("p", "s")))
      .select($"doc_id", ($"p" + 1).cast("long").as("seg_no"), $"s")
      .localCheckpoint(true) // feeds scoring AND reassembly
    // a segment's bigrams are consecutive word pairs of the source doc,
    // so the corpus-trained model contains every one: inner joins
    val segBi = seg.select($"doc_id", $"seg_no",
        posexplode(call_function("word_ngrams", $"s", lit(2))).as(Seq("pos", "b")))
      .join(big, "b")
      .withColumn("w1", split($"b", " ").getItem(0))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(broadcast(voc))
      .select($"doc_id", $"seg_no", $"pos",
        log(($"c2" + lit(1.0)) / ($"c1" + $"v")).as("t"))
    val scored = segBi.groupBy($"doc_id", $"seg_no")
      .agg(count(lit(1)).as("nb"), orderedSum($"pos", $"t").as("sl"))
      .select($"doc_id", $"seg_no", ($"sl" / $"nb").cast("float").as("sc"))
      .localCheckpoint(true) // feeds the median AND the keep join
    val n1 = scored.agg(count(lit(1)).as("n"))
    // exact nearest-rank median via the distributed prefix pattern:
    // distinct-score counts, range-partitioned; per-partition running
    // sums + broadcast partition offsets give the global cumulative
    val grouped = scored.groupBy($"sc").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // range partitioner samples its child
    val (ranged, offsets) = Prefix.boundedPrefix(grouped, 32, $"c", $"sc".asc)
    val med = ranged
      .withColumn("cum",
        sum($"c").over(W.partitionBy($"pid").orderBy($"sc")))
      .join(broadcast(offsets), "pid")
      .crossJoin(broadcast(n1))
      .filter($"cum" + $"off" >= ($"n" + 1) / 2)
      .agg(min($"sc").as("med"))
    val flagged = seg.join(scored, Seq("doc_id", "seg_no"), "left")
      .crossJoin(broadcast(med))
      .select($"doc_id", $"seg_no", $"s", $"sc",
        ($"sc".isNull || $"sc" >= $"med").as("keep"))
    flagged.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when($"sc".isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when($"keep", struct($"seg_no", $"s")))),
            x => x.getField("s")), " ").as("clean_text"))
      .orderBy($"doc_id")
  }

  /** Oracle note: the rank threshold compares the BIGINT cumulative
    * against (n+1)/2 in DOUBLE on BOTH sides (Spark Column `/` on
    * longs IS double division; the SQL writes `(n+1)/2.0` to match) —
    * same reals, same row set. Count tables AS MATERIALIZED; the
    * oracle's median uses a plain cumulative window (single-node
    * DuckDB), the Spark side the distributed prefix pattern — they
    * select the identical value.
    */
  def q294SegmentQualityFilterSql(w: Int = 16): String =
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      |        FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w),
      |voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      |bg AS MATERIALIZED (SELECT b, CAST(COUNT(*) AS BIGINT) AS c2
      |      FROM (SELECT unnest(list_transform(range(1, len(ws)),
      |              i -> ws[i] || ' ' || ws[i+1])) AS b FROM d) GROUP BY b),
      |seg AS MATERIALIZED (
      |  SELECT doc_id, CAST(i AS BIGINT) AS seg_no,
      |    array_to_string(ws[(i-1)*$w+1 : i*$w], ' ') AS s
      |  FROM d, LATERAL (SELECT unnest(range(1,
      |    CAST(ceil(len(ws) / $w.0) AS INT) + 1)) AS i) t),
      |segbi AS (SELECT doc_id, seg_no, pos, b FROM (
      |  SELECT doc_id, seg_no, unnest(bs) AS b, generate_subscripts(bs, 1) AS pos
      |  FROM (SELECT doc_id, seg_no,
      |          list_transform(range(1, len(string_split(s, ' '))),
      |            i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i+1]) AS bs
      |        FROM seg))),
      |t AS (SELECT sb.doc_id, sb.seg_no, sb.pos,
      |        ln((bg.c2 + CAST(1.0 AS DOUBLE)) / (uni.c1 + voc.v)) AS t
      |      FROM segbi sb
      |      JOIN bg ON bg.b = sb.b
      |      JOIN uni ON uni.w = string_split(sb.b, ' ')[1]
      |      CROSS JOIN voc),
      |scored AS MATERIALIZED (
      |  SELECT doc_id, seg_no,
      |    CAST(list_sum(list(t ORDER BY pos)) / CAST(COUNT(*) AS BIGINT) AS FLOAT) AS sc
      |  FROM t GROUP BY doc_id, seg_no),
      |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
      |med AS (SELECT MIN(sc) AS med FROM (
      |  SELECT sc, SUM(c) OVER (ORDER BY sc) AS cum FROM (
      |    SELECT sc, CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY sc))
      |  CROSS JOIN n1 WHERE cum >= (n + 1) / 2.0),
      |flagged AS (
      |  SELECT seg.doc_id, seg.seg_no, seg.s, sc.sc,
      |    (sc.sc IS NULL OR sc.sc >= med.med) AS keep
      |  FROM seg LEFT JOIN scored sc
      |    ON sc.doc_id = seg.doc_id AND sc.seg_no = seg.seg_no
      |  CROSS JOIN med)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
      |  CAST(SUM(CASE WHEN sc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  COALESCE(array_to_string(list_transform(
      |    list_sort(list(struct_pack(seg_no := seg_no, s := s)) FILTER (WHERE keep)),
      |    x -> x.s), ' '), '') AS clean_text
      |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Frozen CCNet segment-quality model — q294's add-one bigram tables
    * and its corpus median threshold, trained ONCE and then applied to
    * any document stream (CCNet's deployment form: "score incoming
    * documents against a frozen reference-corpus LM", Wenzek et al.
    * 2019 §2.3 — the reference model there is trained on Wikipedia,
    * here on the supplied corpus). `uni`/`big` are TYPE-bounded count
    * frames (eagerly checkpointed); `v` and `med` are collected
    * scalars. Join strategy against a scored stream is left to AQE:
    * at deployment scale a SHIPPED model is pruned/bounded (the
    * q291 discipline), but the raw bigram table grows with training
    * corpus vocabulary, so forcing broadcast here would be a latent
    * decade term (the q278/q279 lesson).
    */
  final case class SegQualityModel(uni: DataFrame, big: DataFrame,
      v: Long, med: Float)

  /** Train the frozen model: exactly q294's tables and its exact
    * nearest-rank median (the distributed prefix pattern), so a
    * stream scored against the frozen model reproduces q294's
    * one-shot verdicts bit-for-bit (EventStreamsSpec law).
    */
  def segQualityTrain(s: SparkSession, dir: String, w: Int = 16): SegQualityModel = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val uni = docs.select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c1"))
      .localCheckpoint(true)
    val big = docs.select(explode(call_function("word_ngrams", $"text", lit(2))).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    val v = uni.count()
    val seg = docs.select($"doc_id",
        posexplode(call_function("word_windows", $"text", lit(w))).as(Seq("p", "s")))
      .select($"doc_id", ($"p" + 1).cast("long").as("seg_no"), $"s")
    val scored = scoreSegments(seg, uni, big, v)
      .localCheckpoint(true) // feeds the count AND the median
    val n1 = scored.agg(count(lit(1)).as("n"))
    val grouped = scored.groupBy($"sc").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val (ranged, offsets) = Prefix.boundedPrefix(grouped, 32, $"c", $"sc".asc)
    val med = ranged
      .withColumn("cum",
        sum($"c").over(W.partitionBy($"pid").orderBy($"sc")))
      .join(broadcast(offsets), "pid")
      .crossJoin(broadcast(n1))
      .filter($"cum" + $"off" >= ($"n" + 1) / 2)
      .agg(min($"sc").as("med"))
      .head().getFloat(0)
    SegQualityModel(uni, big, v, med)
  }

  /** Score W-word segments against frozen model tables: the q294
    * per-segment add-one bigram mean log-probability, with LEFT joins
    * so an UNSEEN stream bigram/word takes the add-one floor
    * ((0+1)/(0+V)) instead of vanishing — on replay of the training
    * corpus every join hits and the scores are bit-identical to
    * q294's inner-join spelling (coalesce feeds the same operands to
    * the same double chain).
    */
  private def scoreSegments(seg: DataFrame, uni: DataFrame, big: DataFrame,
      v: Long): DataFrame = {
    import seg.sparkSession.implicits._
    seg.select($"doc_id", $"seg_no",
        posexplode(call_function("word_ngrams", $"s", lit(2))).as(Seq("pos", "b")))
      .join(big, Seq("b"), "left")
      .withColumn("w1", split($"b", " ").getItem(0))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"), "left")
      .select($"doc_id", $"seg_no", $"pos",
        log((coalesce($"c2", lit(0L)) + lit(1.0)) /
          (coalesce($"c1", lit(0L)) + lit(v))).as("t"))
      .groupBy($"doc_id", $"seg_no")
      .agg(count(lit(1)).as("nb"), orderedSum($"pos", $"t").as("sl"))
      .select($"doc_id", $"seg_no", ($"sl" / $"nb").cast("float").as("sc"))
  }

  /** Apply the frozen model to a (bounded) batch of documents — the
    * per-micro-batch body of the streaming twin
    * (`EventStreams.streamSegmentQualityToParquet`). Stateless given
    * the model: segments are scored against the frozen tables, dropped
    * below the frozen median, and reassembled per document (documents
    * arrive whole, so reconstruction is batch-local). Output schema ≡
    * q294's.
    */
  def segmentQualityFilterBatch(model: SegQualityModel, docs: DataFrame,
      w: Int = 16): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    graft.GraftExtensions.register(s)
    val seg = docs.select($"doc_id".cast("long").as("doc_id"),
        posexplode(call_function("word_windows", $"text", lit(w))).as(Seq("p", "s")))
      .select($"doc_id", ($"p" + 1).cast("long").as("seg_no"), $"s")
    val scored = scoreSegments(seg, model.uni, model.big, model.v)
    val flagged = seg.join(scored, Seq("doc_id", "seg_no"), "left")
      .select($"doc_id", $"seg_no", $"s", $"sc",
        ($"sc".isNull || $"sc" >= lit(model.med)).as("keep"))
    flagged.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when($"sc".isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when($"keep", struct($"seg_no", $"s")))),
            x => x.getField("s")), " ").as("clean_text"))
  }

  val q282KneserNeySql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bi AS (SELECT doc_id,
      |         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bs
      |       FROM d),
      |bg AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c2,
      |         string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2
      |       FROM (SELECT unnest(bs) AS b FROM bi) GROUP BY b),
      |hist AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS ch,
      |           CAST(COUNT(*) AS BIGINT) AS n1f FROM bg GROUP BY w1),
      |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM bg GROUP BY w2),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbb FROM bg),
      |t AS (SELECT u.doc_id, u.pos,
      |        ln((greatest(CAST(bg.c2 AS DOUBLE) - 0.75, CAST(0.0 AS DOUBLE)) +
      |            0.75 * hist.n1f * (CAST(cont.n1b AS DOUBLE) / tot.nbb)) / hist.ch) AS t
      |      FROM (SELECT doc_id, unnest(bs) AS b,
      |              generate_subscripts(bs, 1) AS pos FROM bi) u
      |      JOIN bg ON bg.b = u.b
      |      JOIN hist ON hist.w1 = bg.w1
      |      JOIN cont ON cont.w2 = bg.w2
      |      CROSS JOIN tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(list_sum(list(t ORDER BY pos)) AS FLOAT) AS sum_logprob_kn,
      |  CAST(list_sum(list(t ORDER BY pos)) / CAST(COUNT(*) AS BIGINT) AS FLOAT)
      |    AS avg_logprob_kn
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
