package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis surface for large-scale training-data pipelines: token
  * counting, quality scoring, document fingerprinting, and language scoring.
  *
  * Everything here is pure column expressions (whole-stage codegen, zero
  * shuffles except the final aggregates) — at 100 TB these are single-pass
  * map-side scans over the documents table.
  */
object TextOps {

  /** Word 3-gram shingle set of `text` (single-space-tokenized), the shared
    * unit of document similarity used by the dedup family (Dedup.scala).
    * Pure per-row higher-order functions — no UDF, fully codegen'd.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val w = split(text, " ")
    // greatest(..,1): a doc shorter than n words yields one truncated
    // shingle (the whole doc) instead of a descending sequence/0-index.
    array_distinct(
      transform(sequence(lit(1), greatest(size(w) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(w, i, lit(n)))))
  }

  /** Token counting + quality scoring: whitespace tokens, a regex token
    * class count (BPE-ish pre-tokenizer shape: runs of letters), stopword
    * ratio, average token length, and a quality band CASE — the standard
    * heuristics a pretraining-data pipeline filters on.
    */
  def q30TextStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = split($"text", " ")
    val stop  = filter(words, w => w.isin("a", "the"))
    Tables.load(s, dir, "documents")
      .select(
        $"doc_id",
        size(words).cast("long").as("n_tokens"),
        length($"text").cast("long").as("n_chars_live"),
        regexp_count($"text", lit("[a-z]+")).cast("long").as("n_alpha_runs"),
        (length($"text").cast("double") / size(words)).as("avg_token_span"),
        (size(stop).cast("double") / size(words)).as("stopword_ratio"),
        when(size(words) >= 40 && size(stop).cast("double") / size(words) < 0.2, "good")
          .when(size(words) >= 15, "fair")
          .otherwise("short").as("quality_band"))
      .orderBy($"doc_id")
  }

  val q30TextStatsSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars_live,
      |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_runs,
      |  CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_span,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS stopword_ratio,
      |  CASE WHEN len(string_split(text, ' ')) >= 40
      |        AND CAST(len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) AS DOUBLE)
      |            / len(string_split(text, ' ')) < 0.2 THEN 'good'
      |       WHEN len(string_split(text, ' ')) >= 15 THEN 'fair'
      |       ELSE 'short' END AS quality_band
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprinting: full-text md5 plus a winnowing-style
    * min-shingle fingerprint (lexicographic min of per-shingle md5 — a
    * 1-permutation MinHash usable as a cheap near-dup bucket key at scale).
    */
  def q31Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Pure map-side scan via the native min_shingle_md5 expression: one
    // fused pass per document, no explode, no aggregation, no shuffle.
    // (History: round 2's per-row transform-lambda form evaluated
    // interpreted; rounds 3-5 used explode + groupBy-min — codegen'd but
    // paying the shingle materialization and a hash aggregation; the
    // fused expression makes fingerprinting scan-speed at any scale.)
    graft.GraftExtensions.register(s)
    Tables.load(s, dir, "documents")
      .select($"doc_id", md5($"text".cast("binary")).as("doc_fp"),
        call_function("min_shingle_md5", $"text").as("fp"))
      .select($"doc_id", $"doc_fp",
        $"fp.min_shingle_fp".as("min_shingle_fp"),
        $"fp.n_shingles".as("n_shingles"))
      .orderBy($"doc_id")
  }

  val q31FingerprintSql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(string_split(text, ' ')) - 1, 2)),
      |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
      |  FROM documents)
      |SELECT d.doc_id, md5(d.text) AS doc_fp,
      |  list_aggregate(list_transform(sh.s, g -> md5(g)), 'min') AS min_shingle_fp,
      |  CAST(len(sh.s) AS BIGINT) AS n_shingles
      |FROM documents d JOIN sh ON d.doc_id = sh.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Language scoring: marker-stopword n-gram heuristic — per-language
    * marker-word hit counts with a deterministic argmax. (The synthetic
    * corpus is English word-soup, so `detected` is degenerate here; the
    * operator itself is the deliverable and the oracle checks the full
    * scoring pipeline both sides.)
    */
  /** Per-document language detection frame (doc_id, lang_label,
    * score_*, detected) — the q32 marker-vote logic, shared with the
    * q248 confusion matrix.
    */
  private def langDetectedFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Single pass: explode distinct words once and take conditional-sum
    // marker counts per language in one codegen'd aggregation (the
    // per-row filter-lambda form evaluates interpreted, and Catalyst's
    // project-collapsing re-inlines a shared words column into every
    // score expression — 5 recomputations per row).
    def hits(markers: Seq[String]): Column =
      sum(when($"w".isin(markers: _*), 1L).otherwise(0L))
    val en = $"score_en"; val de = $"score_de"; val fr = $"score_fr"; val es = $"score_es"
    Tables.load(s, dir, "documents")
      .select($"doc_id", $"lang".as("lang_label"),
        explode(array_distinct(split($"text", " "))).as("w"))
      .groupBy($"doc_id", $"lang_label")
      .agg(
        hits(Seq("the", "a", "and", "of", "value", "data")).as("score_en"),
        hits(Seq("der", "die", "das", "und", "nicht")).as("score_de"),
        hits(Seq("le", "la", "les", "et", "est")).as("score_fr"),
        hits(Seq("el", "los", "las", "es", "una")).as("score_es"))
      .select($"doc_id", $"lang_label", en, de, fr, es,
        when(en >= greatest(de, fr, es) && en > 0, "en")
          .when(de >= greatest(fr, es) && de > 0, "de")
          .when(fr >= es && fr > 0, "fr")
          .when(es > 0, "es")
          .otherwise("und").as("detected"))
  }

  def q32LangScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    langDetectedFrame(s, dir).orderBy($"doc_id")
  }

  val q32LangScoreSql: String = {
    def hits(ms: Seq[String]): String =
      s"CAST(len(list_filter(list_distinct(string_split(text, ' ')), w -> w IN (${ms.map("'" + _ + "'").mkString(", ")}))) AS BIGINT)"
    val en = hits(Seq("the", "a", "and", "of", "value", "data"))
    val de = hits(Seq("der", "die", "das", "und", "nicht"))
    val fr = hits(Seq("le", "la", "les", "et", "est"))
    val es = hits(Seq("el", "los", "las", "es", "una"))
    s"""SELECT doc_id, lang AS lang_label,
      |  $en AS score_en, $de AS score_de, $fr AS score_fr, $es AS score_es,
      |  CASE WHEN $en >= greatest($de, $fr, $es) AND $en > 0 THEN 'en'
      |       WHEN $de >= greatest($fr, $es) AND $de > 0 THEN 'de'
      |       WHEN $fr >= $es AND $fr > 0 THEN 'fr'
      |       WHEN $es > 0 THEN 'es'
      |       ELSE 'und' END AS detected
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q248: language-ID confusion matrix — the evaluation the q32
    * detector itself owes its consumer (exactly how fastText-style
    * language filters are graded before gating a corpus): per
    * (true label, detected) cell the document count and its share of
    * the label's documents (the diagonal shares are per-language
    * recall), with overall accuracy riding every row. On this corpus
    * the matrix delivers its verdict loudly: ~98% of EVERY label lands
    * in `en` (accuracy 0.404 ≈ the en base rate at sf0.1) because the
    * synthetic token distribution is English-ish regardless of the
    * `lang` label — the marker heuristic cannot see the labels. That
    * a filter is useless on a given corpus is precisely what the full
    * matrix (never an accuracy scalar alone) reveals before the
    * filter gates anything.
    *
    * Exactness: cells are exact integer counts; shares and accuracy
    * are single fixed-shape double divisions presented FLOAT.
    *
    * Scale shape: the q32 per-doc aggregate + ONE (label, detected)
    * aggregate bounded by |langs|²; label totals and the accuracy
    * scalar ride broadcast bounded frames.
    */
  def q248LangConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val det = langDetectedFrame(s, dir)
      .select($"lang_label", $"detected")
    val cells = det.groupBy($"lang_label", $"detected")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // bounded |langs|²; three consumers
    val totals = cells.groupBy($"lang_label").agg(sum($"n").as("label_total"))
    val acc = cells.agg(
      (sum(when($"lang_label" === $"detected", $"n").otherwise(0L)).cast("double")
        / sum($"n").cast("double")).as("accuracy_d"))
    cells.join(broadcast(totals), Seq("lang_label"))
      .crossJoin(broadcast(acc))
      .select($"lang_label", $"detected", $"n",
        ($"n".cast("double") / $"label_total".cast("double"))
          .cast("float").as("share_of_label"),
        $"accuracy_d".cast("float").as("accuracy"))
      .orderBy($"lang_label", $"detected")
  }

  val q248LangConfusionSql: String = {
    def hits(ms: Seq[String]): String =
      s"CAST(len(list_filter(list_distinct(string_split(text, ' ')), w -> w IN (${ms.map("'" + _ + "'").mkString(", ")}))) AS BIGINT)"
    val en = hits(Seq("the", "a", "and", "of", "value", "data"))
    val de = hits(Seq("der", "die", "das", "und", "nicht"))
    val fr = hits(Seq("le", "la", "les", "et", "est"))
    val es = hits(Seq("el", "los", "las", "es", "una"))
    s"""WITH det AS (
      |  SELECT lang AS lang_label,
      |    CASE WHEN $en >= greatest($de, $fr, $es) AND $en > 0 THEN 'en'
      |         WHEN $de >= greatest($fr, $es) AND $de > 0 THEN 'de'
      |         WHEN $fr >= $es AND $fr > 0 THEN 'fr'
      |         WHEN $es > 0 THEN 'es'
      |         ELSE 'und' END AS detected
      |  FROM documents),
      |cells AS (
      |  SELECT lang_label, detected, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM det GROUP BY 1, 2),
      |tot AS (SELECT lang_label, CAST(SUM(n) AS BIGINT) AS label_total
      |        FROM cells GROUP BY 1),
      |acc AS (SELECT CAST(SUM(CASE WHEN lang_label = detected THEN n ELSE 0 END) AS DOUBLE)
      |          / CAST(SUM(n) AS DOUBLE) AS accuracy_d
      |        FROM cells)
      |SELECT c.lang_label, c.detected, c.n,
      |  CAST(CAST(c.n AS DOUBLE) / CAST(t.label_total AS DOUBLE) AS FLOAT)
      |    AS share_of_label,
      |  CAST(acc.accuracy_d AS FLOAT) AS accuracy
      |FROM cells c JOIN tot t USING (lang_label) CROSS JOIN acc
      |ORDER BY lang_label, detected""".stripMargin
  }

  /** Cavnar–Trenkle profile depth: a language profile (and a document
    * profile) is its top-`CtK` character n-grams by count; an n-gram
    * absent from the language profile costs the maximum out-of-place
    * penalty `CtK`.
    */
  private[queries] val CtK = 160
  private val CtGramMin = 2
  private val CtGramMax = 4
  private val CtTrainPct = 80

  /** Per-(doc, word) gram-count base the two Cavnar–Trenkle queries
    * share: one corpus scan → (doc, word) occurrence counts → padded
    * character n-grams of length [[CtGramMin]]..[[CtGramMax]], each
    * carrying the word's occurrence count and the doc's deterministic
    * train/eval bucket (md5("ct:"+doc_id) mod 100 — the q39 split
    * convention, salted independently).
    */
  private[queries] def ctGramFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val wc = Tables.load(s, dir, "documents")
      .select($"doc_id", $"lang",
        (conv(substring(md5(concat(lit("ct:"), $"doc_id".cast("string"))), 1, 8),
          16, 10).cast("long") % 100).as("bucket"),
        explode(split($"text", " ")).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .groupBy($"doc_id", $"lang", $"bucket", $"word")
      .agg(count(lit(1)).as("c"))
    val padded = concat(lit("_"), $"word", lit("_"))
    // r16 optimization: the nested transform(sequence(...)) gram builder
    // evaluated its lambdas INTERPRETED per row (the q41/q279 lesson —
    // this was the last interpreted gram scan left). The native
    // char_ngrams kernel emits the same multiset in one fused loop:
    // orders 2..3 always exist (len(padded) >= 3); order CtGramMax only
    // when the padded word is long enough (char_ngrams' short-string
    // convention would emit the whole string once, which the old
    // spelling did NOT — the `when` guard reproduces it exactly), and
    // the one-char order tag is stripped before anything groups or
    // ranks on the gram. CtGramNativeSpec pins multiset equality.
    wc.select($"doc_id", $"lang", $"bucket", $"c",
      explode(concat(
        call_function("char_ngrams", padded, lit(CtGramMax - 1), lit(CtGramMin)),
        when(length(padded) >= CtGramMax,
          call_function("char_ngrams", padded, lit(CtGramMax), lit(CtGramMax)))
          .otherwise(array().cast("array<string>")))).as("tg"))
      .select($"doc_id", $"lang", $"bucket", $"c",
        substring($"tg", 2, CtGramMax).as("g"))
  }

  /** Kept as a forwarder: the lanes benchmark calls it by name. */
  def clearCaches(s: SparkSession): Unit = FamilyCaches.clear(s)

  /** The CT artifacts shared by q252/q253/q259, two [[FamilyCaches]]
    * artifacts per (session, dir): the trained per-language profile
    * (bounded |langs|×K rows) and the per-doc top-K gram rank profile
    * over ALL docs with lang + split bucket
    * carried (≤ K rows/doc — q253 filters its eval split from it, q259
    * reads it whole; lang is constant per doc so the doc-only rank
    * window is identical to q253's old (doc, lang, g) grouping).
    * Before the memo each of the three lanes re-derived these from its
    * own corpus-sized gram scan — 5 gram scans per suite run, now 2.
    */
  private[queries] def ctProfCached(s: SparkSession, dir: String): DataFrame =
    FamilyCaches.memo(s, s"ctProfile:$dir")(ctProfileFrame(s, dir).localCheckpoint(true))

  private[queries] def ctDocGCached(s: SparkSession, dir: String): DataFrame =
    FamilyCaches.memo(s, s"ctDocRanks:$dir") {
      import s.implicits._
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"cnt".desc, $"g")
      ctGramFrame(s, dir)
        .groupBy($"doc_id", $"lang", $"bucket", $"g")
        .agg(sum($"c").as("cnt"))
        .withColumn("dr", row_number().over(wd))
        .filter($"dr" <= CtK)
        .localCheckpoint(true)
    }

  /** The trained per-language rank profiles (train split only):
    * top-[[CtK]] grams per language by summed occurrence count, ranked
    * count DESC, gram ASC — every rank decision an exact-integer
    * compare, so the profile is bit-identical cross-engine.
    */
  private[queries] def ctProfileFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"cnt".desc, $"g")
    ctGramFrame(s, dir).filter($"bucket" < CtTrainPct)
      .groupBy($"lang", $"g").agg(sum($"c").as("cnt"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= CtK) // raw rank: keeps the WindowGroupLimit rewrite
  }

  /** q252 — Cavnar–Trenkle language-ID TRAINING (Cavnar & Trenkle
    * 1994, "N-Gram-Based Text Categorization"): per language, the
    * rank-ordered profile of its most frequent padded character
    * n-grams (lengths 2–4 over `_word_`), built from the 80%
    * deterministic train split. The profile is the classifier
    * artifact q253 classifies against; counts and ranks are exact
    * BIGINTs.
    *
    * At 100 TB: one corpus scan into (doc, word) counts, one gram
    * explode (bounded ×~9 rows per distinct doc-word), ONE
    * (lang, gram)-keyed aggregate — map-side combined, output bounded
    * by |langs| × |gram space|; the rank is a window over per-language
    * frames that WindowGroupLimit prunes map-side to K rows.
    */
  def q252CtProfiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ctProfCached(s, dir)
      .select($"lang", $"rank".cast("long").as("rank"), $"g".as("gram"), $"cnt")
      .orderBy($"lang", $"rank")
  }

  /** The shared CTE chain of the q252/q253 oracles. */
  private[queries] def ctCtes: String =
    s"""wc AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substring(md5('ct:' || CAST(doc_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 100 AS bucket,
      |    word, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$')
      |  GROUP BY 1, 2, 3, 4),
      |grams AS MATERIALIZED (
      |  SELECT doc_id, lang, bucket, c,
      |    substring('_' || word || '_', i, l) AS g
      |  FROM wc,
      |    UNNEST(range($CtGramMin, least($CtGramMax, length(word) + 2) + 1))
      |      AS tl(l),
      |    UNNEST(range(1, length(word) + 2 - l + 2)) AS tp(i)),
      |prof AS MATERIALIZED (
      |  SELECT lang, g, cnt, rank FROM (
      |    SELECT lang, g, CAST(SUM(c) AS BIGINT) AS cnt,
      |      CAST(row_number() OVER (PARTITION BY lang ORDER BY SUM(c) DESC, g)
      |        AS BIGINT) AS rank
      |    FROM grams WHERE bucket < $CtTrainPct GROUP BY lang, g)
      |  WHERE rank <= $CtK)""".stripMargin

  def q252CtProfilesSql: String =
    s"""WITH $ctCtes
      |SELECT lang, rank, g AS gram, cnt FROM prof
      |ORDER BY lang, rank""".stripMargin

  /** q253 — Cavnar–Trenkle language-ID EVALUATION on the held-out 20%
    * split: classify each eval document by the minimum out-of-place
    * distance between its own top-[[CtK]] gram rank profile and each
    * trained language profile (|doc rank − lang rank| per shared gram,
    * [[CtK]] per gram missing from the language profile; ties broken
    * by language ASC), then emit the same confusion matrix q248 grades
    * the q32 marker heuristic with.
    *
    * HONEST GRADE ON THIS CORPUS: the synthetic documents' word×lang
    * contingency is statistically independent (χ² ≈ 130 on 120 dof at
    * sf0.1, p ≈ 0.24 — measured, see CtLangIdSpec), so NO text-based
    * classifier can beat the label base rates here and this matrix
    * stays non-diagonal — exactly what the full matrix is for.
    * CtLangIdSpec proves the implementation itself is discriminative:
    * on a micro corpus with real per-language character distributions
    * the same pipeline is diagonal-dominant (perfect recall per label)
    * and matches an independent plain-Scala reference gram-for-gram.
    *
    * Exactness: distances are exact-BIGINT sums of rank differences;
    * the argmin is a (dist, lang) lexicographic min; shares/accuracy
    * are single fixed-shape double divisions presented FLOAT (q248).
    *
    * At 100 TB: the trained profile is |langs|×K rows — broadcast;
    * per-doc profiles are one doc-keyed rank (WindowGroupLimit-pruned
    * to K rows/doc); the distance probe is a broadcast join + one
    * (doc, lang)-keyed aggregate over ≤ K×|langs| rows per doc; the
    * matrix is bounded |langs|².
    */
  def q253CtConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // both trained artifacts ride the shared CT session cache (already
    // checkpointed, bounded frames — see ctProfCached/ctDocGCached);
    // the eval-split filter selects whole DOCS, so per-doc counts and
    // ranks are identical to the old eval-only aggregate
    val prof = ctProfCached(s, dir)
      .select($"lang".as("plang"), $"g", $"rank")
    val docG = ctDocGCached(s, dir).filter($"bucket" >= CtTrainPct)
      .select($"doc_id", $"lang", $"g", $"cnt", $"dr")
    val langs = prof.select($"plang").distinct()
    val matched = docG.join(broadcast(prof), Seq("g"))
      .groupBy($"doc_id", $"plang")
      .agg(sum(abs($"dr".cast("long") - $"rank".cast("long"))).as("os"),
        count(lit(1)).as("m"))
    val ndoc = docG.groupBy($"doc_id", $"lang").agg(count(lit(1)).as("nd"))
    val det = ndoc.crossJoin(broadcast(langs))
      .join(matched, Seq("doc_id", "plang"), "left")
      .select($"doc_id", $"lang",  $"plang",
        (coalesce($"os", lit(0L))
          + lit(CtK.toLong) * ($"nd" - coalesce($"m", lit(0L)))).as("dist"))
      .groupBy($"doc_id", $"lang")
      .agg(min(struct($"dist", $"plang")).as("b"))
      .select($"lang".as("lang_label"), $"b.plang".as("detected"))
    val cells = det.groupBy($"lang_label", $"detected")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // bounded |langs|²; three consumers
    val totals = cells.groupBy($"lang_label").agg(sum($"n").as("label_total"))
    val acc = cells.agg(
      (sum(when($"lang_label" === $"detected", $"n").otherwise(0L)).cast("double")
        / sum($"n").cast("double")).as("accuracy_d"))
    cells.join(broadcast(totals), Seq("lang_label"))
      .crossJoin(broadcast(acc))
      .select($"lang_label", $"detected", $"n",
        ($"n".cast("double") / $"label_total".cast("double"))
          .cast("float").as("share_of_label"),
        $"accuracy_d".cast("float").as("accuracy"))
      .orderBy($"lang_label", $"detected")
  }

  def q253CtConfusionSql: String =
    s"""WITH $ctCtes,
      |docg AS MATERIALIZED (
      |  SELECT doc_id, lang, g, cnt, dr FROM (
      |    SELECT doc_id, lang, g, CAST(SUM(c) AS BIGINT) AS cnt,
      |      CAST(row_number() OVER (PARTITION BY doc_id ORDER BY SUM(c) DESC, g)
      |        AS BIGINT) AS dr
      |    FROM grams WHERE bucket >= $CtTrainPct GROUP BY doc_id, lang, g)
      |  WHERE dr <= $CtK),
      |nd AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS nd
      |       FROM docg GROUP BY 1, 2),
      |langs AS (SELECT DISTINCT lang AS plang FROM prof),
      |mt AS (
      |  SELECT d.doc_id, p.lang AS plang,
      |    CAST(SUM(abs(d.dr - p.rank)) AS BIGINT) AS os,
      |    CAST(COUNT(*) AS BIGINT) AS m
      |  FROM docg d JOIN prof p ON d.g = p.g GROUP BY 1, 2),
      |det AS (
      |  SELECT doc_id, lang AS lang_label, plang AS detected FROM (
      |    SELECT nd.doc_id, nd.lang, l.plang,
      |      COALESCE(mt.os, 0) + $CtK * (nd.nd - COALESCE(mt.m, 0)) AS dist,
      |      row_number() OVER (PARTITION BY nd.doc_id ORDER BY
      |        COALESCE(mt.os, 0) + $CtK * (nd.nd - COALESCE(mt.m, 0)), l.plang)
      |        AS rk
      |    FROM nd CROSS JOIN langs l
      |    LEFT JOIN mt ON mt.doc_id = nd.doc_id AND mt.plang = l.plang)
      |  WHERE rk = 1),
      |cells AS (SELECT lang_label, detected, CAST(COUNT(*) AS BIGINT) AS n
      |          FROM det GROUP BY 1, 2),
      |tot AS (SELECT lang_label, CAST(SUM(n) AS BIGINT) AS label_total
      |        FROM cells GROUP BY 1),
      |acc AS (SELECT CAST(SUM(CASE WHEN lang_label = detected THEN n ELSE 0 END)
      |          AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS accuracy_d
      |        FROM cells)
      |SELECT c.lang_label, c.detected, c.n,
      |  CAST(CAST(c.n AS DOUBLE) / CAST(t.label_total AS DOUBLE) AS FLOAT)
      |    AS share_of_label,
      |  CAST(acc.accuracy_d AS FLOAT) AS accuracy
      |FROM cells c JOIN tot t USING (lang_label) CROSS JOIN acc
      |ORDER BY lang_label, detected""".stripMargin

  /** q249: packing-efficiency ladder — the context-length trade study
    * behind q47's packer: for each candidate budget (256/512/1024
    * tokens), the number of training sequences the corpus packs into,
    * the tail-waste fraction (padding in each shard's last sequence —
    * the only waste under q47's greedy straddling fill), and the share
    * of documents SPLIT across a sequence boundary (the cost
    * straddling pays instead of padding: split docs lose cross-boundary
    * attention). Doubling the context halves the waste but raises the
    * split rate — this query is the table that decision gets made
    * from.
    *
    * Exactness: everything is exact integers through FLOOR of
    * identically-shaped double divisions (the q193 rule): sequences
    * per shard = floor((tot + B − 1)/B), a doc splits iff
    * floor((cum − 1)/B) > floor(prev/B); fractions present FLOAT.
    *
    * Scale shape: one scan + one shard-keyed window (q47's exact
    * partitioning, never global), then per budget ONE one-row
    * aggregate over the checkpointed cum frame + one over the 8-row
    * shard-totals frame.
    */
  def q249PackingLadder(s: SparkSession, dir: String,
      budgets: Seq[Int] = Seq(256, 512, 1024), shards: Int = 8): DataFrame = {
    import s.implicits._
    val shard = (conv(substring(md5(concat(lit("pack:"), $"doc_id".cast("string"))), 1, 8),
      16, 10).cast("long") % shards).as("shard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Long.MinValue, 0)
    val cum = Tables.load(s, dir, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("toks"), shard)
      .withColumn("cum", sum($"toks").over(w))
      .withColumn("prev", $"cum" - $"toks")
      .localCheckpoint(true) // one frame feeds every budget's aggregates
    val shardTot = cum.groupBy($"shard").agg(max($"cum").as("tot"))
      .localCheckpoint(true)
    val perBudget = budgets.map { b =>
      val seqs = shardTot.agg(
        sum(floor(($"tot" + (b - 1)) / lit(b.toDouble))).as("n_sequences"),
        sum($"tot").as("used_tokens"))
      val splits = cum.agg(
        count(lit(1)).as("n_docs"),
        sum(when(floor(($"cum" - 1) / lit(b.toDouble)) >
          floor($"prev" / lit(b.toDouble)), 1L).otherwise(0L)).as("n_split_docs"))
      seqs.crossJoin(splits).select(
        lit(b.toLong).as("budget"),
        $"n_sequences", $"used_tokens",
        ($"n_sequences" * b).as("capacity"),
        ((($"n_sequences" * b) - $"used_tokens").cast("double")
          / ($"n_sequences" * b).cast("double")).cast("float").as("waste_frac"),
        $"n_split_docs",
        ($"n_split_docs".cast("double") / $"n_docs".cast("double"))
          .cast("float").as("split_frac"))
    }
    perBudget.reduce(_ unionByName _).orderBy($"budget")
  }

  def q249PackingLadderSql(budgets: Seq[Int] = Seq(256, 512, 1024),
      shards: Int = 8): String = {
    val rows = budgets.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS budget,
         |  (SELECT CAST(SUM(FLOOR((tot + ${b - 1}) / ${b}.0)) AS BIGINT) FROM st) AS n_sequences,
         |  (SELECT CAST(SUM(tot) AS BIGINT) FROM st) AS used_tokens,
         |  (SELECT CAST(SUM(FLOOR((tot + ${b - 1}) / ${b}.0)) AS BIGINT) * $b FROM st) AS capacity,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cum) AS n_docs,
         |  (SELECT CAST(SUM(CASE WHEN FLOOR((cum - 1) / ${b}.0) > FLOOR(prev / ${b}.0)
         |                        THEN 1 ELSE 0 END) AS BIGINT) FROM cum) AS n_split_docs""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
      |    CAST(('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $shards
      |      AS shard
      |  FROM documents),
      |cum AS (
      |  SELECT shard, doc_id, toks,
      |    CAST(SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS BIGINT) AS prev
      |  FROM base),
      |st AS (SELECT shard, CAST(MAX(cum) AS BIGINT) AS tot FROM cum GROUP BY 1),
      |lad AS (
      |  $rows)
      |SELECT budget, n_sequences, used_tokens, capacity,
      |  CAST(CAST(capacity - used_tokens AS DOUBLE)
      |    / CAST(capacity AS DOUBLE) AS FLOAT) AS waste_frac,
      |  n_split_docs,
      |  CAST(CAST(n_split_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS FLOAT)
      |    AS split_frac
      |FROM lad ORDER BY budget""".stripMargin
  }

  /** PII-style scrubbing + pseudonymization — the redaction pass every
    * training-data pipeline runs before tokenization: word-boundary
    * regexp redaction of a sensitive-term list (a stand-in for
    * email/phone/SSN patterns — this synthetic corpus has no digits, so
    * the term 'customer' plays the PII role), a redaction count, and a
    * salted-hash pseudonymous id (sha-256) replacing the natural key.
    * Pure map-side codegen'd string ops — scales as a scan.
    */
  def q38PiiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(
        $"doc_id",
        regexp_replace($"text", "\\bcustomer\\b", "[REDACTED]").as("clean_text"),
        // count with the SAME word-boundary pattern the redaction uses —
        // a substring count would claim redactions for e.g. 'customers'
        regexp_count($"text", lit("\\bcustomer\\b")).cast("long").as("n_redactions"),
        sha2(concat(lit("doc-"), $"doc_id".cast("string")), 256).as("pseudo_id"))
      .orderBy($"doc_id")
  }

  val q38PiiScrubSql: String =
    """SELECT doc_id,
      |  regexp_replace(text, '\bcustomer\b', '[REDACTED]', 'g') AS clean_text,
      |  CAST(len(regexp_extract_all(text, '\bcustomer\b')) AS BIGINT) AS n_redactions,
      |  sha256('doc-' || CAST(doc_id AS VARCHAR)) AS pseudo_id
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Stable train/val/test assignment — hash-based splits that never
    * move a document between splits as the corpus grows (the property
    * random sampling lacks): bucket = first 8 hex digits of
    * md5("split:" + doc_id) mod 100, thresholds 80/10/10. The md5-prefix
    * trick is deliberately engine-portable (any system can reproduce the
    * assignment), which is exactly why production pipelines use it.
    * Map-side codegen'd; scales as a scan.
    */
  /** q86 — deterministic corpus shuffle + sharding: the step between
    * curation and training that destroys source/crawl locality (batches
    * drawn in order from an UNSHUFFLED corpus are correlated — one
    * source, one domain — which visibly hurts training). Order is the
    * md5 of a salted doc key: engine-portable, reproducible across
    * reruns, and uncorrelated with every data attribute; the shard is
    * the key's top 32 bits mod `shards`, and position is a shard-local
    * row_number. Scale shape: one hash shuffle to shards + per-shard
    * sort (partitioned window, no global order) — exactly how a 100 TB
    * corpus is written as N independent training shards.
    */
  def q86Shuffle(s: SparkSession, dir: String, shards: Int = 8): DataFrame = {
    import s.implicits._
    val key = md5(concat(lit("shuffle:"), $"doc_id".cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"skey", $"doc_id")
    Tables.load(s, dir, "documents")
      .select($"doc_id", key.as("skey"),
        (conv(substring(key, 1, 8), 16, 10).cast("long") % shards).as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .orderBy($"shard", $"pos")
  }

  def q86ShuffleSql(shards: Int = 8): String =
    s"""SELECT doc_id, skey, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
      |FROM (SELECT doc_id, md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS skey,
      |        CAST(('0x' || substring(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |          % $shards AS shard
      |      FROM documents)
      |ORDER BY shard, pos""".stripMargin

  def q39StableSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = (conv(substring(md5(concat(lit("split:"), $"doc_id".cast("string"))), 1, 8),
      16, 10).cast("long") % 100).as("bucket")
    Tables.load(s, dir, "documents")
      .select($"doc_id", bucket)
      .select($"doc_id", $"bucket",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test")
          .as("split"))
      .orderBy($"doc_id")
  }

  val q39StableSplitSql: String =
    """SELECT doc_id, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      |          AS bucket
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Context-window sequence packing — assign documents to fixed-budget
    * token bins by greedy sequential fill (running token sum → bin =
    * floor(preceding_total / budget)): the batching step that turns a
    * deduped corpus into training sequences. Packing is SHARD-LOCAL:
    * the window is partitioned by a stable md5-derived shard key (same
    * trick as q39's split buckets), so each shard packs independently —
    * no global order, no single-partition WindowExec, and the plan
    * scales as shards spread across executors. Training does not need
    * a global document order, so shard-local bins are the semantics a
    * 100 TB pipeline actually wants; (shard, bin_id) is the physical
    * training-sequence key.
    */
  def q47SeqPack(s: SparkSession, dir: String, budget: Int = 512, shards: Int = 8): DataFrame = {
    import s.implicits._
    val shard = (conv(substring(md5(concat(lit("pack:"), $"doc_id".cast("string"))), 1, 8),
      16, 10).cast("long") % shards).as("shard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"doc_id").rowsBetween(Long.MinValue, 0)
    val binId = floor(($"cum" - $"n_tokens").cast("double") / budget).cast("long")
    Tables.load(s, dir, "documents")
      .select($"doc_id", shard, size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", $"shard", $"n_tokens",
        binId.as("bin_id"),
        (($"cum" - $"n_tokens") - binId * budget).as("offset_in_bin"))
      .orderBy($"doc_id")
  }

  /** The full curation pipeline as ONE declarative plan — what the
    * training-data operators exist for, composed end-to-end: exact dedup
    * (min doc_id per distinct text), quality gate (≥ 15 tokens), stable
    * train-split selection (q39's md5 buckets), shard-local context-window
    * packing (q47's partitioned running sum). Catalyst plans it as one
    * scan → one dedup shuffle → map-side split/shard assignment → one
    * partitioned window: four pipeline stages, two exchanges total, every
    * filter ahead of the window. The oracle states the identical chain as
    * CTEs.
    */
  def q56Curate(s: SparkSession, dir: String, budget: Int = 512, shards: Int = 8): DataFrame = {
    import s.implicits._
    val uniq = Tables.load(s, dir, "documents")
      .groupBy($"text").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
      .filter($"n_tokens" >= 15)
    val bucket = conv(substring(md5(concat(lit("split:"), $"doc_id".cast("string"))), 1, 8),
      16, 10).cast("long") % 100
    val shard = (conv(substring(md5(concat(lit("pack:"), $"doc_id".cast("string"))), 1, 8),
      16, 10).cast("long") % shards).as("shard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"doc_id").rowsBetween(Long.MinValue, 0)
    val binId = floor(($"cum" - $"n_tokens").cast("double") / budget).cast("long")
    uniq.filter(bucket < 80) // train only
      .select($"doc_id", shard, $"n_tokens")
      .withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", $"shard", $"n_tokens",
        binId.as("bin_id"),
        (($"cum" - $"n_tokens") - binId * budget).as("offset_in_bin"))
      .orderBy($"doc_id")
  }

  def q56CurateSql(budget: Int = 512, shards: Int = 8): String =
    s"""WITH uniq AS (
      |  SELECT MIN(doc_id) AS doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY text),
      |kept AS (SELECT doc_id, n_tokens FROM uniq WHERE n_tokens >= 15),
      |train AS (
      |  SELECT doc_id, n_tokens FROM kept
      |  WHERE CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |          % 100 < 80),
      |sharded AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % $shards AS shard
      |  FROM train),
      |packed AS (
      |  SELECT doc_id, shard, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM sharded)
      |SELECT doc_id, shard, n_tokens,
      |  CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / $budget) AS BIGINT) AS bin_id,
      |  CAST((cum - n_tokens)
      |       - CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / $budget) AS BIGINT) * $budget
      |       AS BIGINT) AS offset_in_bin
      |FROM packed ORDER BY doc_id""".stripMargin

  /** Intra-document repetition metrics — the Gopher-style repetition
    * rules (Rae et al. 2021 §A1.1: fraction of duplicate n-grams) that
    * pretraining pipelines filter on BEFORE corpus-level dedup: a
    * document that repeats itself is low-quality even if globally
    * unique. Emits duplicate-token and duplicate-bigram fractions plus
    * the keep/drop verdict. Pure per-row array expressions — a map-side
    * scan with no shuffle, so at 100 TB this runs at I/O speed alongside
    * the q30 quality stats.
    */
  def q58Repetition(s: SparkSession, dir: String,
      maxDupTokens: Double = 0.4, maxDupBigrams: Double = 0.2): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    // distinct token/bigram counts ride the native word_shingle_hashes
    // scan (n=1 ⇒ distinct words, n=2 ⇒ distinct bigrams; 64-bit
    // hash-set counts == string-set counts, the equivalence the q40
    // oracle gate pins) — the transform/array_distinct lambda chain this
    // replaces evaluated interpreted per row and was ~10× slower.
    // Totals share the conventions: n bigrams = max(n_tokens - 1, 1),
    // the shingles() short-doc rule.
    val w = split($"text", " ")
    Tables.load(s, dir, "documents")
      .select($"doc_id",
        size(w).cast("long").as("n_tokens"),
        (lit(1.0) - size(call_function("word_shingle_hashes", $"text", lit(1)))
          .cast("double") / size(w)).as("dup_token_fraction"),
        (lit(1.0) - size(call_function("word_shingle_hashes", $"text", lit(2)))
          .cast("double") / greatest(size(w) - 1, lit(1))).as("dup_bigram_fraction"))
      .withColumn("keep",
        $"dup_token_fraction" <= maxDupTokens && $"dup_bigram_fraction" <= maxDupBigrams)
      .orderBy($"doc_id")
  }

  def q58RepetitionSql(maxDupTokens: Double = 0.4, maxDupBigrams: Double = 0.2): String =
    s"""WITH m AS (
      |  SELECT doc_id,
      |    CAST(len(ws) AS BIGINT) AS n_tokens,
      |    1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_token_fraction,
      |    1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_bigram_fraction
      |  FROM (SELECT doc_id, ws,
      |          list_transform(range(1, greatest(len(ws), 2)),
      |                         i -> array_to_string(ws[i:i+1], ' ')) AS bg
      |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)))
      |SELECT doc_id, n_tokens, dup_token_fraction, dup_bigram_fraction,
      |  (dup_token_fraction <= $maxDupTokens AND dup_bigram_fraction <= $maxDupBigrams) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination — flag training documents sharing any
    * word-3-gram shingle with the held-out eval set (here: doc_id % 50,
    * the stand-in benchmark). This is the n-gram-overlap decontamination
    * every serious pretraining pipeline runs (GPT-3 appendix C /
    * Gopher §A2): eval sets are tiny, corpora are not, so the eval
    * shingle set is BROADCAST and the corpus side stays a single
    * exploded scan + one aggregation — no corpus self-join, no shuffle
    * of the corpus by shingle. Emits each contaminated training doc
    * with its distinct-shared-shingle count.
    *
    * Shingle hashing rides the native word_shingle_hashes scan (64-bit,
    * distinct per doc) — the same exact-count-equivalence the q40/q41/q42
    * oracle gate already proves for this corpus.
    */
  def q59Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents")
      .select($"doc_id", call_function("word_shingle_hashes", $"text").as("sh"))
    val ev = docs.filter($"doc_id" % 50 === 0)
      .select(explode($"sh").as("g")).distinct()
    val tr = docs.filter($"doc_id" % 50 =!= 0)
      .select($"doc_id", explode($"sh").as("g"))
    tr.join(broadcast(ev), "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy($"doc_id")
  }

  val q59DecontaminateSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         range(1, greatest(len(ws) - 1, 2)),
      |         i -> array_to_string(ws[i:i+2], ' '))) AS s FROM w),
      |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
      |tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 50 <> 0)
      |SELECT tr.doc_id, COUNT(*) AS n_shared_shingles
      |FROM tr JOIN ev ON tr.g = ev.g
      |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin

  /** Data-mixture sampling — the "mixing weights" step that turns a
    * curated corpus into a training mixture: every source is kept at its
    * own rate (up-weight curated sources, down-weight noisy ones),
    * deterministically (q39's stable md5 bucket, so the sample never
    * moves as the corpus grows and any engine reproduces it). The
    * weights live in a tiny table BROADCAST against the corpus — the
    * shape a 100 TB pipeline wants (weights are config, the corpus scan
    * stays map-side; changing the mixture is a metadata change, not a
    * reshuffle).
    */
  def q61Mixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weights = Seq(("src0", 100L), ("src1", 100L), ("src2", 20L), ("src3", 20L))
      .toDF("source", "rate")
    val bucket = (conv(substring(md5(concat(lit("mix:"), $"doc_id".cast("string"))), 1, 8),
      16, 10).cast("long") % 100).as("bucket")
    Tables.load(s, dir, "documents")
      .select($"doc_id", $"source", bucket)
      .join(broadcast(weights), Seq("source"), "left")
      .withColumn("rate", coalesce($"rate", lit(60L)))
      .filter($"bucket" < $"rate")
      .select($"doc_id", $"source", $"bucket", $"rate")
      .orderBy($"doc_id")
  }

  val q61MixtureSql: String =
    """WITH w(source, rate) AS (VALUES ('src0', 100), ('src1', 100), ('src2', 20), ('src3', 20)),
      |b AS (SELECT doc_id, source,
      |        CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |          % 100 AS bucket
      |      FROM documents)
      |SELECT b.doc_id, b.source, b.bucket,
      |  CAST(COALESCE(w.rate, 60) AS BIGINT) AS rate
      |FROM b LEFT JOIN w ON b.source = w.source
      |WHERE b.bucket < COALESCE(w.rate, 60)
      |ORDER BY b.doc_id""".stripMargin

  /** The FULL modern curation recipe as one declarative plan — q56's
    * chain extended with this round's operators, in the order a
    * production pretraining pipeline runs them:
    *
    *   1. training pool (eval docs held out: doc_id % 50 ≠ 0)
    *   2. exact dedup (survivor = min doc_id; source via min_by)
    *   3. quality gate (≥ 15 tokens) + repetition gate (q58's
    *      duplicate-bigram fraction ≤ 0.2, native distinct counts)
    *   4. decontamination (q59: drop docs sharing any 3-gram shingle
    *      with the eval set — eval shingles broadcast)
    *   5. stable train split (q39's md5 buckets, < 80)
    *   6. mixture sampling (q61's per-source rates)
    *   7. shard-local context-window packing (q47)
    *
    * The gated survivors are materialized ONCE (localCheckpoint — the
    * q45 discipline; Catalyst prunes columns per branch, so the
    * decontamination branch would otherwise re-run a narrower copy of
    * the dedup rather than reuse its exchange). Both the contamination
    * check and the main chain read the materialized frame: the corpus
    * is scanned and dedup-shuffled exactly once, the remaining
    * exchanges are the two small-side distincts (eval shingles,
    * contaminated ids — both broadcast back), and the packing window.
    * The oracle states the identical chain as CTEs.
    */
  /** The curation funnel's intermediate frames, shared by the pipeline
    * output (q62) and the attrition report (q80): (corpus pool after
    * hold-out, exact-dedup survivors, quality+repetition-gated, after
    * decontamination, after train-split, after mixture sampling).
    */
  private def curationStages(s: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents")
    // eval shingles: tiny (the benchmark suite), broadcast everywhere
    val evSh = docs.filter($"doc_id" % 50 === 0)
      .select(explode(call_function("word_shingle_hashes", $"text")).as("g")).distinct()
    val pool = docs.filter($"doc_id" % 50 =!= 0)
    val uniq = pool
      .groupBy($"text")
      .agg(min($"doc_id").as("doc_id"), min_by($"source", $"doc_id").as("source"))
      .select($"doc_id", $"source", $"text",
        size(split($"text", " ")).cast("long").as("n_tokens"))
    val gated = uniq
      .filter($"n_tokens" >= 15)
      .filter((lit(1.0) - size(call_function("word_shingle_hashes", $"text", lit(2)))
        .cast("double") / greatest($"n_tokens" - 1, lit(1))) <= 0.2)
      .localCheckpoint(true)
    val contaminated = gated
      .select($"doc_id", explode(call_function("word_shingle_hashes", $"text")).as("g"))
      .join(broadcast(evSh), "g")
      .select($"doc_id").distinct()
    val weights = Seq(("src0", 100L), ("src1", 100L), ("src2", 20L), ("src3", 20L))
      .toDF("source", "rate")
    def bucket(salt: String): Column =
      conv(substring(md5(concat(lit(salt), $"doc_id".cast("string"))), 1, 8),
        16, 10).cast("long") % 100
    val clean = gated.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    // trainSplit, NOT split: a local `split` val would shadow
    // functions.split used above and knot the block into a type cycle
    val trainSplit = clean.filter(bucket("split:") < 80)
    val mixed = trainSplit
      .join(broadcast(weights), Seq("source"), "left")
      .filter(bucket("mix:") < coalesce($"rate", lit(60L)))
    (pool, uniq, gated, clean, trainSplit, mixed)
  }

  def q62CurateFull(s: SparkSession, dir: String, budget: Int = 512, shards: Int = 8): DataFrame = {
    import s.implicits._
    val (_, _, _, _, _, mixed) = curationStages(s, dir)
    val shard = (conv(substring(md5(concat(lit("pack:"), $"doc_id".cast("string"))), 1, 8),
      16, 10).cast("long") % shards).as("shard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"doc_id").rowsBetween(Long.MinValue, 0)
    val binId = floor(($"cum" - $"n_tokens").cast("double") / budget).cast("long")
    mixed
      .select($"doc_id", $"source", shard, $"n_tokens")
      .withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", $"source", $"shard", $"n_tokens",
        binId.as("bin_id"),
        (($"cum" - $"n_tokens") - binId * budget).as("offset_in_bin"))
      .orderBy($"doc_id")
  }

  /** The funnel REPORT over the same stages — what a data engineer
    * actually inspects before a run: per-stage document and token
    * attrition, each stage counted exactly once off the shared frames.
    * The oracle recomputes the identical funnel declaratively, so the
    * gate proves the pipeline's bookkeeping (not just its final
    * output) is right.
    */
  def q80CurationReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (pool, uniq, gated, clean, trainSplit, mixed) = curationStages(s, dir)
    def stage(ord: Int, name: String, df: DataFrame, tokens: Column): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(tokens), lit(0L)).cast("long").as("n_tokens"))
        .select(lit(ord.toLong).as("stage_ord"), lit(name).as("stage"),
          $"n_docs", $"n_tokens")
    val nTok = col("n_tokens")
    stage(1, "pool", pool, size(split(col("text"), " ")).cast("long"))
      .unionByName(stage(2, "dedup", uniq, nTok))
      .unionByName(stage(3, "quality_gate", gated, nTok))
      .unionByName(stage(4, "decontaminated", clean, nTok))
      .unionByName(stage(5, "train_split", trainSplit, nTok))
      .unionByName(stage(6, "mixture", mixed, nTok))
      .orderBy($"stage_ord")
  }

  val q80CurationReportSql: String =
    """WITH w0 AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         range(1, greatest(len(ws) - 1, 2)),
      |         i -> array_to_string(ws[i:i+2], ' '))) AS s FROM w0),
      |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
      |pool AS (SELECT doc_id, source, text,
      |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |         FROM documents WHERE doc_id % 50 <> 0),
      |uniq AS (
      |  SELECT MIN(doc_id) AS doc_id, arg_min(source, doc_id) AS source, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE doc_id % 50 <> 0 GROUP BY text),
      |gated AS (
      |  SELECT u.doc_id, u.source, u.n_tokens FROM uniq u
      |  WHERE u.n_tokens >= 15
      |    AND 1.0 - CAST(len(list_distinct(list_transform(
      |          range(1, greatest(len(string_split(u.text, ' ')), 2)),
      |          i -> array_to_string(string_split(u.text, ' ')[i:i+1], ' ')))) AS DOUBLE)
      |        / greatest(u.n_tokens - 1, 1) <= 0.2),
      |contaminated AS (
      |  SELECT DISTINCT sh.doc_id
      |  FROM sh JOIN gated ON sh.doc_id = gated.doc_id, unnest(sh.s) AS t(g)
      |  WHERE t.g IN (SELECT g FROM ev)),
      |clean AS (SELECT * FROM gated
      |          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |split AS (SELECT * FROM clean
      |  WHERE CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |          % 100 < 80),
      |mixw(source, rate) AS (VALUES ('src0', 100), ('src1', 100), ('src2', 20), ('src3', 20)),
      |mixed AS (
      |  SELECT s.* FROM split s LEFT JOIN mixw ON s.source = mixw.source
      |  WHERE CAST(('0x' || substring(md5('mix:' || CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |          % 100 < COALESCE(mixw.rate, 60))
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage_ord, 'pool' AS stage,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens FROM pool
      |  UNION ALL SELECT 2, 'dedup', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM uniq
      |  UNION ALL SELECT 3, 'quality_gate', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM gated
      |  UNION ALL SELECT 4, 'decontaminated', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM clean
      |  UNION ALL SELECT 5, 'train_split', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM split
      |  UNION ALL SELECT 6, 'mixture', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM mixed)
      |ORDER BY stage_ord""".stripMargin

  def q62CurateFullSql(budget: Int = 512, shards: Int = 8): String =
    s"""WITH w0 AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         range(1, greatest(len(ws) - 1, 2)),
      |         i -> array_to_string(ws[i:i+2], ' '))) AS s FROM w0),
      |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
      |uniq AS (
      |  SELECT MIN(doc_id) AS doc_id, arg_min(source, doc_id) AS source, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE doc_id % 50 <> 0 GROUP BY text),
      |gated AS (
      |  SELECT u.doc_id, u.source, u.n_tokens FROM uniq u
      |  WHERE u.n_tokens >= 15
      |    AND 1.0 - CAST(len(list_distinct(list_transform(
      |          range(1, greatest(len(string_split(u.text, ' ')), 2)),
      |          i -> array_to_string(string_split(u.text, ' ')[i:i+1], ' ')))) AS DOUBLE)
      |        / greatest(u.n_tokens - 1, 1) <= 0.2),
      |contaminated AS (
      |  SELECT DISTINCT sh.doc_id
      |  FROM sh JOIN gated ON sh.doc_id = gated.doc_id, unnest(sh.s) AS t(g)
      |  WHERE t.g IN (SELECT g FROM ev)),
      |mixw(source, rate) AS (VALUES ('src0', 100), ('src1', 100), ('src2', 20), ('src3', 20)),
      |kept AS (
      |  SELECT g.doc_id, g.source, g.n_tokens FROM gated g
      |  LEFT JOIN mixw ON g.source = mixw.source
      |  WHERE g.doc_id NOT IN (SELECT doc_id FROM contaminated)
      |    AND CAST(('0x' || substring(md5('split:' || CAST(g.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |          % 100 < 80
      |    AND CAST(('0x' || substring(md5('mix:' || CAST(g.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |          % 100 < COALESCE(mixw.rate, 60)),
      |sharded AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % $shards AS shard
      |  FROM kept),
      |packed AS (
      |  SELECT doc_id, source, shard, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM sharded)
      |SELECT doc_id, source, shard, n_tokens,
      |  CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / $budget) AS BIGINT) AS bin_id,
      |  CAST((cum - n_tokens)
      |       - CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / $budget) AS BIGINT) * $budget
      |       AS BIGINT) AS offset_in_bin
      |FROM packed ORDER BY doc_id""".stripMargin

  def q47SeqPackSql(budget: Int = 512, shards: Int = 8): String =
    s"""SELECT doc_id, shard, n_tokens,
      |  CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / $budget) AS BIGINT) AS bin_id,
      |  CAST((cum - n_tokens)
      |       - CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / $budget) AS BIGINT) * $budget
      |       AS BIGINT) AS offset_in_bin
      |FROM (SELECT doc_id, shard, n_tokens,
      |        SUM(n_tokens)
      |          OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM (SELECT doc_id,
      |              CAST(('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |                % $shards AS shard,
      |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |            FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Sliding-window document CHUNKING with overlap — the long-document
    * split that precedes packing in an LLM data pipeline (q47 bins whole
    * docs into context windows; this splits docs LONGER than the window
    * into overlapping windows so no span is lost at a boundary). Chunk i
    * covers tokens [i·stride, i·stride + size); the count is
    * ⌈max(n − size, 0) / stride⌉ + 1, so a short doc yields exactly one
    * chunk and every tail token lands in the final (possibly short)
    * chunk. Pure map-side generate+project — the 100 TB plan is one scan
    * with a controlled ≤ n/stride row expansion, no shuffle but the
    * final sort.
    */
  def q73Chunk(s: SparkSession, dir: String, window: Int = 64, stride: Int = 48): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
      .select($"doc_id", $"n_tokens",
        explode(sequence(lit(0L),
          ceil(greatest($"n_tokens" - window, lit(0L)).cast("double") / stride)
            .cast("long"))).as("chunk_idx"))
      .select($"doc_id", $"n_tokens", $"chunk_idx",
        ($"chunk_idx" * stride).as("start_tok"),
        least($"chunk_idx" * stride + window, $"n_tokens").as("end_tok"))
      .filter($"start_tok" < $"n_tokens" || $"chunk_idx" === 0)
      .orderBy($"doc_id", $"chunk_idx")
  }

  def q73ChunkSql(size: Int = 64, stride: Int = 48): String =
    s"""WITH d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents)
      |SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS chunk_idx,
      |  CAST(i * $stride AS BIGINT) AS start_tok,
      |  CAST(least(i * $stride + $size, n_tokens) AS BIGINT) AS end_tok
      |FROM d, UNNEST(range(0,
      |  CAST(ceil(CAST(greatest(n_tokens - $size, 0) AS DOUBLE) / $stride) AS BIGINT) + 1)) AS t(i)
      |WHERE i * $stride < n_tokens OR i = 0
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** BPE-style pre-tokenization counts — the token-budget estimate a
    * training pipeline runs BEFORE committing to a real tokenizer pass:
    * a GPT-2-ish pre-tokenizer splits runs of letters, runs of digits,
    * and runs of other non-space symbols (the regex is deliberately in
    * the dialect subset Java and RE2 interpret identically), and the
    * piece count upper-bounds the BPE token count (BPE only merges
    * within pieces). Whitespace tokens (q30) undercount code/punctuated
    * text badly; this is the standard cheap correction. Map-side scan,
    * exact integer outputs.
    */
  def q79BpeCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val piece = "[a-z]+|[0-9]+|[^a-z0-9 ]+"
    Tables.load(s, dir, "documents")
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("ws_tokens"),
        regexp_count($"text", lit(piece)).cast("long").as("bpe_pieces"),
        regexp_count($"text", lit("[0-9]+")).cast("long").as("digit_runs"),
        regexp_count($"text", lit("[^a-z0-9 ]+")).cast("long").as("symbol_runs"))
      .orderBy($"doc_id")
  }

  val q79BpeCountsSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS BIGINT) AS bpe_pieces,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS digit_runs,
      |  CAST(len(regexp_extract_all(text, '[^a-z0-9 ]+')) AS BIGINT) AS symbol_runs
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Global heavy hitters — the hottest-vocabulary question every corpus
    * audit asks, via the Misra–Gries mergeable summary
    * (`functions/FrequentItems`): per-partition constant-size summaries,
    * one merge, no token-keyed shuffle. Registered at full capacity
    * (⇒ provably exact counting — the q71 trick on a second sketch
    * family), so the plain GROUP-BY oracle grades reduce/merge/finish
    * exactly; the bounded-capacity path carries the classic
    * n/(capacity+1) undercount guarantee, spec-graded.
    */
  def q77FrequentTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fi = udaf(graft.functions.FrequentItems.aggregator(1 << 20))
    Tables.load(s, dir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .agg(fi($"w").as("top"))
      .select(explode($"top").as("t"))
      .select($"t._1".as("w"), $"t._2".as("cnt"))
      .orderBy($"cnt".desc, $"w")
      .limit(20)
  }

  val q77FrequentTokensSql: String =
    """SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY w ORDER BY cnt DESC, w LIMIT 20""".stripMargin

  /** Global heavy hitters via SPACE-SAVING (Metwally, Agrawal &
    * El Abbadi 2005) — the third member of the mergeable-sketch trio
    * (q242 HLL, q257 CMS) as a REGISTERED batch query: the reduce is
    * `SpaceSaving.ingest`, the merge `SpaceSaving.merge` — the exact
    * core the streaming `EventStreams.heavyHitters` processor and its
    * re-shard combine run — so this oracle row anchors the code the
    * streaming batch≡stream laws exercise, not a parallel
    * implementation. Registered at full capacity (⇒ eviction never
    * fires, ingestion-order dependence vanishes, every overcount is 0
    * and every estimate is the exact count — the q71/q77/q102
    * discipline), so the plain GROUP-BY oracle grades
    * reduce/merge/finish exactly; the bounded path carries the classic
    * ε = n/capacity guarantees, spec-graded in SpaceSavingItemsSpec.
    * 100 TB shape: per-partition constant-size tables into one merge —
    * no token-keyed shuffle.
    */
  def q269SpaceSaving(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ss = udaf(graft.functions.SpaceSavingItems.aggregator(1 << 20))
    Tables.load(s, dir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .agg(ss($"w").as("top"))
      .select(explode($"top").as("t"))
      .select($"t._1".as("w"), $"t._2".as("count_est"), $"t._3".as("overcount"))
      .orderBy($"count_est".desc, $"w")
      .limit(20)
  }

  val q269SpaceSavingSql: String =
    """SELECT w, CAST(COUNT(*) AS BIGINT) AS count_est,
      |  CAST(0 AS BIGINT) AS overcount
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY w ORDER BY count_est DESC, w LIMIT 20""".stripMargin

  /** Corpus-statistics quality profile (the CCNet/TF-DF signal family):
    * score each document by how COMMON its vocabulary is across the
    * corpus — documents of rare/garbage tokens (OCR noise, codes,
    * boilerplate hashes) profile low, natural prose profiles high. Two
    * passes over one exploded distinct-token frame: (1) document
    * frequency per token — the corpus-derived model, vocabulary-sized,
    * broadcast back; (2) per-document aggregation of exact integer df
    * sums, with the only double (`avg_df`) computed in ONE expression
    * from exact ints (the q53 discipline — no cross-engine accumulation
    * drift). At 100 TB: the model side is a token-keyed agg (classic
    * map-side-combine shuffle), the scoring side re-joins it broadcast —
    * the corpus is never self-joined.
    */
  def q66DfProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val tok = docs.select($"doc_id",
      explode(array_distinct(split($"text", " "))).as("w"))
    val dfModel = tok.groupBy($"w").agg(count(lit(1)).as("df"))
    tok.join(broadcast(dfModel), "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_distinct_tokens"), sum($"df").as("sum_df"))
      .select($"doc_id",
        $"n_distinct_tokens",
        $"sum_df",
        ($"sum_df".cast("double") / $"n_distinct_tokens").as("avg_df"),
        when($"sum_df".cast("double") / $"n_distinct_tokens" >= 10.0, "common")
          .when($"sum_df".cast("double") / $"n_distinct_tokens" >= 3.0, "mixed")
          .otherwise("rare").as("rarity_band"))
      .orderBy($"doc_id")
  }

  val q66DfProfileSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents),
      |dfm AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY w)
      |SELECT tok.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
      |  CAST(SUM(dfm.df) AS BIGINT) AS sum_df,
      |  CAST(SUM(dfm.df) AS DOUBLE) / COUNT(*) AS avg_df,
      |  CASE WHEN CAST(SUM(dfm.df) AS DOUBLE) / COUNT(*) >= 10.0 THEN 'common'
      |       WHEN CAST(SUM(dfm.df) AS DOUBLE) / COUNT(*) >= 3.0 THEN 'mixed'
      |       ELSE 'rare' END AS rarity_band
      |FROM tok JOIN dfm USING (w)
      |GROUP BY tok.doc_id
      |ORDER BY tok.doc_id""".stripMargin

  /** q100 — per-source quota cap: the crawl-balancing step that keeps a
    * handful of giant domains from dominating the training mixture —
    * each source retains its `cap` highest-priority documents (longest
    * text first, doc_id tiebreak), everything else is dropped. One
    * window over a (source)-partitioned shuffle: at 100 TB sources
    * spread across executors and per-source state is one counter; a
    * skewed mega-source is the q37/q67 salting situation and would cap
    * early anyway (rank > cap rows short-circuit at the window).
    */
  def q100SourceQuota(s: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")
    Tables.load(s, dir, "documents")
      .select($"doc_id", $"source", $"n_chars",
        row_number().over(w).cast("long").as("rk"))
      .filter($"rk" <= cap)
      .orderBy($"source", $"rk")
  }

  def q100SourceQuotaSql(cap: Int = 10): String =
    s"""SELECT doc_id, source, n_chars, rk FROM (
      |  SELECT doc_id, source, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
      |  FROM documents)
      |WHERE rk <= $cap
      |ORDER BY source, rk""".stripMargin

  /** q182: per-document novelty score — the fraction of a document's
    * distinct skip-bigrams (word pairs (w_i, w_{i+2}) — order-2
    * features cheaper than trigrams, harder to fake than unigrams)
    * not seen in any EARLIER document (by
    * doc_id as corpus order): the quality signal that separates fresh
    * content from recombined boilerplate, and the per-document view of
    * what corpus-level dedup removes. One shingle explode + one
    * min-first-seen aggregation keyed on the shingle (the corpus-sized
    * shuffle), then a per-doc count ratio; the division is the only
    * double.
    */
  def q182Novelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.load(s, dir, "documents")
      .select($"doc_id", explode(array_distinct(zip_with(
        slice(split($"text", " "), 1, 10000),
        slice(split($"text", " "), 3, 10000),
        (a, b) => concat(a, lit(" "), b)))).as("g"))
      // zip_with pads the shorter slice with null on Spark; drop those
      .filter($"g".isNotNull)
    val firstSeen = sh.groupBy($"g").agg(min($"doc_id").as("fd"))
    sh.join(firstSeen, "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(($"fd" === $"doc_id").cast("long")).as("n_novel"))
      .withColumn("novelty",
        $"n_novel".cast("double") / $"n_shingles")
      .orderBy($"doc_id")
  }

  val q182NoveltySql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
      |      i -> ws[i] || ' ' || ws[i + 2])) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |fs AS (SELECT g, MIN(doc_id) AS fd FROM sh GROUP BY 1)
      |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN fd = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST(SUM(CASE WHEN fd = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS novelty
      |FROM sh JOIN fs USING (g)
      |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin

  /** q170: normalization-aware boilerplate detection — exact dedup
    * AFTER text canonicalization (lowercase → strip non-alphanumerics
    * to spaces → collapse runs → trim), keyed on the first 8 normalized
    * words: documents that OPEN identically modulo case/punctuation are
    * boilerplate families raw exact-dedup (q33) misses entirely (this
    * corpus has zero raw-identical texts but 23 normalized-prefix
    * families at sf0.01). Reports each family's canonical keeper
    * (min doc_id) and size.
    *
    * Scale shape: the normalization chain is per-row map-side string
    * work; the ONE corpus-sized shuffle keys on the md5 of the prefix
    * (fixed 32-byte key, never the text); family stats live on the
    * bounded family frame. Regex semantics pinned by the oracle: the
    * `[^a-z0-9 ]` and `" +"` patterns mean the same thing in Java regex
    * and RE2.
    */
  def q170NormDedup(s: SparkSession, dir: String, words: Int = 8): DataFrame = {
    import s.implicits._
    val norm = trim(regexp_replace(
      regexp_replace(lower($"text"), "[^a-z0-9 ]", " "), " +", " "))
    Tables.load(s, dir, "documents")
      .select($"doc_id",
        array_join(slice(split(norm, " "), 1, words), " ").as("pfx"))
      .groupBy(md5($"pfx").as("family"))
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("canonical_id"))
      .filter($"n_docs" >= 2)
      .select($"family", $"canonical_id", $"n_docs")
      .orderBy($"family")
  }

  val q170NormDedupSql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    array_to_string(string_split(trim(regexp_replace(regexp_replace(
      |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')[:8],
      |      ' ') AS pfx
      |  FROM documents)
      |SELECT md5(pfx) AS family, MIN(doc_id) AS canonical_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM n GROUP BY 1 HAVING COUNT(*) >= 2
      |ORDER BY family""".stripMargin

  /** q240: temperature-scaled mixture weights — the multilingual
    * up/down-sampling recipe of XLM-R / mT5 (Conneau et al. 2020 §3.1,
    * public): sampling weight w_ℓ ∝ p_ℓ^α over the per-language token
    * shares, here with α = 0.5 — deliberately, because p^0.5 = sqrt(p)
    * and IEEE-754 REQUIRES sqrt to be correctly rounded, so the whole
    * weight computation is bit-exact cross-engine with no libm-ULP
    * caveat (a general pow(p, α) would carry one). The report gives
    * each language's natural share p, its temperature weight w, and
    * the boost factor w/p — the up-sampling rate low-resource
    * languages get and the down-sampling rate the head pays. q61
    * APPLIES fixed per-source rates; this query is where such rates
    * come FROM.
    *
    * Scale shape: one corpus scan → one (lang) aggregate (map-side
    * partials, output bounded by |langs|); the total and the
    * normalizer Z = Σ sqrt(p) ride broadcast one-row frames, Z folding
    * the bounded language frame in ascending order (q225 discipline).
    */
  def q240TempMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perLang = Tables.load(s, dir, "documents")
      .select($"lang", size(split($"text", " ")).cast("long").as("toks"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"))
    val tot = perLang.agg(sum($"n_tokens").as("tot"))
    val shares = perLang.crossJoin(broadcast(tot))
      .withColumn("p", $"n_tokens".cast("double") / $"tot".cast("double"))
      .withColumn("pw", sqrt($"p"))
      .localCheckpoint(true) // read by the normalizer fold and the output
    val z = shares.agg(LangModel.orderedSum($"lang", $"pw").as("z"))
    shares.crossJoin(broadcast(z))
      .select($"lang", $"n_docs", $"n_tokens",
        $"p".cast("float").as("p"),
        ($"pw" / $"z").cast("float").as("w"),
        (($"pw" / $"z") / $"p").cast("float").as("boost"))
      .orderBy($"lang")
  }

  val q240TempMixtureSql: String =
    """WITH g AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang),
      |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM g),
      |sh AS (
      |  SELECT g.lang, g.n_docs, g.n_tokens,
      |    CAST(g.n_tokens AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p,
      |    sqrt(CAST(g.n_tokens AS DOUBLE) / CAST(t.tot AS DOUBLE)) AS pw
      |  FROM g CROSS JOIN t),
      |z AS (SELECT list_sum(list(pw ORDER BY lang)) AS z FROM sh)
      |SELECT sh.lang, sh.n_docs, sh.n_tokens,
      |  CAST(sh.p AS FLOAT) AS p,
      |  CAST(sh.pw / z.z AS FLOAT) AS w,
      |  CAST((sh.pw / z.z) / sh.p AS FLOAT) AS boost
      |FROM sh CROSS JOIN z
      |ORDER BY lang""".stripMargin

  /** q265 — Good–Turing unseen-mass estimate per source (Good 1953;
    * the Gale & Sampson 1995 presentation): from each source's
    * frequency-of-frequencies, the probability mass its NEXT token is
    * a never-seen word is P₀ = N₁/N (hapax share), and the adjusted
    * count for once-seen words is r* = 2·N₂/N₁ — the coverage
    * statistics an LM/tokenizer design consults before committing a
    * vocabulary (a source with fat P₀ keeps minting new tokens at
    * 100 TB; one with thin P₀ has converged). Everything is exact
    * BIGINT counts until the two presented divisions (FLOAT, fixed
    * shape); sources without hapaxes CASE-guard r* to NULL
    * identically on both engines.
    *
    * At 100 TB: one (source, word) count (map-side combined), one
    * (source, freq) frequency-of-frequencies aggregate over the
    * vocabulary-sized frame, one 20-row report — the corpus is
    * scanned once.
    */
  def q265GoodTuring(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wc = Tables.load(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .groupBy($"source", $"word").agg(count(lit(1)).as("freq"))
    wc.groupBy($"source")
      .agg(sum($"freq").cast("long").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when($"freq" === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when($"freq" === 2L, 1L).otherwise(0L)).as("n2"))
      .select($"source", $"n_tokens", $"vocab", $"n1", $"n2",
        ($"n1".cast("double") / $"n_tokens").cast("float").as("p_unseen"),
        when($"n1" > 0L, (lit(2.0) * $"n2" / $"n1").cast("float"))
          .as("r_star_1"))
      .orderBy($"source")
  }

  val q265GoodTuringSql: String =
    """WITH wc AS (
      |  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$')
      |  GROUP BY 1, 2)
      |SELECT source, CAST(SUM(freq) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS vocab,
      |  CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |  CAST(CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(freq) AS BIGINT) AS FLOAT) AS p_unseen,
      |  CASE WHEN CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) > 0
      |       THEN CAST(CAST(2.0 AS DOUBLE)
      |         * CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         / CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS FLOAT)
      |  END AS r_star_1
      |FROM wc GROUP BY source ORDER BY source""".stripMargin

  /** How many top-frequency ranks the q263 Zipf fit regresses over. */
  private val ZipfR = 100

  /** q263 — Zipf rank–frequency fit per source (Zipf 1949; the corpus
    * statistic every tokenizer/mixture design consults — how heavy is
    * each source's head, how long its tail): per source, the top-`R`
    * words by exact count (count DESC, word ASC — WindowGroupLimit
    * prunes map-side), then the closed-form OLS of ln(freq) on
    * ln(rank). A clean Zipfian source fits slope ≈ −1; flatter slopes
    * mean template/boilerplate-heavy text. Sums fold in rank order
    * (LangModel.orderedSum ≡ DuckDB `list_sum(list(... ORDER BY
    * rank))`) so every double accumulates identically cross-engine;
    * slope/intercept present FLOAT per the libm `ln` rule.
    *
    * At 100 TB: one (source, word) count aggregate (map-side
    * combined), a per-source window pruned to R rows before any sort
    * spills, and a 20×R-row regression — nothing else touches the
    * corpus.
    */
  def q263ZipfFit(s: SparkSession, dir: String, topR: Int = ZipfR): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"freq".desc, $"word")
    val ranked = Tables.load(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .groupBy($"source", $"word").agg(count(lit(1)).as("freq"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= topR)
      .select($"source", $"rank",
        log($"rank".cast("double")).as("x"),
        log($"freq".cast("double")).as("y"))
    ranked.groupBy($"source")
      .agg(count(lit(1)).as("n_ranks"),
        LangModel.orderedSum($"rank", $"x").as("sx"),
        LangModel.orderedSum($"rank", $"y").as("sy"),
        LangModel.orderedSum($"rank", $"x" * $"y").as("sxy"),
        LangModel.orderedSum($"rank", $"x" * $"x").as("sxx"))
      .select($"source", $"n_ranks",
        (($"n_ranks" * $"sxy" - $"sx" * $"sy")
          / ($"n_ranks" * $"sxx" - $"sx" * $"sx"))
          .cast("float").as("zipf_slope"),
        (($"sy" - ($"n_ranks" * $"sxy" - $"sx" * $"sy")
          / ($"n_ranks" * $"sxx" - $"sx" * $"sx") * $"sx") / $"n_ranks")
          .cast("float").as("zipf_intercept"))
      .orderBy($"source")
  }

  def q263ZipfFitSql(topR: Int = ZipfR): String =
    s"""WITH wc AS (
      |  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$')
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT source, rank, ln(CAST(rank AS DOUBLE)) AS x,
      |    ln(CAST(freq AS DOUBLE)) AS y
      |  FROM (SELECT source, freq,
      |          CAST(row_number() OVER (PARTITION BY source
      |            ORDER BY freq DESC, word) AS BIGINT) AS rank
      |        FROM wc)
      |  WHERE rank <= $topR),
      |ss AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ranks,
      |    list_sum(list(x ORDER BY rank)) AS sx,
      |    list_sum(list(y ORDER BY rank)) AS sy,
      |    list_sum(list(x * y ORDER BY rank)) AS sxy,
      |    list_sum(list(x * x ORDER BY rank)) AS sxx
      |  FROM rk GROUP BY source)
      |SELECT source, n_ranks,
      |  CAST((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx) AS FLOAT)
      |    AS zipf_slope,
      |  CAST((sy - (n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx) * sx)
      |    / n_ranks AS FLOAT) AS zipf_intercept
      |FROM ss ORDER BY source""".stripMargin

  /** q267 — word burstiness (Church & Gale 1995's cf/df "clumpiness"):
    * for the collection's top-50 words by collection frequency, the
    * mean occurrences per CONTAINING document — function words score
    * ~cf/df near their per-doc rate everywhere, while topical/bursty
    * words concentrate (high cf/df), the signal behind burstiness-
    * aware term weighting and the repetition-filter design. All
    * counts exact BIGINTs; the ratio is one double division.
    *
    * At 100 TB: one (doc, word) count (map-side combined), one
    * word-keyed aggregate producing cf AND df in the same pass, a
    * top-50 TakeOrdered — the corpus is scanned once.
    */
  def q267Burstiness(s: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .filter($"word".rlike("^[a-z]+$"))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("c"))
      .groupBy($"word")
      .agg(sum($"c").cast("long").as("cf"), count(lit(1)).as("df"))
      .select($"word", $"cf", $"df",
        ($"cf".cast("double") / $"df").as("burstiness"))
      .orderBy($"cf".desc, $"word").limit(topK)
  }

  def q267BurstinessSql(topK: Int = 50): String =
    s"""WITH dw AS (
      |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$$')
      |  GROUP BY 1, 2)
      |SELECT word, CAST(SUM(c) AS BIGINT) AS cf,
      |  CAST(COUNT(*) AS BIGINT) AS df,
      |  CAST(SUM(c) AS DOUBLE) / COUNT(*) AS burstiness
      |FROM dw GROUP BY word
      |ORDER BY cf DESC, word LIMIT $topK""".stripMargin

  /** q278: BLEU-2 contamination scoring — q59 flags WHICH training docs
    * touch the eval set (any shared word-3-gram); this lane scores HOW
    * HARD each flagged (train, eval) pair overlaps, with the metric the
    * eval community actually reports: BLEU (Papineni et al. 2002) at
    * order 2 — clipped modified n-gram precisions p1/p2 (each train
    * n-gram credits at most its count in the eval reference), geometric
    * mean, brevity penalty min(1, e^{1−r/c}). A doc that merely reuses
    * common trigrams scores near 0; a paraphrase or verbatim inclusion
    * scores near 1 — the triage signal a decontamination reviewer wants
    * next to q59's raw shingle counts.
    *
    * Candidate pairs are q59's generator lifted to pairs (corpus scan
    * joined against the eval shingle set — never a corpus self-join;
    * the q40/q41/q42 oracle gate proves shingle-hash ⇔ shingle-string
    * equivalence on this corpus). Per-pair clipped counts then join the
    * train-side n-gram count tables (one shuffle each, keyed on doc)
    * against the eval-side counts, strategy AQE-sized (see
    * contaminationPairs' scale note). At 100 TB: eval sets are tiny
    * by definition, the pair table is bounded by actual contamination,
    * and every corpus-sized stage is a single keyed pass.
    *
    * Cross-engine determinism: p1/p2 are single integer→double
    * divisions (bit-exact both engines); the brevity penalty's exp and
    * the geometric mean's sqrt may differ in the last double ulp, so
    * all presented scores are FLOAT (the q132 rounding-grid argument).
    */
  /** q278/q279 candidate generator — q59's shape lifted to PAIRS: every
    * (train, eval) doc pair sharing at least one word-3-gram shingle,
    * eval set = doc_id % 50 == 0. The corpus side is one exploded
    * scan; the pair distinct is one shuffle bounded by actual
    * contamination. Eval-side strategy is left to AQE deliberately:
    * a real eval set is tiny (runtime-sized broadcast), but FORCING
    * the hint would OOM/degrade when the eval frame grows with the
    * corpus (the registered %-50 contract ties eval size to corpus
    * size, so the derived decade grows it 10×). Measured at the sf1d
    * derived decade, fixing the eval set at its sf0.1 size (the
    * deployment shape: the corpus grows, the benchmark suite does not)
    * ran as fast as the growing %-50 set — the lanes are
    * corpus-scan-bound, the honest linear term.
    */
  private[queries] def contaminationPairs(s: SparkSession, loaded: DataFrame): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val sh = loaded.select($"doc_id",
      call_function("word_shingle_hashes", $"text").as("sh"))
    val evSh = sh.filter($"doc_id" % 50 === 0)
      .select($"doc_id".as("eval_doc"), explode($"sh").as("g")).distinct()
    sh.filter($"doc_id" % 50 =!= 0)
      .select($"doc_id".as("train_doc"), explode($"sh").as("g"))
      .join(evSh, "g")
      .select($"train_doc", $"eval_doc").distinct()
  }

  /** r16 optimization: q278 (BLEU-2) and q279 (chrF) score the SAME
    * candidate pair table — one generator, now also one
    * materialization per session (a [[FamilyCaches]] artifact per
    * (session, dir)). The checkpoint is also what lets each lane
    * semi-join-prune its n-gram count tables to docs that actually
    * appear in a pair (guide §3.2: reduce the big side before the
    * shuffle) without re-running the generator per branch — the pair
    * table is bounded by actual contamination, so the pruned gram
    * aggregates drop every never-joined doc's grams before the
    * (doc, gram) shuffle. Results are unchanged by construction:
    * grams of docs outside the pair table never survive the pair
    * joins.
    */
  private[queries] def contaminationPairsCached(s: SparkSession, dir: String): DataFrame =
    FamilyCaches.memo(s, s"contaminationPairs:$dir")(
      contaminationPairs(s, Tables.load(s, dir, "documents")).localCheckpoint(true))

  /** The contamination-pruned corpus, one projected column per lane
    * (q278: word arrays; q279: space-stripped chars) — semi-join prune
    * per guide §3.2: only docs that appear in a pair ever survive the
    * pair joins, so every other doc drops BEFORE the n-gram explode +
    * (doc, gram) shuffle. Join strategy stays AQE's call (the r13
    * forced-broadcast lesson: the %-50 eval contract grows
    * contamination with the corpus). Exposed un-checkpointed for the
    * pre-checkpoint plan audit (the contaminationPairs precedent).
    */
  private[queries] def contamPrunedDocs(s: SparkSession, dir: String,
      projected: Column => Column, as: String): DataFrame = {
    import s.implicits._
    val pairs = contaminationPairsCached(s, dir)
    val pairedDocs = pairs.select($"train_doc".as("doc_id"))
      .union(pairs.select($"eval_doc".as("doc_id"))).distinct()
    Tables.load(s, dir, "documents")
      .select($"doc_id", projected($"text").as(as))
      .join(pairedDocs, Seq("doc_id"), "left_semi")
  }

  def q278BleuContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = contaminationPairsCached(s, dir)
    // r17: SIX plan branches reference the pruned corpus (uni/big gram
    // counts on both folds + two lens sides), and without
    // materialization each branch re-ran the corpus scan, the
    // pairedDocs aggregate, and the doc_id semi-join exchange (guide
    // §2.4; plan-verified, see plans/r17/q278_*). The frame is
    // corpus-row-bounded and contamination-pruned — one eager
    // checkpoint per evaluation replaces five full subtree re-runs;
    // rows identical by construction.
    val docs = contamPrunedDocs(s, dir, t => split(t, " "), "ws")
      .localCheckpoint(true)
    // n-gram multiset counts; bigram text via the same slice+join the
    // oracle uses (array_join(slice(ws,i,2))), so strings agree exactly
    val uni = docs.select($"doc_id", explode($"ws").as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
    val big = docs.select($"doc_id", explode(transform(
        sequence(lit(1), greatest(size($"ws") - 1, lit(1))),
        i => array_join(slice($"ws", i, lit(2)), " "))).as("b"))
      .groupBy($"doc_id", $"b").agg(count(lit(1)).as("c"))
    val lens = docs.select($"doc_id", size($"ws").cast("long").as("len"))
    val evIds = $"doc_id" % 50 === 0
    val trIds = $"doc_id" % 50 =!= 0
    val clip1 = pairs
      .join(uni.filter(trIds).withColumnRenamed("doc_id", "train_doc"), Seq("train_doc"))
      .join(uni.filter(evIds).select($"doc_id".as("eval_doc"),
        $"w", $"c".as("ec")), Seq("eval_doc", "w"))
      .groupBy($"train_doc", $"eval_doc")
      .agg(sum(least($"c", $"ec")).as("m1"))
    val clip2 = pairs
      .join(big.filter(trIds).withColumnRenamed("doc_id", "train_doc"), Seq("train_doc"))
      .join(big.filter(evIds).select($"doc_id".as("eval_doc"),
        $"b", $"c".as("ec")), Seq("eval_doc", "b"))
      .groupBy($"train_doc", $"eval_doc")
      .agg(sum(least($"c", $"ec")).as("m2"))
    // a shared 3-gram implies shared unigrams AND bigrams, so both
    // clipped sums exist for every candidate pair — inner joins
    val p1 = $"m1".cast("double") / $"ct"
    val p2 = $"m2".cast("double") / greatest($"ct" - 1, lit(1L))
    val bp = when($"ct" >= $"re", lit(1.0))
      .otherwise(exp(lit(1.0) - $"re".cast("double") / $"ct"))
    pairs
      .join(clip1, Seq("train_doc", "eval_doc"))
      .join(clip2, Seq("train_doc", "eval_doc"))
      .join(lens.select($"doc_id".as("train_doc"), $"len".as("ct")), Seq("train_doc"))
      .join(lens.filter(evIds)
        .select($"doc_id".as("eval_doc"), $"len".as("re")), Seq("eval_doc"))
      .select($"train_doc", $"eval_doc",
        p1.cast("float").as("p1"), p2.cast("float").as("p2"),
        (bp * sqrt(p1 * p2)).cast("float").as("bleu2"))
      .orderBy($"train_doc", $"eval_doc")
  }

  val q278BleuContaminationSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         range(1, greatest(len(ws) - 1, 2)),
      |         i -> array_to_string(ws[i:i+2], ' '))) AS s FROM w),
      |pairs AS (SELECT DISTINCT tr.doc_id AS train_doc, ev.doc_id AS eval_doc
      |          FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 50 <> 0) tr
      |          JOIN (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 50 = 0) ev
      |            USING (g)),
      |uni AS (SELECT doc_id, w AS t, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM (SELECT doc_id, unnest(ws) AS w FROM w) GROUP BY 1, 2),
      |big AS (SELECT doc_id, b AS t, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM (SELECT doc_id, unnest(list_transform(
      |                range(1, greatest(len(ws), 2)),
      |                i -> array_to_string(ws[i:i+1], ' '))) AS b FROM w)
      |        GROUP BY 1, 2),
      |lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS L FROM w),
      |c1 AS (SELECT p.train_doc, p.eval_doc, SUM(LEAST(a.c, b.c)) AS m1
      |       FROM pairs p JOIN uni a ON a.doc_id = p.train_doc
      |       JOIN uni b ON b.doc_id = p.eval_doc AND b.t = a.t
      |       GROUP BY 1, 2),
      |c2 AS (SELECT p.train_doc, p.eval_doc, SUM(LEAST(a.c, b.c)) AS m2
      |       FROM pairs p JOIN big a ON a.doc_id = p.train_doc
      |       JOIN big b ON b.doc_id = p.eval_doc AND b.t = a.t
      |       GROUP BY 1, 2)
      |SELECT p.train_doc, p.eval_doc,
      |  CAST(CAST(m1 AS DOUBLE) / ct.L AS FLOAT) AS p1,
      |  CAST(CAST(m2 AS DOUBLE) / greatest(ct.L - 1, 1) AS FLOAT) AS p2,
      |  CAST((CASE WHEN ct.L >= re.L THEN 1.0
      |             ELSE exp(1.0 - CAST(re.L AS DOUBLE) / ct.L) END)
      |       * sqrt((CAST(m1 AS DOUBLE) / ct.L)
      |              * (CAST(m2 AS DOUBLE) / greatest(ct.L - 1, 1))) AS FLOAT)
      |    AS bleu2
      |FROM pairs p
      |JOIN c1 USING (train_doc, eval_doc)
      |JOIN c2 USING (train_doc, eval_doc)
      |JOIN lens ct ON ct.doc_id = p.train_doc
      |JOIN lens re ON re.doc_id = p.eval_doc
      |ORDER BY train_doc, eval_doc""".stripMargin

  /** q279: chrF contamination scoring (Popović 2015) — the
    * CHARACTER-level F-score companion to q278's BLEU: q278 breaks on
    * tokenization differences (an extra space, hyphenation, CJK text
    * with no spaces); chrF compares space-stripped character n-grams,
    * so paraphrase-with-reformatting still scores high. Per flagged
    * (train, eval) pair: clipped character n-gram matches for
    * n = 1..3, per-order F_β (β = 2, recall-weighted — the paper's
    * chrF2 convention), macro-averaged. nMax = 3 here (the paper's
    * default 6 only sharpens long-match credit; 3 keeps the gram
    * tables proportional to 3 corpus scans).
    *
    * Scale shape: ONE tagged gram shuffle for all three orders
    * ((doc, n, gram) keys), eval side AQE-sized (broadcast when the
    * eval set is tiny — the deployment case; keyed join when it is
    * not), one pair-keyed aggregate computes all three clipped sums.
    * Candidate pairs are the shared contaminationPairs generator
    * (pair table bounded by contamination).
    *
    * Determinism: a shared word-3-gram is a contiguous ≥3-char
    * substring of both docs, so every order's clipped sum is ≥ 1 and
    * no divide-by-zero guard is needed; the score chain is pure
    * +,*,/ IEEE arithmetic in an identical shape on both engines
    * (no libm), presented FLOAT by house convention.
    */
  def q279ChrfContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = contaminationPairsCached(s, dir)
    // r17: the pruned space-stripped corpus is referenced by FOUR plan
    // branches (train grams, eval grams, train lens, eval lens), and
    // without materialization each branch re-ran the corpus scan, the
    // pairedDocs aggregate, and the doc_id semi-join exchange — 4
    // corpus scans per evaluation (guide §2.4; plan-verified, see
    // plans/r17/q279_*). The frame is corpus-row-bounded and
    // contamination-pruned (a few MB at sf0.1), so one eager
    // checkpoint per evaluation replaces three full subtree re-runs;
    // rows are identical by construction.
    val cs = contamPrunedDocs(s, dir,
        t => translate(t, " ", ""), "cs")
      .localCheckpoint(true)
    // tagged grams ride the native char_ngrams scan (one fused loop per
    // row; the declarative nested-transform spelling evaluates its
    // lambdas INTERPRETED — measured ~90% of the lane's runtime at the
    // derived decade). The order tag is the gram's first char, so one
    // array carries all three orders through ONE (doc, gram) aggregate.
    val grams = cs.select($"doc_id",
        explode(call_function("char_ngrams", $"cs", lit(3))).as("tg"))
      .groupBy($"doc_id", $"tg").agg(count(lit(1)).as("c"))
    val evIds = $"doc_id" % 50 === 0
    val trIds = $"doc_id" % 50 =!= 0
    val m = pairs
      .join(grams.filter(trIds).withColumnRenamed("doc_id", "train_doc"),
        Seq("train_doc"))
      .join(grams.filter(evIds).select($"doc_id".as("eval_doc"),
        $"tg", $"c".as("ec")), Seq("eval_doc", "tg"))
      .groupBy($"train_doc", $"eval_doc")
      .agg(sum(when(substring($"tg", 1, 1) === "1", least($"c", $"ec"))).as("m1"),
        sum(when(substring($"tg", 1, 1) === "2", least($"c", $"ec"))).as("m2"),
        sum(when(substring($"tg", 1, 1) === "3", least($"c", $"ec"))).as("m3"))
    val lens = cs.select($"doc_id", length($"cs").cast("long").as("clen"))
    def fScore(n: Int) = {
      val mm = col(s"m$n").cast("double")
      val p = mm / greatest($"ct" - (n - 1), lit(1L))
      val r = mm / greatest($"re" - (n - 1), lit(1L))
      // m = 0 (or null: no shared gram of this order survives the
      // joins) would make 5pr/(4p+r) = 0/0 = NaN; the score is 0.
      when(mm > 0, (lit(5.0) * p * r) / (lit(4.0) * p + r)).otherwise(0.0)
    }
    m.join(lens.select($"doc_id".as("train_doc"), $"clen".as("ct")), Seq("train_doc"))
      .join(lens.filter(evIds)
        .select($"doc_id".as("eval_doc"), $"clen".as("re")), Seq("eval_doc"))
      .select($"train_doc", $"eval_doc",
        fScore(1).cast("float").as("f1"),
        fScore(2).cast("float").as("f2"),
        fScore(3).cast("float").as("f3"),
        ((fScore(1) + fScore(2) + fScore(3)) / lit(3.0)).cast("float").as("chrf"))
      .orderBy($"train_doc", $"eval_doc")
  }

  val q279ChrfContaminationSql: String = {
    def f(n: Int) =
      s"""CASE WHEN coalesce(m$n, 0) > 0 THEN
         |  (5.0 * (CAST(m$n AS DOUBLE) / greatest(ct.L - ${n - 1}, 1))
         |       * (CAST(m$n AS DOUBLE) / greatest(re.L - ${n - 1}, 1)))
         |  / (4.0 * (CAST(m$n AS DOUBLE) / greatest(ct.L - ${n - 1}, 1))
         |       + (CAST(m$n AS DOUBLE) / greatest(re.L - ${n - 1}, 1)))
         |ELSE 0.0 END""".stripMargin
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |             replace(text, ' ', '') AS cs FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         range(1, greatest(len(ws) - 1, 2)),
      |         i -> array_to_string(ws[i:i+2], ' '))) AS s FROM w),
      |pairs AS (SELECT DISTINCT tr.doc_id AS train_doc, ev.doc_id AS eval_doc
      |          FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 50 <> 0) tr
      |          JOIN (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 50 = 0) ev
      |            USING (g)),
      |g AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
      |      FROM (SELECT doc_id, n,
      |              unnest(list_transform(
      |                range(1, greatest(length(cs) - n + 2, 2)),
      |                i -> cs[i:i+n-1])) AS g
      |            FROM w, (SELECT unnest([1, 2, 3]) AS n) t)
      |      GROUP BY 1, 2, 3),
      |lens AS (SELECT doc_id, CAST(length(cs) AS BIGINT) AS L FROM w),
      |m AS (SELECT p.train_doc, p.eval_doc,
      |        SUM(LEAST(a.c, b.c)) FILTER (WHERE a.n = 1) AS m1,
      |        SUM(LEAST(a.c, b.c)) FILTER (WHERE a.n = 2) AS m2,
      |        SUM(LEAST(a.c, b.c)) FILTER (WHERE a.n = 3) AS m3
      |      FROM pairs p JOIN g a ON a.doc_id = p.train_doc
      |      JOIN g b ON b.doc_id = p.eval_doc AND b.n = a.n AND b.g = a.g
      |      GROUP BY 1, 2)
      |SELECT m.train_doc, m.eval_doc,
      |  CAST(${f(1)} AS FLOAT) AS f1,
      |  CAST(${f(2)} AS FLOAT) AS f2,
      |  CAST(${f(3)} AS FLOAT) AS f3,
      |  CAST((${f(1)} + ${f(2)} + ${f(3)}) / 3.0 AS FLOAT) AS chrf
      |FROM m
      |JOIN lens ct ON ct.doc_id = m.train_doc
      |JOIN lens re ON re.doc_id = m.eval_doc
      |ORDER BY train_doc, eval_doc""".stripMargin
  }

  /** q280's blocklist — ONE definition drives both twins (the q268 tau
    * lesson): multi-word phrases and deliberate substring overlaps
    * ("ash" ⊂ "hash" ⊂ "hash join") so the automaton's failure links
    * carry real traffic on the registered corpus.
    */
  val Blocklist: Seq[String] = Seq(
    "hash join", "hash", "ash", "scan", "merge batch", "slow", "row", "order")

  /** q280: blocklist screening — per-document occurrence counts of a
    * pattern lexicon (the profanity/PII/license-header filter every
    * pretraining pipeline runs before quality scoring), via the native
    * Aho–Corasick expression [[graft.functions.BlocklistHits]]: ONE
    * byte walk per document for the whole lexicon, where the naive
    * plan is |patterns| regex passes or a patterns×corpus join. All
    * match positions count (overlapping included), which is exactly
    * the per-position substring-compare semantics the oracle states.
    *
    * At 100 TB: the blocklist is CONFIG — an array literal compiled
    * into the automaton at plan time and shipped as a codegen
    * reference object; the corpus pays one scan, no join, no shuffle
    * except the presentation sort; output is bounded by
    * |patterns|·docs-with-hits. Growing the lexicon changes the
    * automaton, not the plan shape.
    */
  def q280BlocklistHits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    Tables.load(s, dir, "documents")
      .select($"doc_id", posexplode(call_function("blocklist_hits",
        $"text", typedLit(Blocklist))).as(Seq("pid", "hits")))
      .filter($"hits" > 0)
      .select($"doc_id",
        element_at(typedLit(Blocklist), $"pid" + 1).as("pattern"), $"hits")
      .orderBy($"doc_id", $"pattern")
  }

  /** Oracle: the quadratic patterns×positions scan the automaton
    * provably equals (overlapping occurrences counted on both sides).
    */
  val q280BlocklistHitsSql: String = {
    val vals = Blocklist.map(p => s"('${p.replace("'", "''")}')").mkString(", ")
    s"""WITH p(pattern) AS (VALUES $vals),
      |h AS (SELECT d.doc_id, p.pattern,
      |  CAST(list_sum(list_transform(
      |    range(1, length(d.text) - length(p.pattern) + 2),
      |    i -> CASE WHEN substr(d.text, i, length(p.pattern)) = p.pattern
      |         THEN 1 ELSE 0 END)) AS INT) AS hits
      |  FROM documents d, p
      |  WHERE length(d.text) >= length(p.pattern))
      |SELECT doc_id, pattern, hits FROM h WHERE hits > 0
      |ORDER BY doc_id, pattern""".stripMargin
  }

  /** q281: winnowing fingerprint selection (Schleimer, Wilkerson &
    * Aiken 2003 — the MOSS scheme): over the space-stripped character
    * stream, hash every k-gram (k = 5) and in each window of w = 4
    * consecutive hashes keep the minimum, rightmost on ties. The
    * selected (hash, position) set carries winnowing's GUARANTEE —
    * any shared substring of length ≥ w + k − 1 = 8 yields a shared
    * fingerprint — with expected density 2/(w+1), the property-bearing
    * alternative to q31's one-per-doc min-shingle when matches must
    * be localizable.
    *
    * Mechanics shared with the oracle exactly: grams ride the native
    * char_ngrams kernel (nMin = nMax = 5, positional), the hash is the
    * native fnv1a32 read unsigned (DuckDB reproduces FNV-1a 32
    * bit-exactly as a list_reduce byte fold — probed; md5-prefix
    * hashing here cost ~3× the whole lane at the derived decade), and
    * the rightmost-tie rule is encoded arithmetically — key =
    * h·2³¹ + (2³¹−1 − pos), so among equal hashes the larger position
    * is the smaller key and one integer window-MIN implements the
    * paper's rule. Docs shorter than w + k − 1 select nothing (the
    * rn ≥ w gate) on both engines.
    *
    * At 100 TB: one scan, one per-DOC window (never unpartitioned),
    * one distinct on the selected set — all integer ops; key < 2⁶³
    * needs pos < 2³¹, i.e. docs under 2 GiB of text. Output density
    * ~2/(w+1) per gram.
    */
  def q281Winnowing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val W = org.apache.spark.sql.expressions.Window
    val cs = Tables.load(s, dir, "documents")
      .select($"doc_id", translate($"text", " ", "").as("cs"))
    val grams = cs.select($"doc_id",
      posexplode(call_function("char_ngrams", $"cs", lit(5), lit(5)))
        .as(Seq("pos", "tg")))
    val keyed = grams.select($"doc_id", $"pos",
      ((call_function("fnv1a32", encode($"tg", "UTF-8")).cast("long")
        .bitwiseAND(0xffffffffL))
        * 2147483648L + (lit(2147483647L) - $"pos")).as("key"))
    val win = W.partitionBy($"doc_id").orderBy($"pos")
    keyed
      .withColumn("rn", row_number().over(win))
      .withColumn("wmin", min($"key").over(win.rowsBetween(-3, 0)))
      .filter($"rn" >= 4)
      .select($"doc_id", $"wmin").distinct()
      .select($"doc_id",
        expr("wmin div 2147483648").as("fp"),
        (lit(2147483647L) - ($"wmin" % 2147483648L)).as("pos"))
      .orderBy($"doc_id", $"pos")
  }

  val q281WinnowingSql: String =
    """WITH c AS (SELECT doc_id, replace(text, ' ', '') AS cs FROM documents),
      |g AS (SELECT doc_id, i - 1 AS pos, '5' || substr(cs, i, 5) AS tg
      |      FROM c, LATERAL (SELECT unnest(range(1, greatest(length(cs) - 3, 2))) AS i) t),
      |gb AS (SELECT doc_id, pos, hex(encode(tg)) AS hx FROM g),
      |k AS (SELECT doc_id, pos,
      |        list_reduce(list_prepend(CAST(2166136261 AS BIGINT),
      |            list_transform(range(1, length(hx) // 2 + 1),
      |              i -> 16 * (strpos('0123456789ABCDEF', substr(hx, 2 * i - 1, 1)) - 1)
      |                   + (strpos('0123456789ABCDEF', substr(hx, 2 * i, 1)) - 1))),
      |          (h, b) -> (xor(h, b) * 16777619) % 4294967296)
      |          * 2147483648 + (2147483647 - pos) AS key
      |      FROM gb),
      |w1 AS (SELECT doc_id, pos, key,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
      |         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
      |                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
      |       FROM k),
      |sel AS (SELECT DISTINCT doc_id, wmin FROM w1 WHERE rn >= 4)
      |SELECT doc_id, CAST(wmin // 2147483648 AS BIGINT) AS fp,
      |  CAST(2147483647 - (wmin % 2147483648) AS BIGINT) AS pos
      |FROM sel ORDER BY doc_id, pos""".stripMargin

  /** q298: the novel n-gram rate CURVE — for each order n = 1..nMax,
    * the fraction of held-out n-gram POSITIONS (doc_id % 10 = 0)
    * whose n-gram type never occurs in the training fold. The
    * standard memorization/coverage diagnostic (the copy-vs-novelty
    * analyses of McCoy et al. 2021 "RAVEN" run exactly this curve;
    * data-quality audits read it the other way: a low high-order
    * novelty means the eval fold leaks training passages — the
    * statistic q246's substring decontamination acts on, here
    * measured instead of filtered). Low orders sit near 0 (every
    * word reappears), high orders climb toward 1 — the curve's shape
    * is the corpus' effective redundancy profile.
    *
    * At 100 TB: ALL orders come from ONE fused tagged scan per fold
    * (the native `word_ngrams_upto` — the all-orders form of the
    * q279 one-char-tag lesson, nMax separate corpus scans collapsed
    * into one); the train side reduces to a DISTINCT over md5 keys
    * (16 bytes shuffled, never gram text — the q230 discipline) and
    * the eval side is one hash equijoin + an 8-row aggregate.
    */
  def q298NovelNgramRate(s: SparkSession, dir: String, nMax: Int = 8): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    // r16: md5() yields a 32-CHAR hex string; unhex packs the same
    // 128-bit digest into 16 bytes — half the key bytes shuffled,
    // identical collision structure (unhex∘md5 is injective on md5
    // output), so the curve is unchanged.
    //
    // r17 (guide §2.4/§3): the old shape was a train-side DISTINCT
    // (one corpus-sized exchange) LEFT-JOINED onto the eval grams —
    // a multi-million-row build side that the planner broadcasts on
    // estimates (brittle: the relation grows with the corpus; at
    // scale AQE degrades it to a sort-merge join, two more corpus
    // exchanges). Both folds now flow through ONE (h)-keyed aggregate:
    // per gram type, the eval-instance count and a did-train-see-it
    // flag — no join, no broadcast, ONE corpus-sized exchange, and the
    // map-side partial collapses instances to types before it. The
    // tag char is part of the hashed gram string, so h determines n
    // (max is just "the" value) and every count below is identical to
    // the join spelling's.
    val g = docs.select(($"doc_id" % 10 === 0).as("ev"),
        explode(call_function("word_ngrams_upto", $"text", lit(nMax))).as("g"))
      .select($"ev", substring($"g", 1, 1).cast("int").as("n"),
        unhex(md5($"g")).as("h"))
    val perType = g.groupBy($"h").agg(
      max($"n").as("n"),
      sum(when($"ev", 1L).otherwise(0L)).as("ne"),
      max(when(!$"ev", 1).otherwise(0)).as("tr"))
    perType.filter($"ne" > 0)
      .groupBy($"n")
      .agg(sum($"ne").cast("long").as("n_eval_grams"),
        sum(when($"tr" === 0, $"ne").otherwise(0L)).cast("long").as("n_novel"))
      .select($"n", $"n_eval_grams", $"n_novel",
        ($"n_novel" / $"n_eval_grams").as("novel_rate"))
      .orderBy($"n")
  }

  /** Oracle twin keys on md5 of the SAME tagged gram string (tag char
    * = CAST(n AS VARCHAR) for n ≤ 9), so even a hash collision —
    * cosmically improbable — would divert both engines identically.
    */
  def q298NovelNgramRateSql(nMax: Int = 8): String = {
    val terms = (1 to nMax).map { n =>
      val joined = (0 until n).map(k => s"ws[i+$k]").mkString(" || ' ' || ")
      s"""list_transform(range(1, greatest(len(ws) - ${n - 2}, 1)),
         |      i -> '$n' || $joined)""".stripMargin
    }.mkString(" ||\n    ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tagged AS MATERIALIZED (SELECT doc_id, unnest(gs) AS g FROM (
      |  SELECT doc_id,
      |    $terms AS gs
      |  FROM d)),
      |tt AS (SELECT DISTINCT md5(g) AS h FROM tagged WHERE doc_id % 10 <> 0),
      |ev AS (SELECT CAST(substring(g, 1, 1) AS INT) AS n, md5(g) AS h
      |       FROM tagged WHERE doc_id % 10 = 0)
      |SELECT ev.n, CAST(COUNT(*) AS BIGINT) AS n_eval_grams,
      |  CAST(SUM(CASE WHEN tt.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(SUM(CASE WHEN tt.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    / CAST(COUNT(*) AS BIGINT) AS novel_rate
      |FROM ev LEFT JOIN tt ON tt.h = ev.h
      |GROUP BY ev.n ORDER BY ev.n""".stripMargin
  }
}
