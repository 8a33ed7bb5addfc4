package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication family for training-data pipelines: exact (hash-groupBy),
  * exact n-gram Jaccard (the quadratic baseline), MinHash+LSH and SimHash
  * (the 100 TB scale paths).
  *
  * All three near-dup variants emit the SAME output contract — candidate
  * pairs verified by EXACT shingle Jaccard ≥ τ — so the approximate
  * algorithms are graded by the same exact DuckDB oracle as the baseline:
  * candidate generation is approximate, the emitted answer is not.
  *
  * Performance shape (measured at sf0.1, 32 cores): shingles are hashed
  * to longs once at the source (64-bit xxhash — collision probability
  * ~n²/2⁶⁴, irrelevant at any realistic corpus size), every verification
  * is either a pure count aggregation or an array op over primitive
  * longs, and each approximate variant runs a CHEAP pair filter (one long
  * per doc, or aligned 64-slot signature agreement) before the exact
  * verify — the expensive step only ever sees near-certain pairs.
  */
object Dedup {

  /** Near-dup emit threshold. Sized with the approximate variants'
    * recall envelopes in mind: at jac=0.8 a 64-slot MinHash 16×4 banding
    * misses with p=(1-0.8⁴)¹⁶ ≈ 2e-4 and a 0.8-pair's expected SimHash
    * Hamming distance (~6-7) sits well inside the ≤12 guarantee band;
    * at the q40 exact baseline the threshold is exact by construction.
    * Lowering τ toward 0.5 erodes both envelopes (a 0.6-pair's expected
    * Hamming is ~14); near the boundary only q40 is the guarantee lane.
    *
    * DELIBERATE DESIGN NOTE on the exact-oracle gate for q41/q42: the
    * approximate variants are graded against the exact-Jaccard oracle
    * because they emit exact-verified pairs — but candidate GENERATION
    * is probabilistic, so the gate can in principle fail without a code
    * bug. Envelope validated empirically at sf0.01 (the gate corpus,
    * 500 docs — every true τ≥0.8 pair caught) and sf0.1 (5000 docs,
    * q41/q42 outputs == q40 exact baseline); expected misses at those
    * scales: ~2e-4 per true pair (MinHash 16×4 banding) and 0 for
    * SimHash pairs within the Hamming≤12 pigeonhole band. A future gate
    * failure on a larger/unluckier corpus is the documented envelope,
    * not a regression — see AnnRecallSpec-style reasoning above.
    */
  private val Tau = 0.8

  /** documents + their word-3-gram shingle sets hashed to longs, the
    * family's shared artifact: every near-dup query references this
    * frame from several join branches, and without materialization
    * Spark recomputes the shingling per branch (measured: the
    * recomputation, not the joins, dominated).
    */
  private[queries] def shingled(s: SparkSession, dir: String): DataFrame =
    FamilyCaches.memo(s, s"shingles:$dir") {
      graft.GraftExtensions.register(s)
      // native one-pass shingle hashing (same XXH64 set as the previous
      // split/transform/array_distinct/xxhash64 chain, which evaluated
      // interpreted and dominated the cold build)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          call_function("word_shingle_hashes", col("text")).as("sh"))
        .localCheckpoint(true)
    }

  /** Kept as a forwarder: the lanes benchmark calls it by name. */
  def clearCaches(s: SparkSession): Unit = FamilyCaches.clear(s)

  /** The rarity-ranked exploded shingle table (doc_id, g, pos, n):
    * every token of every doc with its global-rarity rank inside the
    * doc (df asc, hash asc — the shared total order the prefix-filter
    * lemma needs) and the doc's token count. q126 (Jaccard τ prefix)
    * and q135 (containment τ_C prefix) both derived this EXACT frame
    * independently — the df aggregate, the g-keyed join, and both
    * doc-keyed windows ran twice per suite pass (×2 attempts) for a
    * τ-independent result; only the prefix-length FILTER differs per
    * lane, and filtering the checkpointed frame is row-level, so the
    * outputs are unchanged (guide §2.4). A [[FamilyCaches]] artifact
    * nested over the shingle artifact.
    */
  private[queries] def rarityRanked(s: SparkSession, dir: String): DataFrame =
    FamilyCaches.memo(s, s"rarityRanked:$dir") {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
      val ex = shingled(s, dir).select($"doc_id", explode($"sh").as("g"))
      val dfc = ex.groupBy($"g").agg(count(lit(1)).as("df"))
      ex.join(dfc, "g")
        .withColumn("pos", row_number().over(
          w.partitionBy($"doc_id").orderBy($"df", $"g")))
        .withColumn("n", count(lit(1)).over(w.partitionBy($"doc_id")))
        .select($"doc_id", $"g", $"pos", $"n")
        .localCheckpoint(true)
    }

  /** Exact Jaccard for candidate pairs (d1 < d2), computed as a count
    * aggregation over the exploded shingle table restricted to the
    * candidates — no per-row set materialization. One shuffle on the
    * shingle hash, one on the pair. Unordered; callers add their own
    * ORDER BY.
    */
  private def verifyPairs(cands: DataFrame, docs: DataFrame): DataFrame = {
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("g"))
    val sz = docs.select(col("doc_id"), size(col("sh")).as("n"))
    val inter = ex.as("a")
      .join(cands.as("c"), col("a.doc_id") === col("c.d1"))
      .join(ex.as("b"), col("b.doc_id") === col("c.d2") && col("a.g") === col("b.g"))
      .groupBy(col("c.d1").as("d1"), col("c.d2").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.as("sa"), col("d1") === col("sa.doc_id"))
      .join(sz.as("sb"), col("d2") === col("sb.doc_id"))
      .withColumn("jac", col("inter").cast("double") /
        (col("sa.n") + col("sb.n") - col("inter")))
      .filter(col("jac") >= Tau)
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** The exact-pair CTE chain the pair oracles share (no WITH, no
    * trailing comma): each document's distinct word 3-shingles `s`
    * (`sh`), the shared-shingle count `inter` of every pair d1 < d2, and
    * each document's shingle count `n` (`sz`). Defined above its users:
    * an object's vals initialize in order.
    */
  private val exactPairCtes: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         range(1, greatest(len(ws) - 1, 2)),
      |         i -> array_to_string(ws[i:i+2], ' '))) AS s FROM w),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      |          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(s) AS n FROM sh)""".stripMargin

  /** The one oracle shared by q40/q41/q42: ground-truth exact-Jaccard pairs. */
  val nearDupPairsSql: String =
    s"""WITH $exactPairCtes
      |SELECT d1, d2, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jac
      |FROM inter JOIN sz sa ON sa.doc_id = inter.d1
      |           JOIN sz sb ON sb.doc_id = inter.d2
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $Tau
      |ORDER BY d1, d2""".stripMargin

  /** Exact dedup by content hash: collapse byte-identical texts, keeping
    * the smallest doc_id as the survivor. Input is documents ∪ documents
    * (simulating a re-crawl) so every group genuinely collapses 2→1.
    * At 100 TB: one hash-shuffle on the text (or on md5(text) to keep
    * shuffle keys small) — this IS the scale path for exact dedup.
    */
  def q33ExactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.load(s, dir, "documents")
    d.unionAll(d)
      .groupBy($"text")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select($"doc_id", $"n_copies", length($"text").cast("long").as("n_chars_live"))
      .orderBy($"doc_id")
  }

  val q33ExactDedupSql: String =
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
      |  CAST(length(text) AS BIGINT) AS n_chars_live
      |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
      |GROUP BY text ORDER BY doc_id""".stripMargin

  /** The exact pair set is the shared product of the dedup family —
    * q40 emits it; q72, q75, q94, q138, q223 and q227 read it, and
    * [[dupClusters]] (nested over it) labels its components for q45,
    * q98, q228 and q300 — so it is a [[FamilyCaches]] artifact nested
    * over the shingle artifact. Unordered; callers add their own
    * ORDER BY. The family's other artifact is q148's verified
    * sorted-neighbourhood pair set ([[snmPairs]]), which q223 reads.
    */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    FamilyCaches.memo(s, s"nearDupPairs:$dir") {
      import s.implicits._
      val docs = shingled(s, dir)
      val ex = docs.select($"doc_id", explode($"sh").as("g"))
      val sz = docs.select($"doc_id", size($"sh").as("n"))
      ex.as("a").join(ex.as("b"),
          $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
        .agg(count(lit(1)).as("inter"))
        .join(sz.as("sa"), $"d1" === $"sa.doc_id")
        .join(sz.as("sb"), $"d2" === $"sb.doc_id")
        .withColumn("jac", $"inter".cast("double") / ($"sa.n" + $"sb.n" - $"inter"))
        .filter($"jac" >= Tau)
        .select($"d1", $"d2", $"jac")
        .localCheckpoint(true)
    }

  /** Exact n-gram Jaccard near-dup pairs — the quadratic baseline: explode
    * shingle hashes, self-join, count intersections per pair, filter ≥ τ.
    * Pure count aggregation (no arrays past the explode); still
    * O(Σ bucket²) on hot shingles — q41/q42 are the subquadratic scale
    * paths with identical output.
    */
  def q40NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nearDupPairs(s, dir).orderBy($"d1", $"d2")
  }

  /** MinHash + LSH banding: 64 min-hashes per doc (xxhash64 seeded by slot
    * index, min over shingles — all per-row codegen'd higher-order funcs),
    * 16 bands × 4 rows hashed to a bucket key; candidates = pairs sharing
    * any band bucket. Candidates then pass a CHEAP signature-agreement
    * estimate (fraction of equal slots — the unbiased MinHash Jaccard
    * estimator, an aligned compare of two long[64]) before the exact
    * verification, so band-collision noise from hot buckets never reaches
    * the expensive join. At 100 TB the only shuffles are on (band,
    * bucket) and on the surviving pairs; miss probability for a
    * 0.9-Jaccard pair is (1-0.9⁴)^16 ≈ 4e-8, and the est-filter at 0.3
    * rejects a true 0.9 pair with P[Binom(64,0.9) < 0.3·64] ≈ 1e-22.
    */
  def q41MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = shingled(s, dir)
    // checkpointed: both band self-join sides and both estimate joins read it
    val sig = minhashSigs(docs).localCheckpoint(true)
    val bands = sig.select($"doc_id",
        explode(expr(
          "transform(sequence(0, 15), b -> struct(b AS band, xxhash64(slice(sig, b*4+1, 4)) AS bucket))"))
          .as("bb"))
      .select($"doc_id", $"bb.band", $"bb.bucket")
    val cands = bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    val sigs = sig.select($"doc_id", $"sig")
    val estFiltered = cands
      .join(sigs.as("p"), $"d1" === $"p.doc_id")
      .join(sigs.as("q"), $"d2" === $"q.doc_id")
      .withColumn("est",
        call_function("slot_agreement", $"p.sig", $"q.sig") / 64.0)
      .filter($"est" >= 0.3)
      .select($"d1", $"d2")
    verifyPairs(estFiltered, docs).orderBy($"d1", $"d2")
  }

  /** The (doc_id, sig) MinHash signatures of a shingled frame, via the
    * native minhash_signature expression: one fused |sh|×64 loop per
    * document, map-side, inside whole-stage codegen — NO shuffle.
    * (History: a per-row nested transform/array_min chain evaluated
    * interpreted and was ~30× slower; round 2's explode + 64-way min
    * aggregation was codegen'd but paid a corpus×64-buffer hash-agg
    * shuffle that dominated the query.) Shared by q41 and q148; lazy,
    * each caller checkpoints its own copy.
    */
  private[queries] def minhashSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), call_function("minhash_signature", col("sh")).as("sig"))

  /** SimHash near-dup: 64-bit signature (per-bit majority vote over shingle
    * xxhash64 bits), banded into 13 ~5-bit blocks — any-block-equal
    * candidates, which by pigeonhole catches every pair with Hamming
    * distance ≤ 12. Candidates then pass a Hamming filter (bit_count over
    * one long per side — the cheapest possible pair check) before exact
    * verification. Block width trades recall for bucket selectivity:
    * short docs (tens of shingles) have noisy signatures (Hamming up to
    * ~10 for 0.9-Jaccard pairs here), so blocks are narrow; long-document
    * corpora can use the classic 4×16-bit tables (Hamming ≤ 3, Manku et
    * al. WWW'07) for much sharper buckets at scale. With 5-bit blocks the
    * bucket join enumerates ~13n²/2·2⁻⁵ random collisions — quadratic
    * with a small constant, so SimHash-at-d≤12 is NOT this engine's
    * subquadratic τ=0.8 scale path (q41's MinHash banding is, with its
    * content-keyed 64-bit buckets); q42 is registered as the SimHash
    * semantics lane and its join must stay cheap per enumerated pair.
    *
    * Two scale lessons measured on the derived 10×-sf0.1 corpus
    * (BENCH_SCALING.md, "Round 10/11: the derived decade"), encoded below:
    *  - STRATEGY CLIFF: the chunk frame is small in BYTES (1 long + 2
    *    ints × 13n rows), so Catalyst broadcasts it — but the key space
    *    is only 13×32=416 values, and a HashedRelation probe walks a
    *    ~n/32-long duplicate chain per probe with interpreted-iterator
    *    cost: 319 s where SortMergeJoin's packed group loop runs the
    *    SAME 558M-pair enumeration in 2.9 s (110×). The `merge` hint
    *    pins SMJ — at real scale byte-stats would force SMJ anyway; the
    *    hint removes the mid-scale cliff where bytes look broadcastable
    *    but duplication is extreme.
    *  - LENGTH FILTER (AllPairs/PPJoin, Bayardo et al. WWW'07): jac ≥ τ
    *    forces shingle-count ratio ≥ τ, so geometric length bands (base
    *    1/τ) of a τ≥0.8 pair differ by ≤ 1 — adding the band to the
    *    bucket key is LOSSLESS for the emitted (jac ≥ τ) pairs and cuts
    *    random collisions by the band diversity (3.1× on this corpus's
    *    narrow 8..98-shingle spread; real corpora span decades of doc
    *    lengths and cut far more).
    */
  def q42Simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = shingled(s, dir)
    // Per-bit majority votes via the native simhash64 expression — the
    // same strictly-more-set-than-clear vote the round-2 explode +
    // 64-sum-aggregate computed, but as one fused map-side loop per
    // document with no shuffle and no 64 agg buffers. The geometric
    // length band rides along: log-base 1.25 = 1/τ, so a jac≥τ pair's
    // bands differ by at most 1 (|A∩B| ≤ min ∧ |A∪B| ≥ max ⇒ min/max ≥ τ).
    val sim = docs.select($"doc_id", call_function("simhash64", $"sh").as("simhash"),
        floor(log(size($"sh").cast("double")) / log(lit(1.0 / Tau))).cast("int").as("band"))
      .localCheckpoint(true)
    // the signature is ONE long, so it rides the block explode for free —
    // both self-join sides come straight off the checkpointed sim frame
    // with no join-back to re-attach it (the join-back form paid two
    // extra doc_id-shuffles of the 13×corpus chunk frame)
    val chunks = sim.select($"doc_id", $"simhash", $"band",
        explode(expr(
          """transform(sequence(0, 12), c -> struct(c AS chunk,
            |  shiftright(simhash, cast(c*64 div 13 AS int))
            |    & (shiftleft(1L, cast((c+1)*64 div 13 - c*64 div 13 AS int)) - 1) AS cv))""".stripMargin))
          .as("cc"))
      .select($"doc_id", $"simhash", $"band", $"cc.chunk", $"cc.cv")
    // Hamming-filter BEFORE distinct: the raw pair stream (with up to one
    // duplicate per colliding block) is large, the ≤12-Hamming survivors
    // are rare — filtering on two 8-byte columns first means the distinct
    // shuffle only ever sees survivors. The probe side explodes its band
    // to {band-1, band, band+1} so a cross-band τ-pair is caught exactly
    // once (the build side keeps its single band value).
    val a = chunks
      .withColumn("pband", explode(array($"band" - 1, $"band", $"band" + 1)))
      .select($"doc_id".as("d1"), $"chunk", $"cv", $"pband", $"simhash".as("s1"))
    val b = chunks
      .select($"doc_id".as("d2"), $"chunk".as("chunk2"), $"cv".as("cv2"),
        $"band".as("band2"), $"simhash".as("s2"))
    val cands = a.hint("merge").join(b,
        $"chunk" === $"chunk2" && $"cv" === $"cv2" && $"pband" === $"band2" &&
        $"d1" < $"d2" && expr("bit_count(s1 ^ s2) <= 12"))
      .select($"d1", $"d2")
      .distinct()
    verifyPairs(cands, docs).orderBy($"d1", $"d2")
  }

  /** Duplicate-cluster assignment — the arbitration step after pair
    * detection: connected components over the exact near-dup pair graph,
    * every document labeled with its component's min doc_id
    * (`cluster_rep`) and a `keep` flag for the representative. Survivors
    * = the deduplicated corpus.
    *
    * Implementation: [[Components.ccPropagate]] — min-label propagation
    * to fixpoint, ONE job per round (the convergence counter rides the
    * checkpoint job as an accumulator). Near-dup components are shallow
    * (near-cliques of mutual duplicates), so convergence takes
    * O(component diameter) ≈ 2-3 rounds; a corpus with adversarially
    * long chains uses [[Components.ccStar]] (large-star/small-star,
    * O(log n) rounds) on the same edge frame — ComponentsSpec pins both
    * algorithms to identical labels on deep chains and on this corpus.
    * The DuckDB oracle computes the same components with a recursive CTE.
    */
  def q45DupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dupClusters(s, dir)
      .withColumn("keep", $"cluster_rep" === $"doc_id")
      .orderBy($"doc_id")
  }

  /** (doc_id, cluster_rep) for every document: the near-dup pair
    * graph's components ([[Components.ccPropagate]] over the pair
    * artifact) left-joined onto the corpus, singletons labelled with
    * their own id. One [[FamilyCaches]] artifact nested over
    * [[nearDupPairs]], shared by q45, q98, q228 and q300.
    */
  private def dupClusters(s: SparkSession, dir: String): DataFrame =
    FamilyCaches.memo(s, s"dupClusters:$dir") {
      import s.implicits._
      val labels = Components.ccPropagate(nearDupPairs(s, dir).select($"d1", $"d2"))
      Tables.load(s, dir, "documents").select($"doc_id")
        .join(labels, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"rep", $"doc_id").as("cluster_rep"))
        .localCheckpoint(true)
    }

  /** The 80/10/10 split keyed by the cluster representative: the md5
    * bucket idiom of q39 over `salt || cluster_rep`, so every member
    * of a near-dup cluster lands in the same split. Columns: doc_id,
    * cluster_rep, bucket, split. q228 and q300 differ only in the salt.
    */
  private def clusterSplit(s: SparkSession, dir: String, salt: String): DataFrame = {
    import s.implicits._
    dupClusters(s, dir)
      .withColumn("bucket", conv(substring(md5(concat(lit(salt),
        $"cluster_rep".cast("string"))), 1, 8), 16, 10).cast("long") % 100)
      .withColumn("split", when($"bucket" < 80, "train").when($"bucket" < 90, "val")
        .otherwise("test"))
  }

  /** The q45 component machinery as a reusable CTE prefix (ends with
    * the `comp` CTE, no trailing comma) — shared by the q45, q98, q228
    * and q300 oracles.
    */
  private val dupComponentCtes: String =
    s"""WITH RECURSIVE
      |$exactPairCtes,
      |pairs AS (
      |  SELECT d1, d2
      |  FROM inter JOIN sz sa ON sa.doc_id = inter.d1
      |             JOIN sz sb ON sb.doc_id = inter.d2
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $Tau),
      |edges AS (SELECT d1 AS u, d2 AS v FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |reach(u, r) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      |  UNION
      |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
      |comp AS (SELECT u AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY u)""".stripMargin

  /** Same components, stated as a DuckDB recursive CTE over the same
    * exact-Jaccard pair definition.
    */
  val q45DupClustersSql: String =
    s"""$dupComponentCtes
      |SELECT d.doc_id, COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep,
      |       (COALESCE(c.cluster_rep, d.doc_id) = d.doc_id) AS keep
      |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q98 — cluster collapse with a QUALITY keeper policy: q45 assigns
    * clusters and keeps the minimum doc_id; production pipelines keep
    * the BEST member instead (longest, highest quality score — here:
    * longest text, doc_id as the deterministic tie-break), because the
    * survivor is what trains. Same component assignment, one extra
    * per-cluster argmax window; the policy is the only delta, so q45
    * and q98 disagreeing on `keep` within a cluster is exactly the
    * policy's effect, never a clustering difference.
    */
  def q98BestKeeper(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_rep").orderBy($"quality".desc, $"doc_id")
    Tables.load(s, dir, "documents")
      .select($"doc_id", length($"text").cast("long").as("quality"))
      .join(dupClusters(s, dir), "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .orderBy($"doc_id")
  }

  val q98BestKeeperSql: String =
    s"""$dupComponentCtes,
      |q AS (
      |  SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS quality,
      |    COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
      |SELECT doc_id, quality, cluster_rep,
      |  (row_number() OVER (PARTITION BY cluster_rep
      |     ORDER BY quality DESC, doc_id) = 1) AS keep
      |FROM q ORDER BY doc_id""".stripMargin

  /** q300: LEAKAGE-SAFE train/val/test splitting — the q39 stable
    * split gate lifted to near-dup CLUSTER granularity. A per-document
    * hash split (q39/q246) lets two near-duplicate documents land in
    * train and test, which is exactly the contamination q227/q246
    * audit for after the fact; the dedup-aware splitter assigns the
    * split to the connected component instead (the practice behind
    * e.g. The Stack's near-dedup-aware splits, Kocetkov et al. 2022
    * §4: "we allocate files from the same near-duplicate cluster to
    * the same split"), so by CONSTRUCTION no near-dup pair straddles
    * a boundary — the split is a pure function of `cluster_rep`
    * (ComponentsSpec pins the endpoints-agree law on the real pair
    * graph). 80/10/10 via the md5 bucket idiom on the representative.
    *
    * At 100 TB: q45's component cost (the pair graph is the expensive
    * part, memoized/checkpointed; propagation is O(diameter) rounds)
    * plus ONE map-side hash — no new shuffles over the corpus.
    */
  def q300LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusterSplit(s, dir, "clsplit:")
      .select($"doc_id", $"cluster_rep", $"split")
      .orderBy($"doc_id")
  }

  val q300LeakageSafeSplitSql: String =
    s"""$dupComponentCtes,
      |asg AS (
      |  SELECT d.doc_id, COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
      |SELECT doc_id, cluster_rep,
      |  CASE WHEN CAST(('0x' || substring(md5('clsplit:' || CAST(cluster_rep AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
      |       WHEN CAST(('0x' || substring(md5('clsplit:' || CAST(cluster_rep AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM asg ORDER BY doc_id""".stripMargin

  /** Edit distance over the duplicate pairs — the character-level
    * refinement of the near-dup verdict (Jaccard says HOW MUCH shingle
    * overlap; Levenshtein says how few edits separate the texts, the
    * signal that separates true re-crawls from template cousins).
    * Computed only on the pair SURVIVORS (never all-pairs) over a fixed
    * prefix, because Levenshtein is O(len²) per pair — exactly how a
    * production pipeline bounds it. Both engines implement the same
    * classic metric, so the oracle is exact.
    */
  def q75EditDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = nearDupPairs(s, dir).select($"d1", $"d2")
    val docs = Tables.load(s, dir, "documents")
      .select($"doc_id", substring($"text", 1, 80).as("prefix"))
    pairs
      .join(docs.select($"doc_id".as("d1"), $"prefix".as("p1")), "d1")
      .join(docs.select($"doc_id".as("d2"), $"prefix".as("p2")), "d2")
      .select($"d1", $"d2", levenshtein($"p1", $"p2").cast("long").as("edit_dist"))
      .orderBy($"d1", $"d2")
  }

  val q75EditDistanceSql: String =
    s"""WITH $exactPairCtes,
      |pairs AS (
      |  SELECT d1, d2
      |  FROM inter JOIN sz sa ON sa.doc_id = inter.d1
      |             JOIN sz sb ON sb.doc_id = inter.d2
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $Tau)
      |SELECT d1, d2,
      |  CAST(levenshtein(substring(da.text, 1, 80), substring(db.text, 1, 80)) AS BIGINT) AS edit_dist
      |FROM pairs JOIN documents da ON da.doc_id = d1
      |           JOIN documents db ON db.doc_id = d2
      |ORDER BY d1, d2""".stripMargin

  /** BFS hop distances over the duplicate-pair graph from its minimum
    * node — the frontier-expansion counterpart of q45's component
    * labels (how FAR a near-copy sits from the cluster's representative,
    * not just which cluster it is in). Same memoized pair frame; the
    * oracle walks the same graph with a recursive CTE, cycles bounded by
    * the shared depth cap and collapsed by MIN(dist).
    */
  def q72BfsDepth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = nearDupPairs(s, dir).select($"d1", $"d2")
    val src = pairs.agg(min($"d1")).collect()(0)
    if (src.isNullAt(0)) // no duplicate pairs at this scale: empty result
      return Seq.empty[(Long, Long)].toDF("doc_id", "dist")
    Components.bfsDepths(pairs, src.getLong(0), maxDepth = 20)
      .select($"node".as("doc_id"), $"dist")
      .orderBy($"doc_id")
  }

  val q72BfsDepthSql: String =
    s"""WITH RECURSIVE
      |$exactPairCtes,
      |pairs AS (
      |  SELECT d1, d2
      |  FROM inter JOIN sz sa ON sa.doc_id = inter.d1
      |             JOIN sz sb ON sb.doc_id = inter.d2
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $Tau),
      |edges AS (SELECT d1 AS u, d2 AS v FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |bfs(node, dist) AS (
      |  SELECT (SELECT MIN(d1) FROM pairs), 0
      |  UNION
      |  SELECT e.v, bfs.dist + 1
      |  FROM edges e JOIN bfs ON e.u = bfs.node
      |  WHERE bfs.dist < 20)
      |SELECT node AS doc_id, CAST(MIN(dist) AS BIGINT) AS dist
      |FROM bfs WHERE node IS NOT NULL
      |GROUP BY node ORDER BY doc_id""".stripMargin

  /** q94 — local graph structure of the near-dup pair graph: per-node
    * degree, wedge count (open triads), triangle count, and local
    * clustering coefficient. The density diagnostic that separates
    * boilerplate-driven quasi-cliques (coefficient → 1: safe to collapse
    * to one survivor, q45) from chain-like false-positive strings
    * (coefficient → 0: review before collapsing). Triangle counting is
    * the ordered three-way self-join on d1 < d2 < d3 — each triangle
    * found once, credited to its three corners; at 100 TB the join is on
    * the SURVIVOR pair set (sparse by construction), not the corpus.
    */
  def q94Triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = nearDupPairs(s, dir).select($"d1", $"d2")
    val deg = pairs.select($"d1".as("node")).unionAll(pairs.select($"d2".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("degree"))
    val tri = pairs.as("p1")
      .join(pairs.as("p2"), $"p2.d1" === $"p1.d2")
      .join(pairs.as("p3"), $"p3.d1" === $"p1.d1" && $"p3.d2" === $"p2.d2")
      .select(explode(array($"p1.d1", $"p1.d2", $"p2.d2")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("node"), "left")
      .select($"node".as("doc_id"), $"degree",
        // integral `/` is double division in BOTH engines; the product is
        // even so the double is exact — cast back once, like the oracle
        ($"degree" * ($"degree" - 1) / 2).cast("long").as("wedges"),
        coalesce($"triangles", lit(0L)).as("triangles"))
      .withColumn("clustering",
        when($"wedges" > 0, $"triangles".cast("double") / $"wedges")
          .otherwise(lit(0.0)))
      .orderBy($"doc_id")
  }

  val q94TrianglesSql: String =
    s"""WITH $exactPairCtes,
      |pairs AS (
      |  SELECT d1, d2
      |  FROM inter JOIN sz sa ON sa.doc_id = inter.d1
      |             JOIN sz sb ON sb.doc_id = inter.d2
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $Tau),
      |deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      |    SELECT d1 AS node FROM pairs UNION ALL SELECT d2 FROM pairs)
      |  GROUP BY node),
      |tri AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
      |    SELECT unnest([p1.d1, p1.d2, p2.d2]) AS node
      |    FROM pairs p1
      |    JOIN pairs p2 ON p2.d1 = p1.d2
      |    JOIN pairs p3 ON p3.d1 = p1.d1 AND p3.d2 = p2.d2)
      |  GROUP BY node)
      |SELECT deg.node AS doc_id, degree,
      |  CAST(degree * (degree - 1) / 2 AS BIGINT) AS wedges,
      |  COALESCE(tri.triangles, 0) AS triangles,
      |  CASE WHEN degree * (degree - 1) / 2 > 0
      |       THEN CAST(COALESCE(tri.triangles, 0) AS DOUBLE) / (degree * (degree - 1) / 2)
      |       ELSE 0.0 END AS clustering
      |FROM deg LEFT JOIN tri ON tri.node = deg.node
      |ORDER BY doc_id""".stripMargin

  /** Span width (words) for sub-document dedup: q73's chunking convention
    * at the granularity where boilerplate repeats.
    */
  private val SpanWords = 16

  /** q81 — span-level exact dedup: the sub-document pass a training
    * pipeline runs AFTER document-level dedup, because boilerplate and
    * quoted passages repeat across documents that are not near-dups as
    * wholes (the public motivation for substring-level dedup in Lee et
    * al., "Deduplicating Training Data Makes Language Models Better").
    * Documents are segmented into non-overlapping [[SpanWords]]-word
    * spans — the fixed-granularity approximation of suffix-array
    * substring dedup, sharing q73's word-window convention — every
    * occurrence of a span after its corpus-wide first (ordered by
    * (doc_id, span_idx)) is dropped, and each document is reassembled
    * from its surviving spans in order.
    *
    * At 100 TB: ONE shuffle, keyed by span text (in production by
    * md5(span) so shuffle keys are 16 bytes — the first-occurrence
    * winner is identical either way); the reassembly aggregates on
    * doc_id. No joins, no candidate generation, nothing quadratic —
    * span dedup is exact dedup (q33) applied one level down.
    */
  def q81SpanDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"span_text").orderBy($"doc_id", $"span_idx")
    val spans = {
      graft.GraftExtensions.register(s)
      Tables.load(s, dir, "documents")
        .select($"doc_id",
          posexplode(call_function("word_windows", $"text", lit(SpanWords)))
            .as(Seq("p", "span_text")))
        .select($"doc_id", $"p".cast("long").as("span_idx"), $"span_text")
    }
    spans
      .withColumn("rn", row_number().over(w))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when($"rn" > 1, 1L).otherwise(0L)).as("n_dropped"),
        // nulls (dropped spans) are skipped by collect_list; struct sort
        // puts surviving spans back in span_idx order
        array_join(transform(
          array_sort(collect_list(when($"rn" === 1,
            struct($"span_idx", $"span_text")))),
          x => x.getField("span_text")), " ").as("text_clean"))
      .orderBy($"doc_id")
  }

  val q81SpanDedupSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sp AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
      |    array_to_string(ws[i*$SpanWords+1 : i*$SpanWords+$SpanWords], ' ') AS span_text
      |  FROM w, UNNEST(range(0,
      |    CAST(ceil(len(ws) / CAST($SpanWords AS DOUBLE)) AS BIGINT))) AS t(i)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY span_text
      |        ORDER BY doc_id, span_idx) AS rn FROM sp)
      |SELECT doc_id, COUNT(*) AS n_spans,
      |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  COALESCE(string_agg(CASE WHEN rn = 1 THEN span_text END, ' '
      |    ORDER BY span_idx), '') AS text_clean
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Default minimum duplicated-substring length (tokens) for q230. */
  val SubstrL = 8

  /** q230 — variable-length substring dedup, the TRUE form q81
    * approximates: the ExactSubstr pass of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" (2022) — remove every
    * token that lies inside SOME substring of ≥ L tokens occurring ≥ 2
    * times in the corpus (all occurrences removed, the published
    * ExactSubstr behavior; occurrences within one document count).
    *
    * Why q81 is not enough: q81 segments each document into aligned
    * non-overlapping 16-word spans, so a passage duplicated at
    * DIFFERENT word offsets in two documents lands in different span
    * strings and is never detected (SubstrDedupSpec pins exactly that
    * straddle case). The exact criterion needs every offset.
    *
    * The suffix-array-free identity that makes it distributed: a token
    * position is inside a duplicated substring of length ≥ L **iff**
    * it is covered by a duplicated L-gram (stride-1 window). ⇒ direction:
    * any duplicated run of length m ≥ L contains an L-sub-window over
    * each of its positions, and each such window is itself duplicated.
    * ⇐ direction: a duplicated L-gram IS a duplicated substring of
    * length L. So the removal mask is the union of the extents
    * [p, p+L) of duplicated L-grams — no suffix array, no cross-doc
    * match bookkeeping, and maximal removal regions fall out of a
    * per-document interval merge (gaps-and-islands).
    *
    * At 100 TB: gram generation fans out ×n_tokens (the same O(n)
    * blow-up suffix-array construction pays, here as rows) and
    * shuffles ONCE, keyed by md5(gram) — 16-byte keys, never the gram
    * text; the duplicate test is a partition-local window count; all
    * later steps are keyed by doc_id over the SEED rows only (rare —
    * the duplicated fraction). The reassembly lane is minority-sized
    * too: documents are first semi-joined to the seed-bearing doc set,
    * so ONLY touched docs pay the posexplode / anti-join / rebuild;
    * every untouched doc emits `array_join(ws, " ")` — the exact
    * byte-identical round-trip of a space-split — with no explode and
    * no shuffle beyond the doc-keyed left join. A fully-covered doc
    * (every token removed) vanishes from the rebuilt frame, so the
    * touched set left-joins the rebuild and coalesces to "" — never to
    * the original text. Nothing is quadratic, nothing collects.
    * Reports per document: token count, merged removal regions,
    * removed-token count, and the cleaned text.
    */
  def q230SubstrDedup(s: SparkSession, dir: String, L: Int = SubstrL): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val ws = Tables.load(s, dir, "documents")
      .select($"doc_id", $"text", split($"text", " ").as("ws"))
      .localCheckpoint(true) // feeds the gram lane and the token-reassembly lane
    // rare rows; feed the interval merge and the cover explode
    val seeds = substrSeeds(ws, L).localCheckpoint(true)
    val dw = Window.partitionBy($"doc_id").orderBy($"pos")
    val regions = seeds
      .withColumn("b",
        when($"pos" - lag($"pos", 1).over(dw) <= L, 0L).otherwise(1L))
      .withColumn("island", sum($"b").over(dw))
      .groupBy($"doc_id", $"island")
      .agg(min($"pos").as("start_tok"), (max($"pos") + L).as("end_tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_regions"),
        sum($"end_tok" - $"start_tok").cast("long").as("n_removed"))
    val covered = seeds
      .select($"doc_id", explode(sequence($"pos", $"pos" + L - 1)).as("tidx"))
      .distinct()
    val touched = seeds.select($"doc_id").distinct()
    val rebuilt = ws
      .join(touched, Seq("doc_id"), "left_semi")
      .select($"doc_id", posexplode($"ws").as(Seq("tidx", "tok")))
      .join(covered, Seq("doc_id", "tidx"), "left_anti")
      .groupBy($"doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"tidx", $"tok"))),
        x => x.getField("tok")), " ").as("text_clean"))
    val clean = touched.join(rebuilt, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"text_clean", lit("")).as("text_clean"))
    ws.select($"doc_id", size($"ws").cast("long").as("n_tokens"), $"ws")
      .join(regions, Seq("doc_id"), "left")
      .join(clean, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"n_regions", lit(0L)).as("n_regions"),
        coalesce($"n_removed", lit(0L)).as("n_removed"),
        coalesce($"text_clean", array_join($"ws", " ")).as("text_clean"))
      .orderBy($"doc_id")
  }

  /** q230's seed rows (doc_id, pos): the start of every L-gram that
    * occurs at least twice in the corpus. Lazy, so PlanAuditSpec can
    * audit the gram-hash window that q230 checkpoints away.
    */
  private[queries] def substrSeeds(ws: DataFrame, L: Int): DataFrame = {
    import ws.sparkSession.implicits._
    // L-grams via the native word_ngrams scan (r15), md5-keyed: the
    // hash bytes are identical to md5(concat_ws(' ', slice(...)))
    // because the gram IS that joined string. r16: unhex packs the
    // 32-char hex into the 16 BYTES the scale note always promised —
    // half the shuffled key bytes, identical collision structure
    // (unhex∘md5 is injective on md5 output), h never reaches output
    ws.select($"doc_id",
        posexplode(call_function("word_ngrams", $"text", lit(L))).as(Seq("p", "g")))
      .select($"doc_id", $"p".cast("long").as("pos"), unhex(md5($"g")).as("h"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"h")))
      .filter($"cnt" >= 2)
      .select($"doc_id", $"pos")
  }

  /** q246: cross-split SUBSTRING contamination — the strict
    * decontamination standard (the GPT-3 / Pile recipe, Brown et al.
    * 2020 App. C; Lee et al. 2022 §6.2): an eval document is
    * contaminated if it shares ANY ≥ L-token substring with a train
    * document, which catches verbatim passage overlap that q227's
    * document-level near-dup audit can miss (a long doc quoting one
    * eval paragraph has low Jaccard but is still memorization fuel).
    * Identity (the q230 trick): a shared ≥ L substring exists iff some
    * stride-1 L-gram is shared, so the test is one gram-keyed
    * aggregate — never pairwise. Reports each contaminated val/test
    * document with its offending-gram and covered-token counts.
    *
    * Scale shape: ONE shuffle keyed by md5(L-gram) carrying the split
    * tag; `has_train` is a per-gram max; everything after is
    * (doc, tidx)-linear on the contaminated minority. Exact integers
    * throughout — nothing floating anywhere.
    */
  def q246SplitContamination(s: SparkSession, dir: String, L: Int = SubstrL): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val ws = Tables.load(s, dir, "documents")
      .select($"doc_id", $"text")
      .withColumn("bucket",
        conv(substring(md5(concat(lit("split:"), $"doc_id".cast("string"))), 1, 8),
          16, 10).cast("long") % 100)
      .select($"doc_id", $"text",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val")
          .otherwise("test").as("split"))
    val grams = ws
      .select($"doc_id", $"split",
        posexplode(call_function("word_ngrams", $"text", lit(L))).as(Seq("p", "g")))
      // unhex: 16-byte binary keys (the q230 r16 narrowing), h internal
      .select($"doc_id", $"split", $"p".cast("long").as("pos"),
        unhex(md5($"g")).as("h"))
    val cw = Window.partitionBy($"h")
    val evalSeeds = grams
      .withColumn("has_train",
        max(when($"split" === "train", 1L).otherwise(0L)).over(cw))
      .filter($"has_train" === 1L && $"split" =!= "train")
      .select($"doc_id", $"split", $"pos")
      .localCheckpoint(true) // contaminated minority; two consumers
    val perDoc = evalSeeds.groupBy($"doc_id", $"split")
      .agg(count(lit(1)).as("n_contam_grams"))
    val covered = evalSeeds
      .select($"doc_id", explode(sequence($"pos", $"pos" + L - 1)).as("tidx"))
      .distinct()
      .groupBy($"doc_id").agg(count(lit(1)).as("n_tokens_covered"))
    perDoc.join(covered, Seq("doc_id"))
      .select($"doc_id", $"split", $"n_contam_grams", $"n_tokens_covered")
      .orderBy($"doc_id")
  }

  def q246SplitContaminationSql(L: Int = SubstrL): String =
    s"""WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      |      AS bucket
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN bucket < 80 THEN 'train'
      |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      |    CAST(i AS BIGINT) AS pos,
      |    array_to_string(ws[i+1 : i+$L], ' ') AS gram
      |  FROM w, UNNEST(range(0, greatest(len(ws) - $L + 1, 0))) AS t(i)),
      |hs AS (
      |  SELECT gram, MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train
      |  FROM g GROUP BY gram),
      |es AS (
      |  SELECT g.doc_id, g.split, g.pos
      |  FROM g JOIN hs USING (gram)
      |  WHERE hs.has_train = 1 AND g.split <> 'train'),
      |pd AS (
      |  SELECT doc_id, split, CAST(COUNT(*) AS BIGINT) AS n_contam_grams
      |  FROM es GROUP BY 1, 2),
      |cov AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_covered FROM (
      |    SELECT DISTINCT doc_id, pos + j AS tidx
      |    FROM es, UNNEST(range(0, $L)) AS u(j))
      |  GROUP BY doc_id)
      |SELECT pd.doc_id, pd.split, pd.n_contam_grams, cov.n_tokens_covered
      |FROM pd JOIN cov USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  def q230SubstrDedupSql(L: Int = SubstrL): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    array_to_string(ws[i+1 : i+$L], ' ') AS gram
      |  FROM w, UNNEST(range(0, greatest(len(ws) - $L + 1, 0))) AS t(i)),
      |dupg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
      |seed AS (SELECT g.doc_id, g.pos FROM g JOIN dupg USING (gram)),
      |brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
      |           <= $L THEN 0 ELSE 1 END AS b
      |  FROM seed),
      |isl AS (
      |  SELECT doc_id, pos,
      |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM brk),
      |iv AS (SELECT doc_id, island, MIN(pos) AS start_tok,
      |         MAX(pos) + $L AS end_tok
      |       FROM isl GROUP BY 1, 2),
      |reg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_regions,
      |          CAST(SUM(end_tok - start_tok) AS BIGINT) AS n_removed
      |        FROM iv GROUP BY 1),
      |cov AS (SELECT DISTINCT s.doc_id, s.pos + j AS tidx
      |        FROM seed s, UNNEST(range(0, $L)) AS u(j)),
      |toks AS (SELECT doc_id, CAST(i AS BIGINT) AS tidx, ws[i+1] AS tok
      |         FROM w, UNNEST(range(0, len(ws))) AS t(i)),
      |cl AS (
      |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.tidx) AS text_clean
      |  FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.tidx = t.tidx
      |  WHERE c.tidx IS NULL GROUP BY 1)
      |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
      |  COALESCE(reg.n_regions, 0) AS n_regions,
      |  COALESCE(reg.n_removed, 0) AS n_removed,
      |  COALESCE(cl.text_clean, '') AS text_clean
      |FROM w LEFT JOIN reg ON reg.doc_id = w.doc_id
      |LEFT JOIN cl ON cl.doc_id = w.doc_id
      |ORDER BY w.doc_id""".stripMargin

  /** q101 — INCREMENTAL exact dedup against a PERSISTED fingerprint
    * index: the shape a 100 TB ingest actually runs — the corpus is
    * deduped ONCE at bootstrap (one corpus-sized shuffle building the
    * fp→(owner, count) index), and every later batch shuffles only
    * ITSELF: aggregate the batch by fingerprint (batch-sized), merge
    * full-outer with the index on fp, write the merged index back.
    * Per-batch cost is O(batch + index), never O(corpus re-read +
    * re-shuffle); with the index persisted through
    * [[graft.sources.Bucketing.writeBucketed]] (catalog bucket metadata)
    * the index side of the merge carries no Exchange at all.
    *
    * Fixture: history = even doc_ids at their original ids; the arrival
    * batch is a full re-crawl (every text again, ids offset by 1e6), so
    * it mixes previously-seen texts (dedup against the index) with new
    * ones (survive and enter the index). Oracle: the one-shot dedup of
    * the union — first occurrence wins, counts accumulate — which the
    * two-phase incremental run must reproduce exactly.
    */
  /** The q101 fixture frames: history (even doc_ids, original ids) and
    * the arrival batch (full re-crawl, ids offset by 1e6), both already
    * aggregated per fingerprint.
    */
  private def q101Frames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
      .select($"doc_id", md5($"text").as("fp"))
    val historyAgg = docs.filter($"doc_id" % 2 === 0).groupBy($"fp")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
    val batchAgg = docs.select(($"doc_id" + 1000000L).as("doc_id"), $"fp")
      .groupBy($"fp")
      .agg(min($"doc_id").as("bdoc"), count(lit(1)).as("bn"))
    (historyAgg, batchAgg)
  }

  /** The incremental merge step: keyed full-outer on fingerprint —
    * first occurrence keeps ownership, counts accumulate. Exposed so
    * PlanAuditSpec can pin the join shape of the actual merge plan.
    */
  def incrIndexMerge(index: DataFrame, batchAgg: DataFrame): DataFrame = {
    import index.sparkSession.implicits._
    index.as("i").join(batchAgg.as("b"), Seq("fp"), "full_outer")
      .select($"fp",
        coalesce($"i.doc_id", $"bdoc").as("doc_id"),
        (coalesce($"i.n_copies", lit(0L)) + coalesce($"bn", lit(0L))).as("n_copies"))
  }

  /** The merge plan q101 executes, without the parquet round-trips —
    * for plan audit only (q101 itself grades the round-tripped state).
    */
  def q101MergeFrame(s: SparkSession, dir: String): DataFrame = {
    val (historyAgg, batchAgg) = q101Frames(s, dir)
    incrIndexMerge(historyAgg, batchAgg)
  }

  def q101IncrDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (historyAgg, batchAgg) = q101Frames(s, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft-fp-index").toString
    // bootstrap: ONE corpus shuffle → persisted index, hash-laid-out by fp
    historyAgg.repartition(8, $"fp").write.mode("overwrite").parquet(s"$idx/v0")
    // ingest: batch-sized aggregation + index merge, new index written back
    incrIndexMerge(s.read.parquet(s"$idx/v0"), batchAgg)
      .repartition(8, $"fp")
      .write.mode("overwrite").parquet(s"$idx/v1") // the day-1 index state
    // the live set IS the index — read the round-tripped artifact back
    s.read.parquet(s"$idx/v1")
      .select($"doc_id", $"n_copies", ($"doc_id" < 1000000L).as("from_history"))
      .orderBy($"doc_id")
  }

  val q101IncrDedupSql: String =
    """WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      |arr AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents),
      |u AS (SELECT * FROM hist UNION ALL SELECT * FROM arr)
      |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies,
      |  (MIN(doc_id) < 1000000) AS from_history
      |FROM u GROUP BY md5(text) ORDER BY doc_id""".stripMargin

  /** q126: prefix-filtered EXACT similarity join — the PPJoin-family
    * answer to q40's quadratic baseline, and the deterministic sibling
    * of the probabilistic q41/q42 scale paths. Tokens order globally by
    * (document frequency asc, hash) — rarest first — and each doc keeps
    * only its first `|sh| - ceil(tau*|sh|) + 1` tokens as its PREFIX.
    * The classic prefix-filtering lemma (any pair with Jaccard >= tau
    * must overlap within these prefixes under a shared total order)
    * makes candidate generation LOSSLESS, so unlike LSH there is no
    * recall envelope: the exact oracle gates this path with zero
    * probabilistic caveats.
    *
    * At 100 TB: the df aggregate is one token shuffle (the inverted-
    * index shape), the prefix keeps ~1-tau of each doc's tokens, and
    * the candidate join only collides docs sharing a RARE token —
    * hot-token blowup is capped because a frequent token is almost
    * never inside anyone's prefix. The epsilon in the ceil guards the
    * conservative direction against float round-up (a longer prefix is
    * always sound; a shorter one is not).
    */
  def q126PrefixJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = shingled(s, dir)
    // the ranked frame is τ-independent and shared with q135 (see
    // rarityRanked); only the prefix-length filter is this lane's own
    val prefix = rarityRanked(s, dir)
      .filter($"pos" <= $"n" - ceil($"n" * lit(Tau) - lit(1e-9)) + 1)
      .select($"doc_id", $"g")
    val cands = prefix.as("a").join(prefix.as("b"),
        $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2")).distinct()
    verifyPairs(cands, docs).orderBy($"d1", $"d2")
  }

  /** q135: containment (subset-similarity) join — ordered pairs where
    * doc A's shingle set is τ-contained in doc B: `|Sa∩Sb|/|Sa| ≥ τ`.
    * The partial-duplicate detector Jaccard misses: a paragraph pasted
    * into a longer page scores low Jaccard but high containment. Same
    * lossless prefix-filter argument as q126, asymmetric form: if B
    * misses ALL of A's (n_a − ⌈τ·n_a⌉ + 1) rarest shingles, the
    * intersection fits inside the remaining ⌈τ·n_a⌉ − 1 < τ·n_a — so
    * joining A-prefixes against B's FULL posting list is a complete
    * candidate generator. The b-side fan-out per prefix token is that
    * token's df — bounded by A's own rarity ordering, the standard
    * containment-join cost model; verification is the exact q40 count
    * aggregate with the asymmetric denominator. Containment is one
    * IEEE division of exact integers — no rounding needed.
    */
  def q135Containment(s: SparkSession, dir: String, tauC: Double = 0.9): DataFrame = {
    import s.implicits._
    val docs = shingled(s, dir)
    val ex = docs.select($"doc_id", explode($"sh").as("g"))
    val sz = docs.select($"doc_id", size($"sh").as("n"))
    // the ranked frame is τ-independent and shared with q126 (see
    // rarityRanked); only the asymmetric prefix filter is this lane's
    val prefix = rarityRanked(s, dir)
      .filter($"pos" <= $"n" - ceil($"n" * lit(tauC) - lit(1e-9)) + 1)
      .select($"doc_id", $"g")
    val cands = prefix.as("a").join(ex.as("b"),
        $"a.g" === $"b.g" && $"a.doc_id" =!= $"b.doc_id")
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db")).distinct()
    val inter = ex.as("a")
      .join(cands.as("c"), $"a.doc_id" === $"c.da")
      .join(ex.as("b"), $"b.doc_id" === $"c.db" && $"a.g" === $"b.g")
      .groupBy($"c.da".as("da"), $"c.db".as("db"))
      .agg(count(lit(1)).as("inter"))
    inter.join(sz.as("sa"), $"da" === $"sa.doc_id")
      .withColumn("containment", $"inter".cast("double") / $"sa.n")
      .filter($"containment" >= tauC)
      .select($"da", $"db", $"containment")
      .orderBy($"da", $"db")
  }

  /** q138: the cross-source duplication (leakage) matrix — how many
    * near-dup pairs straddle each pair of sources. THE report a corpus
    * curator reads before mixing: heavy off-diagonal mass means two
    * "independent" sources are re-crawls of each other and their
    * mixture weights double-count; diagonal mass is intra-source
    * redundancy q33/q41 already collapse. Rides the memoized exact
    * pair frame (built once per session by whichever family member
    * runs first), joins the tiny pair set against the doc→source map
    * twice, and aggregates over the ≤|sources|² frame; source pairs
    * are unordered via least/greatest so (A,B) and (B,A) coincide.
    * At 100 TB the pair frame is the near-dup output — orders of
    * magnitude below the corpus — so both joins and the final
    * aggregate are dwarfed by the dedup that produced it.
    */
  def q138SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.load(s, dir, "documents").select($"doc_id", $"source")
    nearDupPairs(s, dir)
      .join(src.as("sa"), $"d1" === $"sa.doc_id")
      .join(src.as("sb"), $"d2" === $"sb.doc_id")
      .select(least($"sa.source", $"sb.source").as("src_a"),
        greatest($"sa.source", $"sb.source").as("src_b"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"src_a", $"src_b")
  }

  val q138SourceOverlapSql: String =
    s"""WITH $exactPairCtes,
      |p AS (SELECT d1, d2
      |      FROM inter JOIN sz sa ON sa.doc_id = inter.d1
      |                 JOIN sz sb ON sb.doc_id = inter.d2
      |      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $Tau)
      |SELECT least(da.source, db.source) AS src_a,
      |  greatest(da.source, db.source) AS src_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM p JOIN documents da ON da.doc_id = p.d1
      |       JOIN documents db ON db.doc_id = p.d2
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q148: sorted-neighborhood blocking — the classic windowed dedup
    * (Hernández–Stolfo merge/purge, public formulation): sort the
    * corpus by a blocking key that collides near-dups, then compare
    * ONLY rows within a fixed window w of the sort order. The key here
    * is the lexicographic MINIMUM word-3-gram — 1-permutation MinHash
    * in string space, P[keys equal] = Jaccard, so τ≥0.8 pairs almost
    * always become sort neighbors — and it is engine-neutral (the
    * DuckDB oracle computes the identical string min; a hash key
    * would not be portable). The global rank is the q122/q136
    * distributed prefix pattern (range-partition on (key, doc_id),
    * per-partition row_number, broadcast count offsets — no
    * single-partition window at any corpus size), and the rank-band
    * 1 ≤ r2−r1 ≤ w join runs as a bucket EQUIJOIN — the lower-rank
    * side probes its own width-w bucket and the next one, which by
    * pigeonhole covers every band pair — so candidate generation is
    * linear in the corpus with w the per-row comparison budget.
    * Candidates flow through the family's exact-Jaccard verify; the
    * oracle states the SAME windowed semantics (SNM is approximate by
    * design — the gate grades the operator's contract, window misses
    * included, not the full pair set).
    */
  def q148SortedNeighborhood(s: SparkSession, dir: String,
      w: Int = 10, parts: Int = 32): DataFrame = {
    import s.implicits._
    snmPairs(s, dir, w, parts).orderBy($"d1", $"d2")
  }

  /** q148's verified pairs (d1, d2, jac), one [[FamilyCaches]] artifact
    * per (w, parts, dir): q148 emits it and q223 counts it.
    */
  private def snmPairs(s: SparkSession, dir: String, w: Int, parts: Int): DataFrame =
    FamilyCaches.memo(s, s"snmPairs:$w:$parts:$dir") {
      q148SnmFrame(s, dir, w, parts).localCheckpoint(true)
    }

  /** The lazy SNM pipeline behind [[snmPairs]]: the keyed, rank and
    * signature frames are eager checkpoints, the rank-band join and the
    * verify are not — PlanAuditSpec audits the join on this frame.
    */
  private[graft] def q148SnmFrame(s: SparkSession, dir: String,
      w: Int, parts: Int): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val docs = shingled(s, dir)
    val keyed = Tables.load(s, dir, "documents")
      .select($"doc_id", expr(
        "array_min(transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)), " +
          "i -> concat_ws(' ', slice(split(text, ' '), i, 3))))").as("k"))
      // checkpoint BEFORE the range exchange: RangePartitioner SAMPLES
      // its child to pick split points, i.e. executes the plan a second
      // time — and this child is the interpreted min-3-gram lambda, the
      // single most expensive stage of the whole query (measured at the
      // derived decades: the key pass is ~123 s at sf2d, and the
      // un-checkpointed sample pass re-paid it; cutting it here took the
      // q148 decade ratio from x16.5 to ~linear). The q108 orderBy
      // lesson, repartitionByRange edition.
      .localCheckpoint(true)
    val (ranged, offsets) =
      Prefix.boundedPrefix(keyed, parts, lit(1L), $"k".asc, $"doc_id".asc)
    // checkpointed: lower AND upper probe this frame — otherwise the
    // rank assembly would execute once per branch
    val ranked = ranged
      .withColumn("rn", row_number().over(
        W.partitionBy($"pid").orderBy($"k", $"doc_id")))
      .join(broadcast(offsets), "pid")
      .select($"doc_id", ($"rn" + $"off").as("r"))
      .localCheckpoint(true)
    val lower = ranked.select($"doc_id".as("id_a"), $"r".as("ra"),
      explode(array(expr(s"(r - 1) div $w"), expr(s"(r - 1) div $w + 1")))
        .as("bkt"))
    val upper = ranked.select($"doc_id".as("id_b"), $"r".as("rb"),
      expr(s"(r - 1) div $w").as("bkt"))
    val cands = lower.join(upper, "bkt")
      .filter($"rb" - $"ra" >= 1 && $"rb" - $"ra" <= w)
      .select(least($"id_a", $"id_b").as("d1"),
        greatest($"id_a", $"id_b").as("d2"))
    // window candidates are mostly NON-dups (w per row by construction),
    // so two cheap pair filters run before the exact-Jaccard verify:
    // 1. length filter — EXACTLY lossless: jac ≤ min(|A|,|B|)/max(|A|,|B|),
    //    so τ-pairs need size ratio ≥ τ (prunes ~70% here);
    // 2. q41's MinHash slot-agreement estimate at the same 0.3 gate —
    //    P[reject a true τ=0.8 pair] ≈ P[Binom(64, 0.8) < 19] ≈ 1e-22,
    //    noise next to SNM's own window-miss probability.
    val sz = docs.select($"doc_id", size($"sh").as("n"))
    val sig = minhashSigs(docs).localCheckpoint(true)
    val filtered = cands
      .join(sz.as("za"), $"d1" === $"za.doc_id")
      .join(sz.as("zb"), $"d2" === $"zb.doc_id")
      .filter(least($"za.n", $"zb.n").cast("double") >=
        lit(Tau) * greatest($"za.n", $"zb.n"))
      .select($"d1", $"d2")
      .join(sig.as("p"), $"d1" === $"p.doc_id")
      .join(sig.as("q"), $"d2" === $"q.doc_id")
      .filter(call_function("slot_agreement", $"p.sig", $"q.sig") / 64.0 >= 0.3)
      .select($"d1", $"d2")
    verifyPairs(filtered, docs)
  }

  def q148SortedNeighborhoodSql(w: Int = 10): String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |k AS (SELECT doc_id, list_min(list_transform(
      |        range(1, greatest(len(ws) - 1, 2)),
      |        i -> array_to_string(ws[i:i+2], ' '))) AS k FROM ws),
      |r AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT)
      |        AS r FROM k),
      |cand AS (SELECT a.doc_id AS da, b.doc_id AS db
      |         FROM r a JOIN r b ON b.r - a.r BETWEEN 1 AND $w),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         range(1, greatest(len(ws) - 1, 2)),
      |         i -> array_to_string(ws[i:i+2], ' '))) AS s FROM ws),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |inter AS (SELECT c.da, c.db, COUNT(*) AS inter
      |          FROM cand c JOIN ex a ON a.doc_id = c.da
      |          JOIN ex b ON b.doc_id = c.db AND a.g = b.g
      |          GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(s) AS n FROM sh)
      |SELECT least(da, db) AS d1, greatest(da, db) AS d2,
      |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jac
      |FROM inter JOIN sz sa ON sa.doc_id = da
      |           JOIN sz sb ON sb.doc_id = db
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $Tau
      |ORDER BY d1, d2""".stripMargin

  val q135ContainmentSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         range(1, greatest(len(ws) - 1, 2)),
      |         i -> array_to_string(ws[i:i+2], ' '))) AS s FROM w),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
      |          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
      |          GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(s) AS n FROM sh)
      |SELECT da, db, CAST(inter AS DOUBLE) / sa.n AS containment
      |FROM inter JOIN sz sa ON sa.doc_id = da
      |WHERE CAST(inter AS DOUBLE) / sa.n >= 0.9
      |ORDER BY da, db""".stripMargin

  /** q223: blocking-quality evaluation — the ER-ops report that grades
    * an approximate blocking scheme against ground truth (Christen's
    * standard pair-completeness / reduction-ratio measures, public
    * formulation): how many true τ-duplicate pairs does q148's
    * sorted-neighborhood window actually surface (completeness), and
    * what fraction of the quadratic comparison space does it avoid
    * (reduction)? q40's exact pair set is the truth; q148's verified
    * output is the found set (found ⊆ true because q148 ends in the
    * same exact-Jaccard verify); the candidate count for a width-w
    * rank band is the CLOSED FORM n·w − w(w+1)/2 — no extra join runs
    * just to count candidates. One row; every count is an aggregate,
    * nothing collects. The true set is the family's pair artifact and
    * the found set is q148's SNM pair artifact, so after q148 has run
    * in the session q223 costs only the counts.
    */
  def q223BlockingEval(s: SparkSession, dir: String, w: Int = 10): DataFrame = {
    import s.implicits._
    val cW = w * (w + 1) / 2
    val nd = Tables.load(s, dir, "documents").agg(count(lit(1)).as("n"))
    val tr = nearDupPairs(s, dir).agg(count(lit(1)).as("n_true"))
    val fo = q148SortedNeighborhood(s, dir, w).agg(count(lit(1)).as("n_found"))
    // Closed-form candidate count n·w − w(w+1)/2 only holds for n > w;
    // a corpus with n ≤ w compares all pairs, so clamp to n(n−1)/2
    // (and guard the n_possible = 0 division on n ≤ 1 corpora).
    val nPossible = (($"n" * ($"n" - 1)) / 2).cast("long")
    val nCandidates =
      when(lit(w) < $"n", $"n" * w - cW).otherwise(($"n" * ($"n" - 1)) / 2)
        .cast("long")
    nd.crossJoin(broadcast(tr)).crossJoin(broadcast(fo))
      .select($"n".as("n_docs"),
        nPossible.as("n_possible"),
        nCandidates.as("n_candidates"),
        $"n_true", $"n_found",
        when($"n_true" === 0, lit(null).cast("double"))
          .otherwise($"n_found".cast("double") / $"n_true").as("completeness"),
        when(nPossible === 0, lit(null).cast("double"))
          .otherwise(lit(1.0) - nCandidates.cast("double") / nPossible)
          .as("reduction_ratio"))
      .orderBy($"n_docs")
  }

  def q223BlockingEvalSql(w: Int = 10): String = {
    val cW = w * (w + 1) / 2
    s"""WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true
      |       FROM ($nearDupPairsSql) x),
      |fo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found
      |       FROM (${q148SortedNeighborhoodSql(w)}) y)
      |SELECT n AS n_docs,
      |  CAST((n * (n - 1)) / 2 AS BIGINT) AS n_possible,
      |  CAST(CASE WHEN $w < n THEN n * $w - $cW
      |            ELSE (n * (n - 1)) / 2 END AS BIGINT) AS n_candidates,
      |  n_true, n_found,
      |  CASE WHEN n_true = 0 THEN NULL
      |       ELSE CAST(n_found AS DOUBLE) / n_true END AS completeness,
      |  CASE WHEN (n * (n - 1)) / 2 = 0 THEN NULL
      |       ELSE 1.0 - CAST(CASE WHEN $w < n THEN n * $w - $cW
      |                            ELSE (n * (n - 1)) / 2 END AS DOUBLE)
      |           / CAST((n * (n - 1)) / 2 AS BIGINT) END AS reduction_ratio
      |FROM nd, tr, fo ORDER BY n_docs""".stripMargin
  }

  /** q227: split-leakage audit — the eval-integrity gate every
    * training pipeline needs after splitting: near-duplicate pairs
    * (q40's exact τ-Jaccard truth) whose endpoints landed in DIFFERENT
    * q39 splits are train→eval leakage (the eval member is effectively
    * memorized). Reports every (split, split) cell of the pair matrix
    * with its count and a leakage flag — the within-split diagonal
    * rides along as the base-rate context. Composes the two existing
    * operators; corpus-sized work is the near-dup machinery (family
    * caches shared in-suite) + two doc_id equijoins against the
    * split frame.
    */
  def q227SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val splits = TextOps.q39StableSplit(s, dir).select($"doc_id", $"split")
    val pairs = nearDupPairs(s, dir).select($"d1", $"d2")
    pairs
      .join(splits.as("sa"), $"d1" === $"sa.doc_id")
      .join(splits.as("sb"), $"d2" === $"sb.doc_id")
      .select(least($"sa.split", $"sb.split").as("split_a"),
        greatest($"sa.split", $"sb.split").as("split_b"))
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leakage", $"split_a" =!= $"split_b")
      .orderBy($"split_a", $"split_b")
  }

  val q227SplitLeakageSql: String =
    s"""WITH sp AS (
      |  SELECT doc_id,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (SELECT doc_id,
      |          CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
      |        FROM documents)),
      |nd AS (SELECT d1, d2 FROM ($nearDupPairsSql) x)
      |SELECT least(sa.split, sb.split) AS split_a,
      |  greatest(sa.split, sb.split) AS split_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  least(sa.split, sb.split) <> greatest(sa.split, sb.split) AS is_leakage
      |FROM nd JOIN sp sa ON sa.doc_id = nd.d1
      |        JOIN sp sb ON sb.doc_id = nd.d2
      |GROUP BY 1, 2, 4
      |ORDER BY split_a, split_b""".stripMargin

  /** q228: cluster-aware (leakage-safe) split — the FIX for what q227
    * measures: hashing each DOCUMENT into a split leaks near-duplicate
    * pairs across the train/eval boundary (q227 counts them), so the
    * split key must be the q45 CLUSTER representative — every member of
    * a near-dup cluster lands in the same split by construction, and
    * cross-split near-dup leakage is structurally zero (law-tested in
    * DedupSpec alongside the q227 audit). Same md5 bucket mechanism and
    * 80/10/10 ratios as q39, applied to the rep; singletons hash by
    * their own id, so the assignment is stable under corpus growth
    * exactly like q39's.
    */
  def q228ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusterSplit(s, dir, "split:").orderBy($"doc_id")
  }

  /** q286: duplicate-SEGMENT removal with document reconstruction —
    * the CCNet preprocessing step (Wenzek et al. 2019) that runs
    * BEFORE document-level dedup: hash every paragraph across the
    * whole dump, drop duplicated paragraphs keeping one occurrence,
    * and emit the CLEANED documents (boilerplate headers/footers/menus
    * die here; the doc-level lanes q31/q33/q59 then see prose). Every
    * other dedup lane in this engine reports pairs or stats — this one
    * rewrites the corpus, order preserved.
    *
    * This corpus has no newlines, so non-overlapping W = 16-word
    * windows stand in for paragraphs (the sf0.01 corpus: 1,843 distinct
    * segments, 69 duplicated types, 147 duplicate instances — ~8% of
    * the corpus drops). CCNet keeps whichever copy its shard order sees
    * first; here the keeper is DETERMINISTIC — the globally first
    * instance by (doc_id, segment_no) — so the result is reproducible
    * and exactly oracle-checkable.
    *
    * At 100 TB: ONE corpus shuffle keyed on the 16-byte unhex(md5)
    * segment digest (fixed-width binary, never the text — the
    * q170/q230 discipline) computes the per-hash keeper IN PLACE via
    * a hash-partitioned window MIN; the reassembly is one doc-keyed
    * aggregate whose per-group state is the document itself. No joins
    * at all, no driver-side anything; both shuffles are corpus-sized
    * and embarrassingly partitioned. (The pre-r17 spelling aggregated
    * winners per hash and joined them back — a SECOND corpus
    * scan+explode on the join's probe side, plus a winner table that
    * GROWS with the corpus on its build side: broadcast-brittle, and
    * a sort-merge join with two more corpus exchanges once it
    * outgrows the threshold. The window needs the same h-shuffle the
    * aggregate paid and nothing else.)
    */
  def q286SegmentDedup(s: SparkSession, dir: String, w: Int = 16): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    // segments via the native word_windows scan (r15 — one fused byte
    // pass emitting substring-backed windows; the interpreted
    // transform/slice/array_join spelling was the per-row cost)
    val seg = docs.select($"doc_id",
        posexplode(call_function("word_windows", $"text", lit(w))).as(Seq("p", "s")))
      .select($"doc_id", ($"p" + 1).cast("long").as("seg_no"), $"s",
        unhex(md5($"s")).as("h"))
    // keeper = globally first instance: a lexicographic struct MIN over
    // (doc_id, seg_no), evaluated as a window over the h-partition so
    // every instance sees its hash's winner in ONE pass. (An earlier
    // spelling packed the pair into doc_id*100000+seg_no, whose
    // non-ANSI long arithmetic would WRAP SILENTLY for a
    // ≥100k-segment document and corrupt keeper selection — the
    // struct min has no bounds at all.)
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy($"h")
    reassembleSegments(seg
      .withColumn("wk", min(struct($"doc_id", $"seg_no")).over(byHash))
      .select($"doc_id", $"seg_no", $"s",
        ($"doc_id" === $"wk.doc_id" && $"seg_no" === $"wk.seg_no").as("keep")))
      .orderBy($"doc_id")
  }

  /** Fold per-segment keep verdicts (doc_id, seg_no, s, keep) back into
    * cleaned documents: one doc-keyed aggregate. q286's reassembly, and
    * per micro-batch its streaming twin's
    * ([[graft.streaming.EventStreams.streamSegmentDedupToParquet]]).
    */
  def reassembleSegments(segments: DataFrame): DataFrame =
    segments.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("seg_no"), col("s"))))),
            x => x.getField("s")), " ").as("clean_text"))

  def q286SegmentDedupSql(w: Int = 16): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_no,
      |          array_to_string(ws[(i-1)*$w+1 : i*$w], ' ') AS s
      |        FROM d, LATERAL (SELECT unnest(range(1,
      |          CAST(ceil(len(ws) / $w.0) AS INT) + 1)) AS i) t),
      |sh AS (SELECT doc_id, seg_no, s, md5(s) AS h FROM seg),
      |w AS (SELECT h, MIN(struct_pack(doc_id := doc_id, seg_no := seg_no)) AS wk
      |      FROM sh GROUP BY h),
      |f AS (SELECT sh.doc_id, sh.seg_no, sh.s,
      |        (sh.doc_id = struct_extract(w.wk, 'doc_id')
      |         AND sh.seg_no = struct_extract(w.wk, 'seg_no')) AS keep
      |      FROM sh JOIN w USING (h))
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  COALESCE(array_to_string(list_transform(
      |    list_sort(list(struct_pack(seg_no := seg_no, s := s)) FILTER (WHERE keep)),
      |    x -> x.s), ' '), '') AS clean_text
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val q228ClusterSplitSql: String =
    s"""$dupComponentCtes,
      |cl AS (
      |  SELECT d.doc_id, COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
      |bk AS (
      |  SELECT doc_id, cluster_rep,
      |    CAST(('0x' || substring(md5('split:' || CAST(cluster_rep AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM cl)
      |SELECT doc_id, cluster_rep, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      |FROM bk ORDER BY doc_id""".stripMargin
}
