package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Approximate-nearest-neighbor search over the embeddings table
  * (`Array[Float]`, dim 64): brute-force cosine top-k as the exact
  * baseline, and an IVF-bucketed variant as the 100 TB scale path.
  *
  * Cosine is computed by the native codegen'd CosineSimilarity expression
  * with sequential double accumulation — the same left-to-right summation
  * DuckDB's `list_sum` performs, so scores compare bit-for-bit against
  * the oracle.
  */
object Similarity {

  private val Dim = 64

  /** The registered near-dup / SemDedup cosine threshold. ONE
    * definition read by both twins (q43/q268 Scala defaults AND their
    * DuckDB oracle SQL) so a re-registration at a different τ cannot
    * silently diverge the Spark query from its oracle.
    */
  private[queries] val NearDupTau = 0.45
  private val K   = 3

  /** Cosine via the native codegen'd expression (graft.functions
    * .CosineSimilarity): one fused dot+norms loop per pair, same
    * sequential-double accumulation as DuckDB's list_sum fold — so the
    * score still compares bit-for-bit against the oracle.
    */
  private def cosine(s: SparkSession, a: Column, b: Column): Column = {
    graft.GraftExtensions.register(s)
    // call_function resolves through the registry — no fragile
    // Column.toString -> SQL-string round-trip
    call_function("cosine_similarity", a, b)
  }

  /** Brute-force cosine top-k: broadcast the query set, one scan of the
    * corpus, per-partition top-k heap + k-row merge (TakeOrdered via the
    * rank-filter window on qid). The exact baseline every ANN variant is
    * measured against.
    */
  def q50AnnBrute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val q = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    e.select($"vec_id".as("nid"), $"embedding".as("ne"))
      .crossJoin(broadcast(q))
      .filter($"nid" =!= $"qid")
      .withColumn("cos_sim", cosine(s, $"qe", $"ne"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= K)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"nid", $"cos_sim")
      .orderBy($"qid", $"rnk")
  }

  val q50AnnBruteSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT qid, e.vec_id AS nid,
      |    ${dot("qe", "e.embedding")} /
      |    (sqrt(${dot("qe", "qe")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos_sim
      |  FROM q, embeddings e WHERE e.vec_id <> qid)
      |SELECT qid, rnk, nid, cos_sim
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rnk
      |      FROM scored)
      |WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** Deterministic sampled k-means codebook (the FAISS IVF training
    * recipe re-expressed for Spark): hash-order the corpus, collect a
    * BOUNDED training sample to the driver (cap, not corpus-sized — at
    * 100 TB the sample stays ≤ `sampleCap` rows regardless of corpus
    * size, exactly how production IVF codebooks are trained), run
    * Lloyd's iterations locally with cosine assignment + renormalized
    * mean update, and return the centroids as a tiny (C × dim) frame
    * for broadcast. Deterministic end-to-end: the sample is the
    * xxhash64(vec_id) order (no RNG), seeds are evenly spaced in that
    * order, and Lloyd's is a pure function of the sample.
    */
  def trainCodebook(
      e: DataFrame, c: Int, iters: Int = 8, sampleCap: Int = 65536): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val sample = e.orderBy(xxhash64($"vec_id"), $"vec_id")
      .select($"embedding").limit(sampleCap)
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val normed = sample.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    if (normed.isEmpty) // empty corpus: empty codebook, queries stay empty
      return Seq.empty[(Int, Array[Float])].toDF("cid", "ce")
    val k = math.min(c, normed.length)
    // seeds: evenly spaced through the hash-ordered sample (scattered,
    // deterministic, insensitive to input file order)
    var cent = Array.tabulate(k)(i => normed(i * normed.length / k).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, cent(0).length)(0.0)
      val counts = new Array[Int](k)
      normed.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var j = 0
        while (j < k) {
          var dot = 0.0; var d = 0
          while (d < v.length) { dot += v(d) * cent(j)(d); d += 1 }
          if (dot > bestDot) { bestDot = dot; best = j }
          j += 1
        }
        counts(best) += 1
        var d = 0
        while (d < v.length) { sums(best)(d) += v(d); d += 1 }
      }
      cent = Array.tabulate(k) { j =>
        if (counts(j) == 0) cent(j) // empty cell keeps its centroid
        else {
          val m = sums(j).map(_ / counts(j))
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0.0) cent(j) else m.map(_ / n)
        }
      }
    }
    cent.zipWithIndex
      .map { case (v, i) => (i, v.map(_.toFloat)) }.toSeq
      .toDF("cid", "ce")
  }

  /** Embedding-cosine near-duplicate pairs (the dedup family's embedding
    * variant), bucketed: every vector is multi-assigned to its `nAssign`
    * nearest of `nCells` k-means cells, candidate pairs are vectors
    * sharing a cell, and candidates are EXACT-cosine-verified against τ
    * before a distinct — the same candidates→cheap-filter→exact-verify
    * shape as the q41/q42 text dedup. No corpus-sized broadcast (only
    * the C×dim codebook is broadcast) and no all-pairs crossJoin in the
    * plan: the pair stream is one shuffle join on cell id.
    *
    * Recall envelope: multi-assign coverage is probabilistic, validated
    * empirically against the exact oracle — (C=32, a=7) catches every
    * true τ≥0.45 pair at sf0.01 (14/14) and sf0.1 (144/144). These
    * synthetic embeddings are isotropic random — the WORST case for any
    * cell-based method (τ=0.45 sits at the noise floor of random 64-dim
    * cosines, so cells necessarily overlap heavily and the candidate
    * fraction stays high). On real embedding corpora near-dup pairs sit
    * at ρ≥0.9 in clustered regions, where the same plan prunes
    * aggressively; the exact q43-as-crossJoin form this replaces remains
    * the oracle's ground-truth definition.
    */
  def q43EmbedNearDup(s: SparkSession, dir: String,
      nCells: Int = 32, nAssign: Int = 7): DataFrame = {
    import s.implicits._
    nearDupPairs(s, dir, nCells, nAssign).orderBy($"d1", $"d2")
  }

  /** The bucketed exact-verified near-dup pair frame shared by q43 and
    * q268: distinct (d1, d2, cos_sim) with d1 < d2 and cos ≥ `tau`,
    * candidates from `nAssign`-way cell co-residency, unsorted.
    */
  private[queries] def nearDupPairs(s: SparkSession, dir: String,
      nCells: Int, nAssign: Int, tau: Double = NearDupTau): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val cent = trainCodebook(e, nCells)
    val wAssign = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cid")
    // materialize once: both self-join branches reference this frame, and
    // without it the corpus-wide assignment window executes twice per run
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(s, $"embedding", $"ce"))
      .withColumn("arnk", row_number().over(wAssign))
      .filter($"arnk" <= nAssign)
      .select($"vec_id", $"embedding", $"cid")
      .localCheckpoint(true)
    val a = assigned.select($"vec_id".as("d1"), $"embedding".as("x"), $"cid")
    val b = assigned.select($"vec_id".as("d2"), $"embedding".as("y"), $"cid")
    // verify BEFORE distinct (the q42 trick): the duplicated candidate
    // stream is large, τ-survivors are rare — the distinct shuffle only
    // ever sees survivors, and cos_sim is a pure function of the pair so
    // duplicates collapse exactly.
    a.join(b, Seq("cid")).filter($"d1" < $"d2")
      .withColumn("cos_sim", cosine(s, $"x", $"y"))
      .filter($"cos_sim" >= tau)
      .select($"d1", $"d2", $"cos_sim")
      .distinct()
  }

  /** q268 — SemDedup-style corpus-level embedding dedup (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): cluster the embedding
    * space with the deterministic k-means codebook, generate candidate
    * pairs ONLY within shared cells, exact-cosine-verify against τ, and
    * prune every vector that has a τ-neighbor ranked before it —
    * emitting the prune MANIFEST (pruned vec_id, its keeper = the
    * first-ranked τ-neighbor, their exact cosine), the dedup audit log
    * whose complement is the kept corpus.
    *
    * Contract choices, both deterministic where the paper is loose:
    * the keep-rule is smallest vec_id (the paper keeps the lowest
    * centroid-similarity member and reports the choice barely matters
    * — §4.1; an id rule makes the output independent of the clustering
    * and so exactly oracle-checkable), and the prune is the paper's
    * ONE-PASS dominated prune (a pruned vector can still dominate a
    * later one: in a chain a–b, b–c with cos(a,c) < τ, both b and c
    * are pruned), not a transitive-closure greedy — q45 already covers
    * connected-component grouping for that semantics.
    *
    * Registered configuration = q43's validated full-recall envelope
    * (C=32, a=7, τ=0.45 — every true τ-pair is caught at sf0.01 AND
    * sf0.1, re-checked by q43's own oracle gate each round), under
    * which the manifest provably equals the all-pairs ground truth the
    * DuckDB twin computes — the q51/q62 full-probe discipline. The
    * scale path (single-assignment, cluster-LOCAL prune — the paper's
    * actual configuration) is spec-graded: SemDedupSpec pins soundness
    * (a pruned id always has a real τ-neighbor, any assignment) and
    * recall on a clustered corpus.
    *
    * At 100 TB: one corpus scan + broadcast C×dim codebook for
    * assignment, one cell-keyed shuffle for candidates (never an
    * all-pairs join — plan-audited), exact verification riding the
    * codegen'd native cosine, and the keeper window runs on the
    * τ-SURVIVOR pair stream only (duplicate-pair rate × corpus, tiny
    * by definition in a deduped-ish corpus; the paper prunes 50% of
    * LAION at τ≈0.94 — still survivor-bounded). Cluster populations
    * are bounded by the k-means balance argument (q51), so per-cell
    * pair work is C(cell, 2)-bounded — the scale shape that makes
    * SemDedup tractable where q43's ε-ball enumeration at a LOW τ
    * would not be.
    */
  def q268SemDedup(s: SparkSession, dir: String,
      nCells: Int = 32, nAssign: Int = 7, tau: Double = NearDupTau): DataFrame = {
    import s.implicits._
    val pairs = nearDupPairs(s, dir, nCells, nAssign, tau)
    val wKeep = Window.partitionBy($"d2").orderBy($"d1")
    pairs.withColumn("rk", row_number().over(wKeep))
      .filter($"rk" === 1)
      .select($"d2".as("vec_id"), $"d1".as("keeper_id"), $"cos_sim")
      .orderBy($"vec_id")
  }

  val q268SemDedupSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    s"""WITH pairs AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2,
      |    ${dot("a.embedding", "b.embedding")} /
      |    (sqrt(${dot("a.embedding", "a.embedding")}) * sqrt(${dot("b.embedding", "b.embedding")})) AS cos_sim
      |  FROM embeddings a, embeddings b
      |  WHERE a.vec_id < b.vec_id
      |    AND ${dot("a.embedding", "b.embedding")} /
      |        (sqrt(${dot("a.embedding", "a.embedding")}) * sqrt(${dot("b.embedding", "b.embedding")})) >= $NearDupTau)
      |SELECT d2 AS vec_id, d1 AS keeper_id, cos_sim
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY d2 ORDER BY d1) AS rk
      |      FROM pairs)
      |WHERE rk = 1 ORDER BY vec_id""".stripMargin
  }

  val q43EmbedNearDupSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    s"""SELECT a.vec_id AS d1, b.vec_id AS d2,
      |  ${dot("a.embedding", "b.embedding")} /
      |  (sqrt(${dot("a.embedding", "a.embedding")}) * sqrt(${dot("b.embedding", "b.embedding")})) AS cos_sim
      |FROM embeddings a, embeddings b
      |WHERE a.vec_id < b.vec_id
      |  AND ${dot("a.embedding", "b.embedding")} /
      |      (sqrt(${dot("a.embedding", "a.embedding")}) * sqrt(${dot("b.embedding", "b.embedding")})) >= $NearDupTau
      |ORDER BY d1, d2""".stripMargin
  }

  /** Persist the corpus as an IVF index TABLE: vectors partitioned by
    * their k-means cell id, centroids alongside. This is the serving
    * layout at 100 TB — `partitionBy(cid)` means a probe of `nprobe`
    * cells is a PARTITION-PRUNED scan (the other C-nprobe cells are
    * never read from storage), where q51's in-query assignment must
    * still scan and shuffle the whole corpus once per run. Build once,
    * probe many.
    */
  def writeIvfIndex(
      s: SparkSession, dir: String, indexPath: String, nCentroids: Int = 8): Unit = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val cent = trainCodebook(e, nCentroids)
    val wAssign = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cid")
    e.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(s, $"embedding", $"ce"))
      .withColumn("arnk", row_number().over(wAssign))
      .filter($"arnk" === 1)
      .select($"vec_id", $"embedding", $"cid")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$indexPath/cells")
    cent.write.mode("overwrite").parquet(s"$indexPath/centroids")
  }

  /** Probe a persisted IVF index: nprobe nearest cells per query, with
    * the probed cell set pushed into the scan as a PARTITION filter
    * (collected driver-side first — the probe set is queries×nprobe cell
    * ids, trivially small — so the pruning is static and visible in the
    * plan, not dependent on runtime DPP).
    */
  def annIvfIndexed(
      s: SparkSession, indexPath: String, queries: DataFrame, nProbe: Int = 2): DataFrame = {
    import s.implicits._
    val cent = s.read.parquet(s"$indexPath/centroids")
    val wProbe = Window.partitionBy($"qid").orderBy($"csim".desc, $"cid")
    val probes = queries.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(s, $"qe", $"ce"))
      .withColumn("prnk", row_number().over(wProbe))
      .filter($"prnk" <= nProbe)
      .select($"qid", $"qe", $"cid")
    val probedCells = probes.select($"cid").distinct().collect().map(_.getInt(0))
    val cells = s.read.parquet(s"$indexPath/cells")
      .filter($"cid".isin(probedCells.toIndexedSeq.map(Integer.valueOf): _*)) // partition-pruned
      .select($"vec_id".as("nid"), $"embedding".as("ne"), $"cid")
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    probes.join(cells, "cid")
      .filter($"nid" =!= $"qid")
      .withColumn("cos_sim", cosine(s, $"qe", $"ne"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= K)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"nid", $"cos_sim")
      .orderBy($"qid", $"rnk")
  }

  /** Incremental maintenance of a persisted IVF index: assign each new
    * vector to its nearest FROZEN centroid (the production IVF
    * discipline — codebooks retrain offline; a serving index only
    * appends) and append it to that cell's partition directory. One
    * C×dim broadcast + one partitioned append per batch — no rebuild,
    * no corpus reshuffle — and probes see the new vectors on their next
    * scan with partition pruning intact.
    */
  def appendToIvfIndex(s: SparkSession, indexPath: String, vectors: DataFrame): Unit = {
    import s.implicits._
    val cent = s.read.parquet(s"$indexPath/centroids")
    val wAssign = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cid")
    vectors.select($"vec_id", $"embedding")
      .crossJoin(broadcast(cent))
      .withColumn("csim", cosine(s, $"embedding", $"ce"))
      .withColumn("arnk", row_number().over(wAssign))
      .filter($"arnk" === 1)
      .select($"vec_id", $"embedding", $"cid")
      .write.mode("append").partitionBy("cid").parquet(s"$indexPath/cells")
  }

  /** Streaming lane: keep the index fresh as embeddings arrive — each
    * micro-batch of (vec_id, embedding) rows is cell-assigned and
    * appended; the checkpoint makes ingestion resumable (at-least-once:
    * a retried batch re-appends, which top-k dedupes by vec_id
    * downstream when exactness matters).
    */
  def streamIntoIvfIndex(s: SparkSession, indexPath: String, vectors: DataFrame,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        appendToIvfIndex(s, indexPath, batch.toDF())
      }
      .start()

  /** q52: the persisted-index flavor of q51 — same query set, same
    * codebook recipe, same output contract; the corpus scan is partition-
    * pruned to the probed cells. Registered (full-probe) under the q50
    * exact oracle; the pruned nProbe<C path is pinned by spec to produce
    * EXACTLY q51's answer.
    */
  def q52AnnIvfIndexed(s: SparkSession, dir: String,
      nCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    import s.implicits._
    // one live index per (session, source dir, codebook size): a
    // FamilyCaches on-disk artifact, so Bench prices the build in
    // cache_build_sec and clear deletes the directory
    val indexPath = FamilyCaches.memoDir(s, s"ivfIndex:$nCentroids:$dir",
      "graft_ivf_index")(writeIvfIndex(s, dir, _, nCentroids))
    val q = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    annIvfIndexed(s, indexPath, q, nProbe)
  }

  /** IVF-bucketed ANN — the scale path: assign every vector to its nearest
    * of C k-means centroids (deterministic sampled training — see
    * trainCodebook), then probe only the `nprobe` nearest centroid
    * buckets per query. At 100 TB: the corpus is partitioned by
    * centroid id (one shuffle, or a bucketed table layout), each query
    * touches ~nprobe/C of the data, and k-means cells are balanced by
    * construction (arbitrary fixed vectors as the codebook — the round-2
    * form — gave arbitrary cell balance; a skewed cell at scale recreates
    * exactly the hot-partition problem IVF exists to avoid). Approximate
    * by construction — recall vs q50 is asserted in the test suite, not
    * by the SQL oracle.
    */
  /** The gate-registered IVF forms run FULL PROBE (nProbe = C): every
    * corpus vector sits in exactly one cell and the probe set covers all
    * cells, so each (query, vector) pair is scored exactly once and the
    * answer is provably identical to q50's brute-force result — which
    * lets the SQL oracle grade the whole IVF machinery (codebook
    * training, assignment, probe join, index layout) exactly. The
    * approximate nProbe < C configuration is the same code path, graded
    * for recall and q51≡q52 equality in AnnRecallSpec.
    */
  def q51AnnIvfFullProbe(s: SparkSession, dir: String): DataFrame =
    q51AnnIvf(s, dir, nCentroids = 8, nProbe = 8)

  /** Full-probe flavor of the persisted-index path — see
    * [[q51AnnIvfFullProbe]]; still exercises index build + cell-filtered
    * scan + probe join, with the probe filter selecting every cell.
    */
  def q52AnnIvfIndexedFullProbe(s: SparkSession, dir: String): DataFrame =
    q52AnnIvfIndexed(s, dir, nCentroids = 8, nProbe = 8)

  /** SRP-LSH ANN — the LSH-bucketed alternative to the IVF scale path
    * (brief: "an IVF or LSH-bucketed variant"; this engine ships both).
    * Every vector is hashed to one bucket per hash table by the native
    * codegen'd srp_bucket signature (signed random projections —
    * map-side, NO shuffle, exactly the q41/q42 signature discipline);
    * queries probe all buckets within Hamming distance `probeRadius` of
    * their own signature (multi-probe LSH: the standard trick to cut
    * table count at fixed recall), candidates are exact-cosine scored,
    * deduped across tables AFTER scoring (cos is a pure pair function —
    * the q43 verify-before-distinct shape), and top-k selected.
    *
    * At 100 TB: corpus signatures ride the scan; the probe frame is
    * queries × nTables × Σ C(nBits, ≤r) rows and is broadcast; the only
    * shuffle is the top-k window over scored candidates, and each query
    * touches ~(probe buckets / 2^nBits) of the corpus.
    */
  def q57AnnSrp(s: SparkSession, dir: String,
      nBits: Int = 6, nTables: Int = 2, probeRadius: Int = 1): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val e = Tables.load(s, dir, "embeddings")
    def sigs(v: Column): Column = array((0 until nTables).map(t =>
      struct(lit(t).as("t"),
        call_function("srp_bucket", v, lit(nBits), lit(t)).as("bkt"))): _*)
    val corpus = e
      .select($"vec_id".as("nid"), $"embedding".as("ne"), explode(sigs($"embedding")).as("tb"))
      .select($"nid", $"ne", $"tb.t".as("t"), $"tb.bkt".as("bkt"))
    // multi-probe masks: all signature perturbations with ≤ probeRadius
    // bits flipped (probeRadius = nBits ⇒ every bucket ⇒ provably exact)
    val masks = (0 until (1 << nBits)).filter(m => Integer.bitCount(m) <= probeRadius)
    val probes = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), explode(sigs($"embedding")).as("tb"))
      .select($"qid", $"qe", $"tb.t".as("t"),
        explode(array(masks.map(m => ($"tb.bkt".bitwiseXOR(lit(m)))): _*)).as("bkt"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    corpus.join(broadcast(probes), Seq("t", "bkt"))
      .filter($"nid" =!= $"qid")
      .withColumn("cos_sim", cosine(s, $"qe", $"ne"))
      .select($"qid", $"nid", $"cos_sim")
      .distinct() // a pair found by several tables/probes collapses exactly
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= K)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"nid", $"cos_sim")
      .orderBy($"qid", $"rnk")
  }

  /** The gate-registered SRP form: ONE table, probe radius = nBits — the
    * probe set covers all 2^nBits buckets, each corpus vector sits in
    * exactly one bucket per table, so every (query, vector) pair is
    * scored exactly once and the answer is provably identical to q50's
    * brute force (the IVF full-probe trick applied to LSH). The DuckDB
    * oracle thereby grades the whole LSH machinery — native signature,
    * multi-probe expansion, bucket join, dedup, top-k — exactly; the
    * approximate (nTables=2, radius=1) configuration is the same code
    * path, recall-graded in AnnRecallSpec.
    */
  def q57AnnSrpFullProbe(s: SparkSession, dir: String): DataFrame =
    q57AnnSrp(s, dir, nBits = 6, nTables = 1, probeRadius = 6)

  /** Per-sub-space PQ codebook training (the FAISS PQ recipe under the
    * same bounded-sample discipline as [[trainCodebook]]): collect a
    * deterministic hash-ordered sample capped at `sampleCap` rows,
    * L2-normalize, and run Lloyd's independently per sub-space with L2
    * assignment over sub-vectors. Returns the flat row-major
    * (m × k × subDim) float codebook that `pq_encode`/`pq_lut` carry
    * as a codegen constant. Deterministic end-to-end — no RNG, seeds
    * evenly spaced in hash order, pure function of the sample.
    */
  def trainPqCodebook(
      e: DataFrame, m: Int, k: Int, iters: Int = 8, sampleCap: Int = 65536): Array[Float] = {
    val s = e.sparkSession
    import s.implicits._
    val subDim = Dim / m
    require(m * subDim == Dim, s"trainPqCodebook: m=$m must divide dim=$Dim")
    val sample = e.orderBy(xxhash64($"vec_id"), $"vec_id")
      .select($"embedding").limit(sampleCap)
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val normed = sample.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val flat = new Array[Float](m * k * subDim)
    if (normed.isEmpty) return flat // empty corpus: zero codebook, queries stay empty
    for (sub <- 0 until m) {
      val subVecs = normed.map(v => v.slice(sub * subDim, (sub + 1) * subDim))
      val kk = math.min(k, subVecs.length)
      var cent = Array.tabulate(kk)(i => subVecs(i * subVecs.length / kk).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(kk, subDim)(0.0)
        val counts = new Array[Int](kk)
        subVecs.foreach { v =>
          var best = 0; var bestDist = Double.MaxValue
          var j = 0
          while (j < kk) {
            var dist = 0.0; var d = 0
            while (d < subDim) { val diff = v(d) - cent(j)(d); dist += diff * diff; d += 1 }
            if (dist < bestDist) { bestDist = dist; best = j }
            j += 1
          }
          counts(best) += 1
          var d = 0
          while (d < subDim) { sums(best)(d) += v(d); d += 1 }
        }
        cent = Array.tabulate(kk) { j =>
          if (counts(j) == 0) cent(j) else sums(j).map(_ / counts(j))
        }
      }
      for (j <- 0 until kk; d <- 0 until subDim)
        flat((sub * k + j) * subDim + d) = cent(j)(d).toFloat
      // unfilled slots (kk < k on tiny samples) stay zero vectors: valid
      // centroids that simply never win an argmin against real data
    }
    flat
  }

  /** PQ-compressed ANN (asymmetric distance computation) — the third
    * scale path alongside IVF (q51/q52) and SRP-LSH (q57), and the one
    * that changes the 100 TB SCAN cost: the corpus rides the plan as M
    * one-byte-scale code ids per vector (32× smaller than the float
    * vectors), candidates are scored per pair by O(M) table lookups
    * (`pq_adc`), and only the top `rerank` candidates per query fetch
    * their full vector (a survivors-only shuffle join back to the
    * corpus) for exact-cosine re-ranking. Encoding and the per-query
    * LUT are map-side native codegen (the signature discipline); the
    * codebook is a train-time constant inside the generated code.
    */
  def q63AnnPq(s: SparkSession, dir: String,
      m: Int = 8, k: Int = 16, rerank: Int = 32): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val e = Tables.load(s, dir, "embeddings")
    val cb = typedLit(trainPqCodebook(e, m, k))
    val corpus = e.select($"vec_id".as("nid"),
      call_function("pq_encode", $"embedding", cb, lit(m), lit(k)).as("codes"))
    val q = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"),
        call_function("pq_lut", $"embedding", cb, lit(m), lit(k)).as("lut"))
    val wAdc = Window.partitionBy($"qid").orderBy($"adc".desc, $"nid")
    val cands = corpus.crossJoin(broadcast(q))
      .filter($"nid" =!= $"qid")
      .withColumn("adc", call_function("pq_adc", $"lut", $"codes"))
      .withColumn("crnk", row_number().over(wAdc))
      .filter($"crnk" <= rerank)
      .select($"qid", $"qe", $"nid")
    // re-rank fetch: survivors only — the full-vector table is touched
    // for rerank×queries rows, never scanned corpus-wide
    val fetch = e.select($"vec_id".as("nid"), $"embedding".as("ne"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    cands.join(fetch, "nid")
      .withColumn("cos_sim", cosine(s, $"qe", $"ne"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= K)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"nid", $"cos_sim")
      .orderBy($"qid", $"rnk")
  }

  /** The gate-registered PQ form: re-rank budget covers the whole
    * corpus, so the exact-cosine re-rank provably returns q50's
    * brute-force answer while the oracle still executes the full PQ
    * machinery — codebook training, corpus encoding, LUT build, ADC
    * scoring, candidate window, survivors-only fetch join. The
    * approximate (small-rerank) configuration is the same code path,
    * recall-graded in AnnRecallSpec.
    */
  def q63AnnPqFullRerank(s: SparkSession, dir: String): DataFrame =
    q63AnnPq(s, dir, rerank = Int.MaxValue)

  /** IVF-PQ — the two scale mechanisms COMPOSED, which is the actual
    * production serving architecture (FAISS `IndexIVFPQ`): IVF cells
    * bound WHICH vectors a query touches (~nProbe/C of the corpus), PQ
    * codes bound WHAT is read and computed per touched vector (M code
    * ids + an O(M) ADC lookup instead of the full float vector), and
    * only the top-`rerank` ADC candidates fetch their real vectors for
    * exact-cosine ordering. Shapes: both codebooks train on the same
    * bounded driver sample; cell assignment, PQ codes, and the query
    * LUT are all map-side native codegen; the probe join shuffles on
    * cell id only; the re-rank fetch is survivors-sized.
    */
  def q76AnnIvfPq(s: SparkSession, dir: String, nCentroids: Int = 8,
      nProbe: Int = 8, m: Int = 8, k: Int = 16, rerank: Int = 32): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val e = Tables.load(s, dir, "embeddings")
    val cent = trainCodebook(e, nCentroids)
    val cb = typedLit(trainPqCodebook(e, m, k))
    // corpus side: cell id (IVF) + codes (PQ) — no full vectors carried
    val wAssign = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cid")
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(s, $"embedding", $"ce"))
      .withColumn("arnk", row_number().over(wAssign))
      .filter($"arnk" === 1)
      .select($"vec_id".as("nid"),
        call_function("pq_encode", $"embedding", cb, lit(m), lit(k)).as("codes"),
        $"cid")
    // query side: probed cells + ADC lookup table
    val q = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val wProbe = Window.partitionBy($"qid").orderBy($"csim".desc, $"cid")
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(s, $"qe", $"ce"))
      .withColumn("prnk", row_number().over(wProbe))
      .filter($"prnk" <= nProbe)
      .select($"qid", $"qe",
        call_function("pq_lut", $"qe", cb, lit(m), lit(k)).as("lut"), $"cid")
    val wAdc = Window.partitionBy($"qid").orderBy($"adc".desc, $"nid")
    val cands = probes.join(assigned, "cid")
      .filter($"nid" =!= $"qid")
      .withColumn("adc", call_function("pq_adc", $"lut", $"codes"))
      .withColumn("crnk", row_number().over(wAdc))
      .filter($"crnk" <= rerank)
      .select($"qid", $"qe", $"nid")
    val fetch = e.select($"vec_id".as("nid"), $"embedding".as("ne"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    cands.join(fetch, "nid")
      .withColumn("cos_sim", cosine(s, $"qe", $"ne"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= K)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"nid", $"cos_sim")
      .orderBy($"qid", $"rnk")
  }

  /** Gate-registered IVF-PQ: full probe (every cell) AND full re-rank
    * (every ADC candidate exact-scored) ⇒ provably ≡ q50 brute force —
    * the exact oracle grades BOTH compositions at once: cell training/
    * assignment/probe join (IVF) and encode/LUT/ADC (PQ). The pruned
    * (nProbe<C, small-rerank) configuration is the same code path,
    * recall-graded in AnnRecallSpec.
    */
  def q76AnnIvfPqFull(s: SparkSession, dir: String): DataFrame =
    q76AnnIvfPq(s, dir, nProbe = 8, rerank = Int.MaxValue)

  /** Per-dimension SQ8 train stats from the bounded hash-ordered
    * driver sample (the codebook-training discipline — at 100 TB the
    * sample stays ≤ `sampleCap` rows regardless of corpus size).
    */
  def trainSq8(e: DataFrame,
      sampleCap: Int = 65536): (Array[Float], Array[Float]) = {
    val s = e.sparkSession
    import s.implicits._
    val sample = e.orderBy(xxhash64($"vec_id"), $"vec_id")
      .select($"embedding").limit(sampleCap)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    graft.functions.ScalarQuantizer.train(sample, Dim)
  }

  /** q197: SQ8 scalar-quantized ANN — the fourth quantizer rung
    * (FAISS `IndexScalarQuantizer`): every dimension maps onto its own
    * 256-level uniform [min, max] grid, so the corpus rides the scan
    * as dim one-byte codes (4× smaller than floats, no codebook in the
    * scoring loop — cheaper decode than PQ at milder compression).
    * Scoring is asymmetric like ADC: full-precision query against the
    * dequantized candidate via the native `sq8_cos` hot loop; the top
    * `rerank` approximate candidates fetch their real vectors
    * (survivors-only join) for exact-cosine ordering. Encode and
    * scoring are map-side native codegen; the (min, scale) stats train
    * on the bounded driver sample and travel as codegen reference
    * objects.
    */
  def q197AnnSq8(s: SparkSession, dir: String, rerank: Int = 32): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val e = Tables.load(s, dir, "embeddings")
    val (mins, scales) = trainSq8(e)
    val minsL = typedLit(mins)
    val scalesL = typedLit(scales)
    val corpus = e.select($"vec_id".as("nid"),
      call_function("sq8_encode", $"embedding", minsL, scalesL).as("codes"))
    val q = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val wApprox = Window.partitionBy($"qid").orderBy($"approx".desc, $"nid")
    val cands = corpus.crossJoin(broadcast(q))
      .filter($"nid" =!= $"qid")
      .withColumn("approx",
        call_function("sq8_cos", $"qe", $"codes", minsL, scalesL))
      .withColumn("crnk", row_number().over(wApprox))
      .filter($"crnk" <= rerank)
      .select($"qid", $"qe", $"nid")
    val fetch = e.select($"vec_id".as("nid"), $"embedding".as("ne"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    cands.join(fetch, "nid")
      .withColumn("cos_sim", cosine(s, $"qe", $"ne"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= K)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"nid", $"cos_sim")
      .orderBy($"qid", $"rnk")
  }

  /** Gate-registered SQ8 form: full re-rank (every candidate
    * exact-scored) ⇒ provably ≡ q50 brute force, so the exact oracle
    * grades the whole machinery — stats training, corpus encoding,
    * asymmetric `sq8_cos` scoring, candidate window, survivors-only
    * fetch. The approximate small-rerank path is the same code,
    * recall-graded in AnnRecallSpec.
    */
  def q197AnnSq8Full(s: SparkSession, dir: String): DataFrame =
    q197AnnSq8(s, dir, rerank = Int.MaxValue)

  /** q212: leave-one-out kNN classification report — does the
    * embedding space actually separate the labels? Every vector is
    * classified by the majority label of its 3 nearest neighbors
    * (itself excluded; ties break to the smallest label), and the
    * report is per-label accuracy — the evaluation that decides
    * whether q43/q111-style embedding gates can be trusted, next to
    * q150's cheaper centroid-purity proxy. This is the deliberate
    * EXACT all-pairs baseline (the q40/q50 discipline): at corpus
    * scale the same vote runs over any ANN family member's top-k
    * instead. Cosines are the bit-identical native expression; votes
    * and accuracies are exact integers + one division.
    */
  def q212KnnEval(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val e = Tables.load(s, dir, "embeddings")
    // r16 optimization: this is the one true all-pairs lane (N² pairs —
    // the deliberate exact baseline), and the fused cosine kernel
    // re-derived BOTH vector norms per pair, tripling the per-pair fp
    // work. Precompute each vector's norm ONCE; per pair only the dot
    // remains. Bit-identical: the dot accumulates in the same index
    // order, sqrt is IEEE-correctly-rounded, so dot/(qn·nn) reproduces
    // the fused dot/(sqrt(nx)·sqrt(ny)) exactly, and the zero-norm ⇒
    // 0.0 convention is the same guard (nrm == 0 ⟺ Σx² == 0).
    val en = e.select($"vec_id", $"embedding", $"label",
      sqrt(call_function("dot_product", $"embedding", $"embedding")).as("nrm"))
    val q = en.select($"vec_id".as("qid"), $"embedding".as("qe"),
      $"label".as("true_label"), $"nrm".as("qn"))
    val cand = en.select($"vec_id".as("nid"), $"embedding".as("ne"),
        $"label".as("nlabel"), $"nrm".as("nn"))
      .crossJoin(broadcast(q))
      .filter($"nid" =!= $"qid")
      .withColumn("cos_sim",
        when($"qn" === 0.0 || $"nn" === 0.0, lit(0.0))
          .otherwise(
            call_function("dot_product", $"qe", $"ne") / ($"qn" * $"nn")))
      // project the vectors away immediately (guide §2.3): the vote
      // only needs (qid, true_label, nid, nlabel, cos_sim)
      .select($"qid", $"true_label", $"nid", $"nlabel", $"cos_sim")
    // bounded top-k + majority vote as ONE map-side-partial aggregate
    // (graft.functions.KnnVote — the BottomKSketch typed-Aggregator
    // lane): the sort-based window spelling paid a full local sort of
    // all N² candidate rows to keep 3 per query (WindowGroupLimit
    // prunes the exchange, not the sort — measured 4 s of the lane's
    // 6 s at sf0.1). Selection rule (cos DESC, nid ASC) and the vote
    // argmax (votes DESC, label ASC) are the window spelling's exact
    // semantics; KnnVoteSpec pins frame equality, the unchanged oracle
    // the end-to-end law.
    val knn = udaf(graft.functions.KnnVote.aggregator(k))
    val pred = cand.groupBy($"qid", $"true_label")
      .agg(knn($"cos_sim", $"nid", $"nlabel").as("pred_label"))
    pred.groupBy($"true_label".as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"pred_label" === $"true_label", 1L).otherwise(0L))
          .as("n_correct"))
      .select($"label", $"n_vecs", $"n_correct",
        ($"n_correct".cast("double") / $"n_vecs").as("accuracy"))
      .orderBy($"label")
  }

  def q212KnnEvalSql(k: Int = 3): String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    s"""WITH scored AS (
      |  SELECT q.vec_id AS qid, q.label AS true_label,
      |    e.vec_id AS nid, e.label AS nlabel,
      |    ${dot("q.embedding", "e.embedding")} /
      |    (sqrt(${dot("q.embedding", "q.embedding")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos_sim
      |  FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
      |top AS (
      |  SELECT qid, true_label, nlabel
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY cos_sim DESC, nid) AS rnk FROM scored)
      |  WHERE rnk <= $k),
      |votes AS (
      |  SELECT qid, true_label, nlabel, CAST(COUNT(*) AS BIGINT) AS votes
      |  FROM top GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT qid, true_label, nlabel AS pred_label
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY votes DESC, nlabel) AS vr FROM votes)
      |  WHERE vr = 1)
      |SELECT true_label AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS accuracy
      |FROM pred GROUP BY 1 ORDER BY label""".stripMargin
  }

  def q51AnnIvf(s: SparkSession, dir: String, nCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val cent = trainCodebook(e, nCentroids)
    // assign: nearest centroid per corpus vector (broadcast C centroids)
    val wAssign = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cid")
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(s, $"embedding", $"ce"))
      .withColumn("arnk", row_number().over(wAssign))
      .filter($"arnk" === 1)
      .select($"vec_id".as("nid"), $"embedding".as("ne"), $"cid")
    // probe: nprobe nearest centroids per query
    val q = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val wProbe = Window.partitionBy($"qid").orderBy($"csim".desc, $"cid")
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(s, $"qe", $"ce"))
      .withColumn("prnk", row_number().over(wProbe))
      .filter($"prnk" <= nProbe)
      .select($"qid", $"qe", $"cid")
    // search only the probed buckets
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    probes.join(assigned, "cid")
      .filter($"nid" =!= $"qid")
      .withColumn("cos_sim", cosine(s, $"qe", $"ne"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= K)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"nid", $"cos_sim")
      .orderBy($"qid", $"rnk")
  }

  /** q111: SEMANTIC eval-set decontamination — the embedding-space twin
    * of q59's n-gram decontamination: flag corpus vectors whose cosine
    * similarity to ANY held-out eval vector exceeds a threshold
    * (paraphrased eval leakage that exact shingle overlap misses; the
    * public SemDedup/decontamination recipe). Eval set = every 20th
    * vector; corpus = the rest. One corpus scan against the broadcast
    * eval frame, aggregated per corpus vector — max and count are
    * order-independent (exact double comparisons), so no ordered-fold
    * machinery is needed. At 100 TB the eval set stays a broadcast
    * (eval suites are small by construction) and the scan is
    * embarrassingly parallel; a too-big eval set would route through
    * the IVF index path (q52) instead.
    */
  def q111SemanticDecontam(s: SparkSession, dir: String, tau: Double = 0.6): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val ev = e.filter($"vec_id" % 20 === 0)
      .select($"vec_id".as("eid"), $"embedding".as("ee"))
    e.filter($"vec_id" % 20 =!= 0)
      .select($"vec_id".as("nid"), $"embedding".as("ne"))
      .crossJoin(broadcast(ev))
      .withColumn("cos_sim", cosine(s, $"ne", $"ee"))
      .groupBy($"nid")
      .agg(max($"cos_sim").as("max_sim"),
        sum(when($"cos_sim" > tau, 1L).otherwise(0L)).as("n_over"))
      .withColumn("contaminated", $"max_sim" > tau)
      .orderBy($"nid")
  }

  /** q117: retrieval-quality evaluation — the measurement half of the
    * ANN family (every embedding pipeline reports MRR/precision@k
    * against labeled data before swapping an index in). Exact top-k per
    * labeled query (the q50 shape: broadcast query set, deterministic
    * (cos desc, nid) ranking), relevance = label equality, then
    * per-query reciprocal rank and precision@k. RR folds as
    * MAX(relevant ? 1/rank) — order-independent, one exact IEEE
    * division — and precision@4 is an exact dyadic fraction, so no
    * single-precision presentation is needed anywhere.
    */
  def q117RetrievalEval(s: SparkSession, dir: String, k: Int = 4): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val q = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"label".as("q_label"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    e.select($"vec_id".as("nid"), $"embedding".as("ne"), $"label".as("n_label"))
      .crossJoin(broadcast(q))
      .filter($"nid" =!= $"qid")
      .withColumn("cos_sim", cosine(s, $"qe", $"ne"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .groupBy($"qid", $"q_label")
      .agg(
        coalesce(max(when($"n_label" === $"q_label", lit(1.0) / $"rnk")), lit(0.0))
          .as("reciprocal_rank"),
        sum(when($"n_label" === $"q_label", 1L).otherwise(0L)).as("n_relevant"),
        (sum(when($"n_label" === $"q_label", 1L).otherwise(0L)) / k)
          .as("precision_at_k"))
      .orderBy($"qid")
  }

  val q117RetrievalEvalSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS q_label
      |           FROM embeddings WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT qid, q_label, e.vec_id AS nid, e.label AS n_label,
      |    ${dot("qe", "e.embedding")} /
      |    (sqrt(${dot("qe", "qe")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos_sim
      |  FROM q, embeddings e WHERE e.vec_id <> qid),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rnk
      |  FROM scored)
      |SELECT qid, q_label,
      |  COALESCE(MAX(CASE WHEN n_label = q_label THEN CAST(1.0 AS DOUBLE) / rnk END),
      |           CAST(0 AS DOUBLE)) AS reciprocal_rank,
      |  CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant,
      |  SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) / 4 AS precision_at_k
      |FROM ranked WHERE rnk <= 4
      |GROUP BY qid, q_label ORDER BY qid""".stripMargin
  }

  val q111SemanticDecontamSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    s"""WITH ev AS (SELECT vec_id AS eid, embedding AS ee FROM embeddings WHERE vec_id % 20 = 0),
      |scored AS (
      |  SELECT e.vec_id AS nid,
      |    ${dot("e.embedding", "ev.ee")} /
      |    (sqrt(${dot("e.embedding", "e.embedding")}) * sqrt(${dot("ev.ee", "ev.ee")})) AS cos_sim
      |  FROM embeddings e, ev WHERE e.vec_id % 20 <> 0)
      |SELECT nid, max(cos_sim) AS max_sim,
      |  CAST(SUM(CASE WHEN cos_sim > 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
      |  max(cos_sim) > 0.6 AS contaminated
      |FROM scored GROUP BY nid ORDER BY nid""".stripMargin
  }

  /** q150: nearest-centroid label purity — the label-noise screen an
    * embedding pipeline runs before trusting its labels: per-label
    * centroids (the Rocchio / nearest-class-mean classifier, public
    * formulation), assign every vector to its nearest centroid by
    * squared euclidean distance, report per label how many vectors
    * defect to another label's centroid. Executed as explode +
    * codegen'd aggregations: centroids are a (labels × dims) frame
    * built by one map-side-partial aggregation, broadcast back; the
    * distance aggregation map-side-reduces the ×dims fan-out so the
    * shuffle carries only (vec, label) partials. (At extreme scale the
    * per-row alternative — a native expression folding each vector
    * against broadcast centroid arrays — removes the fan-out
    * entirely; the q41 MinHash lesson.) Determinism: centroid means
    * and distances round to the 6-dp grid on both engines before the
    * argmin (the q128/q140 discipline), and centroid-label ties break
    * ascending — bit-stable assignment everywhere.
    */
  def q150CentroidPurity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ex = Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"label", posexplode($"embedding").as(Seq("p", "xf")))
      .select($"vec_id", $"label", ($"p" + 1).as("dim"),
        $"xf".cast("double").as("x"))
    val cen = ex.groupBy($"label".as("c_label"), $"dim")
      .agg(round(sum($"x") / count(lit(1)), 6).as("c"))
    val dist = ex.join(broadcast(cen), "dim")
      .groupBy($"vec_id", $"label", $"c_label")
      .agg(round(sum(($"x" - $"c") * ($"x" - $"c")), 6).as("d2"))
    val w = Window.partitionBy($"vec_id").orderBy($"d2", $"c_label")
    val pred = dist
      .withColumn("rnk", row_number().over(w)).filter($"rnk" === 1)
      .select($"vec_id", $"label", $"c_label".as("pred_label"))
    pred.groupBy($"label").agg(
      count(lit(1)).as("n_vecs"),
      sum(when($"pred_label" =!= $"label", 1L).otherwise(0L)).as("n_impure"))
      .withColumn("purity",
        lit(1.0) - $"n_impure".cast("double") / $"n_vecs")
      .orderBy($"label")
  }

  val q150CentroidPuritySql: String =
    """WITH ex AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |cen AS (
      |  SELECT label AS c_label, dim, round(SUM(x) / COUNT(*), 6) AS c
      |  FROM ex GROUP BY 1, 2),
      |dist AS (
      |  SELECT vec_id, label, c_label, round(SUM((x - c) * (x - c)), 6) AS d2
      |  FROM ex JOIN cen USING (dim)
      |  GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT vec_id, label, c_label AS pred_label
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
      |          ORDER BY d2, c_label) AS rnk FROM dist)
      |  WHERE rnk = 1)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(SUM(CASE WHEN pred_label <> label THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_impure,
      |  1.0 - CAST(SUM(CASE WHEN pred_label <> label THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*) AS purity
      |FROM pred GROUP BY label ORDER BY label""".stripMargin

  /** q236: dominant principal direction of the embedding corpus via
    * QUANTIZED power iteration — the "common component removal"
    * primitive of Arora et al. 2017 (subtracting the top singular
    * direction from sentence/doc embeddings) and the first step of any
    * PCA-whitening pass over an embedding store. v₀ is the uniform unit
    * vector (1/√64 = 0.125 exactly, dyadic); each of the exactly
    * `rounds` rounds computes per row the ordered-fold dot ⟨x, v⟩
    * (native codegen'd [[graft.functions.DotProduct]] ≡ DuckDB's
    * `list_sum(list_transform(...))`, proven bit-identical on the
    * cosine lane), QUANTIZES each per-row contribution
    * `floor((dot·x_k)·10⁶)` to an exact BIGINT, and sums — so the
    * inter-round state is integer-exact and ORDER-FREE across
    * partitionings, the one place a distributed float sum could
    * diverge; normalization folds the 64 squares in ascending-k order
    * (bounded frame, q225 discipline). Output: the unit direction per
    * dimension plus the share of the corpus second moment the
    * direction captures (quantized Rayleigh / quantized total, two
    * exact BIGINTs into one double division).
    *
    * Scale shape: per round ONE embeddings scan with a 64-column
    * map-side-partial aggregate (no shuffle beyond the 1-row combine;
    * the direction rides to executors as a 64-double literal) —
    * `rounds` linear passes is the honest cost of power iteration; the
    * driver only ever holds 64 longs. The 10⁶ quantum bounds per-row
    * contributions ≤ ~10⁷, so corpus sums stay inside BIGINT up to
    * ~10¹¹ rows — shrink the quantum with corpus growth beyond that
    * (parameterized).
    */
  def q236PcaPower(s: SparkSession, dir: String, rounds: Int = 8): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val emb = Tables.load(s, dir, "embeddings")
      .select($"embedding").localCheckpoint(true) // scanned once, reused per round
    val q = lit(1000000.0)
    var v = Array.fill(Dim)(0.125)
    for (_ <- 1 to rounds) {
      val dots = emb.withColumn("dot",
        call_function("dot_product", $"embedding", typedLit(v)))
      val aggs = (0 until Dim).map(k =>
        sum(floor(($"dot" * get($"embedding", lit(k))) * q).cast("long")).as(s"s$k"))
      val row = dots.agg(aggs.head, aggs.tail: _*).collect().head
      val sArr = Array.tabulate(Dim)(k => row.getLong(k))
      var acc = 0.0 // ascending-k fold — the oracle's list(... ORDER BY kk) reduce
      sArr.foreach { sv => val d = sv.toDouble; acc += d * d }
      val norm = math.sqrt(acc)
      v = sArr.map(_.toDouble / norm)
    }
    val withDot = emb.withColumn("dot",
      call_function("dot_product", $"embedding", typedLit(v)))
    val mom = withDot.agg(
      sum(floor(($"dot" * $"dot") * q).cast("long")).as("r"),
      sum(floor(call_function("dot_product", $"embedding", $"embedding") * q)
        .cast("long")).as("t")).collect().head
    val explained = (mom.getLong(0).toDouble / mom.getLong(1).toDouble).toFloat
    (0 until Dim).map(k => ((k + 1).toLong, v(k).toFloat, explained))
      .toDF("k", "component", "explained_pct")
      .orderBy($"k")
  }

  def q236PcaPowerSql(rounds: Int = 8): String = {
    val v0 = Seq.fill(Dim)("CAST(0.125 AS DOUBLE)").mkString("[", ", ", "]")
    def roundCte(k: Int) =
      s"""d$k AS (
         |  SELECT e.embedding, list_sum(list_transform(range(1, ${Dim + 1}),
         |    i -> CAST(e.embedding[i] AS DOUBLE) * v.vec[i])) AS dot
         |  FROM emb e CROSS JOIN p${k - 1} v),
         |s$k AS MATERIALIZED (
         |  SELECT u.k AS kk,
         |    CAST(SUM(CAST(FLOOR((u.dot * u.x) * 1000000.0) AS BIGINT)) AS BIGINT) AS s
         |  FROM (SELECT dot, unnest(embedding) AS x,
         |          generate_subscripts(embedding, 1) AS k FROM d$k) u
         |  GROUP BY u.k),
         |n$k AS MATERIALIZED (
         |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) ORDER BY kk)),
         |    (a, x) -> a + x) AS acc
         |  FROM s$k),
         |p$k AS MATERIALIZED (
         |  SELECT list(CAST(s AS DOUBLE) / sqrt(n.acc) ORDER BY kk) AS vec
         |  FROM s$k, n$k n)""".stripMargin
    val roundCtes = (1 to rounds).map(roundCte).mkString(",\n")
    s"""WITH emb AS (SELECT embedding FROM embeddings),
      |p0 AS (SELECT $v0::DOUBLE[] AS vec),
      |$roundCtes,
      |df AS (
      |  SELECT e.embedding, list_sum(list_transform(range(1, ${Dim + 1}),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * v.vec[i])) AS dot
      |  FROM emb e CROSS JOIN p$rounds v),
      |rq AS (SELECT CAST(SUM(CAST(FLOOR((dot * dot) * 1000000.0) AS BIGINT)) AS BIGINT) AS r
      |       FROM df),
      |tq AS (SELECT CAST(SUM(CAST(FLOOR(list_sum(list_transform(range(1, ${Dim + 1}),
      |         i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
      |         * 1000000.0) AS BIGINT)) AS BIGINT) AS t
      |       FROM emb)
      |SELECT CAST(s.kk AS BIGINT) AS k,
      |  CAST(CAST(s.s AS DOUBLE) / sqrt(n.acc) AS FLOAT) AS component,
      |  CAST(CAST(rq.r AS DOUBLE) / CAST(tq.t AS DOUBLE) AS FLOAT) AS explained_pct
      |FROM s$rounds s, n$rounds n, rq, tq
      |ORDER BY k""".stripMargin
  }

  /** Hamming-shortlist size for q261 (rerank pool per query). */
  private val BinShortlist = 16

  /** q261 — binary (sign) quantization ANN: the 1-bit rung of the
    * quantization ladder under PQ (q63) and SQ8. Each 64-dim vector
    * compresses to TWO 32-bit sign codes (bit i of half h set iff
    * dim 32h+i > 0) — 16 bytes against 256, so at 100 TB the code
    * table lives where the float table cannot; candidate scan cost is
    * two XOR+POPCNT per pair inside whole-stage codegen (exact
    * integers, no libm anywhere in the shortlist). The deployment
    * recipe is staged: Hamming top-`BinShortlist` shortlist per query
    * (distance ASC, nid tie-break), then exact cosine rerank of the
    * shortlist to top-K, graded in-line against the exact
    * full-cosine top-K (`in_exact_topk` — the q212 discipline: the
    * truth column exists only to grade; the registered scale path is
    * codes + rerank).
    *
    * At 100 TB: queries broadcast twice (code probe, then float rerank
    * of K·shortlist rows); the corpus is scanned once over the 16-byte
    * code frame; rerank touches `shortlist` float rows per query. The
    * exact-truth branch (full cosine) is the deliberate grading
    * baseline, exactly q50's shape.
    */
  /** Sign codes (two 32-bit halves) for every vector — shared by the
    * brute q261 and the IVF-bucketed q262.
    */
  private def binCodes(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    def half(h: Int): Column =
      aggregate(sequence(lit(0), lit(31)), lit(0L),
        (acc, i) => acc + when(get($"embedding", lit(32 * h) + i) > lit(0.0),
          pow(lit(2.0), i).cast("long")).otherwise(lit(0L)))
    e.select($"vec_id", half(0).as("c0"), half(1).as("c1"))
  }

  /** Cosine-rerank a Hamming shortlist to top-[[K]] and grade each row
    * against the exact full-cosine top-K (`in_exact_topk`) — the shared
    * tail of q261/q262.
    */
  private def rerankAndGrade(s: SparkSession, e: DataFrame,
      shortlist: DataFrame): DataFrame = {
    import s.implicits._
    val qe = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val wc = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    val reranked = shortlist
      .join(e.select($"vec_id".as("nid"), $"embedding".as("ne")), Seq("nid"))
      .join(broadcast(qe), Seq("qid"))
      .withColumn("cos_sim", cosine(s, $"qe", $"ne"))
      .withColumn("rnk", row_number().over(wc))
      .filter($"rnk" <= K)
    val exact = e.select($"vec_id".as("nid"), $"embedding".as("ne"))
      .crossJoin(broadcast(qe))
      .filter($"nid" =!= $"qid")
      .withColumn("cos_sim", cosine(s, $"qe", $"ne"))
      .withColumn("xr", row_number().over(wc))
      .filter($"xr" <= K)
      .select($"qid", $"nid", lit(true).as("hit"))
    reranked.join(exact, Seq("qid", "nid"), "left")
      .select($"qid", $"rnk".cast("long").as("rnk"), $"nid", $"hamming",
        $"cos_sim", coalesce($"hit", lit(false)).as("in_exact_topk"))
      .orderBy($"qid", $"rnk")
  }

  def q261AnnBinaryHamming(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val codes = binCodes(e)
      .localCheckpoint(true) // corpus side AND query side probe it
    val q = codes.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"c0".as("q0"), $"c1".as("q1"))
    val wh = Window.partitionBy($"qid").orderBy($"hamming", $"nid")
    val shortlist = codes
      .select($"vec_id".as("nid"), $"c0", $"c1")
      .crossJoin(broadcast(q))
      .filter($"nid" =!= $"qid")
      .withColumn("hamming",
        (bit_count($"c0".bitwiseXOR($"q0"))
          + bit_count($"c1".bitwiseXOR($"q1"))).cast("long"))
      .withColumn("hr", row_number().over(wh))
      .filter($"hr" <= BinShortlist)
      .select($"qid", $"nid", $"hamming")
    rerankAndGrade(s, e, shortlist)
  }

  /** q262 — IVF-bucketed binary ANN: the BUCKETED scale path the q261
    * brute baseline's adjudication points at. Vectors carry their sign
    * codes AND their nearest-of-C k-means cell (the q51 deterministic
    * sampled codebook); queries probe only their `nProbe` nearest
    * cells, Hamming-shortlist within the probed cells, cosine-rerank
    * to top-K, graded in-line against the exact full-cosine top-K.
    * The gate-registered form runs FULL PROBE (nProbe = C): every
    * vector sits in exactly one cell and the probe set covers all
    * cells, so each (query, candidate) pair is scored exactly once and
    * the answer is provably identical to q261's global shortlist —
    * which lets q261's SQL oracle grade the whole bucketed machinery
    * (codebook, assignment, probe join, code path) exactly. The
    * approximate nProbe < C configuration is the same code path,
    * graded in AnnBinarySpec (recall + fullprobe ≡ q261 equality).
    *
    * At 100 TB: the corpus partitions by cell id (one shuffle or a
    * bucketed layout), each query touches ~nProbe/C of the CODE table
    * (16 bytes/vector), and the float table is only read for the
    * K·shortlist rerank rows — the recipe big binary indexes deploy.
    */
  def q262AnnBinaryIvf(s: SparkSession, dir: String,
      nCells: Int = 8, nProbe: Int = 8): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val cent = trainCodebook(e, nCells)
    val wA = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cid")
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(s, $"embedding", $"ce"))
      .withColumn("r", row_number().over(wA)).filter($"r" === 1)
      .select($"vec_id", $"cid")
    val codes = binCodes(e).join(assigned, Seq("vec_id"))
      .localCheckpoint(true) // corpus candidates AND the query code probe
    val wP = Window.partitionBy($"qid").orderBy($"csim".desc, $"cid")
    val probes = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
      .crossJoin(broadcast(cent))
      .withColumn("csim", cosine(s, $"qe", $"ce"))
      .withColumn("pr", row_number().over(wP)).filter($"pr" <= nProbe)
      .select($"qid", $"cid")
    val qcodes = codes.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"c0".as("q0"), $"c1".as("q1"))
    val wh = Window.partitionBy($"qid").orderBy($"hamming", $"nid")
    val shortlist = probes
      .join(codes.select($"cid", $"vec_id".as("nid"), $"c0", $"c1"), Seq("cid"))
      .join(broadcast(qcodes), Seq("qid"))
      .filter($"nid" =!= $"qid")
      .withColumn("hamming",
        (bit_count($"c0".bitwiseXOR($"q0"))
          + bit_count($"c1".bitwiseXOR($"q1"))).cast("long"))
      .withColumn("hr", row_number().over(wh))
      .filter($"hr" <= BinShortlist)
      .select($"qid", $"nid", $"hamming")
    rerankAndGrade(s, e, shortlist)
  }

  /** Full-probe flavor — see [[q262AnnBinaryIvf]]: provably q261's
    * answer, so the q261 oracle grades it.
    */
  def q262AnnBinaryIvfFullProbe(s: SparkSession, dir: String): DataFrame =
    q262AnnBinaryIvf(s, dir, nCells = 8, nProbe = 8)

  val q261AnnBinaryHammingSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    def half(h: Int) =
      s"""CAST(list_sum(list_transform(range(0, 32),
         |      i -> CASE WHEN embedding[${32 * h} + i + 1] > 0
         |                THEN CAST(pow(2.0, i) AS BIGINT) ELSE 0 END)) AS BIGINT)""".stripMargin
    s"""WITH codes AS MATERIALIZED (
      |  SELECT vec_id, ${half(0)} AS c0, ${half(1)} AS c1
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, c0 AS q0, c1 AS q1 FROM codes
      |      WHERE vec_id % 100 = 0),
      |sl AS (
      |  SELECT qid, nid, hamming FROM (
      |    SELECT q.qid, c.vec_id AS nid,
      |      CAST(bit_count(xor(c.c0, q.q0)) + bit_count(xor(c.c1, q.q1))
      |        AS BIGINT) AS hamming,
      |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
      |        bit_count(xor(c.c0, q.q0)) + bit_count(xor(c.c1, q.q1)),
      |        c.vec_id) AS hr
      |    FROM q, codes c WHERE c.vec_id <> q.qid)
      |  WHERE hr <= $BinShortlist),
      |qe AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
      |       WHERE vec_id % 100 = 0),
      |rr AS (
      |  SELECT qid, nid, hamming, cos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rnk
      |  FROM (
      |    SELECT sl.qid, sl.nid, sl.hamming,
      |      ${dot("qe.qe", "e.embedding")} /
      |      (sqrt(${dot("qe.qe", "qe.qe")}) * sqrt(${dot("e.embedding", "e.embedding")})) AS cos_sim
      |    FROM sl
      |    JOIN embeddings e ON e.vec_id = sl.nid
      |    JOIN qe ON qe.qid = sl.qid)),
      |ex AS (
      |  SELECT qid, nid, TRUE AS hit FROM (
      |    SELECT qe.qid, e.vec_id AS nid,
      |      ROW_NUMBER() OVER (PARTITION BY qe.qid ORDER BY
      |        ${dot("qe.qe", "e.embedding")} /
      |        (sqrt(${dot("qe.qe", "qe.qe")}) * sqrt(${dot("e.embedding", "e.embedding")})) DESC,
      |        e.vec_id) AS xr
      |    FROM qe, embeddings e WHERE e.vec_id <> qe.qid)
      |  WHERE xr <= $K)
      |SELECT rr.qid, CAST(rr.rnk AS BIGINT) AS rnk, rr.nid, rr.hamming,
      |  rr.cos_sim, COALESCE(ex.hit, FALSE) AS in_exact_topk
      |FROM rr LEFT JOIN ex ON ex.qid = rr.qid AND ex.nid = rr.nid
      |WHERE rr.rnk <= $K
      |ORDER BY rr.qid, rr.rnk""".stripMargin
  }

  /** q266 — embedding anisotropy report (Ethayarajh 2019's "how
    * anisotropic is the space" diagnostic, the one-scan form): per
    * label and overall (ROLLUP), the corpus size, the mean vector's
    * norm, the mean per-vector norm, and their ratio — an isotropic
    * cloud scores ~0 (directions cancel), a collapsed/anisotropic one
    * approaches 1; the first health check an embedding pipeline runs
    * before trusting cosine similarities. Exactness is the q236
    * quantized recipe: every distributed sum is a BIGINT sum of
    * floor(x·10⁶) micro-units (order-free, map-side combinable,
    * ROLLUP-safe), and the per-row norm is one fixed-shape in-row
    * fold; the only doubles are the final fixed-shape presentations.
    *
    * At 100 TB: ONE corpus scan into a 65-column integer aggregate
    * (64 dimension sums + the norm sum) with map-side partials;
    * everything after lives on the (labels+1)-row frame.
    */
  def q266Anisotropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val rowNorm = sqrt(aggregate(sequence(lit(0), lit(Dim - 1)), lit(0.0),
      (acc, i) => acc + get($"embedding", i).cast("double")
        * get($"embedding", i).cast("double")))
    val baseCols = $"label" +:
      floor(rowNorm * lit(1e6)).cast("long").as("nq") +:
      (0 until Dim).map(d =>
        floor(get($"embedding", lit(d)).cast("double") * lit(1e6))
          .cast("long").as(s"q$d"))
    val base = e.select(baseCols: _*)
    val agg0 = base.rollup($"label")
      .agg(count(lit(1)).as("n"),
        sum($"nq").as("snq") +:
          (0 until Dim).map(d => sum(col(s"q$d")).as(s"s$d")): _*)
    val mu2 = aggregate(
      array((0 until Dim).map(d => col(s"s$d")): _*), lit(0.0),
      (acc, sd) => {
        val t = sd.cast("double") / $"n" / lit(1e6)
        acc + t * t
      })
    agg0.select(coalesce($"label", lit(-1)).cast("int").as("label"),
        $"n",
        ($"snq".cast("double") / $"n" / lit(1e6)).cast("float").as("mean_norm"),
        sqrt(mu2).cast("float").as("mu_norm"),
        (sqrt(mu2) / ($"snq".cast("double") / $"n" / lit(1e6)))
          .cast("float").as("anisotropy"))
      .orderBy($"label")
  }

  val q266AnisotropySql: String = {
    val dim = 64
    val qs = (0 until dim).map(d =>
      s"CAST(SUM(CAST(FLOOR(CAST(embedding[${d + 1}] AS DOUBLE) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s$d").mkString(",\n      |    ")
    val lst = (0 until dim).map(d => s"s$d").mkString(", ")
    s"""WITH b AS (
      |  SELECT label,
      |    CAST(FLOOR(sqrt(list_sum(list_transform(range(1, ${dim + 1}),
      |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
      |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS nq,
      |    embedding
      |  FROM embeddings),
      |g AS (
      |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(nq) AS BIGINT) AS snq,
      |    $qs
      |  FROM b GROUP BY ROLLUP(label)),
      |f AS (
      |  SELECT CAST(COALESCE(label, -1) AS INT) AS label, n, snq,
      |    list_sum(list_transform([$lst],
      |      sd -> (CAST(sd AS DOUBLE) / n / CAST(1000000.0 AS DOUBLE))
      |          * (CAST(sd AS DOUBLE) / n / CAST(1000000.0 AS DOUBLE)))) AS mu2
      |  FROM g)
      |SELECT label, n,
      |  CAST(CAST(snq AS DOUBLE) / n / CAST(1000000.0 AS DOUBLE) AS FLOAT)
      |    AS mean_norm,
      |  CAST(sqrt(mu2) AS FLOAT) AS mu_norm,
      |  CAST(sqrt(mu2) / (CAST(snq AS DOUBLE) / n / CAST(1000000.0 AS DOUBLE))
      |    AS FLOAT) AS anisotropy
      |FROM f ORDER BY label""".stripMargin
  }
}
