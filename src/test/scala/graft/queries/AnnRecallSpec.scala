package graft.queries

import graft.SparkSpec

/** The IVF ANN variant (q51) is approximate by construction; the DuckDB
  * oracle covers only the brute-force baseline (q50). This spec pins the
  * quality contract: recall@3 of IVF vs brute force.
  */
class AnnRecallSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("IVF ANN with full probe (nprobe = nCentroids) is exactly brute force") {
    val truth = pairSet(Similarity.q50AnnBrute(spark, dir))
    assert(truth.nonEmpty)
    assert(pairSet(Similarity.q51AnnIvf(spark, dir, nCentroids = 8, nProbe = 8)) == truth)
  }

  test("IVF ANN recall@3 >= 0.4 vs brute force (nprobe=2 of 8 centroids)") {
    val truth = pairSet(Similarity.q50AnnBrute(spark, dir))
    val got   = pairSet(Similarity.q51AnnIvf(spark, dir))
    val recall = (truth & got).size.toDouble / truth.size
    // nprobe/centroids = 2/8 of the corpus scanned; these embeddings are
    // random (unclustered), which is the worst case for IVF — the contract
    // here is "meaningful recall at a quarter of the scan cost"; clustered
    // real-world embeddings do far better. The sampled-k-means codebook
    // measures 0.53 here (the round-2 fixed vec_id<C codebook sat at the
    // old 0.3 floor); 0.4 leaves slack for codebook drift without letting
    // a regression to arbitrary seeds pass.
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("persisted IVF index (q52) answers exactly like in-query IVF (q51), partition-pruned") {
    val fromIndex = Similarity.q52AnnIvfIndexed(spark, dir)
    val live      = Similarity.q51AnnIvf(spark, dir)
    assert(fromIndex.collect().toSeq == live.collect().toSeq)
    // the probe scan must prune unprobed cells at the PARTITION level
    val plan = fromIndex.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"expected cid partition pruning in:\n$plan")
  }

  test("q52's index build counts as a family-cache build, its reuse does not") {
    // a codebook size no other test uses, so the first call misses
    val b0 = FamilyCaches.buildCount
    Similarity.q52AnnIvfIndexed(spark, dir, nCentroids = 5)
    val b1 = FamilyCaches.buildCount
    Similarity.q52AnnIvfIndexed(spark, dir, nCentroids = 5)
    assert(b1 - b0 == 1 && FamilyCaches.buildCount == b1)
  }

  test("SRP-LSH with full multi-probe (radius = nBits, one table) is exactly brute force") {
    val truth = pairSet(Similarity.q50AnnBrute(spark, dir))
    assert(truth.nonEmpty)
    assert(pairSet(Similarity.q57AnnSrpFullProbe(spark, dir)) == truth)
  }

  test("SRP-LSH multi-probe recall@3 vs brute force (2 tables, 6 bits, radius 1)") {
    val truth = pairSet(Similarity.q50AnnBrute(spark, dir))
    val got   = pairSet(Similarity.q57AnnSrp(spark, dir))
    val recall = (truth & got).size.toDouble / truth.size
    // 2 tables × 7 probed buckets of 64 ⇒ ~22% of the corpus touched per
    // query in expectation. Random isotropic 64-dim embeddings are the
    // worst case for SRP exactly as they are for IVF (true top-3 cosines
    // sit near the noise floor, so neighbor/query signatures share bits
    // barely above chance); the floor asserts the machinery finds
    // meaningfully more than the ~22% a random scan of equal cost would.
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("PQ ANN with corpus-wide re-rank budget is exactly brute force") {
    val truth = pairSet(Similarity.q50AnnBrute(spark, dir))
    assert(truth.nonEmpty)
    assert(pairSet(Similarity.q63AnnPqFullRerank(spark, dir)) == truth)
  }

  test("PQ ANN recall@3 vs brute force (m=8, k=16, rerank=32)") {
    val truth = pairSet(Similarity.q50AnnBrute(spark, dir))
    val got   = pairSet(Similarity.q63AnnPq(spark, dir))
    val recall = (truth & got).size.toDouble / truth.size
    // The exact re-rank stage means a true neighbor is missed only when
    // ADC ranks it below 32 of ~500 (top 6%) for its query. Random
    // isotropic embeddings are again the worst case (sub-vector
    // quantization error is the same order as the cosine gap between
    // true neighbors and noise); the floor asserts ADC ordering carries
    // real signal at a 16× candidate cut.
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("IVF-PQ with full probe + full re-rank is exactly brute force") {
    val truth = pairSet(Similarity.q50AnnBrute(spark, dir))
    assert(truth.nonEmpty)
    assert(pairSet(Similarity.q76AnnIvfPqFull(spark, dir)) == truth)
  }

  test("IVF-PQ recall@3 vs brute force (nprobe=4 of 8 cells, rerank=32)") {
    val truth = pairSet(Similarity.q50AnnBrute(spark, dir))
    val got   = pairSet(Similarity.q76AnnIvfPq(spark, dir, nProbe = 4))
    val recall = (truth & got).size.toDouble / truth.size
    // both prunes stack: ~half the corpus scanned (IVF) and a 16× ADC
    // candidate cut (PQ) — the floor asserts the composition still finds
    // most true neighbors on isotropic worst-case data
    assert(recall >= 0.35, s"recall=$recall")
  }

  test("SQ8 with full re-rank is exactly brute force") {
    val truth = pairSet(Similarity.q50AnnBrute(spark, dir))
    assert(truth.nonEmpty)
    assert(pairSet(Similarity.q197AnnSq8Full(spark, dir)) == truth)
  }

  test("SQ8 recall@3 vs brute force at rerank=32 (16x candidate cut)") {
    val truth = pairSet(Similarity.q50AnnBrute(spark, dir))
    val got   = pairSet(Similarity.q197AnnSq8(spark, dir))
    val recall = (truth & got).size.toDouble / truth.size
    // 8-bit uniform quantization distorts cosines by <0.02 (spec-pinned),
    // far below true-neighbor gaps — near-perfect recall is expected even
    // at the 16x cut; 0.9 leaves slack for adversarial near-ties only
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("q212: kNN vote is the true 3-NN majority; accuracies are valid fractions") {
    val rows = Similarity.q212KnnEval(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0)
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_vecs"))
    }
    // total vectors accounted for exactly once
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total == graft.sources.Tables.load(spark, dir, "embeddings").count())
    // full driver recompute: every vector's 3-NN vote from brute force
    val e = graft.sources.Tables.load(spark, dir, "embeddings").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = e.map { case (qid, qe, tl) =>
      val top3 = e.filter(_._1 != qid)
        .map { case (nid, ne, nl) => (cos(qe, ne), nid, nl) }
        .sortBy(t => (-t._1, t._2)).take(3).map(_._3)
      val pred = top3.groupBy(identity).toSeq
        .sortBy { case (l, vs) => (-vs.length, l) }.head._1
      (tl, pred == tl)
    }.groupBy(_._1).map { case (l, vs) =>
      l -> (vs.length.toLong, vs.count(_._2).toLong) }
    rows.foreach { r =>
      val l = r.getAs[Int]("label")
      assert(expect(l) == ((r.getAs[Long]("n_vecs"), r.getAs[Long]("n_correct"))),
        s"label $l: got (${r.getAs[Long]("n_vecs")}, ${r.getAs[Long]("n_correct")}) " +
          s"expected ${expect(l)}")
    }
  }

  test("near-dup detectors agree: q40 (exact) == q41 (MinHash LSH) == q42 (SimHash)") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.q40NgramJaccard(spark, dir))
    assert(pairs(Dedup.q41MinhashLsh(spark, dir)) == exact)
    assert(pairs(Dedup.q42Simhash(spark, dir)) == exact)
  }
}
