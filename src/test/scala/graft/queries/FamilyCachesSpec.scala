package graft.queries

import org.apache.spark.sql.Row

import graft.{SparkEntry, SparkSpec}

/** FamilyCaches is the one owner of cross-query artifacts: a hit
  * returns the already-built instance (provably zero rebuilding), each
  * artifact is built once whatever the order or subset of its
  * consumers, the per-query sweep never drops an artifact's RDDs, and
  * `clear` reclaims every RDD block and temp directory it owns.
  */
class FamilyCachesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val dir01 = "/root/testdata/sf0.01"

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `name` like Bench does: the query, then the shared sweep. */
  private def runSwept(name: String, d: String): Seq[Row] = {
    val before = persistedIds
    val rows = SparkEntry.queries(name)(spark, d).collect().toSeq
    FamilyCaches.sweep(spark, before)
    rows
  }

  test("a hit returns the same instance and adds no build") {
    FamilyCaches.clear(spark)
    val u1 = LangModel.unigramTrainFrames(spark, dir, LangModel.UnigramRounds)
    val w1 = LangModel.wordPieceTrainFrames(spark, dir, LangModel.WordPieceRounds)
    val b0 = FamilyCaches.buildCount
    assert(u1._2 eq LangModel.unigramTrainFrames(spark, dir, LangModel.UnigramRounds)._2)
    assert(w1._2 eq LangModel.wordPieceTrainFrames(spark, dir, LangModel.WordPieceRounds)._2)
    assert(FamilyCaches.buildCount == b0)
  }

  test("q259's cold and warm answers are equal") {
    FamilyCaches.clear(spark)
    val cold = LangModel.q259FertilityByLang(spark, dir).collect().toSeq
    val warm = LangModel.q259FertilityByLang(spark, dir).collect().toSeq
    assert(warm == cold)
  }

  test("q259 adds 0 builds once its artifacts exist") {
    // the mechanism behind "a later family member runs at its warm
    // cost", stated without a wall-clock race: the query consumes the
    // existing instances and builds nothing
    FamilyCaches.clear(spark)
    val u = LangModel.unigramTrainFrames(spark, dir, LangModel.UnigramRounds)._2
    TextOps.ctProfCached(spark, dir)
    TextOps.ctDocGCached(spark, dir)
    val b0 = FamilyCaches.buildCount
    LangModel.q259FertilityByLang(spark, dir).collect()
    assert(FamilyCaches.buildCount == b0, "q259 rebuilt an artifact that already existed")
    assert(u eq LangModel.unigramTrainFrames(spark, dir, LangModel.UnigramRounds)._2)
  }

  test("q223, q227, q300 under the sweep build the pairs once") {
    // none of the three is the pair table's first consumer in name
    // order; a sweep that does not know the registry drops the table's
    // RDDs after q223 and q227/q300 silently recompute it
    FamilyCaches.clear(spark)
    val pairsKey = s"nearDupPairs:$dir01"
    val builds = Seq("q223_blocking_eval", "q227_split_leakage", "q300_leakage_safe_split")
      .map { name =>
        val b0 = FamilyCaches.buildCount
        runSwept(name, dir01)
        val (rdds, _) = FamilyCaches.owned(spark, pairsKey).get
        assert(rdds.nonEmpty && rdds.forall(r => persistedIds.contains(r.id)),
          s"the sweep after $name unpersisted the pair artifact")
        FamilyCaches.buildCount - b0
      }
    assert(builds.head > 0 && builds.tail.forall(_ == 0), s"builds per query: $builds")
  }

  test("{q223, q227, q40} in two orders: same rows, same builds") {
    def session(order: Seq[String]): (Map[String, Seq[String]], Long) = {
      FamilyCaches.clear(spark)
      val b0 = FamilyCaches.buildCount
      val rows = order.map(n => n -> runSwept(n, dir01).map(_.toString).sorted).toMap
      (rows, FamilyCaches.buildCount - b0)
    }
    val (r1, b1) = session(Seq("q223_blocking_eval", "q227_split_leakage", "q40_ngram_jaccard"))
    val (r2, b2) = session(Seq("q40_ngram_jaccard", "q227_split_leakage", "q223_blocking_eval"))
    assert(r1 == r2)
    // the shingle frame and the pair table, once each
    assert(b1 == 2 && b2 == 2, s"builds: $b1 vs $b2")
  }

  test("nested builds: every RDD has one owner") {
    FamilyCaches.clear(spark)
    Dedup.rarityRanked(spark, dir)
    val shingles = FamilyCaches.owned(spark, s"shingles:$dir").get._1.map(_.id)
    val ranks = FamilyCaches.owned(spark, s"rarityRanked:$dir").get._1.map(_.id)
    assert(shingles.nonEmpty && ranks.nonEmpty)
    assert(shingles.intersect(ranks).isEmpty)
  }

  test("a failed build leaves no entry") {
    val key = "failing-artifact"
    intercept[IllegalStateException] {
      FamilyCaches.memo(spark, key)(throw new IllegalStateException("build failed"))
    }
    assert(!FamilyCaches.keys(spark).contains(key))
    assert(FamilyCaches.memo(spark, key)(42) == 42)
    FamilyCaches.clear(spark)
  }

  test("clear unpersists every owned RDD and deletes the temp dirs") {
    FamilyCaches.clear(spark)
    Dedup.q40NgramJaccard(spark, dir).collect()
    LangModel.q250UnigramTrain(spark, dir).collect()
    Analytic.q271CdcMinMaxMv(spark, dir).collect()
    Analytic.q284CdcDecimalMv(spark, dir).collect()
    Similarity.q52AnnIvfIndexed(spark, dir).collect()
    val owned = FamilyCaches.keys(spark).toSeq.flatMap(FamilyCaches.owned(spark, _))
    val rdds = owned.flatMap(_._1)
    val dirs = owned.flatMap(_._2)
    assert(rdds.nonEmpty && rdds.forall(r => persistedIds.contains(r.id)))
    assert(dirs.size == 3 && dirs.forall(d => new java.io.File(d).isDirectory), s"dirs: $dirs")
    FamilyCaches.clear(spark)
    assert(FamilyCaches.keys(spark).isEmpty)
    assert(rdds.forall(r => !persistedIds.contains(r.id)))
    assert(dirs.forall(d => !new java.io.File(d).exists), s"left behind: $dirs")
  }
}
