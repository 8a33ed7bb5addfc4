package graft.queries

import org.apache.spark.sql.graft.PlanShim

import graft.{SparkEntry, SparkSpec}

/** The dedup family materializes frames only as registry artifacts or
  * eager local checkpoints: after a query and the per-query sweep, the
  * session's `CacheManager` holds no frame (a lazy `.cache()` entry
  * outlives the sweep that unpersists its blocks, and a later
  * plan-identical `.cache()` silently reuses the stale entry), and
  * every RDD the query left persisted belongs to an artifact.
  */
class DedupStorageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ownedIds: Set[Int] =
    FamilyCaches.keys(spark).flatMap(FamilyCaches.owned(spark, _)).flatMap(_._1.map(_.id))

  Seq("q41_minhash_lsh", "q42_simhash", "q148_snm", "q230_substr_dedup").foreach { name =>
    test(s"$name: after the sweep, no cached frame and only artifact RDDs persist") {
      spark.catalog.clearCache()
      val before = persistedIds
      SparkEntry.queries(name)(spark, dir).collect()
      FamilyCaches.sweep(spark, before)
      assert(PlanShim.cachedEntries(spark) == 0, s"$name left a CacheManager entry")
      val left = persistedIds -- before
      assert(left.subsetOf(ownedIds), s"$name left unowned persisted RDDs: ${left -- ownedIds}")
    }
  }
}
