package graft.queries

/** Build-event accounting for the session-memoized family caches
  * (dedup shingles, unigram/wordpiece training, KN-4 model tables, CT
  * language-ID artifacts, contamination pairs, interval-overlap pairs,
  * the q52 IVF index).
  *
  * Bench publishes min-of-attempts per query, which prices a family
  * cache's steady-state READ — the one-time build lands only in the
  * first consumer's first attempt and in QBench's cold column (the r13
  * pricing rule). That is disclosed but makes the headline total a
  * steady-state number, not a cold-suite number. This counter lets
  * Bench detect WHICH attempt of WHICH query performed a build and
  * charge that attempt's delta over the published minimum into an
  * explicit `cache_build_sec` term added to the published total, so
  * every one-time build is priced exactly once (r16 verdict item 2).
  *
  * The counter is monotone and process-global: builders call
  * [[noteBuild]] on a cache MISS only.
  */
object FamilyCaches {
  private val builds = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def noteBuild(): Unit = { builds.incrementAndGet(); () }

  /** Monotone count of family-cache builds in this JVM. */
  def buildCount: Long = builds.get()

  /** Unpersist a dropped cache entry's checkpoint RDD blocks. The
    * localCheckpoint(true) blocks live in the block manager until
    * explicitly unpersisted; Bench sweeps them by RDD-id diff per
    * family segment, but Verify/interactive sessions only have the
    * clearCaches path — which must therefore reclaim storage itself,
    * not just drop the map entry.
    */
  private[graft] def unpersistCheckpoints(df: org.apache.spark.sql.DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped)
      org.apache.spark.sql.graft.PlanShim.checkpointRdds(df)
        .foreach(_.unpersist(blocking = false))
}
