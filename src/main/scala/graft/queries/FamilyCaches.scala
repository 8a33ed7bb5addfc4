package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graft.PlanShim

/** The one registry for artifacts shared across queries of a session:
  * the dedup shingle frame, rarity ranks and exact pair table, the
  * unigram/WordPiece/KN-4 training frames, the CT language-ID
  * artifacts, the contamination and interval-overlap pair tables, the
  * q271/q284 replay directories and the q52 IVF index.
  *
  * An artifact is memoized per (session, key) and owns what it pins:
  * the persistent RDDs its frames read (recorded on build through
  * [[PlanShim.checkpointRdds]]) and, for on-disk artifacts, its temp
  * directory. Builds nest (`rarityRanked` reads `shingled`); an RDD
  * belongs to the innermost entry that claimed it. A failed build
  * leaves no entry, and entries of stopped sessions are evicted on
  * access.
  *
  * Release has two rules. Per query, [[sweep]] unpersists every
  * persistent RDD the query created that no artifact owns, so
  * artifacts survive for any later consumer in any order. Per run,
  * [[clear]] unpersists the artifacts' RDDs and deletes their
  * directories.
  *
  * [[buildCount]] is monotone and process-global: it counts misses,
  * which is what lets Bench charge the building attempt's delta over
  * the published minimum into `cache_build_sec`, so every one-time
  * build is priced exactly once.
  */
object FamilyCaches {
  private final case class Entry(value: Any, rdds: Seq[RDD[_]], tempDir: Option[String])

  private val entries = TrieMap.empty[(SparkSession, String), Entry]
  private val builds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Monotone count of artifact builds in this JVM. */
  def buildCount: Long = builds.get()

  /** The artifact under (`s`, `key`), built by `build` on a miss. */
  def memo[T](s: SparkSession, key: String)(build: => T): T =
    memoize(s, key, build)(_ => None)

  /** An on-disk artifact: on a miss `fill` writes a fresh temp
    * directory, which [[clear]] deletes. Returns the directory.
    */
  def memoDir(s: SparkSession, key: String, prefix: String)(fill: String => Unit): String =
    memoize(s, key, {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toString
      try { fill(dir); dir }
      catch { case e: Throwable => delete(dir); throw e }
    })(Some(_))

  private def memoize[T](s: SparkSession, key: String, build: => T)(
      tempDir: T => Option[String]): T = {
    evictStopped()
    entries.get((s, key)) match {
      case Some(e) => e.value.asInstanceOf[T]
      case None =>
        builds.incrementAndGet()
        val value = build
        // read after the build: nested entries have claimed their RDDs
        val claimed = ownedIds
        val entry = Entry(value,
          frames(value).flatMap(PlanShim.checkpointRdds).distinct
            .filterNot(r => claimed.contains(r.id)),
          tempDir(value))
        entries.putIfAbsent((s, key), entry) match {
          case Some(winner) => release(entry); winner.value.asInstanceOf[T]
          case None         => value
        }
    }
  }

  private def frames(v: Any): Seq[DataFrame] = v match {
    case df: Dataset[_]  => Seq(df.toDF())
    case xs: Iterable[_] => xs.toSeq.flatMap(frames)
    case p: Product      => p.productIterator.toSeq.flatMap(frames)
    case _               => Nil
  }

  private def ownedIds: Set[Int] = entries.values.flatMap(_.rdds.map(_.id)).toSet

  private def release(e: Entry): Unit = {
    e.rdds.foreach(r => if (!r.sparkContext.isStopped) r.unpersist(blocking = false))
    e.tempDir.foreach(delete)
  }

  private def delete(dir: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)); ()
  }

  private def evictStopped(): Unit =
    entries.keySet.foreach { k =>
      if (k._1.sparkContext.isStopped) entries.remove(k).foreach(release)
    }

  /** Drop every artifact of `s`: unpersist its RDDs, delete its
    * directories.
    */
  def clear(s: SparkSession): Unit = {
    evictStopped()
    entries.keySet.foreach(k => if (k._1 == s) entries.remove(k).foreach(release))
  }

  /** The per-query release rule: unpersist every persistent RDD whose
    * id is not in `before` (the ids persisted when the query started)
    * and that no artifact owns.
    */
  def sweep(s: SparkSession, before: Set[Int]): Unit = {
    val owned = ownedIds
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id) && !owned.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** The RDDs and temp directory owned by (`s`, `key`), if built. */
  private[graft] def owned(s: SparkSession, key: String): Option[(Seq[RDD[_]], Option[String])] =
    entries.get((s, key)).map(e => (e.rdds, e.tempDir))

  /** The keys of `s`'s artifacts. */
  private[graft] def keys(s: SparkSession): Set[String] =
    entries.keySet.collect { case (`s`, k) => k }.toSet
}
