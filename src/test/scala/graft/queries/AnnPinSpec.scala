package graft.queries

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Pins the exact answers of the APPROXIMATE ANN configurations.
  * AnnRecallSpec and AnnBinarySpec only floor their recall, and the
  * oracle grades only the full-probe forms, so a change to candidate
  * generation, probing or ranking could alter these answers and still
  * pass both. Each pin is the row count plus a SHA-256 prefix over the
  * sorted rows, with doubles written as their IEEE bit patterns:
  * insensitive to row order, sensitive to every value bit.
  */
class AnnPinSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def digest(df: DataFrame, cols: String*): String = {
    val lines = df.select(cols.head, cols.tail: _*).collect().map(_.toSeq.map {
      case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
      case v => String.valueOf(v)
    }.mkString("|")).sorted
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
    s"${lines.length}:" + sha.take(8).map("%02x".format(_)).mkString
  }

  private val topK = Seq("qid", "rnk", "nid", "cos_sim")

  test("q51 IVF nProbe=2 answer is pinned") {
    assert(digest(Similarity.q51AnnIvf(spark, dir, nCentroids = 8, nProbe = 2), topK: _*) ==
      "15:866bb47243893b4f")
  }

  test("q52 persisted IVF nProbe=2 answer is pinned") {
    assert(digest(Similarity.q52AnnIvfIndexed(spark, dir, nCentroids = 8, nProbe = 2),
      topK: _*) == "15:866bb47243893b4f")
  }

  test("q57 SRP 2 tables radius 1 answer is pinned") {
    assert(digest(Similarity.q57AnnSrp(spark, dir, nTables = 2, probeRadius = 1), topK: _*) ==
      "15:848359879c8ce7a2")
  }

  test("q63 PQ rerank=32 answer is pinned") {
    assert(digest(Similarity.q63AnnPq(spark, dir, rerank = 32), topK: _*) ==
      "15:46e5cd92ca36c8ae")
  }

  test("q76 IVF-PQ nProbe=4 rerank=32 answer is pinned") {
    assert(digest(Similarity.q76AnnIvfPq(spark, dir, nProbe = 4, rerank = 32), topK: _*) ==
      "15:1ac3c33f798062b6")
  }

  test("q197 SQ8 rerank=32 answer is pinned") {
    assert(digest(Similarity.q197AnnSq8(spark, dir, rerank = 32), topK: _*) ==
      "15:298062287071a5c8")
  }

  test("q262 binary IVF nProbe=2 answer is pinned") {
    assert(digest(Similarity.q262AnnBinaryIvf(spark, dir, nCells = 8, nProbe = 2),
      "qid", "rnk", "nid", "hamming", "cos_sim", "in_exact_topk") == "15:0b3982ce4037e28d")
  }

  test("nearDupPairs single-assignment answer is pinned") {
    // τ = 0.3, not the registered 0.45: single assignment finds none of
    // this corpus's seven τ = 0.45 pairs (SemDedupSpec), and an empty
    // answer would pin nothing
    assert(digest(Similarity.nearDupPairs(spark, dir, nCells = 8, nAssign = 1, tau = 0.3),
      "d1", "d2", "cos_sim") == "322:030d4b7e5c8c7a15")
  }
}
