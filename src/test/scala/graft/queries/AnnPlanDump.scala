package graft.queries

import org.apache.spark.sql.DataFrame

/** Writes the optimized logical plan of every ANN entry point and of
  * each approximate configuration AnnPinSpec pins, with expression ids,
  * array-literal identities and the index scratch directory name
  * stripped, so the dumps of two checkouts can be compared with `diff`.
  * Usage:
  *   Test/runMain graft.queries.AnnPlanDump <sfDir> <outFile>
  */
object AnnPlanDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val s = graft.SparkSpec.session
    s.sparkContext.setLogLevel("ERROR")
    val lanes: Seq[(String, () => DataFrame)] = Seq(
      "q43" -> (() => Similarity.q43EmbedNearDup(s, dir)),
      "q50" -> (() => Similarity.q50AnnBrute(s, dir)),
      "q51" -> (() => Similarity.q51AnnIvfFullProbe(s, dir)),
      "q52" -> (() => Similarity.q52AnnIvfIndexedFullProbe(s, dir)),
      "q57" -> (() => Similarity.q57AnnSrpFullProbe(s, dir)),
      "q63" -> (() => Similarity.q63AnnPqFullRerank(s, dir)),
      "q76" -> (() => Similarity.q76AnnIvfPqFull(s, dir)),
      "q117" -> (() => Similarity.q117RetrievalEval(s, dir)),
      "q197" -> (() => Similarity.q197AnnSq8Full(s, dir)),
      "q261" -> (() => Similarity.q261AnnBinaryHamming(s, dir)),
      "q262" -> (() => Similarity.q262AnnBinaryIvfFullProbe(s, dir)),
      "q268" -> (() => Similarity.q268SemDedup(s, dir)),
      "q51 nProbe=2" -> (() => Similarity.q51AnnIvf(s, dir, nCentroids = 8, nProbe = 2)),
      "q52 nProbe=2" -> (() => Similarity.q52AnnIvfIndexed(s, dir, nCentroids = 8, nProbe = 2)),
      "q57 2 tables radius 1" ->
        (() => Similarity.q57AnnSrp(s, dir, nTables = 2, probeRadius = 1)),
      "q63 rerank=32" -> (() => Similarity.q63AnnPq(s, dir, rerank = 32)),
      "q76 nProbe=4 rerank=32" -> (() => Similarity.q76AnnIvfPq(s, dir, nProbe = 4, rerank = 32)),
      "q197 rerank=32" -> (() => Similarity.q197AnnSq8(s, dir, rerank = 32)),
      "q262 nProbe=2" -> (() => Similarity.q262AnnBinaryIvf(s, dir, nCells = 8, nProbe = 2)),
      "nearDupPairs nAssign=1" ->
        (() => Similarity.nearDupPairs(s, dir, nCells = 8, nAssign = 1, tau = 0.3)))
    def stable(plan: String): String = plan
      .replaceAll("#\\d+L?", "")
      .replaceAll("\\[F@[0-9a-f]+", "[F@")
      .replaceAll("graft_ivf_index[^/\\s,\\]]*", "graft_ivf_index")
    val pw = new java.io.PrintWriter(out)
    lanes.foreach { case (name, build) =>
      val df = build()
      pw.println(s"== $name ==\n${stable(df.queryExecution.optimizedPlan.toString)}")
      if (name.startsWith("q52")) // the probe scan's partition filter
        pw.println(stable(df.queryExecution.executedPlan.toString.linesIterator
          .filter(_.contains("PartitionFilters")).mkString("\n")))
    }
    pw.close()
  }
}
