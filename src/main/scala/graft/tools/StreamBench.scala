package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.EventStreams

/** Paced-source throughput isolate for the state-heavy streaming lanes
  * (`transformWithState` + RocksDB): the SERBENCH discipline applied to
  * streams. The batch suite and the CDC snapshot race already carry
  * numbers; this gives the stateful streaming story one — rows/s
  * through a MemoryStream paced into fixed micro-batches, wall-clocked
  * from first delivery to last commit (per-batch planning and state
  * commit included, which is exactly what a continuous ingest pays).
  *
  * Lanes (two per operator, varying STATE SIZE so the artifact carries
  * a state-size sensitivity, not one point):
  *  - dedup_narrow / dedup_wide — [[EventStreams.streamingDedup]] over
  *    the documents corpus replicated ×R: narrow keeps copies exact
  *    (state = distinct source texts), wide salts every copy distinct
  *    (state = every input row — R× the keys at the same row count).
  *  - hh_evicting / hh_roomy — [[EventStreams.heavyHitters]] over the
  *    corpus with per-doc word salting widening the vocabulary past
  *    the evicting capacity (SpaceSaving replacement churn on every
  *    batch) vs a capacity holding the full vocabulary (pure upserts).
  *
  * The synthetic key-space widening is the honest way to exercise
  * state growth here: the driver corpus' real vocabulary is ~31 words,
  * far below any useful capacity. Usage:
  *   runMain graft.tools.StreamBench [sfDir] [nBatches] [replicas]
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(20)
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val src = graft.sources.Tables.load(spark, sfDir, "documents")
      .select($"doc_id".cast("long"), $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val stride = src.map(_._1).max + 1
    def salted(text: String, salt: Long): String =
      text.split(' ').map(w => s"${w}x$salt").mkString(" ")

    // ×R replication: narrow repeats texts verbatim (dup-heavy — the
    // dedup index stays at |distinct texts| keys); wide makes every
    // copy a fresh text (index grows to |rows| keys)
    val narrow = (0 until replicas).flatMap(k =>
      src.map { case (id, t) => (id + k * stride, t) })
    val wide = (0 until replicas).flatMap(k =>
      src.map { case (id, t) => (id + k * stride, s"$t uq${id + k * stride}") })
    // per-doc word salting: vocab ×K — past the evicting lane's total
    // slot budget, inside the roomy lane's
    val saltK = 3000L
    val hhDocs = src.map { case (id, t) => (id, salted(t, id % saltK)) }

    def pace(rows: Seq[(Long, String)], mk: DataFrame => DataFrame): (Double, Int) = {
      val in = MemoryStream[(Long, String)](spark)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streambench").toString
      val q = mk(in.toDF().toDF("doc_id", "text"))
        .writeStream.format("noop").option("checkpointLocation", ckpt).start()
      val per = math.max(1, math.ceil(rows.size.toDouble / nBatches).toInt)
      val groups = rows.grouped(per).toSeq
      val t0 = System.nanoTime()
      groups.foreach { g => in.addData(g: _*); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      (sec, groups.size)
    }

    /** foreachBatch pacer for lanes whose transform is batch-local
      * (the frozen-model segment quality filter): same pacing window,
      * body applied per micro-batch, results discarded into the batch
      * noop sink.
      */
    def paceFB(rows: Seq[(Long, String)], body: DataFrame => DataFrame): (Double, Int) = {
      val in = MemoryStream[(Long, String)](spark)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streambench").toString
      val q = in.toDF().toDF("doc_id", "text").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          body(b.toDF()).write.format("noop").mode("overwrite").save()
        }
        .start()
      val per = math.max(1, math.ceil(rows.size.toDouble / nBatches).toInt)
      val groups = rows.grouped(per).toSeq
      val t0 = System.nanoTime()
      groups.foreach { g => in.addData(g: _*); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      (sec, groups.size)
    }

    // frozen CCNet segment-quality model (q294's tables + median),
    // trained ONCE outside every timed window — the deployment shape
    val segModel = graft.queries.LangModel.segQualityTrain(spark, sfDir)
    // loaded KN-4 ARPA model (q295's serving tables), exported once
    val kn4Model = graft.queries.LangModel.kn4Load(spark,
      graft.queries.LangModel.kn4Export(spark, sfDir))

    // JVM/codegen/RocksDB warmup outside every timed window
    pace(src.take(200).toSeq, df => EventStreams.streamingDedup(df))
    paceFB(src.take(200).toSeq,
      df => graft.queries.LangModel.segmentQualityFilterBatch(segModel, df))

    val hhTokens = hhDocs.map(_._2.count(_ == ' ') + 1L).sum
    // split(" ", -1) everywhere a unit count mirrors word_windows:
    // limit -1 keeps trailing empty tokens exactly as the native
    // expression's regex-split semantics do
    def segs(rows: Seq[(Long, String)]): Long =
      rows.map(r => math.ceil(r._2.split(" ", -1).length / 16.0).toLong).sum
    val segDistinct = src.iterator.flatMap { case (_, t) =>
      t.split(" ", -1).grouped(16).map(_.mkString(" "))
    }.toSet.size.toLong
    // exact salted vocabulary (driver-side: the bench corpus is small);
    // the evicting lane's live keys are capped by its total slot budget
    val hhVocab = hhDocs.iterator.flatMap(_._2.split(' ')).toSet.size.toLong
    val segModelBigrams = segModel.big.count()
    def quadgrams(rows: Seq[(Long, String)]): Long =
      rows.map(r => math.max(r._2.split(" ", -1).length - 3, 0).toLong).sum
    val kn4ModelRows = kn4Model.stored4.count() + kn4Model.stored3.count()
    type Runner = Seq[(Long, String)] => (Double, Int)
    val lanes: Seq[(String, Seq[(Long, String)], Runner, Long, Long)] = Seq(
      ("dedup_narrow", narrow,
        rows => pace(rows, df => EventStreams.streamingDedup(df)),
        narrow.size.toLong, src.size.toLong),
      ("dedup_wide", wide,
        rows => pace(rows, df => EventStreams.streamingDedup(df)),
        wide.size.toLong, wide.size.toLong),
      ("hh_evicting", hhDocs,
        rows => pace(rows, df => EventStreams.heavyHitters(df, capacity = 1 << 12)),
        hhTokens, math.min(hhVocab, (1L << 12) * 8)),
      ("hh_roomy", hhDocs,
        rows => pace(rows, df => EventStreams.heavyHitters(df, capacity = 1 << 17)),
        hhTokens, hhVocab),
      // CCNet segment dedup (q286's ingest twin): narrow replays the
      // corpus verbatim ×R (state = distinct SOURCE segments, every
      // replica batch pure index probes); wide salts each copy's text
      // unique (state grows to every ingested segment). Units are
      // SEGMENTS — the per-row state-op count, one probe per segment.
      ("segdedup_narrow", narrow,
        rows => pace(rows, df => EventStreams.streamingSegmentDedup(df)),
        segs(narrow), segDistinct),
      ("segdedup_wide", wide,
        rows => pace(rows, df => EventStreams.streamingSegmentDedup(df)),
        segs(wide), segs(wide)),
      // CCNet segment QUALITY filter (q294's ingest twin): STATELESS
      // given the frozen model — state_keys column carries the frozen
      // model's bigram-table size instead (the join build side).
      // seen replays the training corpus (every bigram join hits);
      // unseen salts every copy's text so ~every bigram takes the
      // add-one floor through the left-join miss path. Units are
      // SEGMENTS scored.
      ("segquality_seen", narrow,
        rows => paceFB(rows,
          df => graft.queries.LangModel.segmentQualityFilterBatch(segModel, df)),
        segs(narrow), segModelBigrams),
      ("segquality_unseen", wide,
        rows => paceFB(rows,
          df => graft.queries.LangModel.segmentQualityFilterBatch(segModel, df)),
        segs(wide), segModelBigrams),
      // KN-4 perplexity filter against the LOADED ARPA model (q295's
      // serving join per micro-batch). Units are 4-GRAM positions
      // scored; state_keys carries the loaded model's stored+level-3
      // row count (the join build side).
      ("kn4ppl", narrow,
        rows => paceFB(rows,
          df => graft.queries.LangModel.kn4ScoreBatch(kn4Model, df)),
        quadgrams(narrow), kn4ModelRows))
    // interleaved attempts: run-order and co-located-load drift hit
    // every lane equally; publish min/all
    val attempts = 2
    val samples = scala.collection.mutable.Map.empty[String, Vector[(Double, Int)]]
      .withDefaultValue(Vector.empty)
    (1 to attempts).foreach { _ =>
      lanes.foreach { case (tag, rows, runner, _, _) =>
        samples(tag) = samples(tag) :+ runner(rows)
      }
    }
    val results = lanes.map { case (tag, rows, _, units, stateKeys) =>
      val (sec, batches) = samples(tag).minBy(_._1)
      println(f"$tag%-14s ${rows.size}%7d docs  $units%8d units  min $sec%7.2f s" +
        f"  ${units / sec}%9.0f units/s  ($batches batches, ~$stateKeys state keys," +
        s" attempts ${samples(tag).map(t => f"${t._1}%.1f").mkString("/")})")
      (tag, rows.size, units, sec, batches, stateKeys)
    }
    val laneJson = results.map { case (tag, docs, units, sec, batches, stateKeys) =>
      f""""$tag":{"docs":$docs,"units":$units,"min_elapsed_sec":$sec%.3f,""" +
        f""""units_per_sec_min":${units / sec}%.0f,"batches":$batches,""" +
        f""""state_keys_approx":$stateKeys,""" +
        s""""attempts_sec":[${samples(tag).map(t => f"${t._1}%.3f").mkString(",")}]}"""
    }.mkString(",")
    println(s"""{"metric":"streambench","sf_dir":"$sfDir","paced_batches":$nBatches,""" +
      s""""replicas":$replicas,"interleaved_attempts":$attempts,"lanes":{$laneJson}}""")
    spark.stop()
  }
}
