package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.model.Op

/** Interleaved A/B adjudication of the r17 applyBatchCdf probe fusion
  * (one batch scan + one driver collect vs the pre-r17 two scans +
  * two collects): the q64 replica replay driven through the OLD
  * implementation (copied verbatim below, horizon machinery inlined)
  * and the CURRENT `Materialize.applyBatch`, alternating reps in ONE
  * session so host drift cannot masquerade as a win. Prints wall
  * seconds AND Spark job counts per replay; a row-equality audit of
  * the final replica closes each rep. Tools-only: not referenced by any query path.
  */
object ReplicaProbe {

  // --- faithful copy of the PRE-r17 applyBatchCdf (HEAD~ at the time
  // of the fusion), with Materialize's private horizon helpers inlined;
  // the replay below only exercises the no-truncate path, but the old
  // probe costs (full-scan truncate probe + distinct bucket collect)
  // are reproduced exactly -------------------------------------------
  private val KeyCol = "k"
  private val HorizonFile = "_graft_truncate_horizon"
  private type Horizon = (Long, Option[Long])
  private def horizonOrder(h: Horizon): (Long, Long) =
    (h._1, h._2.getOrElse(Long.MinValue))
  private def readHorizon(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String): Option[Horizon] = {
    val p = new Path(tablePath, HorizonFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                finally in.close()
      val parts = txt.split('|')
      Some((parts(0).toLong,
        if (parts.length > 1 && parts(1).nonEmpty) Some(parts(1).toLong) else None))
    }
  }
  private def writeHorizon(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String, h: Horizon): Unit = {
    val out = fs.create(new Path(tablePath, HorizonFile), true)
    try out.write(s"${h._1}|${h._2.fold("")(_.toString)}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def applyBatchOld(batch: DataFrame, keyField: String,
      tablePath: String, nBuckets: Int, seqCol: Option[String]): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    def mapField(name: String) =
      coalesce(element_at($"newData", name), element_at($"oldData", name))
    val seq = seqCol.map(c => mapField(c).cast("long")).getOrElse(lit(null).cast("long"))
    val fs = new Path(tablePath).getFileSystem(s.sparkContext.hadoopConfiguration)
    val batchTrunc: Option[Horizon] = {
      val r = batch.filter($"op" === lit(Op.Truncate))
        .select(unix_micros($"eventTime").as("t"), seq.as("s"))
        .orderBy($"t".desc, $"s".desc_nulls_last).limit(1).collect()
      r.headOption.map(row =>
        (row.getLong(0), if (row.isNullAt(1)) None else Some(row.getLong(1))))
    }
    val persisted = readHorizon(fs, tablePath)
    val horizon: Option[Horizon] =
      (batchTrunc.toSeq ++ persisted.toSeq).reduceOption { (a, b) =>
        if (Ordering[(Long, Long)].gteq(horizonOrder(a), horizonOrder(b))) a else b
      }
    def survives(t: Column, sq: Column): Column = horizon.fold(lit(true)) {
      case (ht, hs) =>
        unix_micros(t) > ht || (unix_micros(t) === ht &&
          coalesce(sq, lit(Long.MinValue)) >= lit(hs.getOrElse(Long.MinValue)))
    }
    val clearPass = batchTrunc.isDefined
    val wBatch = Window.partitionBy(col(KeyCol))
      .orderBy($"event_time".desc, $"seq".desc_nulls_last, $"op")
    val upserts = batch
      .filter($"op" =!= lit(Op.Truncate))
      .withColumn(KeyCol, mapField(keyField))
      .filter(col(KeyCol).isNotNull)
      .withColumn("seq", seq)
      .withColumn("event_time", $"eventTime")
      .withColumn("rn", row_number().over(wBatch))
      .filter($"rn" === 1 && survives($"event_time", $"seq"))
      .select(col(KeyCol), $"op", $"newData".as("data"), $"event_time", $"seq")
      .withColumn("bucket", pmod(xxhash64(col(KeyCol)), lit(nBuckets)).cast("int"))
      .localCheckpoint(true)
    def bucketDirs: Array[Int] =
      if (!fs.exists(new Path(tablePath))) Array.empty
      else fs.listStatus(new Path(tablePath)).map(_.getPath.getName)
        .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt)
    val existingBuckets = bucketDirs
    val incomingBuckets = upserts.select($"bucket").distinct().collect().map(_.getInt(0))
    val touched =
      if (clearPass) (existingBuckets ++ incomingBuckets).distinct
      else incomingBuckets
    if (touched.isEmpty) {
      horizon.filter(_ => clearPass).foreach(writeHorizon(fs, tablePath, _))
      return
    }
    val existing =
      if (existingBuckets.nonEmpty)
        s.read.parquet(tablePath)
          .filter($"bucket".isin(touched.toIndexedSeq.map(Integer.valueOf): _*))
          .withColumn("src", lit("existing"))
          .select(col(KeyCol), $"op", $"data", $"event_time", $"seq", $"bucket", $"src")
          .localCheckpoint(true)
      else upserts.withColumn("src", lit("existing")).limit(0)
    val existingSurvivors =
      if (clearPass) existing.filter(survives($"event_time", $"seq"))
      else existing
    val wMerge = Window.partitionBy(col(KeyCol))
      .orderBy($"event_time".desc, $"seq".desc_nulls_last, ($"src" === "existing").asc)
    val winners = existingSurvivors.unionByName(upserts.withColumn("src", lit("incoming")))
      .withColumn("rn", row_number().over(wMerge))
      .filter($"rn" === 1)
      .localCheckpoint(true)
    winners
      .select(col(KeyCol), $"op", $"data", $"event_time", $"seq", $"bucket")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(tablePath)
    if (clearPass) {
      val stillWritten =
        winners.select($"bucket").distinct().collect().map(_.getInt(0)).toSet
      (touched.toSet -- stillWritten).foreach { b =>
        fs.delete(new Path(tablePath, s"bucket=$b"), true)
      }
      horizon.foreach(writeHorizon(fs, tablePath, _))
    }
    ()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })

    // q64's replay input, built once (both sides read the same
    // checkpointed frame, exactly like the registered lane)
    val log = graft.sources.Tables.load(spark, dir, "events")
      .withColumn("op",
        when($"event_id" % 10 === 0, "DELETE")
          .when($"event_id" % 3 === 0, "UPDATE")
          .otherwise("INSERT"))
    val payload = map(
      lit("user_id"), $"user_id".cast("string"),
      lit("event_id"), $"event_id".cast("string"),
      lit("event_type"), $"event_type",
      lit("value"), $"value".cast("string"))
    val events = log.select(
      $"event_id".as("batch_src"),
      $"ts".as("eventTime"),
      lit("public").as("tableNamespace"), lit("events").as("tableName"),
      when($"op" === "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("oldData"),
      when($"op" =!= "DELETE", payload)
        .otherwise(map().cast("map<string,string>")).as("newData"),
      $"op")
      .localCheckpoint(true)

    def replay(apply: (DataFrame, String) => Unit): DataFrame = {
      val tablePath =
        java.nio.file.Files.createTempDirectory("graft_replica_probe").toString + "/t"
      (0 until 3).foreach { i =>
        apply(events.filter(pmod($"batch_src", lit(3)) === i).drop("batch_src"), tablePath)
      }
      graft.streaming.Materialize.replica(spark, tablePath)
        .select($"k", $"seq", $"event_time").orderBy($"k")
    }
    def timed(tag: String)(body: => DataFrame): DataFrame = {
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val out = body
      out.write.format("noop").mode("overwrite").save()
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s, jobs ${jobs.get() - j0}")
      out
    }
    (1 to reps).foreach { r =>
      val oldOut = timed(s"rep$r old")(replay((b, p) =>
        applyBatchOld(b, "user_id", p, 8, Some("event_id"))))
      val newOut = timed(s"rep$r new")(replay((b, p) =>
        graft.streaming.Materialize.applyBatch(b, "user_id", p, 8, Some("event_id"))))
      // equality audit: the two replicas must be row-identical
      val diff = oldOut.exceptAll(newOut).count() + newOut.exceptAll(oldOut).count()
      println(s"rep$r equal: ${diff == 0}")
    }
    spark.stop()
  }
}
