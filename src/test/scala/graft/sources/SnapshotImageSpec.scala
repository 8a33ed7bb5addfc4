package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions.{call_function, col, lit, map, map_concat, map_filter,
  to_json}
import org.apache.spark.sql.types.StringType

import graft.SparkSpec
import graft.functions.RowImage
import graft.model.Op
import graft.route.TopicRouter
import graft.transform.Handlers

/** The snapshot image `row_image` against the `map(kvs)` spelling it
  * replaced: the same map (entries, order, type), the same duplicate-key
  * behaviour under both `spark.sql.mapKeyDedupPolicy` values, the same
  * wire bytes for a 400-column table, and the same Debezium envelope.
  */
class SnapshotImageSpec extends SparkSpec {

  private def kvs(df: DataFrame): Seq[Column] =
    df.columns.toIndexedSeq.flatMap(c => Seq(lit(c), col(c).cast("string")))

  /** The parent spelling of the snapshot events, with a fixed stamp. */
  private def mapEvents(df: DataFrame, table: String, ts: Timestamp): DataFrame =
    df.select(lit(ts).as("eventTime"), lit("public").as("tableNamespace"),
      lit(table).as("tableName"), lit(null).cast("map<string,string>").as("oldData"),
      map(kvs(df): _*).as("newData"), lit(Op.Snapshot).as("op"))

  private def builtinFlat(m: Column): Column =
    to_json(map_concat(map_filter(m, (k, _) => k =!= lit("operation")),
      map(lit("operation"), lit(Op.Snapshot)))).cast("binary")

  private def withConf[T](key: String, value: String)(f: => T): T = {
    spark.conf.set(key, value)
    try f finally spark.conf.unset(key)
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("row_image gives map(kvs)'s entries, order and type") {
    val nullable = spark.range(40).selectExpr("id", "CAST(id % 3 AS INT) AS n",
      "IF(id % 4 = 0, NULL, CONCAT('s', id)) AS s", "CAST(id AS DOUBLE) / 3 AS d",
      "DATE'2024-01-01' + CAST(id AS INT) AS dt")
    val notNull = spark.range(5).selectExpr("id", "CONCAT('x', id) AS s")
    Seq(nullable, notNull).foreach { df =>
      val got = SnapshotSource.asSnapshotEvents(df, "t", "public").select("newData")
      val want = df.select(map(kvs(df): _*).as("newData"))
      assert(got.schema == want.schema)
      assert(got.select(to_json(col("newData"))).collect().toSeq ==
        want.select(to_json(col("newData"))).collect().toSeq)
    }
    assert(SnapshotSource.asSnapshotEvents(notNull, "t", "public").schema("newData").dataType
      .simpleString == "map<string,string>")
  }

  private val dupFrame = spark.range(3).selectExpr("CAST(id AS STRING) AS x",
    "CAST(id * 10 AS STRING) AS y", "CAST(id * 100 AS STRING) AS z")
  private val dupArgs = Seq(lit("a"), col("x"), lit("b"), col("y"), lit("a"), col("z"))

  private def dupImages: Seq[DataFrame] = {
    graft.GraftExtensions.register(spark)
    Seq(dupFrame.select(call_function("row_image", dupArgs: _*).as("m")),
      dupFrame.select(map(dupArgs: _*).as("m")))
  }

  test("duplicate keys under EXCEPTION raise DUPLICATED_MAP_KEY, as map() does") {
    withConf("spark.sql.mapKeyDedupPolicy", "EXCEPTION") {
      dupImages.foreach { df =>
        val e = intercept[Exception](df.collect())
        val conditions = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collect { case t: SparkThrowable => t.getCondition }.toSeq
        assert(conditions.contains("DUPLICATED_MAP_KEY"), s"got $conditions from $e")
      }
    }
  }

  test("duplicate keys under LAST_WIN keep the last value at the first key's place") {
    withConf("spark.sql.mapKeyDedupPolicy", "LAST_WIN") {
      val Seq(got, want) = dupImages.map(_.select(to_json(col("m"))).collect().map(_.getString(0)))
      assert(got.toSeq == want.toSeq)
      assert(got(1) == """{"a":"100","b":"10"}""")
    }
  }

  test("the image evaluates the same interpreted (NO_CODEGEN)") {
    val df = spark.range(10).selectExpr("id", "IF(id % 2 = 0, NULL, CONCAT('s', id)) AS s")
    val want = df.select(to_json(map(kvs(df): _*))).collect().toSeq
    withConf("spark.sql.codegen.wholeStage", "false") {
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN") {
        val got = SnapshotSource.asSnapshotEvents(df, "t", "public")
          .select(to_json(col("newData"))).collect().toSeq
        assert(got == want)
      }
    }
  }

  test("a 400-column image compiles, and its snapshot gives the old spelling's bytes") {
    val names = (0 until 400).map(i => s"c$i")
    // the projection code must compile as generated (split into methods)
    GenerateUnsafeProjection.generate(Seq(RowImage(names,
      names.indices.map(i => BoundReference(i, StringType, nullable = true)))))
    val dir = tempDir("graft_wide")
    spark.range(30).select(names.zipWithIndex.map { case (n, i) =>
      (if (i % 3 == 0) (col("id") * i).cast("string") else col("id") * i).as(n)
    }: _*).write.parquet(s"$dir/wide.parquet")
    val router = TopicRouter(Map("public.wide" -> "wide"))
    def keyed(df: DataFrame) = df.collect()
      .map(r => new String(r.getAs[Array[Byte]](0), UTF_8) -> r.getAs[Array[Byte]](1).toSeq)
      .sortBy(_._1).toSeq
    val got = keyed(Handlers.declarative(SnapshotSource.snapshot(spark, dir, "wide"), router, "c0")
      .select("key", "value"))
    val table = Tables.load(spark, dir, "wide")
    val want = keyed(table.select(col("c0").cast("string").cast("binary"),
      builtinFlat(map(kvs(table): _*))))
    assert(got.size == 30 && got == want)
  }

  test("the Debezium envelope is byte-identical over the old and the new image") {
    val ctrl = new String(Array(0x01.toChar, 0x1f.toChar, '\t', '\n'))
    val astral = new String(Character.toChars(0x1F600))
    import spark.implicits._
    val df = Seq(("1", "say \"hi\" \\ " + ctrl, astral + " text", null: String),
        ("2", "/" + new String(Array(0x2028.toChar)), "", "x"))
      .toDF("id", "quoted", "astral", "nothing").localCheckpoint(true)
    val ts = new Timestamp(1700000000123L)
    val router = TopicRouter(Map("public.t" -> "t"))
    def envelope(events: DataFrame) = Handlers.debeziumEnvelope(events, router, "id")
      .select(col("key"), col("value").cast("binary")).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).sortBy(_._1).toSeq
    val got = envelope(SnapshotSource.asSnapshotEvents(df, "t", "public")
      .withColumn("eventTime", lit(ts)))
    val want = envelope(mapEvents(df, "t", ts))
    assert(got.size == 2 && got == want)
    assert(new String(got.head._2.toArray, UTF_8).contains(""""nothing":null"""))
  }
}
