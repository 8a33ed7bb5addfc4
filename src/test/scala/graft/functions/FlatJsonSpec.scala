package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{call_function, col, lit, map, map_concat, map_filter,
  map_from_arrays, to_json}
import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType, StructField, StructType}

import graft.SparkSpec

/** flat_json(map, 'operation', op): the CDC flat record's value bytes.
  * The built-in spelling it replaced — drop every `operation` entry,
  * append (`operation`, op), `to_json`, cast to binary — is the
  * reference: every value must be byte-identical to it, in whole-stage
  * codegen and interpreted alike.
  */
class FlatJsonSpec extends SparkSpec {

  private def flat(m: Column, op: Column): Column =
    call_function("flat_json", m, lit("operation"), op)

  private def builtin(m: Column, op: Column): Column =
    to_json(map_concat(map_filter(m, (k, _) => k =!= lit("operation")),
      map(lit("operation"), op))).cast("binary")

  private def json(m: Map[String, String], op: String = "c"): String = {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val r = Seq(Tuple1(m)).toDF("m").select(flat(col("m"), lit(op))).collect()(0)
    new String(r.getAs[Array[Byte]](0), UTF_8)
  }

  test("absent key appends the entry") {
    assert(json(Map("a" -> "1", "b" -> "2")) == """{"a":"1","b":"2","operation":"c"}""")
  }

  test("an image column literally named operation is dropped; the op goes last") {
    assert(json(Map("a" -> "1", "operation" -> "stale", "b" -> "2"), "u")
      == """{"a":"1","b":"2","operation":"u"}""")
    assert(json(Map("operation" -> "stale", "z" -> "9"), "u") == """{"z":"9","operation":"u"}""")
    assert(json(Map("z" -> "9", "operation" -> "stale"), "u") == """{"z":"9","operation":"u"}""")
  }

  test("null values are written as null") {
    assert(json(Map("a" -> null, "b" -> "x")) == """{"a":null,"b":"x","operation":"c"}""")
  }

  test("empty map yields the single entry") {
    assert(json(Map.empty) == """{"operation":"c"}""")
  }

  test("a null image gives a null value") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val out = Seq(Tuple1(null: Map[String, String])).toDF("m")
      .select(flat(col("m"), lit("c"))).collect()(0)
    assert(out.isNullAt(0))
  }

  test("control bytes escape as Jackson writes them, with uppercase hex") {
    val bs = "\\"
    val in = "a" + 0x01.toChar + 0x1f.toChar + "\t\n\"\\/" + 0x7f.toChar + "b"
    val want = "a" + bs + "u0001" + bs + "u001F" + bs + "t" + bs + "n" + bs + "\"" +
      bs + bs + "/" + 0x7f.toChar + "b"
    assert(json(Map("k" -> in)) == "{\"k\":\"" + want + "\",\"operation\":\"c\"}")
  }

  test("invalid UTF-8 is written the way the String round-trip writes it") {
    val bad = Array(0x61, 0xC3, 0x28, 0xFF, 0x62).map(_.toByte)
    val got = valuesOf(fuzzFrame(Seq(Row(Seq(Array('k'.toByte)), Seq(bad), "r"))), flat)
    val replacement = new String(Array(0xFFFD.toChar))
    val want = "{\"k\":\"a" + replacement + "(" + replacement + "b\",\"operation\":\"r\"}"
    assert(got.head.toSeq == want.getBytes(UTF_8).toSeq)
  }

  // --- byte-equality fuzz against the built-in spelling ---------------

  /** (keys, values, op) rows, keys and values as raw bytes so a string
    * can be invalid UTF-8; a null `keys` array is a null map.
    */
  private val schema = StructType(Seq(
    StructField("ks", ArrayType(BinaryType, containsNull = false)),
    StructField("vs", ArrayType(BinaryType, containsNull = true)),
    StructField("op", StringType)))

  /** The rows as (id_order, m, op), each map's strings cast from the
    * raw bytes (no validation). The frame is checkpointed, so a
    * function of `m` runs in its own projection over a scan: in
    * whole-stage codegen unless the session's codegen is switched off.
    */
  private def fuzzFrame(rows: Seq[Row]): DataFrame = {
    graft.GraftExtensions.register(spark)
    val numbered = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(numbered, 2),
        schema.add("id_order", "long"))
      .select(col("id_order"), map_from_arrays(col("ks").cast("array<string>"),
        col("vs").cast("array<string>")).as("m"), col("op"))
      .localCheckpoint(true)
  }

  private def valuesOf(maps: DataFrame, f: (Column, Column) => Column): Seq[Array[Byte]] =
    maps.select(col("id_order"), f(col("m"), col("op")).as("v")).collect()
      .sortBy(_.getLong(0)).map(r => if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)).toSeq

  private val pieces: IndexedSeq[Array[Byte]] = {
    val strs = (0 until 128).map(b => new String(Array(b.toChar))) ++
      Seq(0x2028, 0x1F600, 0xE9, 0xFFFD).map(c => new String(Character.toChars(c))) ++
      Seq("\"", "\\", "/", "plain text", "operation")
    val invalid = Seq(Seq(0xC3, 0x28), Seq(0xFF), Seq(0xED, 0xA0, 0x80), Seq(0xC0, 0x80),
      Seq(0xF4, 0x90, 0x80, 0x80), Seq(0x80), Seq(0xE2, 0x82), Seq(0xF0, 0x9F, 0x98))
    strs.map(_.getBytes(UTF_8)) ++ invalid.map(_.map(_.toByte).toArray)
  }

  private def randomBytes(rnd: Random): Array[Byte] =
    Array.fill(rnd.nextInt(5))(pieces(rnd.nextInt(pieces.size))).flatten

  /** Every byte 0x00-0x7F alone in a key and a value, then random maps
    * with null values, empty and null maps, and `operation` anywhere.
    */
  private def fuzzRows(seed: Long, n: Int): Seq[Row] = {
    val rnd = new Random(seed)
    val perByte = (0 until 128).map { b =>
      Row(Seq(Array('k'.toByte, b.toByte)), Seq(Array('v'.toByte, b.toByte, 'w'.toByte)), "c")
    }
    val random = (0 until n).map { i =>
      if (i % 50 == 0) Row(null, null, "c")
      else {
        val size = rnd.nextInt(6)
        val keys = Iterator.continually(randomBytes(rnd)).map(_.toSeq).distinct
          .filterNot(_ == "operation".getBytes(UTF_8).toSeq).take(size).map(_.toArray).toSeq
        val withOp =
          if (rnd.nextInt(3) == 0) keys.patch(rnd.nextInt(keys.size + 1),
            Seq("operation".getBytes(UTF_8)), 0)
          else keys
        val vals = withOp.map(_ => if (rnd.nextInt(6) == 0) null else randomBytes(rnd))
        Row(withOp, vals, new String(randomBytes(rnd), UTF_8))
      }
    }
    perByte ++ random
  }

  private def assertSameBytes(got: Seq[Array[Byte]], want: Seq[Array[Byte]]): Unit = {
    assert(got.size == want.size)
    def hex(a: Array[Byte]) = if (a == null) "null" else a.map(b => f"${b & 0xff}%02X").mkString(" ")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(java.util.Arrays.equals(g, w), s"row $i:\n got  ${hex(g)}\n want ${hex(w)}")
    }
  }

  test("fuzz: byte-identical to the built-in spelling in whole-stage codegen") {
    val maps = fuzzFrame(fuzzRows(11, 400))
    val fused = maps.select(col("id_order"), flat(col("m"), col("op")).as("v"))
    fused.collect()
    assert(fused.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec if w.toString.contains("flat_json") => w
    }.nonEmpty, s"flat_json is not whole-stage fused:\n${fused.queryExecution.executedPlan}")
    assertSameBytes(valuesOf(maps, flat), valuesOf(maps, builtin))
  }

  test("fuzz: byte-identical to the built-in spelling interpreted (NO_CODEGEN)") {
    val maps = fuzzFrame(fuzzRows(12, 400))
    val want = valuesOf(maps, builtin)
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try assertSameBytes(valuesOf(maps, flat), want)
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("the fuzz input really carries the raw bytes (casts do not validate)") {
    val bad = Array(0xED, 0xA0, 0x80).map(_.toByte)
    val raw = fuzzFrame(Seq(Row(Seq(Array('k'.toByte)), Seq(bad), "c")))
      .select(col("m").getItem("k").cast("binary")).collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(raw, bad))
  }
}
