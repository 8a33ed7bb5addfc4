package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the sf0.1 `orders` and `lineitem` tables the
  * snapshot reads, with the row counts, column names, types, value
  * domains and key ranges of the repository's sf0.1 test data.
  *
  * Every value is a hash of (seed, column salt, row id), so a table is
  * identical for a seed however Spark partitions the generation, and
  * the tables need no input files.
  */
object DataGen {
  /** Row counts at sf0.1. */
  val rows: Map[String, Long] = Map("orders" -> 150000L, "lineitem" -> 600000L)

  /** Key ranges the generated foreign keys draw from. */
  private val customers = 15000L
  private val parts = 20000L
  private val suppliers = 1000L

  /** Writes `tables` as `<dir>/<name>.parquet`, each in `files(name)`
    * parquet files (one when absent).
    */
  def write(spark: SparkSession, dir: String, seed: Long, tables: Seq[String],
      files: Map[String, Int] = Map.empty): Unit =
    tables.foreach { t =>
      val n = files.getOrElse(t, 1)
      table(spark, t, seed, n).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }

  def table(spark: SparkSession, name: String, seed: Long, partitions: Int): DataFrame = {
    val id = col("id")
    def h(salt: Int, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
    def pick(salt: Int, n: Long): Column = pmod(h(salt, id), lit(n))
    def u(salt: Int): Column =
      h(salt, id).bitwiseAND(lit(Long.MaxValue)).cast("double") / lit(9.223372036854775807e18)
    def oneOf(salt: Int, xs: String*): Column =
      element_at(typedLit(xs), (pick(salt, xs.length.toLong) + 1).cast("int"))
    def day(from: String, salt: Int, days: Int): Column =
      date_add(lit(from).cast("date"), pick(salt, days.toLong).cast("int")).cast("timestamp")
    val base = spark.range(0L, rows(name), 1L, partitions)
    name match {
      case "orders" => base.select(id.as("o_orderkey"),
        pick(1, customers).as("o_custkey"),
        oneOf(2, "F", "O", "P").as("o_orderstatus"),
        round(lit(1000.0) + u(3) * 499000.0, 2).as("o_totalprice"),
        day("1995-01-01", 4, 2404).as("o_orderdate"),
        oneOf(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
          .as("o_orderpriority"))
      case "lineitem" => base.select(pick(1, rows("orders")).as("l_orderkey"),
        pick(2, parts).as("l_partkey"),
        pick(3, suppliers).as("l_suppkey"),
        (pick(4, 7) + 1).cast("int").as("l_linenumber"),
        (pick(5, 50) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u(6) * 104100.0, 2).as("l_extendedprice"),
        (pick(7, 11).cast("double") / 100.0).as("l_discount"),
        (pick(8, 9).cast("double") / 100.0).as("l_tax"),
        oneOf(9, "A", "N", "R").as("l_returnflag"),
        oneOf(10, "F", "O").as("l_linestatus"),
        day("1995-01-02", 11, 2498).as("l_shipdate"))
    }
  }
}
