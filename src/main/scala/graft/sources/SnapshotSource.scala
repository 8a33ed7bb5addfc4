package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.QueryConstant
import graft.model.Op

/** Snapshot source (reference S2): a consistent chunked read of existing
  * table rows, surfaced as SNAPSHOT-op change events through the same
  * pipeline as CDC rows (`connector.go:138-139`,
  * `example/snapshot/main.go:90-98`).
  *
  * In Spark the chunking machinery (exported-snapshot transaction, chunk
  * claims, heartbeats, resume — `README.md:242-248`) collapses into a
  * partitioned columnar scan: each parquet row-group/JDBC partition is one
  * "chunk", claimed by a task and retried on failure, with no coordinator
  * bookkeeping. For JDBC the chunk size maps to
  * `partitionColumn/lowerBound/upperBound/numPartitions`.
  *
  * The snapshot→CDC gapless handoff (`README.md:65-70`) is the
  * `Trigger.AvailableNow` backfill pattern: run the snapshot batch, record
  * the stream offset taken BEFORE the snapshot, start the CDC stream from
  * that offset; both phases emit the same ChangeEvent schema so downstream
  * handlers just see `op = SNAPSHOT` vs CDC ops
  * (`example/snapshot/main.go:130-141`).
  */
object SnapshotSource {

  /** Read a parquet table as a stream of SNAPSHOT change events in the
    * dynamic (string-map) lane: every column stringified into `newData`,
    * mirroring how pgoutput relation decoding lands in `map[string]any`
    * (SURVEY §1.2).
    */
  def snapshot(
      spark: SparkSession,
      dir: String,
      table: String,
      namespace: String = "public"): DataFrame =
    asSnapshotEvents(Tables.load(spark, dir, table), table, namespace)

  /** Any relational frame → SNAPSHOT ChangeEvents (shared by the parquet,
    * JDBC and streaming snapshot lanes): every column stringified into
    * `newData`. `eventTime` is the query's (or micro-batch's)
    * `current_timestamp()`, kept out of the generated code's text so
    * every snapshot query of one shape reuses one compiled stage. The
    * image is `row_image` ([[graft.functions.RowImage]]), the same map
    * as `map(kvs)` without its per-row duplicate-key check: the keys
    * are the column names, checked once when the plan is built.
    */
  def asSnapshotEvents(df: DataFrame, table: String, namespace: String): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    val kvs = df.columns.toIndexedSeq.flatMap(c => Seq(lit(c), col(c).cast("string")))
    df.select(
      QueryConstant.currentTimestamp.as("eventTime"),
      lit(namespace).as("tableNamespace"),
      lit(table).as("tableName"),
      lit(null).cast("map<string,string>").as("oldData"),
      call_function("row_image", kvs: _*).as("newData"),
      lit(Op.Snapshot).as("op"))
  }

  /** Snapshot several tables into one multiplexed event stream — the
    * publication-tables analog (`example/simple/main.go:66-76`): only the
    * listed tables are captured, which is the reference's partition-
    * pruning knob (SURVEY §4).
    */
  def snapshotTables(
      spark: SparkSession,
      dir: String,
      tables: Seq[String],
      namespace: String = "public"): DataFrame =
    tables.map(snapshot(spark, dir, _, namespace)).reduce(_ unionAll _)
}
