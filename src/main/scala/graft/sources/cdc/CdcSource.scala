package graft.sources.cdc

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.{Map => JMap}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.ChangeEvent

/** Custom DataSourceV2 CDC source — the "faithful v2" lane from SURVEY
  * §2A S1: a `MicroBatchStream` that speaks the engine's change-event
  * wire format with SOURCE-SIDE pushdown of operation and table filters,
  * re-expressing the reference's publication-level filtering
  * (`publish = 'INSERT,...'` and publication tables,
  * `example/simple/main.go:60-76`) as `SupportsPushDownFilters`.
  *
  * Wire format: a directory of newline-JSON files whose lexicographic
  * file names are the commit order (≙ LSN); an offset is a position in
  * that sequence, so restart/replay semantics are exactly the
  * reference's resume-from-confirmed-LSN. Swapping the file tail for a
  * replication-socket tail changes only `CdcMicroBatchStream.listFiles`.
  *
  * Usage:
  *   spark.readStream.format("graft-cdc").option("path", dir).load()
  *     .filter($"op" === "INSERT")   // pushed into the source scan
  */
class CdcSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ChangeEvent.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new CdcTable(properties.get("path"))
}

final class CdcTable(path: String) extends Table with SupportsRead {
  require(path != null, "graft-cdc requires .option(\"path\", dir)")
  override def name(): String = s"graft-cdc:$path"
  override def schema(): StructType = ChangeEvent.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CdcScanBuilder(path)
}

/** Accepts equality/IN filters on `op` and `tableName`/`tableNamespace`
  * (the publication knobs); everything else stays a Spark-side residual.
  */
final class CdcScanBuilder(path: String) extends ScanBuilder with SupportsPushDownFilters {
  private var pushed: Array[Filter] = Array.empty

  private def pushable(f: Filter): Boolean = f match {
    case EqualTo(a, _) => CdcScanBuilder.Pushable(a)
    case In(a, _)      => CdcScanBuilder.Pushable(a)
    case _             => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, residual) = filters.partition(pushable)
    pushed = p
    residual // Spark re-applies these
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new CdcScan(path, pushed)
}

object CdcScanBuilder {
  private val Pushable = Set("op", "tableName", "tableNamespace")

  /** The pushed filters applied to one change event's op and table,
    * before its row is materialized — the one predicate both partition
    * readers use.
    */
  private[cdc] def passes(filters: Array[Filter], op: String, tableName: String,
      tableNamespace: String): Boolean = filters.forall {
    case EqualTo("op", v)             => v == op
    case In("op", vs)                 => vs.contains(op)
    case EqualTo("tableName", v)      => v == tableName
    case In("tableName", vs)          => vs.contains(tableName)
    case EqualTo("tableNamespace", v) => v == tableNamespace
    case In("tableNamespace", vs)     => vs.contains(tableNamespace)
    case _                            => true
  }
}

final class CdcScan(path: String, filters: Array[Filter]) extends Scan {
  override def readSchema(): StructType = ChangeEvent.schema
  override def description(): String =
    s"graft-cdc path=$path pushed=[${filters.mkString(", ")}]"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(path, filters)
  override def toBatch: Batch = new Batch {
    private val stream = new CdcMicroBatchStream(path, filters)
    override def planInputPartitions(): Array[InputPartition] =
      stream.planInputPartitions(CdcOffset(0), stream.latestOffset().asInstanceOf[CdcOffset])
    override def createReaderFactory(): PartitionReaderFactory = stream.createReaderFactory()
  }
}

/** Offset = how many wire files (≙ LSN segments) have been consumed,
  * plus the NAME of the last consumed file and an order-sensitive
  * FINGERPRINT of the whole consumed-prefix name list. The name pins the
  * offset to the actual log position; the fingerprint closes the
  * residual gap of name+count alone (a simultaneous delete+insert both
  * sorting inside the prefix preserves count and last name but not the
  * chain hash) — any non-append-only mutation of the directory is
  * detected on every planning call and fails loudly instead of silently
  * skipping or re-delivering events.
  */
final case class CdcOffset(
    fileCount: Int, lastFile: String = "", prefixHash: Option[Long] = None) extends Offset {
  override def json(): String = {
    val node = CdcOffset.mapper.createObjectNode()
    node.put("n", fileCount)
    node.put("last", lastFile)
    prefixHash.foreach(h => node.put("h", h))
    CdcOffset.mapper.writeValueAsString(node)
  }
}

object CdcOffset {
  private val mapper = new ObjectMapper()

  /** Order-sensitive chain hash of a file-name sequence (fmix64 chaining —
    * position-dependent by construction, so reorders change the hash).
    */
  def prefixHashOf(files: Iterable[String]): Long =
    files.foldLeft(0x9E3779B97F4A7C15L) { (acc, f) =>
      graft.functions.SketchHash.fmix64(acc ^ f.hashCode.toLong)
    }

  def fromJson(json: String): CdcOffset = {
    val t = json.trim
    if (t.startsWith("{")) {
      val node = mapper.readTree(t)
      val h = if (node.has("h")) Some(node.get("h").asLong()) else None
      CdcOffset(node.path("n").asInt(), node.path("last").asText(""), h)
    } else CdcOffset(t.toInt) // pre-name offset format (round 1 checkpoints)
  }
}

final class CdcMicroBatchStream(path: String, filters: Array[Filter]) extends MicroBatchStream {
  private def listFiles: Array[String] =
    Option(new File(path).list()).getOrElse(Array.empty)
      .filter(f => f.endsWith(".json") || f.endsWith(".pgo")).sorted

  override def initialOffset(): Offset = CdcOffset(0)
  override def latestOffset(): Offset = {
    val files = listFiles
    CdcOffset(files.length, files.lastOption.getOrElse(""),
      Some(CdcOffset.prefixHashOf(files)))
  }
  override def deserializeOffset(json: String): Offset = CdcOffset.fromJson(json)
  override def commit(end: Offset): Unit = () // files are the durable log
  override def stop(): Unit = ()

  /** The consumed prefix must still be exactly files[0, n): same length
    * reachable, same file at position n-1, and (when the offset carries
    * one) the same chain fingerprint over the whole prefix — which also
    * catches a simultaneous delete+insert that preserves count and last
    * name. Anything else means the directory was mutated non-append-only
    * and positional replay would be wrong.
    */
  private def validatePrefix(files: Array[String], off: CdcOffset): Unit = {
    if (off.fileCount > files.length)
      throw new IllegalStateException(
        s"graft-cdc: offset ${off.fileCount} beyond ${files.length} listed files in $path — " +
        "wire files were deleted; cannot replay")
    if (off.fileCount > 0 && off.lastFile.nonEmpty &&
        files(off.fileCount - 1) != off.lastFile)
      throw new IllegalStateException(
        s"graft-cdc: file at consumed position ${off.fileCount - 1} is " +
        s"'${files(off.fileCount - 1)}' but offset recorded '${off.lastFile}' — " +
        "a file sorting inside the consumed prefix appeared or one was deleted; " +
        "the directory must be append-only with monotonic names")
    off.prefixHash.foreach { h =>
      val actual = CdcOffset.prefixHashOf(files.take(off.fileCount))
      if (actual != h)
        throw new IllegalStateException(
          s"graft-cdc: consumed-prefix fingerprint mismatch in $path " +
          s"(recorded $h, recomputed $actual) — the first ${off.fileCount} wire " +
          "files are not the ones this checkpoint consumed; the directory must " +
          "be append-only with monotonic names")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val files = listFiles
    val s = start.asInstanceOf[CdcOffset]
    val e = end.asInstanceOf[CdcOffset]
    validatePrefix(files, s)
    validatePrefix(files, e)
    files.slice(s.fileCount, math.min(e.fileCount, files.length))
      .map(f => CdcInputPartition(new File(path, f).getPath): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(filters)
}

final case class CdcInputPartition(file: String) extends InputPartition

final class CdcReaderFactory(filters: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[CdcInputPartition].file
    if (file.endsWith(".pgo")) new PgOutputPartitionReader(file, filters)
    else new CdcPartitionReader(file, filters)
  }
}

/** Parses one length-framed pgoutput capture file (raw replication-slot
  * payloads — see [[PgOutput.readFramed]]) through a [[PgOutputSession]];
  * applies the pushed op/table filters BEFORE materializing rows, exactly
  * like the JSON lane.
  */
final class PgOutputPartitionReader(file: String, filters: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val in = Files.newInputStream(new File(file).toPath)
  private val frames = PgOutput.readFramed(in)
  private val session = new PgOutputSession
  private var current: InternalRow = _
  // one frame can release a whole streamed transaction (protocol v2
  // Stream Commit) — drain released events before reading the next frame
  private val released = scala.collection.mutable.Queue.empty[PgOutput.RowEvent]

  override def next(): Boolean = {
    while (released.nonEmpty || frames.hasNext) {
      if (released.isEmpty) released ++= session.feed(frames.next())
      if (released.nonEmpty) {
        val ev = released.dequeue()
        if (CdcScanBuilder.passes(filters, ev.op, ev.tableName, ev.tableNamespace)) {
          current = InternalRow(
            ev.eventTimeMicros,
            WireJson.utf8(ev.tableNamespace), WireJson.utf8(ev.tableName),
            WireJson.toMapFromPairs(ev.oldData), WireJson.toMapFromPairs(ev.newData),
            WireJson.utf8(ev.op))
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Parses one wire file (streamed line-by-line — never whole-file
  * buffered, so an oversized segment cannot balloon reader memory);
  * applies the pushed op/table filters BEFORE materializing rows — the
  * source-side analog of PostgreSQL only emitting published
  * operations/tables.
  */
final class CdcPartitionReader(file: String, filters: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val reader =
    Files.newBufferedReader(new File(file).toPath, StandardCharsets.UTF_8)
  private var current: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      if (line.nonEmpty) {
        val node = mapper.readTree(line)
        val op = node.path("op").asText(null)
        val table = node.path("tableName").asText(null)
        val ns = node.path("tableNamespace").asText(null)
        if (CdcScanBuilder.passes(filters, op, table, ns)) {
          current = InternalRow(
            WireJson.instantMicros(node.path("eventTime").asText(null)),
            WireJson.utf8(ns), WireJson.utf8(table),
            WireJson.toMap(node.get("oldData")), WireJson.toMap(node.get("newData")),
            WireJson.utf8(op))
          return true
        }
      }
      line = reader.readLine()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
