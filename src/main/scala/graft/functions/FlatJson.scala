package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{BinaryType, DataType, MapType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** flat_json(map, key, value): the UTF-8 bytes of the JSON object
  * `{"k1":"v1",...,"key":"value"}` — the map's entries in order, minus
  * every entry for `key`, then (`key`, `value`) last. This is the CDC
  * flat record's Kafka value: the row image with the reference's
  * map-insert of `operation` (`example/simple/main.go:113-114`).
  *
  * Byte-identical to Spark's `to_json` over the same map, cast to
  * binary (FlatJsonSpec fuzzes it against the built-in spelling). Like
  * Jackson, it escapes `"` and `\` and every byte below 0x20 (`\b \t \n
  * \f \r` short, the rest as `\u00XX` with uppercase hex) and writes
  * everything else raw; a null value is `null`. A string that is not
  * valid UTF-8 is first decoded and re-encoded the way `to_json`'s
  * `String` round-trip does it (each bad sequence becomes U+FFFD).
  *
  * Why it exists: the built-in spelling copies the map to replace the
  * key, runs Jackson into a `String`, encodes that to UTF-8 and copies
  * it again for the cast. Here one pass measures the exact size and a
  * second writes the bytes.
  */
case class FlatJson(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "flat_json"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (MapType(StringType, StringType, _), StringType, StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (m, k, v) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (map<string,string>, string, string), " +
          s"got (${m.catalogString}, ${k.catalogString}, ${v.catalogString})")
    }

  override def nullSafeEval(m: Any, k: Any, v: Any): Any =
    FlatJson.write(m.asInstanceOf[MapData], k.asInstanceOf[UTF8String],
      v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, k, v) =>
      s"${ev.value} = graft.functions.FlatJson.write($m, $k, $v);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object FlatJson {
  val info: ExpressionInfo = new ExpressionInfo(classOf[FlatJson].getName, "flat_json")

  private val Hex = "0123456789ABCDEF".getBytes("US-ASCII")
  private val Null = "null".getBytes("US-ASCII")

  /** Escaped length of each ASCII byte: 1 raw, 2 short escape, 6 `\u00XX`. */
  private val EscLen: Array[Byte] = Array.tabulate[Byte](128) { b =>
    if (b == '"' || b == '\\' || b == '\b' || b == '\t' || b == '\n' || b == '\f' ||
      b == '\r') 2
    else if (b < 0x20) 6
    else 1
  }

  private def shortEscape(b: Int): Byte = (b match {
    case '\b' => 'b'
    case '\t' => 't'
    case '\n' => 'n'
    case '\f' => 'f'
    case '\r' => 'r'
    case other => other.toChar // '"' and '\\' escape as themselves
  }).toByte

  /** The `String` round-trip `to_json` gives a string that is not
    * valid UTF-8.
    */
  private def reencoded(s: UTF8String): UTF8String = UTF8String.fromString(s.toString)

  /** Length of `s` as a quoted JSON string. */
  private def quotedLen(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    var len = 2
    var nonAscii = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b < 0) { nonAscii = true; len += 1 } else len += EscLen(b)
      i += 1
    }
    if (nonAscii && !s.isValid) quotedLen(reencoded(s)) else len
  }

  /** Writes `s` quoted at `out(pos)`; returns the position after it.
    * Validity is checked only for a string with a non-ASCII byte, after
    * [[quotedLen]] has cached it.
    */
  private def putQuoted(out: Array[Byte], pos: Int, s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    var p = pos
    out(p) = '"'.toByte
    p += 1
    var checked = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b < 0) {
        if (!checked && !s.isValid) return putQuoted(out, pos, reencoded(s))
        checked = true
        out(p) = b
        p += 1
      } else if (EscLen(b) == 1) {
        out(p) = b
        p += 1
      } else if (EscLen(b) == 2) {
        out(p) = '\\'.toByte
        out(p + 1) = shortEscape(b)
        p += 2
      } else {
        out(p) = '\\'.toByte
        out(p + 1) = 'u'.toByte
        out(p + 2) = '0'.toByte
        out(p + 3) = '0'.toByte
        out(p + 4) = Hex(b >> 4)
        out(p + 5) = Hex(b & 0xf)
        p += 6
      }
      i += 1
    }
    out(p) = '"'.toByte
    p + 1
  }

  def write(m: MapData, key: UTF8String, value: UTF8String): Array[Byte] = {
    val keys = m.keyArray()
    val values = m.valueArray()
    val n = m.numElements()
    var size = 2 + quotedLen(key) + 1 + quotedLen(value)
    var i = 0
    while (i < n) {
      val k = keys.getUTF8String(i)
      if (!key.equals(k)) {
        size += quotedLen(k) + 2 +
          (if (values.isNullAt(i)) 4 else quotedLen(values.getUTF8String(i)))
      }
      i += 1
    }
    val out = new Array[Byte](size)
    out(0) = '{'.toByte
    var p = 1
    i = 0
    while (i < n) {
      val k = keys.getUTF8String(i)
      if (!key.equals(k)) {
        p = putQuoted(out, p, k)
        out(p) = ':'.toByte
        p += 1
        if (values.isNullAt(i)) {
          System.arraycopy(Null, 0, out, p, 4)
          p += 4
        } else p = putQuoted(out, p, values.getUTF8String(i))
        out(p) = ','.toByte
        p += 1
      }
      i += 1
    }
    p = putQuoted(out, p, key)
    out(p) = ':'.toByte
    p = putQuoted(out, p + 1, value)
    out(p) = '}'.toByte
    out
  }
}
