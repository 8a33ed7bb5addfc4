package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** map_mask_keys(map, keys, mask): every entry whose key is in `keys`
  * has its value replaced by `mask` — the field-masking single-message
  * transform (Debezium's `MaskField` SMT) for CDC row images, e.g.
  * blinding a PII column before it reaches the sink topic.
  *
  * Why it exists: the lambda spelling (`transform_values(m, (k, v) ->
  * IF(array_contains(keys, k), mask, v))`) is a CodegenFallback, and ONE
  * fallback expression anywhere in a projection kicks the whole stage
  * out of whole-stage codegen (measured ~2x on the flat serializer
  * lane). This stays fused, and the no-hit common path returns the
  * input map with zero allocation.
  */
case class MapMaskKeys(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = first.dataType
  override def prettyName: String = "map_mask_keys"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (MapType(StringType, StringType, _), ArrayType(StringType, _), StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (m, a, s) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (map<string,string>, array<string>, string), " +
          s"got (${m.catalogString}, ${a.catalogString}, ${s.catalogString})")
    }

  override def nullSafeEval(m: Any, keys: Any, mask: Any): Any =
    MapMaskKeys.mask(m.asInstanceOf[MapData], keys.asInstanceOf[ArrayData],
      mask.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, ks, mk) =>
      s"${ev.value} = graft.functions.MapMaskKeys.mask($m, $ks, $mk);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MapMaskKeys {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[MapMaskKeys].getName, "map_mask_keys")

  private def contains(keys: ArrayData, k: UTF8String): Boolean = {
    var i = 0
    val n = keys.numElements()
    while (i < n) {
      if (!keys.isNullAt(i) && keys.getUTF8String(i).equals(k)) return true
      i += 1
    }
    false
  }

  /** No-hit fast path returns the input MapData untouched. */
  def mask(m: MapData, maskKeys: ArrayData, maskVal: UTF8String): MapData = {
    val keys = m.keyArray()
    val n = m.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (contains(maskKeys, keys.getUTF8String(i))) hits += 1
      i += 1
    }
    if (hits == 0) return m
    val values = m.valueArray()
    val outV = new Array[Any](n)
    i = 0
    while (i < n) {
      outV(i) =
        if (contains(maskKeys, keys.getUTF8String(i))) maskVal
        else if (values.isNullAt(i)) null
        else values.getUTF8String(i)
      i += 1
    }
    new ArrayBasedMapData(m.keyArray(), new GenericArrayData(outV))
  }
}
