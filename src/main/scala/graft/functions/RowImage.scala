package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapBuilder, ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** row_image('k1', v1, 'k2', v2, ...): the string map `map(k1, v1, k2,
  * v2, ...)` for constant keys — a snapshot row's image, keyed by its
  * column names.
  *
  * Why it exists: `CreateMap` runs an `ArrayBasedMapBuilder` per row,
  * which hashes every key into a map to check for duplicates. The keys
  * here are plan-time constants, so they are checked once, under the
  * same `spark.sql.mapKeyDedupPolicy` rules (EXCEPTION raises
  * DUPLICATED_MAP_KEY, LAST_WIN keeps the last value at the first
  * key's position). Each row then allocates one values array, which an
  * `ArrayBasedMapData` pairs with one shared key array. The value
  * assignments are split into methods when the projection is not
  * whole-stage fused, so a wide table compiles.
  */
case class RowImage(names: Seq[String], children: Seq[Expression]) extends Expression {
  require(names.length == children.length, "row_image: one value per key")

  override def nullable: Boolean = false
  override def prettyName: String = "row_image"
  override def dataType: DataType =
    MapType(StringType, StringType, valueContainsNull = children.exists(_.nullable))

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != StringType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string values, got ${c.dataType.catalogString}")
    }

  /** The distinct keys in first-appearance order, and each child's key
    * slot; resolved once per expression instance. The duplicate check
    * is `map()`'s own builder, so it raises what `map()` raises.
    */
  private lazy val layout: (ArrayData, Array[Int]) = {
    val checked = new ArrayBasedMapBuilder(StringType, StringType)
    names.foreach(n => checked.put(UTF8String.fromString(n), null))
    val keys = checked.build().keyArray
    val slotOf = names.distinct.zipWithIndex.toMap
    (keys, names.map(slotOf).toArray)
  }
  private def keys: ArrayData = layout._1
  private def slots: Array[Int] = layout._2

  override def eval(input: InternalRow): Any = {
    val values = new Array[Any](keys.numElements())
    var i = 0
    while (i < slots.length) {
      values(slots(i)) = children(i).eval(input)
      i += 1
    }
    new ArrayBasedMapData(keys, new GenericArrayData(values))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyArray = ctx.addReferenceObj("imageKeys", keys, classOf[ArrayData].getName)
    val values = ctx.freshName("imageValues")
    val assignments = children.zip(slots).map { case (c, slot) =>
      val e = c.genCode(ctx)
      val v = if (c.nullable) s"${e.isNull} ? null : ${e.value}" else s"${e.value}"
      s"${e.code}\n$values[$slot] = $v;"
    }
    val assigned = ctx.splitExpressionsWithCurrentInputs(
      expressions = assignments, funcName = "rowImage",
      extraArguments = ("Object[]", values) :: Nil)
    ev.copy(code = code"""
      |Object[] $values = new Object[${keys.numElements()}];
      |$assigned
      |final ${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  new ${classOf[ArrayBasedMapData].getName}($keyArray,
      |    new ${classOf[GenericArrayData].getName}($values));
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object RowImage {
  val info: ExpressionInfo = new ExpressionInfo(classOf[RowImage].getName, "row_image")
}
