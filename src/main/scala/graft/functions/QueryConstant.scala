package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentTimestamp, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode,
  FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.PlanShim
import org.apache.spark.sql.types.DataType

/** query_constant(e): `e`'s value, passed through unchanged, that never
  * reaches generated code as a literal.
  *
  * Why it exists: the optimizer folds `current_timestamp()` into a
  * per-query literal (`ComputeCurrentTime`), and whole-stage codegen
  * writes a folded literal into the stage's source text. Spark caches
  * compiled classes by source text, so every snapshot query compiled
  * its stage again and ran on cold JIT code. Here the folded value
  * travels in the stage's `references` array instead: every query of
  * one plan shape generates the same source and shares one compiled
  * class (SnapshotCodegenSpec).
  *
  * Not foldable, so the optimizer keeps the wrapper. The wrapped
  * expression is still replaced once per query (`ComputeCurrentTime`)
  * or per micro-batch (`CurrentBatchTimestamp`), so values are those of
  * the bare expression.
  */
case class QueryConstant(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def prettyName: String = "query_constant"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!child.foldable) child.genCode(ctx)
    else child.eval() match {
      case null =>
        ExprCode(isNull = TrueLiteral, value = JavaCode.defaultLiteral(dataType))
      case v =>
        val javaType = CodeGenerator.javaType(dataType)
        val ref = ctx.addReferenceObj("queryConstant", v, CodeGenerator.boxedType(dataType))
        val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
        ev.copy(code = code"$javaType ${ev.value} = $read;", isNull = FalseLiteral)
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QueryConstant {

  /** `current_timestamp()` — one value per query or micro-batch —
    * that compiles to the same code in every query.
    */
  def currentTimestamp: Column = PlanShim.column(QueryConstant(CurrentTimestamp()))
}
