package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/**
 * A non-null integral literal (`LongType` or `IntegerType`) that generated
 * code reads from the class's `references` array instead of writing it
 * into the source. Two plans that differ only in such a value generate the
 * same Java, so Spark's codegen cache compiles their class once: a point
 * lookup `item_a_id = ?` binds its id like a prepared statement's
 * parameter ([[graft.plans.BindScanFilterLiterals]] puts it in place).
 *
 * It evaluates, prints (`toString`, `sql`) and compares like the literal it
 * replaces; only `foldable` differs, so nothing folds it back into code.
 */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && (dataType == LongType || dataType == IntegerType),
    s"BoundLiteral binds a non-null long or int, got $value: $dataType")

  override def nullable: Boolean = false

  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();",
      forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(v, dataType))
  }

  override def toString: String = Literal(value, dataType).toString

  override def sql: String = Literal(value, dataType).sql
}
