package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A per-call constant that generated code reads from its `references`
  * array instead of inlining it.
  *
  * Spark writes a primitive [[Literal]] into the generated Java source
  * (`compareDoubles(v, 79430.0D)`), and its codegen cache is keyed by
  * that source, so every new value compiles new classes — on the driver
  * and again on each executor. A `ParamLiteral` emits the same source
  * for every value, so calls that differ only in their values share one
  * compiled class per plan shape, and every call after the first is a
  * cache hit.
  *
  * It is deterministic and not foldable, so `ConstantFolding` and the
  * other literal rules leave it alone; two instances with different
  * values are not `semanticEquals`. `toString` and `sql` print the value
  * as the literal would, so plan dumps read the same.
  *
  * The cost: Parquet filter pushdown and the rules that unwrap a cast
  * against a literal (`UnwrapCastInBinaryComparison`) need a real
  * [[Literal]], so a value that reaches a pushed filter must stay one.
  * Bind a value this way only where the plan shows it is not pushed. */
final case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "ParamLiteral: NULL value")

  @transient private lazy val literal = Literal(value, dataType)

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"$javaType ${ev.value} = $read;", isNull = FalseLiteral)
  }
}

object ParamLiteral {
  /** `v` as a Column, typed as `lit(v)` would be. */
  def column(v: Any): Column = {
    val l = Literal(v)
    GraftSqlBridge.column(ParamLiteral(l.value, l.dataType))
  }
}
