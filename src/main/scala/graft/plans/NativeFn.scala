package graft.plans

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DataType

/** One row of the [[GraftFunctions]] table for a scalar native
  * function: what [[NativeFn]] type-checks, evaluates and generates
  * code from.
  *  - `inputs`: each child's type as messages print it (`simpleString`;
  *    `a|b` accepts either);
  *  - `consts`: the constant arguments after the children, `int` or
  *    `array<bigint>`, checked by `checkConsts` when built;
  *  - `method`: the JVM static method that generated code and
  *    interpreted eval both call, with the children's values then the
  *    constants. An overloaded name resolves by the children's Java
  *    types, so the input types pick the method at analysis time. */
final case class Kernel(name: String, inputs: Seq[String], dataType: DataType,
    method: String, consts: Seq[String] = Nil,
    checkConsts: Seq[Any] => Unit = _ => ()) {

  /** The table's builder: children, then foldable constants. */
  def build(exprs: Seq[Expression]): Expression = {
    val n = inputs.size
    require(exprs.length == n + consts.size && exprs.drop(n).forall(_.foldable),
      s"$name expects " + (inputs ++ consts.map("const " + _)).mkString("(", ", ", ")"))
    val values = exprs.drop(n).zip(consts).map {
      case (e, "int") => e.eval().asInstanceOf[Number].intValue()
      case (e, _) => e.eval().asInstanceOf[ArrayData].toLongArray().toSeq
    }
    checkConsts(values)
    NativeFn(name, exprs.take(n), values)
  }

  def check(types: Seq[DataType]): TypeCheckResult = {
    def sig(ts: Seq[String]) = if (ts.size == 1) ts.head else ts.mkString("(", ", ", ")")
    if (types.size == inputs.size && types.zip(inputs).forall { case (t, in) =>
        in.split('|').contains(t.simpleString) }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects ${sig(inputs)}, got ${sig(types.map(_.simpleString))}")
  }
}

/** A scalar native function as a Catalyst expression: the [[Kernel]]
  * row named `name` over `children`, with constant arguments `consts`
  * (`Int`s, or a `Seq[Long]`).
  *
  * Generated code calls the row's static method once per row, so the
  * kernel stays inside the whole-stage codegen stage; interpreted eval
  * calls the same method, resolved once per expression instance. A
  * NULL child gives NULL without calling it.
  *
  * Catalyst sees what a hand-written Unary/Binary/TernaryExpression
  * would show: nullable iff a child is, foldable iff every child is,
  * not null-intolerant (no inferred `isnotnull` filters), `sql` is
  * `name(children)` (which names an unaliased column), and
  * `toString` is `name(children…, consts…)`. Constants sit in a `Seq`,
  * so two identical calls are `semanticEquals` and common-subexpression
  * elimination computes the kernel once. */
final case class NativeFn(name: String, children: Seq[Expression], consts: Seq[Any])
    extends Expression {

  @transient private lazy val kernel: Kernel = GraftFunctions.kernel(name)

  override def prettyName: String = name
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def checkInputDataTypes(): TypeCheckResult =
    kernel.check(children.map(_.dataType))

  override protected def flatArguments: Iterator[Any] =
    children.iterator ++ consts.iterator.flatMap {
      case s: Seq[_] => s
      case c => Iterator(c)
    }

  /** Constants as the method takes them. */
  @transient private lazy val constArgs: Seq[AnyRef] = consts.map {
    case s: Seq[_] => s.map(_.asInstanceOf[Long]).toArray
    case c => c.asInstanceOf[AnyRef]
  }

  @transient private lazy val method: Method = {
    val dot = kernel.method.lastIndexOf('.')
    val owner = Class.forName(kernel.method.take(dot), true, getClass.getClassLoader)
    val types = children.map(c => CodeGenerator.javaClass(c.dataType)) ++ consts.map {
      case _: Seq[_] => classOf[Array[Long]]
      case _ => java.lang.Integer.TYPE
    }
    owner.getMethod(kernel.method.drop(dot + 1), types: _*)
  }

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.size + consts.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    constArgs.copyToArray(args, i)
    try method.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val args = gens.map(_.value.toString) ++ consts.zip(constArgs).map {
      case (_: Seq[_], arr) => ctx.addReferenceObj("nativeConst", arr, "long[]")
      case (c, _) => c.toString
    }
    val call = s"${ev.value} = ${kernel.method}(${args.mkString(", ")});"
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    if (nullable) {
      // nested null checks: a child is evaluated only if those before it
      // are non-null, as nullSafeCodeGen does
      val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, g), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $body""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $default;
        $call""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeFn = copy(children = newChildren)
}
