package graft

import graft.plans.ParamLiteral
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.optimizer.ConstantFolding
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The contract of [[ParamLiteral]]: it evaluates as the literal would,
  * interpreted and generated alike; generated code does not change with
  * its value; the optimizer treats it as a value it cannot see. */
class ParamLiteralSpec extends SparkSpec {

  private def session(factoryMode: String, wholeStage: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  private lazy val interpreted = session("NO_CODEGEN", wholeStage = false)
  private lazy val codegenOnly = session("CODEGEN_ONLY", wholeStage = true)

  /** One value per generated-code path: each primitive type, and a
    * string (a boxed reference). */
  private val values: Seq[(Any, Any, String)] = Seq(
    (7.0, -2.25, "double"), (7.0f, 1e30f, "float"), (7L, Long.MinValue, "bigint"),
    (7, -1, "int"), (7.toShort, 2.toShort, "smallint"), (7.toByte, 3.toByte, "tinyint"),
    (true, false, "boolean"), ("7", "déjà", "string"))

  /** `x = v` over a 40-row RDD scan (no local relation for the optimizer
    * to fold into), `x` being `id` cast to `t`. */
  private def query(s: SparkSession, v: Column, t: String): DataFrame =
    s.range(0, 40, 1, 2).select(col("id"), col("id").cast(t).as("x"))
      .select(col("id"), v.as("v"), (col("x") === v).as("eq"))

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  private def source(df: DataFrame): String =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      .map(_.doCodeGen()._2.body).mkString("\n")

  test("ParamLiteral: interpreted eval equals codegen-only and the literal, per type") {
    for ((v, _, t) <- values) {
      val want = rows(query(codegenOnly, lit(v), t))
      assert(rows(query(codegenOnly, ParamLiteral.column(v), t)) == want, t)
      assert(rows(query(interpreted, ParamLiteral.column(v), t)) == want, t)
      assert(want.exists(_(2) == true), s"$t: no row matched")
    }
  }

  test("ParamLiteral: generated code is the same for any value; a literal's is not") {
    for ((v, w, t) <- values) {
      val a = source(query(codegenOnly, ParamLiteral.column(v), t))
      assert(a.nonEmpty, t)
      assert(source(query(codegenOnly, ParamLiteral.column(w), t)) == a, t)
      if (t != "string") // a string literal is a reference already
        assert(source(query(codegenOnly, lit(v), t)) !=
          source(query(codegenOnly, lit(w), t)), t)
    }
  }

  test("ParamLiteral: ConstantFolding leaves it alone; values tell instances apart; sql shows the value") {
    val p = ParamLiteral(79430.0, DoubleType)
    val rel = LocalRelation(AttributeReference("a", DoubleType)())
    def folded(e: Expression) =
      ConstantFolding(Project(Seq(Alias(Add(e, Literal(1.0)), "y")()), rel))
        .expressions.head
    assert(folded(Literal(79430.0)).collectFirst { case l: Literal => l.value }
      .contains(79431.0))
    assert(folded(p).find(_ == p).isDefined, "ConstantFolding folded the parameter")
    assert(!p.foldable && p.deterministic)
    assert(!p.semanticEquals(ParamLiteral(79431.0, DoubleType)))
    assert(p.semanticEquals(ParamLiteral(79430.0, DoubleType)))
    assert(p.sql == Literal(79430.0).sql && p.sql.contains("79430.0"))
    assert(p.toString == Literal(79430.0).toString)
    // a plan prints it as it prints the literal
    val df = spark.range(3).where(col("id").try_cast("double") >=
      GraftSqlBridge.column(p))
    assert(df.queryExecution.optimizedPlan.toString.contains(">= 79430.0)"))
    intercept[IllegalArgumentException](ParamLiteral(null, DoubleType))
  }
}
