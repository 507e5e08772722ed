package graft

import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
    (2L, Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
    (3L, Array(0.3, -0.7, 0.11), Array(-0.9, 0.02, 0.4))
  ).toDF("id", "a", "b")

  test("native cosine is bit-identical to the higher-order-function form") {
    val out = vecs.select(
      GraftFunctions.cosine(spark, col("a"), col("b")).as("native"),
      SketchReferences.cosine(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("known values: parallel 1.0, orthogonal 0.0") {
    val m = vecs.select(col("id"),
      GraftFunctions.cosine(spark, col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) == 1.0 && m(2L) == 0.0)
  }

  test("expression participates in whole-stage codegen") {
    // range-based input so constant folding can't collapse the plan
    val arrs = spark.range(100).selectExpr(
      "array(cast(id as double), 1.0d) AS a",
      "array(1.0d, cast(id as double)) AS b")
    val plan = arrs.select(
      GraftFunctions.cosine(spark, col("a"), col("b")).as("c"))
      .where(col("c") > -2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_cosine"), plan)
    // interpreted fallback would show up as an eval wrapper; the filter +
    // project chain must still be a single codegen stage
    assert(plan.contains("*(1)"), plan)
  }

  test("runtime registration exposes graft_cosine to SQL") {
    GraftFunctions.register(spark)
    val ok = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))")
      .head().getDouble(0)
    assert(ok == 1.0)
  }

  test("SparkSessionExtensions entry point applies cleanly") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext) // must not throw
  }
}
