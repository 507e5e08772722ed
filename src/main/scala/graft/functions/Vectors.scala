package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector helpers over `array<float|double>` columns. Dot
  * products and cosines are native kernels ([[graft.plans.Sketches]],
  * through the `GraftFunctions` helpers).
  */
object Vectors {
  /** cast array<float> → array<double> (exact). */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Per-group centroids in LONG form — one row per (group, dimension)
    * with the member count and the rounded mean component. The k-means
    * "update" step as a standalone op (per-class mean embeddings,
    * cluster summaries for drift monitoring). Long form keeps the
    * output scalar-typed for cross-engine comparison and makes the
    * plan a plain two-phase aggregate: posexplode is row-local, the
    * only shuffle keys are (group, dim). `round` decimals bound the
    * double-summation-order difference between engines; the `+ 0.0`
    * collapses IEEE negative zero (a mean of ~-1e-9 rounds to -0.0 on
    * one engine and +0.0 on the other). */
  def centroids(df: org.apache.spark.sql.DataFrame, groupCol: String,
      vecCol: String, roundTo: Int = 4): org.apache.spark.sql.DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(groupCol, "dim")
      .agg(count(lit(1)).as("n_vecs"),
        expr(s"CAST(ROUND(AVG(CAST(v AS DOUBLE)), $roundTo) + 0.0 AS DOUBLE)")
          .as("c"))
}
