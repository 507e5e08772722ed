package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, expr, lit, sqrt, transform, zip_with}

/** The higher-order-function forms the native kernels
  * ([[graft.plans.Sketches]]) replaced. They evaluate interpreted per
  * element, so no query runs them; specs hold the kernels equal to
  * them. */
object SketchReferences {

  /** distinct word k-grams over a token-array column. Row-local.
    * Defined for arrays of at least k tokens: below that the
    * `sequence` runs backwards and `slice` rejects index 0. */
  def shingles(toksCol: String, k: Int): Column =
    expr(
      s"""array_distinct(transform(sequence(1, size($toksCol) - ${k - 1}),
         |  i -> concat_ws(' ', slice($toksCol, i, $k))))""".stripMargin)

  /** MinHash signature: array<string> of `perms` md5-minima. */
  def minhashSignature(shinglesCol: String, perms: Int = 16): Column =
    expr(
      s"""transform(sequence(0, ${perms - 1}),
         |  p -> array_min(transform($shinglesCol,
         |         s -> md5(concat(cast(p AS STRING), ':', s)))))""".stripMargin)

  /** 60-bit SimHash over a token-array column (multiplicity-weighted).
    * Token hash = first 15 hex digits of md5 (engine-portable; the
    * DuckDB oracle computes the identical signature). */
  def simhash(toksCol: String): Column =
    expr(
      s"""aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, j) ->
         |  acc + IF(aggregate($toksCol, 0,
         |             (a, t) -> a + IF(((CAST(CONV(SUBSTR(MD5(t), 1, 15), 16, 10) AS BIGINT) >> j) & 1) = 1, 1, -1)) >= 0,
         |           shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))""".stripMargin)

  /** Dot product, folded left-to-right as the DuckDB oracle's
    * `list_sum` folds it. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}
