package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.types.StructType

/** Spec access to private[sql] members. */
object GraftSqlSpecBridge {
  /** The names an extension injects (`SparkSessionExtensions
    * .registerFunctions` is private[sql]). */
  def injectedFunctionNames(ext: SparkSessionExtensions): Seq[String] =
    ext.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName)

  /** A frame over catalyst rows as given: strings keep their raw bytes
    * (invalid UTF-8 included), which a `Row` → `String` path would
    * re-encode. An RDD scan, so the optimizer cannot fold projections
    * over it the way it folds them over a local relation. */
  def frame(spark: SparkSession, rows: Seq[InternalRow], schema: StructType,
      slices: Int): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      spark.sparkContext.parallelize(rows, slices), schema)
}
