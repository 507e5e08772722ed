package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** `SparkSessionExtensions.registerFunctions` is private[sql]: a spec
  * reads what an extension injects through this bridge. */
object GraftSqlSpecBridge {
  def injectedFunctionNames(ext: SparkSessionExtensions): Seq[String] =
    ext.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName)
}
