package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Installs the functions injected into `ext` on `registry`, through the
  * same `private[sql]` call a session build makes for its extensions. */
object SessionExtensionsShim {
  def registerFunctions(ext: SparkSessionExtensions, registry: FunctionRegistry): FunctionRegistry =
    ext.registerFunctions(registry)
}
