package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** `SparkSessionExtensions.registerFunctions` is `private[sql]`: this
  * helper applies [[graft.functions.GraftExtensions]] to a fresh extensions
  * object and returns the builtin function registry with its injected
  * functions, as a session built with the extension would see it.
  */
object GraftExtensionsRegistry {
  def builtinWithGraft(): FunctionRegistry = {
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    ext.registerFunctions(FunctionRegistry.builtin.clone())
  }
}
