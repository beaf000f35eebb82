package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Reads what a session extension injects without building a session:
  * `registerFunctions` is package-private, and extensions apply only when
  * a JVM's first session is constructed. */
object ExtensionsProbe {
  /** Names the extension adds to a clone of the built-in registry. */
  def injectedFunctionNames(apply: SparkSessionExtensions => Unit): Set[String] = {
    val ext = new SparkSessionExtensions
    apply(ext)
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    ext.registerFunctions(FunctionRegistry.builtin.clone())
      .listFunction().map(_.funcName).toSet -- builtin
  }
}
