package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.connector.catalog.{SupportsNamespaces, TableCatalog}

/** Bridge to the `private[sql]` Column↔Expression converters, the supported
  * route for third-party Catalyst expression libraries on Spark 4.x (the
  * pre-4.0 `new Column(expr)` constructor was removed). */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Apply a SparkSessionExtensions' injected functions to a live session's
    * registry (the path getOrCreate runs at session build; `private[sql]`). */
  def registerExtensionFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
                                 spark: org.apache.spark.sql.SparkSession): Unit = {
    ext.registerFunctions(spark.sessionState.functionRegistry)
    ()
  }

  /** The session catalog as a v2 catalog (`catalogManager` is `private[sql]`). */
  def sessionCatalog(spark: org.apache.spark.sql.SparkSession): TableCatalog with SupportsNamespaces =
    spark.sessionState.catalogManager.v2SessionCatalog.asInstanceOf[TableCatalog with SupportsNamespaces]
}
