package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Bridge into the session catalog's `private[sql]` objects, for telling
  * whether a temp view or temporary function is still the very object a
  * caller registered. Each lookup returns the object the catalog holds, so
  * the same registration reads `eq` until something drops or replaces it.
  */
object CatalogBridge {

  /** The raw temp view `name` (its `TemporaryViewRelation`). */
  def tempView(spark: SparkSession, name: String): Option[AnyRef] =
    spark.sessionState.catalog.getRawTempView(name)

  /** The `ExpressionInfo` of the scalar function `name`. */
  def function(spark: SparkSession, name: String): Option[AnyRef] =
    spark.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name))

  /** The `ExpressionInfo` of the table function `name`. */
  def tableFunction(spark: SparkSession, name: String): Option[AnyRef] =
    spark.sessionState.tableFunctionRegistry.lookupFunction(FunctionIdentifier(name))
}
