package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.connector.expressions.{FieldReference, LogicalExpressions, NamedReference, Transform}

/** Bridge to Spark's `private[sql]` Column ↔ Expression conversion
  * (Spark 4 decoupled the public Column API from Catalyst
  * expressions), and to its one-part V2 column references. Lives in
  * the sql package namespace for access — the conventional technique
  * for Spark connector libraries that define custom Catalyst
  * expressions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The V2 reference to the top-level column `name`, taken as one name
    * part: unlike the public `Expressions.column`, it parses nothing,
    * so `lat.deg` stays one column. */
  def reference(name: String): NamedReference = FieldReference.column(name)

  /** The identity transform of the top-level column `name`, unparsed
    * as [[reference]]. */
  def identity(name: String): Transform = LogicalExpressions.identity(reference(name))
}
