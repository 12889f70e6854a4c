package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Column ⇄ Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * custom Catalyst expressions need this one-file shim in the sql package
  * namespace to be exposed as user-facing `Column`s. It also exposes the
  * one `private[spark]` schema check `graft.sources.ParquetSource` needs
  * to refuse what `DataSource.resolveRelation` refuses. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Throws `DataSource`'s AnalysisException on a duplicate column name
    * (nested fields included). */
  def checkColumnNames(s: StructType, caseSensitive: Boolean): Unit =
    SchemaUtils.checkSchemaColumnNameDuplication(s, caseSensitive)
}
