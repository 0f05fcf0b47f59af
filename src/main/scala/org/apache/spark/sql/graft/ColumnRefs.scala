// Hosted under org.apache.spark.sql because the Column -> Expression
// bridge (ExpressionUtils) is private[sql] in Spark 4.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnRefs {
  /** Names of the attributes a Column's expression references (both
    * sides of a join condition — names only, no qualifiers). */
  def names(c: Column): Set[String] =
    ExpressionUtils.expression(c).references.map(_.name).toSet

  /** Whether the column is the literal TRUE (an unconditional predicate).
    * Matched on the Column's node (Spark 4 Columns carry a lazily-analyzed
    * ColumnNode; the Catalyst expression is not evaluable pre-analysis).
    * Covers both construction paths: `lit(true)` (internal.Literal node)
    * and `expr("true")` / any attribute-free foldable SQL text
    * (internal.SqlExpression node, parsed and constant-folded here). */
  def isTrueLiteral(c: Column): Boolean = c.node match {
    case l: org.apache.spark.sql.internal.Literal => l.value == true
    case s: org.apache.spark.sql.internal.SqlExpression =>
      scala.util.Try {
        val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(s.expression)
        e.references.isEmpty && e.foldable && e.eval() == true
      }.getOrElse(false)
    case _ => false
  }
}
