// Hosted under org.apache.spark.sql because the Expression -> Column
// bridge (ExpressionUtils) is private[sql] in Spark 4.
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

object DistinctCounts {
  /** For each of `aggs`, as `df.agg(aggs)` resolves it: the input and its
    * type when it is a plain `count(DISTINCT x)`, None for any other
    * aggregate. Reads the analyzed plan; no job runs. */
  def inputs(df: DataFrame, aggs: Seq[Column]): Seq[Option[(Column, DataType)]] =
    df.agg(aggs.head, aggs.tail: _*).queryExecution.analyzed match {
      case a: Aggregate => a.aggregateExpressions.map {
        case Alias(AggregateExpression(Count(Seq(x)), _, true, None, _), _) =>
          Some(ExpressionUtils.column(x) -> x.dataType)
        case _ => None
      }
      case other => sys.error(s"unexpected aggregate plan: ${other.nodeName}")
    }
}
