package graft.exec

import org.apache.spark.sql.graft.CosineSimilarity
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extensions for SparkSessionExtensions
  * (`spark.sql.extensions=graft.exec.GraftExtensions`):
  *   - registers the engine's native expressions as SQL functions so
  *     `expr()` / SQL text / the transformer registry can call them
  *     directly;
  *   - adds [[SmallSort]] to AQE's query-stage preparation: a global sort
  *     whose input leaves sum to at most
  *     `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
  *     default) sorts in one task, with no range-sample job and no range
  *     shuffle. Operators that multiply rows above small leaves can hand
  *     that task more than the threshold; it then spills like any sort. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "cosine_sim expects exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectQueryStagePrepRule(_ => SmallSort)
  }
}
