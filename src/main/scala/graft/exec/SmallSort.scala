package graft.exec

import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, RangePartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.internal.SQLConf

/** An AQE query-stage preparation rule: a global sort over a small input
  * runs in one task. `SortExec(global) ← ShuffleExchangeExec(range)`
  * becomes `SortExec(global) ← CoalesceExec(1)`, which drops the range
  * partitioner's sample job (a second pass over the sort's input) and the
  * shuffle's map stage; the output is still one globally sorted partition.
  *
  * "Small" is the threshold under which AQE's parallelism-first coalescing
  * would put the range output in one partition anyway: the summed bytes of
  * the input's leaves are at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (and
  * coalescing is on). A leaf counts
  *   - a materialized shuffle stage: its shuffle bytes, the measure AQE's
  *     coalescing compares with that threshold (0 with no map output);
  *   - a materialized broadcast stage: rows × row width (its runtime size
  *     is the hash table's allocation, ~1 MB for a few KB of rows);
  *   - any other leaf: its plan statistics.
  * An unmaterialized stage or exchange, or a leaf without statistics,
  * keeps the exchange; so does an input with a nested-loop or Cartesian
  * join, whose output leaf bytes do not bound, and a sort whose output
  * partitioning an ancestor relies on (a join's co-partitioning, an exact
  * partition count). Operators that multiply rows above small leaves
  * (explode, equi-joins on duplicate keys) can still hand the one task
  * more than the threshold; the sort then spills as any sort would. */
object SmallSort extends Rule[SparkPlan] {

  // a plan whose final-stage partitioning must stand (a cached plan that
  // may not change its output partitioning) keeps its root's exchanges
  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) plan
    else rewrite(plan,
      free = conf.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))

  /** `free`: no ancestor relies on `plan`'s output partitioning. */
  private def rewrite(plan: SparkPlan, free: Boolean): SparkPlan = plan match {
    case sort @ SortExec(_, true,
        ShuffleExchangeExec(_: RangePartitioning, input, ENSURE_REQUIREMENTS, _), _)
        if free && leafBytes(input).exists(_ <= minBytes) =>
      sort.withNewChildren(Seq(CoalesceExec(1, rewrite(input, free = true))))
    case e: Exchange => e.mapChildren(rewrite(_, free = true))
    case p => p.withNewChildren(p.children.zip(p.requiredChildDistribution).map {
      case (c, d) => rewrite(c, free && (d == UnspecifiedDistribution || d == AllTuples))
    })
  }

  private def minBytes: Long = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** Summed bytes of `plan`'s leaves, or None where they do not bound it. */
  private def leafBytes(plan: SparkPlan): Option[BigInt] = plan match {
    case s: QueryStageExec if !s.isMaterialized => None
    case s: ShuffleQueryStageExec =>
      Some(BigInt(s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L)))
    case s: BroadcastQueryStageExec =>
      s.getRuntimeStatistics.rowCount.map(_ * EstimationUtils.getSizePerRow(s.output))
    case _: QueryStageExec | _: Exchange => None
    case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => None
    case leaf if leaf.children.isEmpty => leaf.logicalLink.map(_.stats.sizeInBytes)
    case p => p.children.map(leafBytes).foldLeft(Option(BigInt(0))) {
      case (Some(a), Some(b)) => Some(a + b)
      case _ => None
    }
  }
}
