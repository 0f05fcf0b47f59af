package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

/** One evaluation of a DataFrame that later readers share: the rows are
  * computed once, in one eager pass, and kept in the block manager
  * (`localCheckpoint`). The pass's jobs carry `name` as their job
  * description, so a listener or an event log can attribute them. */
object Stage {

  def eager(df: DataFrame, name: String): DataFrame =
    named(df.sparkSession, name)(df.localCheckpoint(eager = true))

  /** Run `body` with `name` as the job description of every Spark job it
    * starts (unless a nested call names its own), then restore the
    * caller's description. */
  def named[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try body
    finally sc.setJobDescription(previous)
  }

  /** Whether every evaluation of `df` reads the same rows without
    * recomputing a query: each leaf of its plan is a `LogicalRDD` (a
    * staged or RDD-built frame) or a `LocalRelation`, and the plan is
    * deterministic. */
  def isMaterialized(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    plan.deterministic && plan.collectLeaves().forall {
      case _: LogicalRDD | _: LocalRelation => true
      case _ => false
    }
  }
}
