package graft.exec

import graft.SparkSpec
import graft.queries.QueryCatalog
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[SmallSort]]: a global sort over a small input runs in one task, with
  * no range-sample job and no range shuffle, and still returns its rows in
  * key order. Job counts are pinned with a listener on the engine session. */
class SmallSortSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Every node of the executed plan, inside adaptive wrappers and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.finalPhysicalPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other.children.flatMap(nodes)
  })

  private def rangeExchanges(df: DataFrame): Int = nodes(df.queryExecution.executedPlan).count {
    case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  private def coalesced(df: DataFrame): Boolean =
    nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[CoalesceExec])

  /** 97 groups over 10k rows, one of them a null key. */
  private def groups: DataFrame = spark.range(0, 10000, 1, 4)
    .select(when(col("id") % 97 === 0, lit(null)).otherwise(col("id") % 97).as("k"),
      (col("id") % 3).as("m"), col("id"))
    .groupBy("k", "m").agg(count(lit(1)).as("n"), sum("id").as("s"))

  /** The rows of `df` as the plan with a range exchange returns them. */
  private def rangeSorted(df: => DataFrame): Seq[Row] =
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val ranged = df
      assert(rangeExchanges(ranged) == 1)
      ranged.collect().toSeq
    }

  test("q01, q21 and q112 repeat their job counts, 2 below the range-sorted plan's") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir is absent")
    // the range-sorted plan ran 4, 3 and 14 jobs
    val bounds = Seq("q01_pricing_agg" -> 2, "q21_explode_tokens" -> 1, "q112_span_cascade" -> 12)
    bounds.foreach { case (name, bound) =>
      val q = QueryCatalog.all.find(_.name == name).get
      val counts = (1 to 2).map { _ =>
        JobCounter.jobs(spark.sparkContext) {
          q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        }._2.size
      }
      info(s"$name: ${counts.mkString(", ")} jobs")
      assert(counts.distinct.size == 1, s"$name: $counts")
      assert(counts.head <= bound, s"$name: $counts")
    }
  }

  test("a small orderBy over an aggregate sorts in one task, in key order") {
    val orders = Seq(
      Seq(col("k").asc, col("m").asc),
      Seq(col("k").desc, col("m").desc),
      Seq(col("k").asc_nulls_last, col("m").desc),
      Seq(col("k").desc_nulls_first, col("m").asc))
    orders.foreach { order =>
      val want = rangeSorted(groups.orderBy(order: _*))
      val df = groups.orderBy(order: _*)
      val got = df.collect().toSeq
      assert(rangeExchanges(df) == 0 && coalesced(df), order)
      assert(got.size == 97 * 3 && got == want, order)
      assert(got.exists(_.isNullAt(0)))
    }
  }

  test("an input larger than minPartitionSize keeps the range exchange") {
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64") {
      val df = groups.orderBy("k", "m")
      val got = df.collect().toSeq
      assert(rangeExchanges(df) == 1 && !coalesced(df))
      assert(got == rangeSorted(groups.orderBy("k", "m")))
    }
  }

  test("a nested-loop join under the sort keeps the range exchange") {
    val df = spark.range(20).crossJoin(spark.range(20).withColumnRenamed("id", "j"))
      .where(col("id") < col("j")).orderBy(col("j").desc, col("id"))
    val got = df.collect().toSeq
    assert(rangeExchanges(df) == 1 && !coalesced(df))
    assert(got.size == 190 && got.head == Row(0L, 19L))
  }

  test("with AQE off the plan keeps its range exchange") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = groups.orderBy("k", "m")
      assert(rangeExchanges(df) == 1 && !coalesced(df))
      assert(df.collect().length == 97 * 3)
    }
  }
}
