package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction

/** Assertion-style plan audit over the WHOLE catalog: the structural
  * properties a 100 TB run depends on fail the build when violated,
  * instead of waiting for a benchmark regression. Round 3 shipped an
  * unfenced derived-array explode in q66 whose tokenize+shingle chain
  * was re-evaluated by the Generate-inferred filter in interpreted mode
  * (31 s at sf0.1) — this spec is the definition-of-done gate for that
  * class of plan bug.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose plans legitimately contain a broadcast nested-loop
    * join: a range/theta condition against a tiny broadcast side IS the
    * right 100 TB shape (calendar windows, broadcast query sets). */
  private val bnljWhitelist = Set(
    "q38_cosine_topk",   // corpus x broadcast query set, non-equi (id <>)
    "q100_label_centroids") // #labels x #labels centroid matrix: both
                            // sides are the per-label centroid table,
                            // bounded by label cardinality, never rows
  // q44_range_join left the whitelist in round 6: day-grain calendar
  // windows are exploded to per-day rows and equi-joined (BHJ).

  /** Queries allowed one duplicated expensive expression, each with a
    * written justification (the duplicate must be O(small) per row). */
  private val dupWhitelist: Map[String, String] = Map(
    // The banding UDF over the localCheckpointed signature is inlined
    // into the Generate-inferred `size > 0` filter: one extra O(numBands)
    // kernel call per DOC (not per token) — bounded and tiny relative to
    // the candidate shuffle it feeds.
    "q31_dedup_minhash" -> "polyBandBuckets re-eval is O(4) per doc",
    "q56_dedup_clusters" -> "same banding as q31")

  /** Full recursive walk, descending INTO adaptive wrappers: AQE wraps any
    * plan with exchanges in AdaptiveSparkPlanExec, a LEAF node — naive
    * .children traversal sees only the wrapper and audits nothing. */
  private def collectPlans(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case other => other.children
    }
    (p +: kids.flatMap(collectPlans)) ++ p.subqueries.flatMap(collectPlans)
  }

  /** Expensive expressions (ScalaUDF or CodegenFallback HOF chains) that
    * appear in MORE THAN ONE plan node — the signature of Catalyst
    * duplicating a derived column into inferred filters / scan
    * data-filters, i.e. a missing PlanBarrier fence. */
  private def duplicatedExpensive(plan: SparkPlan): Seq[String] = {
    val perNode: Seq[Seq[Expression]] = collectPlans(plan)
      // A scan node LISTS non-pushable dataFilters (incl. UDFs) in its
      // expressions, but row-level evaluation happens once, in the
      // FilterExec above it — counting the listing would flag every
      // filtered UDF as a duplicate.
      .filterNot(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
      .map { node =>
      node.expressions.flatMap(_.collect {
        case u: ScalaUDF => u: Expression
        case h: HigherOrderFunction => h: Expression
      })
    }
    perNode.flatMap(_.map(_.canonicalized).distinct)
      .groupBy(identity).collect { case (e, hits) if hits.size > 1 => e.sql.take(90) }
      .toSeq
  }

  test("catalog tables: the driver-read schema is Spark's, and reading it runs no job") {
    val tables = new java.io.File(sfDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(tables.nonEmpty)
    tables.foreach { t =>
      val path = s"$sfDir/$t"
      val (df, jobs) = org.apache.spark.JobCounter.jobs(spark.sparkContext) {
        graft.io.ParquetSchema.load(spark, Seq(path))
      }
      assert(jobs.isEmpty, s"$t: ${jobs.size} jobs")
      assert(df.schema == spark.read.parquet(path).schema, t)
    }
  }

  test("catalog plans: no undeclared nested-loop joins, no cartesian products") {
    val offenders = QueryCatalog.all.flatMap { q =>
      val plan = q.run(spark, sfDir).queryExecution.executedPlan
      val all = collectPlans(plan)
      val bnlj = all.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
        !bnljWhitelist(q.name)
      val cartesian = all.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec])
      if (bnlj || cartesian) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"nested-loop/cartesian joins outside the whitelist: ${offenders.mkString(", ")}")
  }

  test("catalog plans: no expensive expression evaluated in more than one node") {
    val offenders = QueryCatalog.all.flatMap { q =>
      if (dupWhitelist.contains(q.name)) None
      else {
        val dups = duplicatedExpensive(q.run(spark, sfDir).queryExecution.executedPlan)
        if (dups.nonEmpty) Some(s"${q.name}: ${dups.mkString(" | ")}") else None
      }
    }
    assert(offenders.isEmpty,
      "expensive expression (UDF/HOF) duplicated across plan nodes — fence the " +
        "derivation with PlanBarrier or add a justified whitelist entry:\n" +
        offenders.mkString("\n"))
  }

  test("scale pins: q77 scans documents <= 2x, q76 broadcasts no arrays") {
    // Round-5 fixes the round-4 verdict demanded; pinned so they cannot
    // silently regress. The >=1 lower bound proves the walker actually
    // sees inside the (possibly adaptive) plan rather than passing blind.
    def docScans(plan: SparkPlan): Int = collectPlans(plan).count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("documents"))
      case _ => false
    }
    val q77 = QueryCatalog.all.find(_.name == "q77_curation_pipeline").get
    val n77 = docScans(q77.run(spark, sfDir).queryExecution.executedPlan)
    assert(n77 >= 1, "walker found no documents scan — traversal is broken")
    assert(n77 <= 2,
      s"q77 scans documents $n77 times; the qualified corpus must be staged once")
    // The dedup family's PAIR exchanges must be id-only: a shuffle whose
    // rows are candidate/verified pairs (both id_a and id_b present)
    // grows super-linearly on dup-dense corpora, so it must never carry
    // signature/shingle/embedding arrays — the r17 4M-vector instrument
    // measured exactly that failure (a 256-byte vector per pair row
    // through an id-keyed sort-merge join = ~136 GB sorted / disk death).
    // CORPUS-bounded exchanges (one row per banded doc, e.g. the r17
    // fused-verify bucket self-join sides in q40/q78/q91) MAY carry the
    // vector: bands x corpus is the linear, designed payload.
    val arrayShufflePinned = Seq("q31_dedup_minhash", "q32_dedup_simhash",
      "q40_embedding_neardup", "q76_incremental_dedup", "q78_embedding_clusters")
    val offenders = arrayShufflePinned.flatMap { name =>
      val q = QueryCatalog.all.find(_.name == name).get
      collectPlans(q.run(spark, sfDir).queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.output.exists(_.dataType.isInstanceOf[
              org.apache.spark.sql.types.ArrayType]) &&
              Seq("id_a", "id_b").forall(n => s.output.exists(_.name == n)) =>
          s"$name: ${s.output.map(_.name).mkString(",")}"
      }
    }
    assert(offenders.isEmpty,
      s"pair-stream shuffles carrying array columns: ${offenders.mkString("; ")}")
  }

  test("q87 fingerprint-first: no shuffle carries span text, single fingerprint exchange") {
    // Round-18 rewrite: topRepeatedSpans' corpus shuffle used to key on
    // the raw span STRING (~corpus-sized text on the wire for
    // mostly-unique corpora). Pin the fixed shape on the aggregate
    // subplan (the checkpoint hides it from the final query's executed
    // plan): exactly ONE shuffle total, keyed on the 16-byte span_key,
    // with no StringType column in its output — and the final recovery
    // plan is shuffle-free (winner text moves only through broadcast
    // sides and the TakeOrdered collect).
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def shuffles(p: SparkPlan) = collectPlans(p).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    val agg = graft.functions.DedupFunctions
      .topSpanAggregate(docs, "doc_id", "text", 8, 2)
      .queryExecution.executedPlan
    val aggShuffles = shuffles(agg)
    assert(aggShuffles.size == 1,
      s"expected the single fingerprint exchange, found ${aggShuffles.size}")
    assert(aggShuffles.head.outputPartitioning.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
      .expressions.map(_.asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.NamedExpression].name)
      == Seq("span_key"),
      "fingerprint exchange must key on span_key alone (both grains ride it)")
    assert(!aggShuffles.head.output.exists(_.dataType ==
        org.apache.spark.sql.types.StringType),
      s"fingerprint exchange carries text: ${aggShuffles.head.output.map(_.name)}")
    val fin = graft.functions.DedupFunctions
      .topRepeatedSpans(docs, "doc_id", "text", k = 8, topN = 20)
      .queryExecution.executedPlan
    assert(shuffles(fin).isEmpty,
      s"q87 recovery plan must be shuffle-free: ${shuffles(fin).map(_.output.map(_.name))}")
    // the narrow winners side, not the corpus, must be the broadcast side
    assert(collectPlans(fin).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]))
  }

  test("the duplicate detector fires on the known-bad unfenced shape (negative control)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bad = docs.select(col("doc_id"),
        graft.functions.Kernels.distinctShingles(col("text"), 3).as("gs"))
      .select(col("doc_id"), explode(col("gs")).as("g"))
    assert(duplicatedExpensive(bad.queryExecution.executedPlan).nonEmpty)
    val good = graft.util.PlanBarrier.fence(docs.select(col("doc_id"),
        graft.functions.Kernels.distinctShingles(col("text"), 3).as("gs")))
      .select(col("doc_id"), explode(col("gs")).as("g"))
    assert(duplicatedExpensive(good.queryExecution.executedPlan).isEmpty)
  }

  test("proportional span window: the explicit repartition chains, no second span_key exchange") {
    import org.apache.spark.sql.functions._
    // The r17 input-proportional window sizing is only a win if the
    // window CONSUMES the explicit repartition(n, span_key) — if
    // EnsureRequirements ever stacked its own exchange on top, the
    // operator would pay the full fingerprint shuffle twice. Pin the
    // plan shape: with stats that trigger the sizing (shuffle.partitions
    // pinned to 1 so a parquet input of any size exceeds it), the span
    // family's executed plan carries EXACTLY ONE span_key exchange, of
    // REPARTITION_BY_NUM origin.
    val loc = tmpDir("prop-window") + "/docs"
    val docs100 = spark.read.parquet(s"$sfDir/documents.parquet")
    // the sizing needs >= 4 MB of source stats to derive n >= 2
    Seq.fill(100)(docs100).reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(loc)
    withConf("spark.sql.shuffle.partitions" -> "1") {
      val plan = graft.functions.DedupFunctions.removeRepeatedSpans(
        spark.read.parquet(loc), "doc_id", "text", k = 8)
        .queryExecution.executedPlan.toString
      val spanKeyExchanges = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning(span_key")).toSeq
      assert(spanKeyExchanges.size == 1,
        s"expected exactly one span_key exchange:\n${spanKeyExchanges.mkString("\n")}")
      assert(spanKeyExchanges.head.contains("REPARTITION_BY_NUM"),
        s"window did not consume the explicit repartition: ${spanKeyExchanges.head}")
    }
  }

  test("proportional sizing survives a checkpointed curation chain (block-manager fallback)") {
    import org.apache.spark.sql.functions._
    // Round-18: fingerprintPartitions previously read only optimizer
    // stats, so a filter -> localCheckpoint -> dedup pipeline (the
    // realistic curation chain) silently kept the static plan. Pin the
    // sizing: with a checkpointed input big enough to trigger it, eager
    // or lazy, the span window still consumes an explicit
    // REPARTITION_BY_NUM exchange — sized from the statistics the
    // checkpoint carries over from its origin plan.
    val docs100 = spark.read.parquet(s"$sfDir/documents.parquet")
    val filtered = Seq.fill(100)(docs100).reduce(_.unionByName(_))
      .where(length(col("text")) >= 0) // a pushed filter, as curation would add
    Seq(true, false).foreach { eager =>
      val chained = filtered.localCheckpoint(eager)
      withConf("spark.sql.shuffle.partitions" -> "1") {
        val sized = graft.functions.DedupFunctions
          .removeRepeatedSpans(chained, "doc_id", "text", k = 8)
          .queryExecution.executedPlan.toString.linesIterator
          .filter(_.contains("Exchange hashpartitioning(span_key")).toSeq
        assert(sized.size == 1 && sized.head.contains("REPARTITION_BY_NUM"),
          s"checkpoint (eager = $eager) did not size the window exchange:\n" +
            sized.mkString("\n"))
      }
      chained.unpersist()
    }
  }
}
