package graft.algo

import graft.dq.DQEngine
import graft.io.{Readers, Writers}
import graft.spec._
import graft.transform.{TransformContext, Transformers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The main pipeline algorithm: read -> transform -> DQ -> write ->
  * terminate over a declarative [[Acon]].
  *
  * Capability parity with `lakehouse_engine/algorithms/data_loader.py`:
  *   - inputs resolved lazily through the reader factory, keyed by spec_id
  *   - ordered transformer chains via `df.transform` folding
  *   - the STREAMING PLANNER (`data_loader.py:265-330, 472-526`): any
  *     transformer that cannot run on a streaming DataFrame — and every
  *     DQ spec attached to a streaming pipeline — is moved into the
  *     output's per-micro-batch (foreachBatch) plan, preserving order;
  *     `force_streaming` opts out
  *   - DQ specs run between transform and write for batch inputs; a
  *     batch DQ spec's validated frame is evaluated once, so the rows it
  *     counts are the rows its outputs write
  *   - terminators run after all writes
  */
final class DataLoader(
    spark: SparkSession,
    acon: Acon,
    providedDfs: Map[String, DataFrame] = Map.empty,
    customFns: Map[String, DataFrame => DataFrame] = Map.empty) {

  /** spec_id -> materialized (lazy) DataFrame for every stage output. */
  private val data = mutable.LinkedHashMap.empty[String, DataFrame]
  private var dqRuleIdErrors: Seq[(String, String)] = Seq.empty

  private def ctx = TransformContext(spark, id => data(id), customFns)

  /** Per-output micro-batch work captured by the streaming planner. */
  private val microBatchWork =
    mutable.Map.empty[String, Seq[(TransformerSpec, String)]] // (transformer, fromSpec)

  def read(): this.type = {
    // per-pipeline conf overrides first. Reference semantics
    // (`core/exec_env.py:130-146`): ONLY the cannot-modify/not-available
    // error family is skipped (with a warning); a bad value or any other
    // failure re-raises — a typo'd conf must not be silently ignored.
    acon.execEnv.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch {
        case scala.util.control.NonFatal(e)
            if Option(e.getMessage).exists(m =>
              m.contains("CANNOT_MODIFY_CONFIG") ||
                m.contains("Cannot modify the value") ||
                m.contains("CONFIG_NOT_AVAILABLE")) =>
          Console.err.println(s"[data-loader] exec_env conf '$k' skipped: ${e.getMessage}")
      }
    }
    acon.inputSpecs.foreach { in =>
      data(in.specId) = Readers.read(spark, in, name => providedDfs(name))
    }
    this
  }

  def transform(): this.type = {
    acon.transformSpecs.foreach { t =>
      val input = data(t.inputId)
      val isStreaming = input.isStreaming
      val (streamSide, batchSide) =
        if (isStreaming && t.forceForeachBatch) (Seq.empty, t.transformers)
        else if (!isStreaming || t.forceStreaming) (t.transformers, Seq.empty)
        else t.transformers.partition(tr => !Transformers.StreamingUnsupported(tr.function))
      if (batchSide.nonEmpty) {
        // Reference caveat (`data_loader.py:268-286`): unsupported
        // transformers jump to the END of the chain, into the output's
        // foreachBatch plan, in their original relative order.
        microBatchWork(t.specId) = batchSide.map(_ -> t.specId)
      }
      val out = streamSide.foldLeft(input) { (df, tr) =>
        df.transform(Transformers.resolve(tr.function, tr.args, ctx))
      }
      data(t.specId) = out
    }
    this
  }

  def processDq(): this.type = {
    // `data_loader.py:130-177` _verify_dq_rule_id_uniqueness: duplicated
    // PRISMA rule ids SKIP the entire DQ stage (every spec passes its
    // input through untouched) but the load still writes — the raise
    // happens after terminate, in execute().
    dqRuleIdErrors = graft.dq.Prisma.ruleIdDuplication(spark, acon.dqSpecs)
    if (dqRuleIdErrors.nonEmpty) {
      acon.dqSpecs.foreach(dq => data(dq.specId) = data(dq.inputId))
      return this
    }
    acon.dqSpecs.foreach { spec =>
      // dq specs may chain on each other, but — like the reference's
      // `dq_processed_dfs[spec.input_id]` lookup — only in LISTED order;
      // fail with the fix instead of a bare key-not-found
      val df = data.getOrElse(spec.inputId, sys.error(
        s"dq spec '${spec.specId}' chains on '${spec.inputId}', which is " +
          "not materialized yet — list dq_specs in dependency order " +
          "(upstream first)"))
      if (!df.isStreaming) {
        // PRISMA rules resolve only where they run: streaming specs
        // re-resolve at plan time (buildMicroBatchPlan) — resolving them
        // here too would double the rules-table reads for nothing
        // The validated (optionally tagged) frame registers under the DQ
        // spec's OWN id only — reference semantics (`data_loader.py:175`
        // stores `dfs[dq_spec.spec_id]`); the input spec's frame stays
        // untouched, so an output chaining on the INPUT id keeps writing
        // the untagged schema.
        data(spec.specId) = runDq(df, resolvePrisma(spec))
      } else {
        // Streaming DQ runs inside foreachBatch (see write()); the spec
        // id aliases the stream for downstream chaining.
        data(spec.specId) = df
      }
    }
    this
  }

  /** One DQ step, batch or micro-batch: run the expectations, write the
    * result sink and the processed keys, raise a failed run, and return
    * the validated (optionally tagged) frame. The failed run's results
    * land in the sink BEFORE the policy raises (reference dq_factory.py
    * _process_chunk order). The validated frame is evaluated once, in
    * the pass that counts it ([[DQEngine.stageOutcome]], job description
    * `dq:<spec_id>`); the sink, the processed keys, the tagging and every
    * output read that evaluation, so the rows the run counts are the rows
    * it writes. */
  private def runDq(df: DataFrame, dq: DQSpec): DataFrame = {
    val (staged, result, failure) = DQEngine.stageOutcome(spark, df, dq)
    dq.resultSink.foreach { sink =>
      val sdf = DQEngine.resultSinkOutput(spark, staged, dq, result)
      graft.exec.Stage.named(spark, s"dq-sink:${dq.specId}")(
        Writers.writeBatch(spark, DQEngine.resultSinkSpec(dq, sink), sdf))
    }
    graft.dq.Prisma.writeProcessedKeys(spark, dq, staged, result.runName)
    failure.foreach(throw _)
    if (dq.tagSourceData) DQEngine.tagSource(staged, dq, result) else staged
  }

  /** PRISMA resolution at the load execution point
    * (`acon_utils.py:206-233` resolve_dq_functions with "in_motion"):
    * the reference surface (dq_db_table + table filter + meta) goes
    * through [[graft.dq.Prisma]]; the engine-local `rules_table`
    * spelling keeps its historical path. */
  private def resolvePrisma(dq: DQSpec): DQSpec =
    if (dq.dqType != "prisma") dq
    else if (dq.rulesTable.isDefined) {
      val src = dq.rulesTable.get
      val rulesDf = graft.io.TableRef.read(spark, src)
        .getOrElse(sys.error(s"PRISMA rules_table $src does not exist"))
      dq.copy(dqFunctions = DQEngine.rulesFromTable(spark, rulesDf))
    } else graft.dq.Prisma.resolve(spark, dq, "in_motion")

  def write(): this.type = {
    acon.outputSpecs.foreach { out =>
      val df = data(out.inputId)
      val plan = buildMicroBatchPlan(out)
      Writers.write(spark, out, df, plan) match {
        case Some(q) if out.streamingAwaitTermination =>
          out.streamingAwaitTerminationTimeoutMs match {
            case Some(t) => q.awaitTermination(t)
            case None => q.awaitTermination()
          }
        case _ => () // fire-and-forget: the caller owns the query handle
      }
      data(out.specId) = df
    }
    this
  }

  /** Assemble the foreachBatch plan for one output: deferred transformers
    * (in order) then streaming DQ specs for the output's input chain. */
  private def buildMicroBatchPlan(out: OutputSpec): Option[Writers.MicroBatchPlan] = {
    // an output may chain on a DQ spec's id (reference semantics), and
    // dq specs may chain on EACH OTHER — walk the whole chain down to
    // the non-dq source so every dq in the lineage runs in dependency
    // order and deferred-transformer lookup uses the true source id
    // (one-level resolution would silently skip the lower dq specs,
    // diverging from the batch path)
    val chain = scala.collection.mutable.ListBuffer.empty[graft.spec.DQSpec]
    val seen = scala.collection.mutable.Set.empty[String]
    var sourceId = out.inputId
    var walking = true
    while (walking) acon.dqSpecs.find(_.specId == sourceId) match {
      case Some(dq) =>
        // spec_id == input_id is an accepted shape (reference resolves one
        // level) — stop the walk there. Any LONGER cycle (a -> b -> a) is
        // an invalid config: continuing would leave sourceId on a dq spec
        // id and silently drop that output's deferred transformers, so
        // fail fast instead.
        if (!seen.add(dq.specId)) {
          if (dq.specId != dq.inputId) sys.error(
            s"dq_specs form a cycle through '${dq.specId}' — dq input_id " +
              "chains must terminate at a non-dq spec (only the " +
              "self-referential spec_id == input_id shape is accepted)")
          walking = false
        }
        else { chain.prepend(dq); sourceId = dq.inputId }
      case None => walking = false
    }
    // Deferred transformers may sit anywhere in the TRANSFORM lineage,
    // not just on its final link: transform A (defers group_and_rank) ->
    // transform B (stream-side rename) -> output would otherwise look up
    // only microBatchWork(B) and silently drop A's deferred work — the
    // reference's own planner has this single-level limitation (its
    // docstring rules chained micro-batch transforms unsupported); we
    // walk specId -> inputId collecting every link's work, upstream
    // first. Caveat inherited from the jump-to-end design: a downstream
    // link's STREAM-side transformers still run before an upstream
    // link's deferred ones.
    val deferred = {
      val acc = scala.collection.mutable.ListBuffer.empty[(TransformerSpec, String)]
      val seenT = scala.collection.mutable.Set.empty[String]
      var cur = sourceId
      var more = true
      while (more) acon.transformSpecs.find(_.specId == cur) match {
        case Some(t) if seenT.add(t.specId) =>
          microBatchWork.get(t.specId).foreach(ws => acc.prependAll(ws))
          cur = t.inputId
        case _ => more = false
      }
      acc.toList
    }
    val lineageDqs =
      if (chain.nonEmpty) chain.toSeq
      else acon.dqSpecs.filter(_.inputId == out.inputId)
    // PRISMA specs on a streaming lineage resolve here, at plan time —
    // rules are config-sized and the reference resolves them before the
    // query starts (`acon_utils.py` resolve_dq_functions)
    // duplicated PRISMA rule ids skip the DQ stage EVERYWHERE — the
    // streaming micro-batch plan too, or the final raise's "none of the
    // DQ processes were executed" would be a lie (`data_loader.py:130-177`)
    val streamingDqs =
      if (dqRuleIdErrors.nonEmpty) Seq.empty
      else lineageDqs.filter(dq =>
        data.get(dq.inputId).exists(_.isStreaming)).map(resolvePrisma)
    if (deferred.isEmpty && streamingDqs.isEmpty) None
    else Some(Writers.MicroBatchPlan { batch =>
      val transformed = deferred.foldLeft(batch) { case (df, (tr, _)) =>
        df.transform(Transformers.resolve(tr.function, tr.args, ctx))
      }
      streamingDqs.foldLeft(transformed)(runDq)
    })
  }

  def terminate(): this.type = {
    acon.terminateSpecs.foreach(t => Terminators.run(spark, t))
    this
  }

  /** Full pipeline; returns every stage's DataFrame keyed by spec_id. */
  def execute(): Map[String, DataFrame] = {
    // fail fast on unsupported formats before any IO (reference
    // `utils/acon_utils.py:38-97` validate-then-run contract)
    graft.spec.AconValidation.validate(acon)
    try read().transform().processDq().write().terminate()
    catch {
      case scala.util.control.NonFatal(e) =>
        // `data_loader.py:240-243`: a failed run dispatches the failure
        // notifications declared in terminate_specs, then re-raises.
        // The dispatch is BEST-EFFORT here: a notification error (bad
        // spec, unreachable SMTP) must never mask the pipeline failure
        // the operator actually needs to see.
        try NotifierFactory.generateFailureNotification(acon.terminateSpecs, e)
        catch {
          case scala.util.control.NonFatal(ne) => Console.err.println(
            s"[graft] failure-notification dispatch failed (original error " +
              s"re-raised): $ne")
        }
        throw e
    }
    // the write/terminate stages COMPLETED — the duplicate-rule failure is
    // reported last, mirroring `data_loader.py:245-253`
    if (dqRuleIdErrors.nonEmpty)
      throw new graft.dq.DQDuplicateRuleIdException(
        "Data Written Successfully, but DQ Process Encountered an Issue.\n" +
          "We detected a duplicate dq_rule_id in the dq_spec definition. " +
          "As a result, none of the Data Quality (DQ) processes (dq_spec) " +
          "were executed.\n" +
          "Please review and verify the following dq_rules:\n" +
          graft.dq.Prisma.errorDictRepr(dqRuleIdErrors))
    data.toMap
  }
}

object DataLoader {

  /** Run a pipeline from an ACON JSON document. */
  def loadData(
      spark: SparkSession,
      aconJson: String,
      dfs: Map[String, DataFrame] = Map.empty,
      customFns: Map[String, DataFrame => DataFrame] = Map.empty): Map[String, DataFrame] =
    new DataLoader(spark, Specs.parseAcon(aconJson), dfs, customFns).execute()

  /** Run a pipeline from a typed [[Acon]]. */
  def loadData(spark: SparkSession, acon: Acon): Map[String, DataFrame] =
    new DataLoader(spark, acon).execute()
}

/** Post-write terminators (reference `terminators/terminator_factory.py`).
  * Without Delta in this build, optimize/vacuum are compaction-style
  * rewrites / no-ops; stats and SQL passthrough work as in the reference. */
object Terminators {

  /** Terminator names the engine dispatches — the plan-only conformance
    * check ([[graft.spec.AconConformance]]) validates against this set
    * without executing. Keep in lockstep with the match in [[run]]. */
  val Known: Set[String] = Set(
    "compute_table_statistics", "execute_sql", "optimize_dataset",
    "vacuum", "terminate_spark", "notify", "expose_cdf")

  def run(spark: SparkSession, spec: TerminatorSpec): Unit = spec.function match {
    case "compute_table_statistics" =>
      spec.args.get("table").foreach(t =>
        spark.sql(s"ANALYZE TABLE ${String.valueOf(t)} COMPUTE STATISTICS"))
    case "execute_sql" =>
      spec.args.get("sql").foreach(q => spark.sql(String.valueOf(q)))
    case "optimize_dataset" | "vacuum" =>
      // Full reference signature (`terminators/dataset_optimizer.py:18-77`):
      // compaction by default, Z-order/Hilbert clustering via
      // optimize_zorder_col_list, partition scoping via optimize_where —
      // routed through TableManager.optimize (Delta-free equivalents).
      spec.args.get("location").foreach { loc =>
        val zcols = spec.args.get("optimize_zorder_col_list")
          .map(String.valueOf(_)).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        new graft.maintain.TableManager(spark).optimize(
          String.valueOf(loc),
          spec.args.get("target_partitions")
            .collect { case n: Number => n.intValue() }.getOrElse(0),
          zcols,
          spec.args.get("optimize_where").map(String.valueOf(_)),
          spec.args.get("optimize_curve").map(String.valueOf(_))
            .getOrElse("zorder"))
      }
    case "terminate_spark" => spark.stop()
    case "notify" => Notifier.notify(spec)
    case "expose_cdf" =>
      graft.operators.ChangeCapture.exposeCdf(spark, spec.args)
    case other =>
      throw new IllegalArgumentException(s"unknown terminator: $other")
  }
}
