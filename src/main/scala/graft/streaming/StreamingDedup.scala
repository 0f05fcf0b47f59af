package graft.streaming

import graft.functions.{DedupFunctions, MinhashIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest deduplication: each micro-batch is near-dup-checked
  * against the persisted [[MinhashIndex]], cleaned within itself, appended
  * to the index, and only then written to the sink — the realistic shape
  * of a continuously-ingesting 100 TB training-data pipeline, where the
  * corpus signature index is the only state that grows (one row per
  * (band, doc), never the raw text) and each arriving batch costs a
  * band-pruned probe instead of a corpus re-shingle.
  *
  * Composes the reference's foreachBatch planning
  * (`algorithms/data_loader.py:265-330` — "unsupported in streaming" ops
  * run per micro-batch) with the incremental index: the one-shot dedup
  * operator cannot run against an unbounded stream, so the micro-batch is
  * the unit of work, exactly like the reference's streaming DQ.
  *
  * Per batch, in order:
  *   1. drop batch docs that near-dup an INDEXED corpus doc (checkBatch);
  *   2. drop within-batch near-dups keep-lowest-id (one-shot operator on
  *      the corpus-fresh docs — batches are bounded, so this is cheap);
  *   3. append the surviving rows to the sink;
  *   4. only then append the signatures of EVERY corpus-fresh doc —
  *      survivors AND within-batch-dropped — to the index (a failed sink
  *      write must not poison the index — see [[dedupBatch]]).
  */
object StreamingDedup {

  /** One micro-batch of the dedup plan — exposed for batch-mode reuse and
    * direct testing. The survivors are handed to `sink` FIRST and the
    * index is appended only after the sink write returns: a failed sink
    * write must not leave "phantom" signatures in the index that would
    * silently drop re-submitted (or future near-identical) documents from
    * the sink forever.
    *
    * What gets appended is the signatures of ALL corpus-fresh docs (the
    * ones that reached the within-batch stage), not just the sink
    * survivors. That is what makes replay BENIGN in both failure orders —
    * the same contract as [[StreamingChunkDedup]]:
    *   - sink failed before append: the batch computation is a pure
    *     function of (batch, index state), so the replay recomputes the
    *     identical survivors;
    *   - append succeeded, batch replayed: every batch doc either matched
    *     the corpus originally (the index only grew — still matches) or
    *     is corpus-fresh and now self-matches its OWN appended signatures
    *     at jaccard 1.0, so the replay drains to EMPTY in one pass and
    *     the (empty) re-append leaves the index row multiset unchanged —
    *     the index state is a replay fixpoint.
    * Indexing within-batch-dropped docs also matches the one-shot
    * operator's greedy chain semantics on id-ordered arrival: with c~a,
    * a~d, c!~d (c<a<d) and d arriving in a later batch, the one-shot
    * operator over the union drops d (it is the id_b of pair (a,d)); the
    * indexed a now catches it at the corpus stage, where a survivors-only
    * index would let d leak to the sink. Residual divergence from the
    * one-shot operator (documented, unchanged): a doc whose only near-dup
    * was dropped at the CORPUS stage still survives — corpus-dropped docs
    * add nothing to the index because their representative is already in
    * it, which is also what keeps resubmission floods from growing it.
    *
    * Set `append = false` for a pure, side-effect-free evaluation of the
    * batch semantics (always identical output for the same index state).
    * Returns the surviving rows. */
  def dedupBatch(
      batch: DataFrame, idCol: String, textCol: String,
      index: MinhashIndex, sink: DataFrame => Unit,
      append: Boolean = true): DataFrame = {
    // Lazy stage checkpoints (r20) — same single materialization per
    // stage (at the sink write), minus one dedicated job per checkpoint;
    // see StreamingPqIngest.ingestBatch.
    val b = batch.localCheckpoint(false) // bounded; avoids re-running the source
    val vsCorpus = index.checkBatch(b, idCol, textCol)
      .select(col("batch_id").as(idCol)).distinct()
    // Checkpointed: the within-batch pass, the survivor anti-join and the
    // index append all read this instead of re-probing the index.
    val freshVsCorpus = b.join(vsCorpus, Seq(idCol), "left_anti")
      .localCheckpoint(false)
    val innerDups = DedupFunctions.minhashNearDuplicates(
        freshVsCorpus, idCol, textCol,
        shingleSize = index.shingleSize, numHashes = index.numHashes,
        numBands = index.numBands, threshold = index.threshold)
      .select(col("id_b").as(idCol)).distinct() // keep-lowest-id
    val survivors = freshVsCorpus.join(innerDups, Seq(idCol), "left_anti")
      .localCheckpoint(false) // the sink write and the caller read this
    sink(survivors)
    if (append) index.append(freshVsCorpus, idCol, textCol)
    survivors
  }

  /** Start the streaming query. `stream` must be a streaming DataFrame
    * with `idCol` and `textCol`. `prepare` runs on each raw micro-batch
    * before the dedup plan — the hook the ACON face threads the
    * foreachBatch transformer/DQ plan through. */
  def start(
      stream: DataFrame, idCol: String, textCol: String,
      index: MinhashIndex, sinkDir: String, checkpointDir: String,
      compactEvery: Int = 0,
      compactFiles: Int = 0,
      trigger: Trigger = Trigger.AvailableNow(),
      prepare: DataFrame => DataFrame = identity): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupBatch(prepare(batch), idCol, textCol, index,
          _.write.mode("append").parquet(sinkDir))
        // Periodic posting-list bin-pack (appends leave one file per
        // band per batch); layout-only, after the sink+append.
        // `compactFiles` keys the cadence on the store's FILE COUNT —
        // the degradation signal itself (the r18 sf0.1 soak measured a
        // 23 s listing cliff on the IVFADC store past ~2.5k files; file
        // count, not batch cycles, is what a 100 TB ingest must bound,
        // and the listing probe is one FS round trip per batch).
        // `compactEvery` keeps the legacy cycles-keyed spelling.
        if (compactFiles > 0)
          graft.maintain.IndexMaintenance.compactIfNeeded(
            batch.sparkSession, index.location, maxFiles = compactFiles)
        else if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          index.compact(batch.sparkSession)
        ()
      }
      .start()
}
