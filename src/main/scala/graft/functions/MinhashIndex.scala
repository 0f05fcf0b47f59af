package graft.functions

import graft.util.PlanBarrier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted MinHash-LSH dedup index for INCREMENTAL near-duplicate
  * detection: compute each document's signature once, store it, and check
  * every incoming batch against the stored corpus — the realistic 100 TB
  * pattern, where re-shingling the whole corpus per arriving batch
  * (what [[DedupFunctions.minhashNearDuplicates]] does in one shot) would
  * be quadratic over the ingest lifetime.
  *
  * Layout: one parquet row per (band, bucket, id, sh) — the banded LSH
  * posting list with the hashed-shingle array for exact verification —
  * partitioned by `band` so a batch check scans only the bands it probes.
  * The check joins batch band keys against the index on (band, bucket):
  * an equi-join whose shuffle carries ids only; shingle arrays join back
  * just for surviving candidate pairs.
  *
  * All hashing is the cross-engine md5-keyed arithmetic of
  * [[Kernels.shingleMinhash]], so an index built today verifies against
  * the same SQL oracle as the one-shot operator.
  */
final class MinhashIndex private (
    val location: String,
    val shingleSize: Int,
    val numHashes: Int,
    val numBands: Int,
    val threshold: Double) extends Serializable {

  private def spark(df: DataFrame): SparkSession = df.sparkSession

  private[graft] def signed(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (as, bs) = DedupFunctions.minhashCoefficients(numHashes)
    PlanBarrier.fence(df
      .select(col(idCol).as("id"),
        Kernels.shingleMinhash(TextFunctions.whitespaceTokens(col(textCol)),
          shingleSize, as, bs, DedupFunctions.MinhashPrime).as("ss"))
      .select(col("id"), col("ss._1").as("sh"), col("ss._2").as("sig")))
  }

  private[graft] def banded(signedDf: DataFrame): DataFrame =
    signedDf.select(col("id"), col("sh"),
        posexplode(Kernels.polyBandBuckets(col("sig"), numBands,
          DedupFunctions.MinhashPrime)))
      .select(col("id"), col("sh"), col("pos").as("band"), col("col").as("bucket"))

  /** Append a batch's signatures to the index. */
  def append(df: DataFrame, idCol: String, textCol: String): Unit =
    banded(signed(df, idCol, textCol))
      .write.mode("append").partitionBy("band").parquet(location)

  /** Bin-pack the posting lists (every [[append]] leaves one file per
    * band dir; after 10^4 batches [[checkBatch]]'s index scan is a
    * small-files scan). Pure LAYOUT rewrite — the row multiset and the
    * band partitioning (what makes the band-0 verification read
    * partition-pruned) are preserved exactly; staged-swap commit. */
  def compact(spark: SparkSession,
      targetFileBytes: Long = 128L << 20): graft.maintain.IndexMaintenance.CompactionResult =
    graft.maintain.IndexMaintenance.compactIndex(
      spark, location, targetFileBytes = targetFileBytes)

  /** Near-duplicate pairs of `batch` documents against the INDEXED corpus
    * (including documents appended earlier): (batch_id, corpus_id,
    * jaccard) with jaccard >= threshold. A batch doc whose OWN id is
    * already indexed (a replayed micro-batch, or a resubmission under its
    * original id) self-matches at jaccard 1.0 — it IS in the corpus; this
    * is what makes [[graft.streaming.StreamingDedup.dedupBatch]]'s replay
    * drain to empty instead of re-emitting.
    *
    * Plan shape: only the batch's (batch_id, band, bucket) KEY triples are
    * broadcast into the probe join against the index scan — never the
    * hashed-shingle arrays (numBands x batch text volume would cap the
    * batch size at the broadcast limit). Candidate pairs dedup as bare id
    * pairs, so the one wide shuffle carries ids only; shingle arrays join
    * back just for the survivors — the corpus side from the index's
    * band=0 partition (partition-pruned: every doc posts to every band),
    * the batch side from the staged signatures.
    */
  def checkBatch(batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Stage signatures once: the band probe and the verification join both
    // read this checkpoint instead of re-shingling the batch text.
    // lazy (r20): the band-probe broadcast build is the first action and
    // materializes the signature blocks in the same job
    val sigs = signed(batch, idCol, textCol).localCheckpoint(false)
    val keys = banded(sigs)
      .select(col("id").as("batch_id"), col("band"), col("bucket"))
    val idx = spark(batch).read.parquet(location)
    val candidates = idx.select(col("id").as("corpus_id"), col("band"), col("bucket"))
      .join(broadcast(keys), Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    val corpusSh = idx.where(col("band") === 0)
      .select(col("id").as("corpus_id"), col("sh").as("sh_c"))
    val batchSh = sigs.select(col("id").as("batch_id"), col("sh").as("sh_b"))
    candidates
      .join(corpusSh, Seq("corpus_id"))
      .join(batchSh, Seq("batch_id"))
      .select(col("batch_id"), col("corpus_id"),
        size(array_intersect(col("sh_b"), col("sh_c"))).cast("double").as("inter"),
        (size(col("sh_b")) + size(col("sh_c"))).cast("double").as("szsum"))
      .select(col("batch_id"), col("corpus_id"),
        (col("inter") / (col("szsum") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }
}

object MinhashIndex {

  /** The persisted build parameters (round 19, r18 advice): signatures
    * computed with parameters that differ from the build's are garbage —
    * dedup silently misses every duplicate — so the parameters live NEXT
    * TO the index instead of being re-asserted by every caller. Same
    * self-describing-store move as [[IvfPq.writeMeta]]; a `__meta.json`
    * SIBLING file, not a file inside the store dir, because the bin-pack
    * compaction atomically swaps the store dir. `threshold` is recorded
    * as the build-time default but is a QUERY-time parameter (it only
    * gates [[MinhashIndex.checkBatch]]'s output filter), so callers may
    * override it; the three structural parameters may not. */
  final case class Meta(
      shingleSize: Int, numHashes: Int, numBands: Int, threshold: Double)

  private[functions] def writeMeta(
      conf: org.apache.hadoop.conf.Configuration, location: String, m: Meta): Unit =
    MetaSidecar.write(conf, location,
      s"""{"shingle_size":${m.shingleSize},"num_hashes":${m.numHashes},""" +
        s""""num_bands":${m.numBands},"threshold":${m.threshold}}""",
      "minhash meta")

  /** The persisted build parameters, when the index has them (indexes
    * built before round 19 have no meta sibling — legacy opens keep
    * working off explicit parameters). A meta file that EXISTS but does
    * not parse fails loudly with a recovery hint instead of surfacing a
    * bare Jackson error (or worse, being treated as pre-meta and letting
    * mismatched parameters through). */
  def readMeta(location: String): Option[Meta] =
    MetaSidecar.read(location, "minhash meta",
      "rebuild the index with MinhashIndex.build, or delete the meta " +
        "file and reopen with explicit parameters " +
        "(open(location, shingleSize = Some(...), ...))") { root =>
      val fields = Seq("shingle_size", "num_hashes", "num_bands", "threshold")
      require(fields.forall(f => root.hasNonNull(f)),
        s"missing field(s): ${fields.filterNot(root.hasNonNull).mkString(",")}")
      Meta(root.get("shingle_size").asInt, root.get("num_hashes").asInt,
        root.get("num_bands").asInt, root.get("threshold").asDouble)
    }

  /** Build (overwrite) an index from a corpus; persists the build
    * parameters as a `__meta.json` sibling so [[open(location*]]
    * reopens the store from the location alone. */
  def build(
      corpus: DataFrame, idCol: String, textCol: String, location: String,
      shingleSize: Int = 3, numHashes: Int = 32, numBands: Int = 4,
      threshold: Double = 0.5): MinhashIndex = {
    val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
    // Drop any stale sidecar BEFORE the store overwrite: a crash between
    // the new store's commit and the new sidecar's write must leave a
    // loud missing-meta store (open(location) refuses), never a sidecar
    // describing the PREVIOUS build's parameters — which open would
    // trust, silently computing garbage signatures against the new store
    // while rejecting the correct parameters as a contradiction.
    MetaSidecar.delete(conf, location)
    val idx = new MinhashIndex(location, shingleSize, numHashes, numBands, threshold)
    val rows = idx.signed(corpus, idCol, textCol)
    idx.banded(rows).write.mode("overwrite").partitionBy("band").parquet(location)
    writeMeta(conf, location, Meta(shingleSize, numHashes, numBands, threshold))
    idx
  }

  /** Open a store from its location alone — requires the `__meta.json`
    * sibling [[build]] writes. The config-driven entry point (the ACON
    * `minhash_dedup` face) and the checkpoint-restart path. */
  def open(location: String): MinhashIndex = {
    val m = readMeta(location).getOrElse(sys.error(
      s"no minhash meta at ${MetaSidecar.path(location)} — build the index " +
        "with MinhashIndex.build (which persists it), or pass explicit " +
        "parameters to open(location, shingleSize = Some(...), ...) for a " +
        "pre-meta index"))
    new MinhashIndex(location, m.shingleSize, m.numHashes, m.numBands, m.threshold)
  }

  /** Open an existing index, optionally stating parameters. When the
    * store has persisted meta, the STRUCTURAL parameters (shingle size,
    * hash and band counts) derive from it, and any value the caller DOES
    * state must match — a mismatch means every signature this handle
    * computes would be garbage, so it fails loudly instead. `threshold`
    * is query-time (it only gates [[MinhashIndex.checkBatch]]'s output
    * filter): a stated value wins over the persisted default, so
    * `open(location, threshold = Some(0.4))` works against any
    * meta-bearing store regardless of its structural parameters. The
    * parameters are `Option`s precisely so an UNSTATED one is never
    * mistaken for a claim (round 19: the old Int-typed defaults were
    * validated as if explicit, hard-failing a threshold-only open
    * against any store built with non-default structure). A pre-meta
    * store uses the stated values, defaulting to the build defaults. */
  def open(location: String, shingleSize: Option[Int] = None,
      numHashes: Option[Int] = None, numBands: Option[Int] = None,
      threshold: Option[Double] = None): MinhashIndex =
    readMeta(location) match {
      case Some(m) =>
        val contradictions = Seq(
          ("shingle_size", shingleSize, m.shingleSize),
          ("num_hashes", numHashes, m.numHashes),
          ("num_bands", numBands, m.numBands)
        ).collect { case (name, Some(stated), built) if stated != built =>
          s"$name=$stated (store was built with $name=$built)"
        }
        require(contradictions.isEmpty,
          s"minhash index at $location: open() was passed " +
            s"${contradictions.mkString(", ")} — signatures would silently " +
            "miss every duplicate; drop the contradicting parameter(s) or " +
            "rebuild the index")
        new MinhashIndex(location, m.shingleSize, m.numHashes, m.numBands,
          threshold.getOrElse(m.threshold))
      case None =>
        new MinhashIndex(location, shingleSize.getOrElse(3),
          numHashes.getOrElse(32), numBands.getOrElse(4),
          threshold.getOrElse(0.5))
    }
}
