package graft.streaming

import graft.spec.OutputSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.streaming.StreamingQuery

/** Config-addressable spellings for the three streaming ingest faces —
  * round 18, closing the last config-surface gap: the reference is
  * ACON-driven end-to-end (`algorithms/data_loader.py:227-255`), and
  * until now continuous-ingest dedup was the one headline family a
  * config-only user could not reach without Scala.
  *
  * An output spec routes here when its `data_format` names a face —
  * mirroring the batch curation stages' transformer names:
  *
  * {{{
  * {"spec_id": "sink", "input_id": "stream",
  *  "data_format": "chunk_dedup",            // | minhash_dedup | ivfadc_ingest
  *  "location": "/sink/dir",                 // survivor parquet dir
  *  "streaming_trigger": "availableNow",     // standard trigger fields
  *  "options": {
  *    "index_location": "/idx/chunks",       // persisted index (required)
  *    "checkpointLocation": "/ckpt/chunks",  // required
  *    "compact_every": "64",                 // bin-pack every 64 batches…
  *    //"compact_every": "files:2048",       // …or past a FILE budget
  *    "id_col": "doc_id", "text_col": "text",// column names
  *    "chunk_tokens": "5",                   // chunk face
  *    "threshold": "0.4", "shingle_size": "3",
  *    "num_hashes": "32", "num_bands": "4",  // minhash face
  *    "vec_col": "embedding", "dedup": "true",
  *    "dedup_max_dist": "0.5", "n_probe": "4" // IVFADC face
  * }}}
  *
  * `compact_every` takes either the legacy cycles spelling (`"64"` =
  * every 64 micro-batches) or a file budget (`"files:2048"` — compact
  * whenever the store exceeds 2048 data files). The file spelling is
  * what the r18 sf0.1 soak concluded the IVFADC store NEEDS (a 23 s
  * listing cliff past ~2.5k files, however many batches made them);
  * the probe is one FS listing per micro-batch.
  *
  * Index SEEDING is config-addressable too (round 19): the same face
  * spec with `write_type: "index_build"` (batch input) BUILDS the
  * persisted index from the input corpus — minhash signatures + the
  * `__meta.json` parameter sibling, the chunk-hash set, or a trained
  * IVFADC store persisted with its `__meta` model sibling — so a
  * config-only user bootstraps continuous dedup end-to-end: one ACON
  * seeds, the next runs incremental dedup against the seeded index.
  * The RUN faces still refuse to cold-start on a missing index (a
  * config typo must not silently dedup against an empty corpus).
  *
  * The minhash face derives its build parameters from the index's own
  * persisted `__meta.json` (round 19 — mirroring the IVFADC face's
  * `__meta`): spec options may re-state structural parameters only if
  * they MATCH (a mismatch fails loudly instead of silently missing
  * every duplicate); `threshold` is query-time and an explicit option
  * overrides the persisted default. The standard foreachBatch
  * transformer/DQ plan composes: it runs on each raw micro-batch BEFORE
  * the face's dedup plan (the `prepare` hook on each face's `start`).
  */
object StreamingFaces {

  val Formats: Set[String] = Set("minhash_dedup", "chunk_dedup", "ivfadc_ingest")

  def routes(dataFormat: Option[String]): Boolean =
    dataFormat.exists(f => Formats(f.toLowerCase(java.util.Locale.ROOT)))

  private final case class Parsed(
      spec: OutputSpec, indexLoc: String,
      compactEvery: Int, compactFiles: Int, idCol: String, format: String) {
    def opt(k: String): Option[String] = spec.options.get(k)
    def textCol: String = opt("text_col").getOrElse("text")
    def vecCol: String = opt("vec_col").getOrElse("embedding")
    /** Chunk granularity for a RUN face: the store's persisted sidecar
      * wins (round 19 — [[graft.functions.ChunkIndex]]); an explicit
      * option must MATCH it (a drift silently misses every duplicate,
      * the failure class the sidecar exists to close); a pre-sidecar
      * store falls back to the option / default verbatim. */
    def chunkTokens: Int = {
      val stated = opt("chunk_tokens").map(_.trim.toInt)
      graft.functions.ChunkIndex.readMeta(indexLoc) match {
        case Some(m) =>
          stated.filter(_ != m.chunkTokens).foreach(s => sys.error(
            s"output spec '${spec.specId}': chunk index at $indexLoc was " +
              s"seeded with chunk_tokens=${m.chunkTokens} but the spec " +
              s"states chunk_tokens=$s — incoming chunks would hash at a " +
              "different granularity and silently miss every duplicate; " +
              "drop the option or re-seed the index"))
          m.chunkTokens
        case None => stated.getOrElse(5)
      }
    }
    /** The seed-time granularity (no sidecar consulted — index_build is
      * what WRITES it). */
    def seedChunkTokens: Int = opt("chunk_tokens").map(_.trim.toInt).getOrElse(5)
    def sinkDir: String = spec.location.getOrElse(sys.error(
      s"output spec '${spec.specId}': ${spec.dataFormat.get} needs " +
        "location (the survivor sink dir)"))
  }

  private def parsed(spec: OutputSpec): Parsed = {
    def opt(k: String): Option[String] = spec.options.get(k)
    // "files:N" keys compaction on the store's file count; a bare int
    // keeps the legacy batch-cycles spelling.
    val (cycles, files) = opt("compact_every").map(_.trim) match {
      case Some(v) if v.toLowerCase(java.util.Locale.ROOT).startsWith("files:") =>
        (0, v.substring("files:".length).trim.toInt)
      case Some(v) => (v.toInt, 0)
      case None => (0, 0)
    }
    Parsed(spec,
      indexLoc = opt("index_location").getOrElse(sys.error(
        s"output spec '${spec.specId}': ${spec.dataFormat.get} needs " +
          "options.index_location")),
      compactEvery = cycles,
      compactFiles = opt("compact_max_files").map(_.trim.toInt).getOrElse(files),
      idCol = opt("id_col").getOrElse("id"),
      format = spec.dataFormat.get.toLowerCase(java.util.Locale.ROOT))
  }

  /** Open the minhash index for a RUN face: parameters come from the
    * store's persisted `__meta.json` when it has one (structural spec
    * options must then MATCH — [[graft.functions.MinhashIndex.open]]
    * enforces it; explicit `threshold` overrides); a pre-meta store
    * falls back to the spec options / defaults verbatim. */
  private def minhashIdx(p: Parsed): graft.functions.MinhashIndex =
    // one sidecar read: open() itself derives unstated parameters from
    // the persisted meta, validates stated ones against it, and falls
    // back to the build defaults on a pre-meta store
    graft.functions.MinhashIndex.open(p.indexLoc,
      shingleSize = p.opt("shingle_size").map(_.trim.toInt),
      numHashes = p.opt("num_hashes").map(_.trim.toInt),
      numBands = p.opt("num_bands").map(_.trim.toInt),
      threshold = p.opt("threshold").map(_.trim.toDouble))

  def start(
      spark: SparkSession,
      spec: OutputSpec,
      stream: DataFrame,
      prepare: DataFrame => DataFrame): StreamingQuery = {
    val p = parsed(spec)
    require(spec.writeType != "index_build",
      s"output spec '${spec.specId}': write_type 'index_build' seeds the " +
        "index from a BATCH corpus input — use read_type batch")
    val ckpt = p.opt("checkpointLocation").orElse(p.opt("checkpoint_location"))
      .getOrElse(sys.error(s"output spec '${spec.specId}': " +
        s"${spec.dataFormat.get} needs options.checkpointLocation"))
    val trigger = graft.io.Writers.resolveTrigger(spec)
    p.format match {
      case "minhash_dedup" =>
        StreamingDedup.start(stream, p.idCol, p.textCol, minhashIdx(p),
          p.sinkDir, ckpt, p.compactEvery, p.compactFiles, trigger, prepare)
      case "chunk_dedup" =>
        StreamingChunkDedup.start(stream, p.idCol, p.textCol, p.indexLoc,
          p.sinkDir, ckpt, chunkTokens = p.chunkTokens,
          compactEvery = p.compactEvery, compactFiles = p.compactFiles,
          trigger = trigger, prepare = prepare)
      case "ivfadc_ingest" =>
        StreamingPqIngest.start(stream, p.idCol, p.vecCol,
          graft.functions.IvfPq.open(spark, p.indexLoc), p.indexLoc,
          p.sinkDir, ckpt,
          dedup = p.opt("dedup").forall(_.trim.toBoolean),
          dedupMaxDist = p.opt("dedup_max_dist").map(_.trim.toDouble),
          nProbe = p.opt("n_probe").map(_.trim.toInt).getOrElse(4),
          compactEvery = p.compactEvery, compactFiles = p.compactFiles,
          trigger = trigger, prepare = prepare)
    }
  }

  /** Batch mode of the same specs: ONE micro-batch unit of work (check
    * the whole input against the index, sink survivors, append) — the
    * config spelling of the incremental batch-ingest loop the q76/q116
    * family exercises. No checkpoint involved; compaction honors the
    * file spelling (or the legacy `compact_every` int, read as a
    * files-threshold hint here) when > 0.
    *
    * With `write_type: "index_build"` the input IS the seed corpus: the
    * face BUILDS (overwrites) the persisted index instead of running
    * dedup — the config-only bootstrap for the continuous-ingest loop. */
  def writeBatch(spark: SparkSession, spec: OutputSpec, df: DataFrame): Unit = {
    val p = parsed(spec)
    if (spec.writeType == "index_build") return seedIndex(p, df)
    def sink(s: DataFrame): Unit = s.write.mode("append").parquet(p.sinkDir)
    p.format match {
      case "minhash_dedup" =>
        StreamingDedup.dedupBatch(df, p.idCol, p.textCol, minhashIdx(p), sink)
      case "chunk_dedup" =>
        StreamingChunkDedup.dedupBatch(df, p.idCol, p.textCol, p.indexLoc,
          p.chunkTokens, sink)
      case "ivfadc_ingest" =>
        StreamingPqIngest.ingestBatch(df, p.idCol, p.vecCol,
          graft.functions.IvfPq.open(spark, p.indexLoc), p.indexLoc, sink,
          dedup = p.opt("dedup").forall(_.trim.toBoolean),
          dedupMaxDist = p.opt("dedup_max_dist").map(_.trim.toDouble),
          nProbe = p.opt("n_probe").map(_.trim.toInt).getOrElse(4))
    }
    val maxFiles = if (p.compactFiles > 0) p.compactFiles else p.compactEvery
    if (maxFiles > 0)
      graft.maintain.IndexMaintenance.compactIfNeeded(
        spark, p.indexLoc, maxFiles = maxFiles, distinctRows = p.format == "chunk_dedup")
    ()
  }

  /** Build (overwrite) the face's persisted index from a seed corpus —
    * the `write_type: "index_build"` spelling. Every store lands
    * self-describing: minhash writes its `__meta.json` parameter
    * sibling, IVFADC its `__meta` model sibling, so the subsequent RUN
    * face reopens each from `index_location` alone. */
  private def seedIndex(p: Parsed, df: DataFrame): Unit = {
    p.format match {
      case "minhash_dedup" =>
        graft.functions.MinhashIndex.build(df, p.idCol, p.textCol, p.indexLoc,
          shingleSize = p.opt("shingle_size").map(_.trim.toInt).getOrElse(3),
          numHashes = p.opt("num_hashes").map(_.trim.toInt).getOrElse(32),
          numBands = p.opt("num_bands").map(_.trim.toInt).getOrElse(4),
          threshold = p.opt("threshold").map(_.trim.toDouble).getOrElse(0.5))
      case "chunk_dedup" =>
        graft.functions.ChunkIndex.build(
          df, p.idCol, p.textCol, p.indexLoc, p.seedChunkTokens)
      case "ivfadc_ingest" =>
        // dim from the data unless stated (one bounded head row); an
        // empty seed corpus must fail with the spec id, not an opaque
        // empty-iterator error from head()
        val dim = p.opt("dim").map(_.trim.toInt).getOrElse {
          val row = df.select(size(col(p.vecCol)).as("__dim"))
            .where(col("__dim") > 0).limit(1).collect()
          require(row.nonEmpty,
            s"output spec '${p.spec.specId}': cannot infer the embedding " +
              s"dim — the index_build input has no non-empty '${p.vecCol}' " +
              "rows; fix the input spec or state options.dim")
          row(0).getInt(0)
        }
        graft.functions.IvfPq.build(df, p.idCol, p.vecCol, dim,
          nLists = p.opt("n_lists").map(_.trim.toInt).getOrElse(16),
          m = p.opt("pq_m").map(_.trim.toInt).getOrElse(
            if (dim % 8 == 0) 8 else dim),
          ksub = p.opt("pq_ksub").map(_.trim.toInt).getOrElse(16),
          trainSampleSize =
            p.opt("train_sample").map(_.trim.toInt).getOrElse(10000))
          .persisted(p.indexLoc)
    }
    ()
  }
}
