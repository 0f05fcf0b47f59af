package graft.maintain

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bin-pack compaction for the persisted, append-only dedup/ANN indexes
  * (chunk-hash index, MinHash-LSH posting lists, IVFADC cell store) —
  * the maintenance op the reference expresses as Delta `OPTIMIZE`
  * (reference `terminators/dataset_optimizer.py:17-138`), re-expressed
  * for the plain-parquet index layouts this engine persists.
  *
  * Why it must exist: every streaming face appends one parquet file per
  * micro-batch per partition dir forever
  * ([[graft.functions.DedupFunctions.appendToChunkIndex]],
  * [[graft.functions.MinhashIndex.append]],
  * [[graft.functions.IvfPqIndex.appendToPersisted]]). After 10^4
  * batches the read side of every incremental check degenerates into a
  * small-files scan — footer fetches and task scheduling dominate the
  * actual hash/code reads. Compaction rewrites the index into
  * ~`targetFileBytes` files (preserving the partition layout that makes
  * probes partition-pruned) and swaps it in crash-recoverably via
  * [[graft.io.PartitionedRewrite.rewriteAll]] — the same path as every
  * other whole-location rewrite; `optimize` compacts tables with it too.
  *
  * Semantics: a pure LAYOUT rewrite — the row multiset is unchanged
  * (`distinctRows = false`), or collapsed to the distinct row SET when
  * the index's read side is set-semantic anyway (`distinctRows = true`;
  * the chunk-hash index is consumed only by a hash anti-join, and
  * re-chunked survivor text can legitimately re-emit a hash an earlier
  * batch already indexed, so cross-batch duplicate rows accumulate).
  * Either way every incremental check reads identically pre/post —
  * pinned as a PropertySpec law per index family.
  */
object IndexMaintenance {

  /** (data files, data bytes) under a parquet location — recursive,
    * skipping `_SUCCESS`/metadata/hidden files. The FILE COUNT is the
    * degradation signal appends accumulate; bytes size the rewrite. */
  def stats(spark: SparkSession, location: String): (Int, Long) = {
    val p = new Path(location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0, 0L)
    val data = graft.io.PartitionedRewrite.leafFiles(fs, p).filterNot { f =>
      val n = f.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    (data.size, data.map(_.getLen).sum)
  }

  /** What a compaction read (data files, bytes) and its output task
    * count. `filesAfter` lists the location when it is first read: most
    * callers never read it. */
  final case class CompactionResult(filesBefore: Int, bytes: Long, outputTasks: Int)(
      countFiles: () => Int) {
    lazy val filesAfter: Int = countFiles()
  }

  /** Compact the parquet location at `location` in place — the one
    * compaction routine behind `optimize`/`optimize_dataset` and every
    * index store. The partition layout is discovered from the
    * directories and kept; the rewrite goes through
    * [[graft.io.PartitionedRewrite.rewriteAll]], so an interrupted commit
    * is settled before the location is read. Sizing: [[binPack]]. */
  def compactIndex(
      spark: SparkSession,
      location: String,
      distinctRows: Boolean = false,
      targetFileBytes: Long = 128L << 20): CompactionResult = {
    var result: CompactionResult = null
    graft.io.PartitionedRewrite.rewriteAll(spark, location) { (current, partCols) =>
      val df0 = current.getOrElse(sys.error(s"compaction: no table at $location"))
      // files and bytes from the listing the read already made
      val files = df0.inputFiles.length
      val bytes = df0.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      val root = new Path(location)
      val dirs = graft.io.PartitionedRewrite.listPartitionDirs(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root, partCols.size).size
      val (df, tasks) = binPack(if (distinctRows) df0.distinct() else df0,
        partCols, dirs, bytes, targetFileBytes)
      result = CompactionResult(files, bytes, tasks)(() => stats(spark, location)._1)
      df
    }
    result
  }

  /** Layout reasoning for a compaction, sized for the 100 TB deployment:
    * rows of `bytes` data bytes in an unpartitioned location bin-pack to
    * `ceil(bytes / targetFileBytes)` files. Partitioned rows (`dirs`
    * partition dirs of layout `partCols`) keep their dirs (partition
    * pruning is the whole point of the layout) and get
    * `ceil(bytes / dirs / targetFileBytes)` files per dir: rows
    * repartition on (partition cols + a row-hash salt bounded by that
    * per-dir file budget), so each output task holds exactly one
    * (dir, salt) slice and writes exactly one file — no dir ever
    * collapses to a single multi-hundred-GB object, and no task writes
    * into more than one dir. Returns the frame to write and its task
    * count. */
  def binPack(df: DataFrame, partCols: Seq[String], dirs: Int, bytes: Long,
      targetFileBytes: Long = 128L << 20): (DataFrame, Int) = {
    val d = math.max(1, if (partCols.isEmpty) 1 else dirs)
    val perDir = math.max(1L, (bytes / d + targetFileBytes - 1) / targetFileBytes)
    val n = math.min(1L << 20, d * perDir).toInt
    if (partCols.isEmpty) (df.repartition(n), n)
    else {
      val salt = pmod(hash(df.columns.filterNot(partCols.contains).map(col).toSeq: _*),
        lit(perDir))
      (df.repartition(n, partCols.map(col) :+ salt: _*), n)
    }
  }

  /** Compact only past a file-count threshold — the cheap periodic-
    * maintenance form a streaming face calls every N micro-batches (the
    * listing is one FS round-trip; the rewrite only runs when appends
    * have actually accumulated). Returns the result when it ran. */
  def compactIfNeeded(
      spark: SparkSession,
      location: String,
      maxFiles: Int,
      distinctRows: Boolean = false,
      targetFileBytes: Long = 128L << 20): Option[CompactionResult] = {
    val (files, _) = stats(spark, location)
    if (files <= maxFiles) None
    else Some(compactIndex(spark, location, distinctRows, targetFileBytes))
  }
}
