package graft.tools

import graft.functions.{DedupFunctions, IvfPq, MinhashIndex}
import graft.maintain.IndexMaintenance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-cycle soak for the three persisted append-only indexes: drives
  * N micro-batch appends (default 200 — the regime where the read side
  * degenerates into a small-files scan), measuring the incremental-check
  * wall and the data-file count at intervals, then compacts and
  * re-measures. The output quantifies BOTH halves of the maintenance
  * story: how fast continuous ingest degrades the read path, and how
  * much one [[IndexMaintenance.compactIndex]] recovers.
  *
  * Each appended batch carries FRESH content (cycle-suffixed tokens /
  * sign-flipped vectors, the ScaleCurve derivation trick) so the index
  * grows like real ingest — the degradation signal is file count, not
  * duplicate collapse.
  *
  * Run: SPARK_GRAFT_SOAK_CYCLES=200 sbt "runMain graft.tools.IndexSoak"
  */
object IndexSoak {

  private val Cycles = sys.env.getOrElse("SPARK_GRAFT_SOAK_CYCLES", "200").toInt
  private val SampleEvery = math.max(1, Cycles / 8)

  private def timeIt(run: () => DataFrame): Double = {
    val runs = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      run().queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    runs.min
  }

  private def j(points: Seq[(Int, Int, Double)]): String =
    points.map { case (c, f, s) => s"""{"cycle":$c,"files":$f,"check_sec":${f"$s%.3f"}}""" }
      .mkString("[", ",", "]")

  /** Cadence recommendation from the measured crossover (round 18): the
    * degradation curve gives d(check_sec)/d(files) by least squares and
    * files-per-append by construction, so the extra read cost of
    * compacting every k appends averages `slope·filesPerAppend·k/2` per
    * cycle while the amortized compaction cost is `compactSec/k` —
    * minimized at k* = sqrt(2·C/m). Returns (per-cycle degradation m,
    * recommended k*, clamped to [1, Cycles]). */
  private def recommend(
      curve: Seq[(Int, Int, Double)], seedFiles: Int,
      compactSec: Double): (Double, Double, Long) = {
    val xs = curve.map(_._2.toDouble)
    val ys = curve.map(_._3)
    val n = xs.size.toDouble
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val varX = xs.map(x => (x - mx) * (x - mx)).sum
    val slope = if (varX <= 0) 0.0
      else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / varX
    val filesPerAppend = (curve.last._2 - seedFiles).toDouble / curve.last._1
    val perCycle = slope * filesPerAppend
    val k = if (perCycle <= 0) Cycles.toLong
      else math.max(1L, math.min(Cycles.toLong,
        math.round(math.sqrt(2 * compactSec / perCycle))))
    (slope, perCycle, k)
  }

  /** One index family's soak: seed, cycle appends, measure, compact,
    * re-measure, derive the compaction cadence, then VALIDATE it — a
    * second run of the same appends with `compactEvery = k*` on
    * (compaction inline every k* cycles, the streaming faces' hook),
    * whose curve must stay bounded instead of degrading. `append` gets
    * (cycle); `check` is the incremental read op whose wall time the
    * small files degrade. */
  private def soak(
      spark: SparkSession, name: String, location: String,
      append: Int => Unit, check: () => DataFrame,
      compact: () => IndexMaintenance.CompactionResult,
      reset: Option[() => Unit] = None): String = {
    val (seedFiles, _) = IndexMaintenance.stats(spark, location)
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    (1 to Cycles).foreach { c =>
      append(c)
      if (c % SampleEvery == 0 || c == Cycles) {
        val (files, _) = IndexMaintenance.stats(spark, location)
        curve += ((c, files, timeIt(check)))
      }
    }
    val (filesBefore, bytes) = IndexMaintenance.stats(spark, location)
    val checkBefore = timeIt(check)
    val t0 = System.nanoTime()
    val res = compact()
    val compactSec = (System.nanoTime() - t0) / 1e9
    val checkAfter = timeIt(check)
    val (slope, perCycle, kStar) = recommend(curve.toSeq, seedFiles, compactSec)
    println(f"[soak] $name: $Cycles appends -> $filesBefore files, " +
      f"check $checkBefore%.2fs; compacted to ${res.filesAfter} files " +
      f"in $compactSec%.1fs, check $checkAfter%.2fs; " +
      f"slope=${slope * 1000}%.3fms/file recommend compactEvery=$kStar")
    // cadenced validation: same appends, compaction inline every k*
    val cadenced = reset.map { r =>
      r()
      val vc = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
      var compactTotal = 0.0
      (1 to Cycles).foreach { c =>
        append(c)
        if (kStar > 0 && c % kStar == 0) {
          val t = System.nanoTime()
          compact()
          compactTotal += (System.nanoTime() - t) / 1e9
        }
        if (c % SampleEvery == 0 || c == Cycles) {
          val (files, _) = IndexMaintenance.stats(spark, location)
          vc += ((c, files, timeIt(check)))
        }
      }
      println(f"[soak] $name cadenced(k=$kStar): final ${vc.last._2} files, " +
        f"check ${vc.last._3}%.2fs, compaction total $compactTotal%.1fs")
      s""","cadenced":{"every":$kStar,"compact_total_sec":${f"$compactTotal%.3f"},""" +
        s""""curve":${j(vc.toSeq)}}"""
    }.getOrElse("")
    s""""$name":{"cycles":$Cycles,"files_before":$filesBefore,""" +
      s""""bytes":$bytes,"check_before_sec":${f"$checkBefore%.3f"},""" +
      s""""files_after":${res.filesAfter},"compact_sec":${f"$compactSec%.3f"},""" +
      s""""check_after_sec":${f"$checkAfter%.3f"},""" +
      s""""slope_sec_per_file":${f"$slope%.6f"},""" +
      s""""degrade_sec_per_cycle":${f"$perCycle%.6f"},""" +
      s""""recommended_every":$kStar,"curve":${j(curve.toSeq)}$cadenced}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val work = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR",
      s"/tmp/graft-soak-${ProcessHandle.current().pid()}")
    val spark = graft.exec.ExecEnv.getOrCreate(
      appName = "graft-index-soak",
      master = Some(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]"),
      confs = Map(
        "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"),
        "spark.ui.enabled" -> "false"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").localCheckpoint()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").localCheckpoint()
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0)
    val maxVec = emb.agg(max("vec_id")).head.getLong(0)

    /** A small fresh-content batch for cycle `c`: 20 docs, ids and every
      * token suffixed per cycle so chunks/shingles are new to the index. */
    def docBatch(c: Int): DataFrame = docs
      .where(col("doc_id") < 20)
      .select((col("doc_id") + lit(c.toLong * (maxDoc + 1))).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1s$c").as("text"))
    def vecBatch(c: Int): DataFrame = emb
      .where(col("vec_id") < 50)
      .select((col("vec_id") + lit(c.toLong * (maxVec + 1))).as("vec_id"),
        transform(col("embedding"), (x, jj) =>
          x * when(pmod(lit(c.toLong * 2654435761L) + jj * 40503L, lit(2)) === 0,
            1.0f).otherwise(-1.0f)).as("embedding"))
    val probeDocs = docs.where(col("doc_id").between(20, 40)).localCheckpoint()
    val probeVecs = emb.where(col("vec_id") < 5).localCheckpoint()

    // --- chunk-hash index ---------------------------------------------
    val chunkLoc = s"$work/chunk_idx"
    DedupFunctions.chunkHashIndex(docs.where(col("doc_id") >= 100), "doc_id", "text")
      .write.mode("overwrite").parquet(chunkLoc)
    val chunkJson = soak(spark, "chunk_hash", chunkLoc,
      c => DedupFunctions.appendToChunkIndex(docBatch(c), "doc_id", "text", chunkLoc),
      () => DedupFunctions.chunkDedupAgainstIndex(
        probeDocs, spark.read.parquet(chunkLoc), "doc_id", "text"),
      () => DedupFunctions.compactChunkIndex(spark, chunkLoc),
      reset = Some(() =>
        DedupFunctions.chunkHashIndex(docs.where(col("doc_id") >= 100), "doc_id", "text")
          .write.mode("overwrite").parquet(chunkLoc)))

    // --- minhash posting lists ----------------------------------------
    val mhLoc = s"$work/minhash_idx"
    val mh = MinhashIndex.build(docs.where(col("doc_id") >= 100), "doc_id", "text",
      mhLoc, threshold = 0.4)
    val mhJson = soak(spark, "minhash", mhLoc,
      c => mh.append(docBatch(c), "doc_id", "text"),
      () => mh.checkBatch(probeDocs, "doc_id", "text"),
      () => mh.compact(spark),
      reset = Some(() => {
        MinhashIndex.build(docs.where(col("doc_id") >= 100), "doc_id", "text",
          mhLoc, threshold = 0.4)
        ()
      }))

    // --- IVFADC cell store --------------------------------------------
    val pqLoc = s"$work/ivfadc_idx"
    var pq = IvfPq.build(emb, "vec_id", "embedding",
        dim = emb.select(size(col("embedding"))).head.getInt(0),
        nLists = 16, m = 8, ksub = 16)
      .persisted(pqLoc)
    val pqJson = soak(spark, "ivfadc", pqLoc,
      c => { pq = pq.appendToPersisted(pqLoc, vecBatch(c), "vec_id", "embedding"); () },
      () => pq.search(probeVecs, "vec_id", "embedding", k = 5, pq.kmeansProbe(4)),
      () => { pq = pq.compactPersisted(pqLoc); IndexMaintenance.CompactionResult(0, 0L, 0)(
        () => IndexMaintenance.stats(spark, pqLoc)._1) })

    println(s"""{"metric":"index_soak","sf":"$sfDir",$chunkJson,$mhJson,$pqJson}""")
    spark.stop()
  }
}
