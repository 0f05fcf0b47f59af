package graft.maintain

import graft.SparkSpec
import graft.functions.{DedupFunctions, IvfPq, MinhashIndex}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Compaction laws for the three persisted append-only indexes: the
  * rewrite is semantics-neutral (every incremental check reads
  * identically pre/post), the file count actually drops, and the
  * partition layout that makes probes partition-pruned survives. */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rng: Random, prefix: String, n: Int) = {
    val blocks = (1 to 8).map(b => (1 to 5).map(t => s"w${b}_$t").mkString(" "))
    (1 to n).map { i =>
      (f"$prefix$i%03d",
        Seq.fill(2 + rng.nextInt(4))(blocks(rng.nextInt(blocks.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("stats counts every data file under nested partitions, skipping _ and . names") {
    val path = tmpDir("im-stats") + "/t"
    Seq((1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)).toDF("k", "grp", "v")
      .write.partitionBy("grp", "k").parquet(path)
    // a stray data file under a hidden dir counts; hidden names never do
    val stray = new java.io.File(s"$path/_temporary/0/part-stray.parquet")
    stray.getParentFile.mkdirs()
    java.nio.file.Files.write(stray.toPath, Array.fill[Byte](17)(1))
    new java.io.File(s"$path/grp=a/.hidden").mkdirs()
    java.nio.file.Files.write(new java.io.File(s"$path/grp=a/_meta").toPath, Array[Byte](1))
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    val data =
      try walk.iterator().asScala.map(_.toFile).filter { f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
      }.toList
      finally walk.close()
    assert(data.size == 4) // three partition files and the stray one
    assert(IndexMaintenance.stats(spark, path) == (data.size, data.map(_.length).sum))
  }

  test("chunk index: many appends -> compact: checkBatch identical, files drop, rows distinct") {
    val rng = new Random(7)
    val path = tmpDir("im-chunk")
    DedupFunctions.chunkHashIndex(docs(rng, "a", 30), "doc_id", "text")
      .write.mode("overwrite").parquet(path)
    (1 to 8).foreach { i =>
      val survivors = DedupFunctions.chunkDedupAgainstIndex(
        docs(rng, s"b$i", 6), spark.read.parquet(path), "doc_id", "text")
      DedupFunctions.appendToChunkIndex(survivors, "doc_id", "clean_text", path)
    }
    val probe = docs(rng, "z", 10)
    val before = DedupFunctions.chunkDedupAgainstIndex(
      probe, spark.read.parquet(path), "doc_id", "text").collect().toSet
    val (filesBefore, _) = IndexMaintenance.stats(spark, path)
    val res = DedupFunctions.compactChunkIndex(spark, path)
    assert(res.filesBefore == filesBefore)
    assert(res.filesAfter < res.filesBefore,
      s"compaction did not shrink: ${res.filesBefore} -> ${res.filesAfter}")
    val after = DedupFunctions.chunkDedupAgainstIndex(
      probe, spark.read.parquet(path), "doc_id", "text").collect().toSet
    assert(after == before, "checkBatch changed across compaction")
    val idx = spark.read.parquet(path)
    assert(idx.count() == idx.distinct().count(), "compacted index has duplicate hashes")
  }

  test("minhash index: appends -> compact: checkBatch identical, band dirs preserved") {
    val rng = new Random(21)
    val path = tmpDir("im-minhash")
    val idx = MinhashIndex.build(docs(new Random(21), "a", 25), "doc_id", "text",
      path, threshold = 0.3)
    (1 to 6).foreach(i => idx.append(docs(rng, s"b$i", 5), "doc_id", "text"))
    // same texts as 8 corpus docs under FRESH ids — guaranteed jaccard-1
    // hits with an unambiguous (batch, corpus) id pairing
    val probe = docs(new Random(21), "a", 25).limit(8)
      .withColumn("doc_id", concat(lit("z"), col("doc_id")))
    def check() = idx.checkBatch(probe, "doc_id", "text")
      .select(col("batch_id"), col("corpus_id"), round(col("jaccard"), 9))
      .collect().toSet
    val before = check()
    assert(before.nonEmpty, "probe found no near-duplicates — vacuous law")
    val (filesBefore, _) = IndexMaintenance.stats(spark, path)
    val rowsBefore = spark.read.parquet(path).count()
    val res = idx.compact(spark)
    assert(res.filesAfter < filesBefore)
    assert(spark.read.parquet(path).count() == rowsBefore,
      "layout-only rewrite changed the row multiset size")
    assert(check() == before, "checkBatch changed across compaction")
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("band=")) == 4, s"band layout lost: ${dirs.toSeq}")
    // the __meta.json parameter sibling survives the staged-swap rewrite
    // (it sits NEXT TO the store dir, not inside it) and the store
    // reopens from its location alone with the build parameters intact
    val reopened = MinhashIndex.open(path)
    assert(reopened.threshold == 0.3 && reopened.numBands == 4 &&
      reopened.numHashes == 32 && reopened.shingleSize == 3,
      "persisted meta lost or wrong after compaction")
  }

  test("ivfadc cell store: appends -> compactPersisted: search identical, cell dirs preserved") {
    val rnd = new Random(11)
    val dim = 16
    def vecs(from: Int, n: Int) = {
      val centers = Array.fill(4)(Array.fill(dim)(rnd.nextFloat() * 8 - 4))
      (from until from + n).map { i =>
        val c = centers(i % 4)
        (i.toLong, Array.tabulate(dim)(j => c(j) + (rnd.nextFloat() - 0.5f) * 0.6f))
      }.toDF("vec_id", "embedding")
    }
    val base = vecs(0, 120)
    val path = tmpDir("im-ivfadc")
    var idx = IvfPq.build(base, "vec_id", "embedding", dim,
      nLists = 4, m = 4, ksub = 8, trainSampleSize = 120).persisted(path)
    (1 to 5).foreach { i =>
      idx = idx.appendToPersisted(path, vecs(1000 + i * 100, 20), "vec_id", "embedding")
    }
    val queries = base.where(col("vec_id") < 4)
    def search(ix: graft.functions.IvfPqIndex) =
      ix.search(queries, "vec_id", "embedding", k = 5, ix.kmeansProbe(2))
        .select(col("query_id"), col("neighbor_id"), round(col("adc_dist"), 9), col("rnk"))
        .collect().toSet
    val before = search(idx)
    assert(before.nonEmpty)
    val (filesBefore, _) = IndexMaintenance.stats(spark, path)
    val compacted = idx.compactPersisted(path)
    val (filesAfter, _) = IndexMaintenance.stats(spark, path)
    assert(filesAfter < filesBefore, s"no shrink: $filesBefore -> $filesAfter")
    assert(search(compacted) == before, "search changed across compaction")
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("cell=")) >= 1, s"cell layout lost: ${dirs.toSeq}")
  }

  test("compactIfNeeded: no-op under the threshold, runs past it") {
    val rng = new Random(3)
    val path = tmpDir("im-ifneeded")
    DedupFunctions.chunkHashIndex(docs(rng, "a", 10), "doc_id", "text")
      .write.mode("overwrite").parquet(path)
    (1 to 4).foreach { i =>
      DedupFunctions.chunkHashIndex(docs(rng, s"b$i", 3), "doc_id", "text")
        .write.mode("append").parquet(path)
    }
    val (files, _) = IndexMaintenance.stats(spark, path)
    assert(IndexMaintenance.compactIfNeeded(spark, path, maxFiles = files + 1,
      distinctRows = true).isEmpty)
    val ran = IndexMaintenance.compactIfNeeded(spark, path, maxFiles = 1,
      distinctRows = true)
    assert(ran.exists(r => r.filesAfter < r.filesBefore))
  }

  test("compact_index is config-addressable through the table-manager ACON surface") {
    val rng = new Random(13)
    val path = tmpDir("im-acon")
    DedupFunctions.chunkHashIndex(docs(rng, "a", 12), "doc_id", "text")
      .write.mode("overwrite").parquet(path)
    (1 to 5).foreach { i =>
      DedupFunctions.chunkHashIndex(docs(rng, s"b$i", 4), "doc_id", "text")
        .write.mode("append").parquet(path)
    }
    val hashes = spark.read.parquet(path).distinct().count()
    // max_files above the count: a guarded no-op
    graft.Engine.manageTable(spark,
      s"""{"function": "compact_index", "path": "$path",
          "distinct_rows": true, "max_files": 500}""")
    assert(IndexMaintenance.stats(spark, path)._1 == 6)
    // unguarded: bin-packs to one file, hash set unchanged
    graft.Engine.manageTable(spark,
      s"""{"function": "compact_index", "path": "$path", "distinct_rows": true}""")
    assert(IndexMaintenance.stats(spark, path)._1 == 1)
    assert(spark.read.parquet(path).distinct().count() == hashes)
  }

  test("partitioned compaction respects the per-dir file budget on oversized dirs") {
    // one hot partition whose bytes exceed targetFileBytes: the salt must
    // split it into multiple files instead of one giant object
    val df = (0 until 20000).map(i => (i.toLong, i % 2, s"payload_$i" * 8))
      .toDF("id", "cell", "payload")
    val path = tmpDir("im-salt")
    df.write.partitionBy("cell").mode("overwrite").parquet(path)
    // append a few times to create the small-files shape
    (1 to 3).foreach(_ => df.limit(100).write.mode("append")
      .partitionBy("cell").parquet(path))
    val res = IndexMaintenance.compactIndex(spark, path, targetFileBytes = 64 * 1024)
    val perDir = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().count(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")))
      .toMap
    assert(perDir.values.forall(_ >= 2),
      s"expected the salt to split oversized dirs: $perDir (result $res)")
    assert(spark.read.parquet(path).count() == df.count() + 300)
  }
}
