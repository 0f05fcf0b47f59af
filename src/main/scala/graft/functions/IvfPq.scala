package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVFADC — the composition of coarse cells and product quantization
  * (Jégou et al. 2011 §5): every vector lives in a coarse cell and
  * stores only the PQ codes of its RESIDUAL from that cell's centroid;
  * a search probes a few cells and ADC-ranks their members. IVF bounds
  * what a query scans, PQ bounds what the index stores — at 100 TB the
  * codes table is partitioned by cell, so a probe is a partition-pruned
  * read of m-byte codes, never the raw vectors.
  *
  * Residuals matter: within a cell, vectors spread around the centroid,
  * so quantizing (v − centroid) spends the codebook's resolution on the
  * local spread instead of the global layout — the paper's accuracy gain
  * over PQ-on-raw at the same code budget.
  *
  * The class is generic over how cells were assigned (KMeans via
  * [[build]], or any deterministic assignment via [[fromAssignments]] —
  * the hyperplane-LSH instance is what a SQL oracle can mirror).
  */
final class IvfPqIndex private[functions] (
    /** (id, cell, codes array<int>) — cell-tagged residual codes. */
    val codes: DataFrame,
    /** cell id → centroid (bounded by the cell count). */
    val centroids: Map[Long, Array[Double]],
    val codebooks: Array[Array[Array[Double]]]) extends Serializable {

  /** Top-k by residual ADC over the probed cells of each query.
    *
    * `probe` maps a query vector to the cells it should scan (own cell
    * for exact-match LSH; nearest-centroid list for KMeans cells). Each
    * (query, cell) pair gets its own distance table — built from the
    * query's residual AGAINST THAT CELL's centroid, so distances are
    * comparable to the members' stored residuals. Tables are bounded
    * (|queries| · nProbe · m · ksub doubles) and ride the closure; the
    * codes table streams map-side with no join, and when persisted
    * cell-partitioned the non-probed cells are never read.
    *
    * @return (query_id, neighbor_id, adc_dist, rnk)
    */
  def search(
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, probe: Array[Float] => Seq[Long]): DataFrame = {
    val cbs = codebooks
    val dsub = cbs(0)(0).length
    val q = queries.select(col(queryId).cast("long"), col(queryVec))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // cell -> [(query_id, table)]: the per-(query, cell) ADC tables.
    val byCell: Map[Long, Array[(Long, Array[Array[Double]])]] = q
      .flatMap { case (qid, v) =>
        probe(v).flatMap { cell =>
          centroids.get(cell).map { ctr =>
            val res = Array.tabulate(v.length)(i => (v(i).toDouble - ctr(i)).toFloat)
            cell -> (qid, Array.tabulate(cbs.length) { mi =>
              cbs(mi).map(c => PqIndex.subDist(res, mi * dsub, c))
            })
          }
        }
      }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val score = udf { (id: Long, cell: Long, cs: Seq[Int]) =>
      byCell.getOrElse(cell, Array.empty[(Long, Array[Array[Double]])])
        .flatMap { case (qid, tab) =>
          if (qid == id) None
          else {
            var d = 0.0
            var mi = 0
            while (mi < tab.length) { d += tab(mi)(cs(mi)); mi += 1 }
            Some((qid, -d))
          }
        }
    }
    codes
      .select(col("id").as("neighbor_id"),
        explode(score(col("id"), col("cell"), col("codes"))).as("s"))
      .select(col("s._1").as("query_id"), col("neighbor_id"),
        col("s._2").as("score"))
      .groupBy(col("query_id"))
      .agg(TopKAggregator.topK(k, col("neighbor_id"), col("score")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        (lit(0.0) - col("col.score")).as("adc_dist"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** KMeans-cell probe: the `nProbe` nearest coarse centroids. */
  def kmeansProbe(nProbe: Int): Array[Float] => Seq[Long] = {
    val ctrs = centroids.toArray.sortBy(_._1)
    (v: Array[Float]) =>
      ctrs.map { case (cell, ctr) =>
        var d = 0.0; var i = 0
        val n = math.min(ctr.length, v.length)
        while (i < n) { val diff = v(i) - ctr(i); d += diff * diff; i += 1 }
        (d, cell)
      }.sortBy(_._1).take(nProbe).map(_._2).toSeq
  }

  /** Persist cell-partitioned codes (probes prune partitions on read),
    * plus the centroids/codebooks to a `<location>__meta` SIBLING dir so
    * the store is reopenable by [[IvfPq.open]] without the build corpus
    * (round 18 — the ACON streaming face and checkpoint restarts need a
    * self-describing store). A sibling, not a subdir: the bin-pack
    * compaction swaps the whole store dir atomically and would drop
    * anything nested inside it. */
  def persisted(location: String): IvfPqIndex = {
    // Drop a stale __meta BEFORE the store overwrite (round 19, same
    // ordering as MinhashIndex.build / ChunkIndex.build): a crash between
    // the new store's commit and the model write must leave a loud
    // missing-meta store (IvfPq.open refuses), never the PREVIOUS model
    // silently mis-encoding every probe against the new codes.
    IvfPq.dropMeta(codes.sparkSession, location)
    codes.write.mode("overwrite").partitionBy("cell").parquet(location)
    IvfPq.writeMeta(codes.sparkSession, location, centroids, codebooks)
    new IvfPqIndex(
      codes.sparkSession.read.parquet(location)
        .select(col("id"), col("cell").cast("long").as("cell"), col("codes")),
      centroids, codebooks)
  }

  /** Incrementally ingest a batch into a persisted IVFADC store: assign
    * each vector to the NEAREST EXISTING centroid (no retraining — the
    * standard IVF ingest trade, same as [[IvfIndex.appendToPersisted]];
    * nearest-centroid also covers assignments whose original cell
    * function could name a cell this index has no centroid for), derive
    * its residual, PQ-encode with the EXISTING codebooks, and append the
    * m-byte codes to the cell-partitioned layout. Streamed vectors land
    * exactly as built ones do: codes only, partition-pruned probes, raw
    * vectors never stored. Returns an index over the extended store;
    * `location` must be the path this index was persisted at. */
  def appendToPersisted(
      location: String, batch: DataFrame, idCol: String, vecCol: String): IvfPqIndex = {
    val tagged = batch.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"),
      IvfPq.nearestCellUdf(centroids)(col(vecCol)).as("cell"))
    val withRes = tagged.withColumn("res",
      IvfPq.residualUdf(centroids)(col("vec"), col("cell")))
    PqIndex.encode(withRes, "id", "res", codebooks)
      .join(withRes.select(col("id"), col("cell")), Seq("id"))
      .select(col("id"), col("cell"), col("codes"))
      .write.mode("append").partitionBy("cell").parquet(location)
    new IvfPqIndex(
      batch.sparkSession.read.parquet(location)
        .select(col("id"), col("cell").cast("long").as("cell"), col("codes")),
      centroids, codebooks)
  }

  /** Bin-pack the persisted cell store (each [[appendToPersisted]]
    * leaves one file per touched cell dir; continuous ingest makes the
    * probe-time partition-pruned read a small-files scan). Pure LAYOUT
    * rewrite preserving the cell partitioning; staged-swap commit.
    * Returns an index over the compacted store. */
  def compactPersisted(location: String,
      targetFileBytes: Long = 128L << 20): IvfPqIndex = {
    val spark = codes.sparkSession
    graft.maintain.IndexMaintenance.compactIndex(
      spark, location, targetFileBytes = targetFileBytes)
    new IvfPqIndex(
      spark.read.parquet(location)
        .select(col("id"), col("cell").cast("long").as("cell"), col("codes")),
      centroids, codebooks)
  }
}

object IvfPq {

  /** Drop the `__meta` model sibling if present — called BEFORE a store
    * overwrite so a crash mid-persist leaves a loud missing-meta store,
    * never a stale model (see [[IvfPqIndex.persisted]]). */
  private[functions] def dropMeta(
      spark: org.apache.spark.sql.SparkSession, location: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(location.stripSuffix("/") + "__meta")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Write the bounded model halves (cell centroids + PQ codebooks) next
    * to a persisted store — see [[IvfPqIndex.persisted]]. */
  private[functions] def writeMeta(
      spark: org.apache.spark.sql.SparkSession, location: String,
      centroids: Map[Long, Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    val meta = location.stripSuffix("/") + "__meta"
    centroids.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "ctr")
      .coalesce(1).write.mode("overwrite").parquet(s"$meta/centroids")
    codebooks.zipWithIndex.flatMap { case (cb, mi) =>
      cb.zipWithIndex.map { case (v, code) => (mi, code, v.toSeq) }
    }.toSeq.toDF("m", "code", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$meta/codebooks")
  }

  /** Reopen a [[IvfPqIndex.persisted]] store from its location alone:
    * codes from the cell-partitioned layout, centroids/codebooks from
    * the `__meta` sibling. The config-driven entry point (the ACON
    * `ivfadc_ingest` sink face) and the checkpoint-restart path. */
  def open(spark: org.apache.spark.sql.SparkSession, location: String): IvfPqIndex = {
    val meta = location.stripSuffix("/") + "__meta"
    // both model halves sit under one loud-error umbrella: a crash
    // between the centroids and codebooks writes (or a half-deleted
    // sibling) must surface as this recovery hint, not as an opaque
    // AnalysisException from the second read
    val (ctrs, rawCbs) =
      try (spark.read.parquet(s"$meta/centroids").collect(),
        spark.read.parquet(s"$meta/codebooks").collect())
      catch { case e: Exception => sys.error(
        s"no IVFADC meta at $meta (persist the store with " +
          s"IvfPqIndex.persisted before opening): ${e.getMessage}") }
    val ctrMap = ctrs
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cbs = rawCbs
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    new IvfPqIndex(
      spark.read.parquet(location)
        .select(col("id"), col("cell").cast("long").as("cell"), col("codes")),
      ctrMap, cbs)
  }

  /** Residual columns: v − centroid(cell), via a bounded broadcast map. */
  private[graft] def residualUdf(centroids: Map[Long, Array[Double]]) =
    udf { (v: Seq[Float], cell: Long) =>
      val ctr = centroids(cell)
      Array.tabulate(v.length)(i => (v(i).toDouble - ctr(i)).toFloat)
    }

  /** Nearest-centroid cell assignment over a sparse (cell id → centroid)
    * map — returns the cell KEY, not an array position, so it works for
    * both dense KMeans cells and sparse LSH-derived ones. Ties break to
    * the lowest cell id (iteration is in sorted-key order with strict
    * less-than), matching the SQL mirror's (distance, cell) ordering. */
  private[graft] def nearestCellUdf(centroids: Map[Long, Array[Double]]) = {
    val arr = centroids.toArray.sortBy(_._1)
    udf { (v: Seq[Float]) =>
      var best = arr(0)._1
      var bestD = Double.MaxValue
      var c = 0
      while (c < arr.length) {
        val ctr = arr(c)._2
        var d = 0.0
        var i = 0
        val n = math.min(ctr.length, v.length)
        while (i < n) { val diff = v(i).toDouble - ctr(i); d += diff * diff; i += 1 }
        if (d < bestD) { bestD = d; best = arr(c)._1 }
        c += 1
      }
      best
    }
  }

  /** Build the real thing: KMeans coarse cells (driver-local Lloyd's on
    * a bounded sample, as [[IvfIndex.build]]), residuals, per-subspace
    * KMeans codebooks trained ON residuals, residual codes. */
  def build(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nLists: Int = 16, m: Int = 8, ksub: Int = 16,
      trainSampleSize: Int = 10000, seed: Long = 42L): IvfPqIndex = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    // hash-ordered samples: deterministic under any partitioning (see
    // IvfIndex.deterministicSample)
    val sample = IvfIndex.deterministicSample(corpus, vecCol, trainSampleSize)
      .map(_.toArray.map(_.toDouble))
    val coarse = IvfIndex.lloyd(sample, nLists, maxIter = 5, tol = 1e-3, seed = seed)
    val centroids: Map[Long, Array[Double]] =
      coarse.zipWithIndex.map { case (c, i) => i.toLong -> c }.toMap
    val tagged = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
      IvfIndex.assignCellUdf(coarse)(col(vecCol)).cast("long").as("cell"))
    val withRes = tagged.withColumn("res", residualUdf(centroids)(col("vec"), col("cell")))
    // Codebooks on residual space: sample again, deterministic.
    val resSample = IvfIndex.deterministicSample(withRes, "res", trainSampleSize)
      .map(_.toArray)
    val dsub = dim / m
    val cbs = Array.tabulate(m) { mi =>
      val sub = resSample.map(v => Array.tabulate(dsub)(i => v(mi * dsub + i).toDouble))
      IvfIndex.lloyd(sub, ksub, maxIter = 5, tol = 1e-3, seed = seed + 1 + mi)
    }
    fromTagged(withRes, cbs, centroids)
  }

  /** Index from externally assigned cells + centroids + codebooks — the
    * deterministic (SQL-mirrorable) instantiation point. `tagged` must
    * have (id, cell, vec) columns; residuals and codes are derived here.
    */
  def fromAssignments(
      tagged: DataFrame, idCol: String, vecCol: String, cellCol: String,
      centroids: Map[Long, Array[Double]],
      codebooks: Array[Array[Array[Double]]]): IvfPqIndex = {
    val t = tagged.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"), col(cellCol).cast("long").as("cell"))
    fromTagged(t.withColumn("res", residualUdf(centroids)(col("vec"), col("cell"))),
      codebooks, centroids)
  }

  private def fromTagged(
      withRes: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      centroids: Map[Long, Array[Double]]): IvfPqIndex = {
    val codes = PqIndex.encode(withRes, "id", "res", codebooks)
      .join(withRes.select(col("id"), col("cell")), Seq("id"))
      .select(col("id"), col("cell"), col("codes"))
    new IvfPqIndex(codes, centroids, codebooks)
  }
}
