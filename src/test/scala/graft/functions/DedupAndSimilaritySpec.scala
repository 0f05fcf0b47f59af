package graft.functions

import graft.SparkSpec
import graft.operators.Condense
import org.apache.spark.sql.functions._

class DedupAndSimilaritySpec extends SparkSpec {

  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different text about spark engines here"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "another unrelated document with its own words entirely"))
    .toDF("doc_id", "text")

  test("minhash near-duplicates finds the near pair and the exact pair") {
    // 16 bands of 2 rows: P(miss) for a 0.78-jaccard pair is ~3e-7, so the
    // assertion is deterministic in practice
    val pairs = DedupFunctions.minhashNearDuplicates(
      docs, "doc_id", "text", shingleSize = 2, numHashes = 32, numBands = 16,
      threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup always survives
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard of exact duplicates is 1.0") {
    val pairs = DedupFunctions.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 1.0))
  }

  test("simhash: identical docs have distance 0, different docs don't collide") {
    val sims = docs.select(col("doc_id"),
      DedupFunctions.simhash32(TextFunctions.whitespaceTokens(col("text"))).as("sim"))
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(4L))
    assert(sims(1L) != sims(3L))
    val pairs = DedupFunctions.simhashNearDuplicates(docs, "doc_id", "text", maxDistance = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("condense is idempotent: condense(condense(x)) == condense(x)") {
    val cdc = Seq(
      (1, "t3", 30), (1, "t1", 10), (1, "t2", 20),
      (2, "t1", 1), (2, "t2", 2)).toDF("k", "ts", "v")
    val once = Condense.condenseRecordModeCdc(cdc, Seq("k"), Seq("ts"))
    val twice = Condense.condenseRecordModeCdc(once, Seq("k"), Seq("ts"))
    assertSameRows(once, twice)
    assert(once.where("k = 1 AND v = 30").count() == 1)
  }

  test("cosine top-k: self-similar vectors rank first; scores in [-1, 1]") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)), // nearly vec 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val topk = SimilarityFunctions.bruteForceTopK(
      vecs, "vec_id", "embedding", vecs.where("vec_id = 0"), "vec_id", "embedding", k = 2)
      .select("neighbor_id", "score", "rnk").as[(Long, Double, Int)].collect()
      .sortBy(_._3)
    assert(topk.head._1 == 1L)
    assert(topk.forall(t => t._2 >= -1.0 && t._2 <= 1.0))
  }

  test("LSH ANN candidates are a subset re-ranked by exact cosine") {
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(j =>
        (math.sin(i * 31 + j * 7) * 100).toFloat))).toDF("vec_id", "embedding")
    val ann = SimilarityFunctions.lshTopK(
      vecs, "vec_id", "embedding", vecs.where("vec_id < 3"), "vec_id", "embedding",
      dim = 8, k = 3)
    val rows = ann.select("query_id", "rnk").as[(Long, Int)].collect()
    assert(rows.nonEmpty)
    assert(rows.groupBy(_._1).forall(_._2.length <= 3))
  }

  test("IVF ANN: clusters probe correctly and find the exact nearest neighbor") {
    // two well-separated clusters; the true NN of each query is in its own cluster
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 10.0f else -10.0f
      (i.toLong, Array.tabulate(8)(j => base + (i * 7 + j) % 3 * 0.1f))
    }.toDF("vec_id", "embedding")
    val topk = SimilarityFunctions.ivfTopK(
      vecs, "vec_id", "embedding", vecs.where("vec_id < 2"), "vec_id", "embedding",
      k = 3, nLists = 4, nProbe = 2)
    val rows = topk.select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    // every returned neighbor of query 0 (cluster even) is from the even cluster
    assert(rows.filter(_._1 == 0L).forall(r => r._2 % 2 == 0))
    assert(rows.filter(_._1 == 1L).forall(r => r._2 % 2 == 1))
  }

  test("ANN recall@5 vs brute force on the real embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where("vec_id < 20")
    val exact = SimilarityFunctions.bruteForceTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    def recall(approx: Array[(Long, Long)]): Double = {
      val byQ = approx.groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
      val hits = exact.map { case (q, truth) =>
        byQ.getOrElse(q, Set.empty).count(truth).toDouble / truth.size
      }
      hits.sum / hits.size
    }
    val ivf = SimilarityFunctions.ivfTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, nLists = 16, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val lsh = SimilarityFunctions.lshTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        dim = 64, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val (rIvf, rLsh) = (recall(ivf), recall(lsh))
    info(f"recall@5: ivf(nProbe=4/16)=$rIvf%.2f lsh(16 bits)=$rLsh%.2f")
    // iid synthetic embeddings are the adversarial case for ANN (near-
    // uniform pairwise distances); measured ~0.57 / ~0.46 there.
    assert(rIvf >= 0.4, s"IVF recall@5 too low: $rIvf")
    assert(rLsh >= 0.3, s"LSH recall@5 too low: $rLsh")
    // more probes -> more recall, and probing every cell IS brute force
    val ivfAll = SimilarityFunctions.ivfTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, nLists = 16, nProbe = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val rAll = recall(ivfAll)
    assert(rAll >= rIvf)
    assert(rAll == 1.0, s"full-probe IVF must equal brute force, got $rAll")
    // single-bit multi-probe widens only the broadcast query-key set and
    // must dominate exact-bucket recall (strictly helps near-boundary
    // vectors on iid embeddings)
    val lshMp = SimilarityFunctions.lshTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        dim = 64, k = 5, probeBitFlips = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val rMp = recall(lshMp)
    info(f"recall@5: lsh multi-probe(1 bit)=$rMp%.2f vs exact-bucket=$rLsh%.2f")
    assert(rMp >= rLsh, s"multi-probe recall $rMp below exact-bucket $rLsh")
    assert(rMp >= 0.6, s"multi-probe LSH recall@5 too low: $rMp")
  }

  test("duplicate clusters: connected components map members to min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (10L, 8L))
      .toDF("id_a", "id_b")
    val clusters = DedupFunctions.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(5L) == 5L && clusters(6L) == 5L)
    assert(Set(8L, 9L, 10L).map(clusters) == Set(8L))
  }

  test("IvfIndex: build once, search repeatedly, survive persistence") {
    val vecs = (0 until 60).map { i =>
      val base = if (i % 2 == 0) 10.0f else -10.0f
      (i.toLong, Array.tabulate(8)(j => base + (i * 13 + j) % 5 * 0.1f))
    }.toDF("vec_id", "embedding")
    val index = IvfIndex.build(vecs, "vec_id", "embedding", nLists = 4)
    val r1 = index.search(vecs.where("vec_id < 2"), "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(r1.nonEmpty && r1.filter(_._1 == 0L).forall(_._2 % 2 == 0))
    // persisted layout is partitioned by cell and returns the same results
    val loc = tmpDir("ivf") + "/index"
    val stored = index.persisted(loc)
    assert(new java.io.File(loc).listFiles().exists(_.getName.startsWith("cell=")))
    val r2 = stored.search(vecs.where("vec_id < 2"), "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(r1.toSet == r2.toSet)
  }

  test("IvfIndex: incremental append to the persisted cell layout") {
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 10.0f else -10.0f
      (i.toLong, Array.tabulate(8)(j => base + (i * 13 + j) % 5 * 0.1f))
    }.toDF("vec_id", "embedding")
    val loc = tmpDir("ivf-append") + "/index"
    val stored = IvfIndex.build(vecs, "vec_id", "embedding", nLists = 4)
      .persisted(loc)
    // ingest a batch near the even cluster; it lands in a probed cell
    // and becomes the top neighbor of an even-cluster query
    val batch = Seq((100L, Array.tabulate(8)(j => 10.0f + j % 5 * 0.1f)))
      .toDF("vec_id", "embedding")
    val extended = stored.appendToPersisted(loc, batch, "vec_id", "embedding")
    val hits = extended.search(vecs.where("vec_id = 0"), "vec_id", "embedding",
        k = 10, nProbe = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(hits.contains(100L))
    // the original members are still searchable
    assert(hits.forall(id => id == 100L || id % 2 == 0))
  }

  test("multimodal: per-partition feature extraction and frame sampling") {
    val bins = Seq((1L, "abcdef"), (2L, "xy")).toDF("id", "payload")
      .select(col("id"), col("payload").cast("binary").as("payload"))
    val feats = graft.operators.Multimodal.extractFeatures(bins, "id", "payload")
    assert(feats.schema == graft.operators.Multimodal.FeatureSchema)
    val row = feats.where("id = 1").collect()(0)
    assert(row.getAs[Long]("n_bytes") == 6L)
    assert(!row.getAs[Boolean]("is_image")) // text payload -> fallback path
    assert(row.getSeq[Float](row.fieldIndex("features")).length == 8)
    val frames = graft.operators.Multimodal.sampleFrames(bins, "id", "payload", everyK = 2)
    assert(frames.where("id = 1").count() == 3) // offsets 0,2,4
    assert(frames.where("id = 2").count() == 1)
  }

  test("bounded buckets drop degenerate hot postings in every generator") {
    // 5 identical docs: every posting/bucket holds all 5 members, so a
    // cap of 4 drops everything; the default cap keeps all 10 pairs.
    val same = (0L until 5L).map(i => (i, "aa bb cc dd ee")).toDF("doc_id", "text")
    assert(DedupFunctions.ngramJaccardPairs(same, "doc_id", "text",
      n = 2, threshold = 0.0, maxPostingSize = 4).count() == 0)
    assert(DedupFunctions.ngramJaccardPairs(same, "doc_id", "text",
      n = 2, threshold = 0.0).count() == 10)
    assert(DedupFunctions.simhashNearDuplicates(same, "doc_id", "text",
      maxDistance = 3, maxBucketSize = 4).count() == 0)
    assert(DedupFunctions.simhashNearDuplicates(same, "doc_id", "text",
      maxDistance = 3).count() == 10)
    val sameVecs = (0L until 5L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    assert(SimilarityFunctions.embeddingNearDuplicates(sameVecs, "vec_id", "embedding",
      dim = 4, threshold = 0.9, maxBucketSize = 4).count() == 0)
    assert(SimilarityFunctions.embeddingNearDuplicates(sameVecs, "vec_id", "embedding",
      dim = 4, threshold = 0.9).count() == 10)
  }

  test("editDistancePairs: banded candidates verified by char-level Levenshtein") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("tok7 ", "tok9 ")),      // 1-char substitution
      (3L, base.replace("tok7 ", "dinosaur ")),  // same token slot, big edit
      (4L, (100 to 130).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = DedupFunctions.editDistancePairs(docs, "doc_id", "text",
        simhashMaxDistance = 8, maxEdits = 10)
      .select("id_a", "id_b", "edits").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // Independent DP Levenshtein for the expected values.
    def lev(a: String, b: String): Long = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length).toLong
    }
    // tok7 -> tok9 is one substituted char.
    assert(got((1L, 2L)) == 1L)
    assert(got.contains((1L, 3L)))
    assert(got((1L, 3L)) == lev(base, base.replace("tok7 ", "dinosaur ")))
    // The unrelated doc never pairs.
    assert(!got.keys.exists { case (a, b) => a == 4L || b == 4L })
    // Tightening maxEdits filters the big edit but keeps the 1-char one.
    val tight = DedupFunctions.editDistancePairs(docs, "doc_id", "text",
        simhashMaxDistance = 8, maxEdits = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(tight.contains((1L, 2L)) && !tight.contains((1L, 3L)))
  }

  test("editDistancePairs rejects duplicate ids, naming the id column") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("tok7 ", "tok9 ")),
      (2L, base.replace("tok8 ", "tok6 "))) // a second text under id 2
      .toDF("doc_id", "text")
    val err = intercept[Exception] {
      DedupFunctions.editDistancePairs(docs, "doc_id", "text",
        simhashMaxDistance = 8, maxEdits = 10).collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("'doc_id' must be unique") && m.contains("id 2 ")),
      msgs.mkString("\n"))
  }

  test("containment finds an excerpt that jaccard misses") {
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    val host = (1 to 15).map(i => s"filler$i word$i").mkString(" ") +
      " " + quote + " " + (16 to 30).map(i => s"filler$i word$i").mkString(" ")
    val corpus = Seq((1L, quote), (2L, host), (3L, "unrelated text entirely here"))
      .toDF("doc_id", "text")
    val cont = DedupFunctions.ngramContainmentPairs(
        corpus, "doc_id", "text", n = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // The quote is (nearly) fully contained in the host, directionally.
    assert(cont.exists { case (a, b, c) => a == 1L && b == 2L && c >= 0.8 })
    assert(!cont.exists { case (a, b, _) => a == 2L && b == 1L })
    // Symmetric jaccard at the same bar finds nothing: the quote is a
    // small fraction of the host's grams.
    val jac = DedupFunctions.ngramJaccardPairs(
      corpus, "doc_id", "text", n = 2, threshold = 0.8)
    assert(jac.count() == 0L)
  }

  test("semanticDedup keeps the least-central member of a near-dup pair") {
    // Vectors 0 and 1 are near-identical (land in one cell, cosine ~1);
    // vector 2 is identical to 0 (exact dup); 3 is orthogonal-ish noise.
    val base = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.01f * i)
    val close = base.clone(); close(1) = base(1) + 0.001f
    val vecs = Seq(
      (0L, base), (1L, close), (2L, base.clone()),
      (3L, Array.tabulate(8)(i => if (i == 7) -1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val kept = SimilarityFunctions.semanticDedup(
        vecs, "vec_id", "embedding", dim = 8, numBits = 6, simThreshold = 0.9)
      .orderBy("id").collect()
    val keptIds = kept.map(_.getLong(0)).toSet
    // 3 has no near-dup: always kept. Of {0,1,2} exactly one survives
    // (they are pairwise near-dups in one cell).
    assert(keptIds.contains(3L))
    assert((keptIds - 3L).size == 1)
    // Output carries the cell and a centroid similarity in [-1, 1].
    assert(kept.forall(r => r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0))
    // Deterministic across runs.
    val again = SimilarityFunctions.semanticDedup(
        vecs, "vec_id", "embedding", dim = 8, numBits = 6, simThreshold = 0.9)
      .orderBy("id").collect().map(_.getLong(0)).toSet
    assert(again == keptIds)
  }

  test("TopK aggregator matches the rank window when scores contain NaN") {
    // Spark sorts NaN as the LARGEST double, so ORDER BY score DESC puts
    // NaN rows first; the aggregator must agree (zero-norm vectors yield
    // NaN cosine).
    val scored = Seq(
      (1L, 1L, 0.9), (1L, 2L, Double.NaN), (1L, 3L, 0.5), (1L, 4L, Double.NaN))
      .toDF("query_id", "neighbor_id", "score")
    val agg = scored.groupBy(col("query_id"))
      .agg(TopKAggregator.topK(3, col("neighbor_id"), col("score")).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.neighbor_id")).as[Long].collect().toSeq
    val win = scored.withColumn("rnk", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id"))))
      .where(col("rnk") <= 3).orderBy("rnk")
      .select("neighbor_id").as[Long].collect().toSeq
    assert(win == Seq(2L, 4L, 1L)) // NaN first under DESC, id-asc ties
    assert(agg == win)
  }

  test("dropped hot buckets are observable via the drop observation") {
    val same = (0L until 5L).map(i => (i, "aa bb cc dd ee")).toDF("doc_id", "text")
    // non-empty result (the production monitoring case): exact metrics
    val obs2 = org.apache.spark.sql.Observation("ngram-nodrops")
    assert(DedupFunctions.ngramJaccardPairs(same, "doc_id", "text",
      n = 2, threshold = 0.0, dropObservation = Some(obs2)).count() == 10)
    assert(obs2.getAsJava.get("dropped_buckets") == 0L)
    assert(obs2.getAsJava.get("max_bucket") == 5)
    // fully-empty result: AQE's empty-relation propagation can prune the
    // CollectMetrics harvest (documented caveat) — with AQE off the
    // dropped count is exact
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val obs = org.apache.spark.sql.Observation("ngram-drops")
      assert(DedupFunctions.ngramJaccardPairs(same, "doc_id", "text",
        n = 2, threshold = 0.0, maxPostingSize = 4, dropObservation = Some(obs))
        .count() == 0)
      assert(obs.getAsJava.get("dropped_buckets") == 4L)
      assert(obs.getAsJava.get("max_bucket") == 5)
      // simhash + minhash + embedding generators expose the same signal
      val obs3 = org.apache.spark.sql.Observation("simhash-drops")
      DedupFunctions.simhashNearDuplicates(same, "doc_id", "text",
        maxDistance = 3, maxBucketSize = 4, dropObservation = Some(obs3)).count()
      assert(obs3.getAsJava.get("dropped_buckets").asInstanceOf[Long] > 0L)
      val obs5 = org.apache.spark.sql.Observation("minhash-drops")
      DedupFunctions.minhashNearDuplicates(same, "doc_id", "text",
        threshold = 0.0, maxBucketSize = 4, dropObservation = Some(obs5)).count()
      assert(obs5.getAsJava.get("dropped_buckets").asInstanceOf[Long] > 0L)
      val sameVecs = (0L until 5L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
        .toDF("vec_id", "embedding")
      val obs4 = org.apache.spark.sql.Observation("emb-drops")
      SimilarityFunctions.embeddingNearDuplicates(sameVecs, "vec_id", "embedding",
        dim = 4, threshold = 0.9, maxBucketSize = 4, dropObservation = Some(obs4)).count()
      assert(obs4.getAsJava.get("dropped_buckets").asInstanceOf[Long] > 0L)
    }
  }

  test("distinctShingles kernel matches the HOF shingle chain") {
    val corpus = Seq(
      (1L, "a b c d e"), (2L, "a a a"), (3L, "one"), (4L, ""),
      (5L, "  spaced   out  tokens  "), (6L, "x y x y x y"))
      .toDF("doc_id", "text")
    val hof = corpus.select(col("doc_id"),
      array_sort(DedupFunctions.shingles(
        TextFunctions.whitespaceTokens(col("text")), 3)).as("gs"))
    val kernel = corpus.select(col("doc_id"),
      array_sort(Kernels.distinctShingles(col("text"), 3)).as("gs"))
    assertSameRows(hof, kernel)
    // and for k=2 on the realistic docs fixture
    val hof2 = docs.select(col("doc_id"),
      array_sort(DedupFunctions.shingles(
        TextFunctions.whitespaceTokens(col("text")), 2)).as("gs"))
    val kernel2 = docs.select(col("doc_id"),
      array_sort(Kernels.distinctShingles(col("text"), 2)).as("gs"))
    assertSameRows(hof2, kernel2)
  }

  test("MinhashIndex: build once, check batches incrementally, append") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "completely different text about spark engines here"),
      (12L, "another unrelated document with its own words entirely"))
      .toDF("doc_id", "text")
    val loc = tmpDir("mhidx") + "/index"
    // 16 bands of 2 rows: P(miss) for the 0.78-jaccard pair is ~3e-7
    val idx = MinhashIndex.build(corpus, "doc_id", "text", loc,
      shingleSize = 2, numHashes = 32, numBands = 16, threshold = 0.5)
    // an arriving batch with a near-dup of doc 10 and a novel doc
    val batch1 = Seq(
      (20L, "the quick brown fox jumps over the lazy cat"),
      (21L, "nothing like anything indexed so far at all"))
      .toDF("doc_id", "text")
    val hits1 = idx.checkBatch(batch1, "doc_id", "text")
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(hits1.contains((20L, 10L)))
    assert(!hits1.exists(_._1 == 21L))
    // append batch1; a later exact dup of the NOVEL doc is now caught
    idx.append(batch1, "doc_id", "text")
    val batch2 = Seq((30L, "nothing like anything indexed so far at all"))
      .toDF("doc_id", "text")
    val hits2 = idx.checkBatch(batch2, "doc_id", "text")
      .select("batch_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect()
    assert(hits2.exists(h => h._1 == 30L && h._2 == 21L && h._3 == 1.0))
    // incremental result agrees with the one-shot operator on the union
    val all = corpus.unionByName(batch1)
    val oneShot = DedupFunctions.minhashNearDuplicates(
        all, "doc_id", "text", shingleSize = 2, numHashes = 32, numBands = 16,
        threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(hits1.forall { case (b, c) =>
      oneShot.contains((math.min(b, c), math.max(b, c))) })
  }

  test("MinhashIndex replay: an appended batch self-matches at jaccard 1.0") {
    // StreamingDedup's replay-drains-to-empty contract rests on this:
    // after a batch's signatures are appended, re-checking the SAME batch
    // flags every doc against its own indexed signatures at jaccard 1.0
    // (a replayed doc IS in the corpus), so the replayed micro-batch
    // emits nothing instead of re-emitting survivors.
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val loc = tmpDir("mhidx-replay") + "/index"
    val idx = MinhashIndex.build(corpus, "doc_id", "text", loc,
      shingleSize = 2, numHashes = 32, numBands = 16, threshold = 0.5)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // dup of corpus doc 1
      (11L, "wholly novel content with no indexed relative"))
      .toDF("doc_id", "text")
    def verdicts() = idx.checkBatch(batch, "doc_id", "text")
      .select("batch_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(verdicts().map(v => (v._1, v._2)) == Set((10L, 1L)))
    idx.append(batch, "doc_id", "text")
    // replay: both docs now also self-match, exactly at jaccard 1.0 —
    // including the previously-unmatched novel doc 11
    val after = verdicts()
    assert(after.map(v => (v._1, v._2))
      == Set((10L, 1L), (10L, 10L), (11L, 11L)))
    assert(after.filter(v => v._1 == v._2).forall(_._3 == 1.0))
    // a double append (replayed append) adds rows but no NEW verdicts
    idx.append(batch, "doc_id", "text")
    assert(verdicts() == after)
  }

  test("kernel parity fuzz: shingle kernels vs HOF chain on adversarial strings") {
    // The whole cross-engine oracle family rests on these kernels
    // producing exactly the HOF-chain semantics; fuzz with whitespace
    // runs, empties, unicode, repeats and single tokens.
    val rnd = new scala.util.Random(42)
    val alphabet = "abz09!?é世 "
    def randText(): String = (0 until rnd.nextInt(30))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val corpus = ((0 until 300).map(i => (i.toLong, randText())) ++
      Seq((900L, ""), (901L, "   "), (902L, "one"), (903L, "a a a a")))
      .toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3, 5)) {
      val hof = corpus.select(col("doc_id"),
        array_sort(DedupFunctions.shingles(
          TextFunctions.whitespaceTokens(col("text")), k)).as("gs"))
      val kernel = corpus.select(col("doc_id"),
        array_sort(Kernels.distinctShingles(col("text"), k)).as("gs"))
      assertSameRows(hof, kernel)
      // allShingles multiset size: n-k+1 for n >= k, else 1
      val sizes = corpus.select(col("doc_id"),
          size(Kernels.allShingles(col("text"), k)).as("m"),
          size(TextFunctions.whitespaceTokens(col("text"))).as("n"))
        .as[(Long, Int, Int)].collect()
      sizes.foreach { case (id, m, n) =>
        val expected = if (n >= k) n - k + 1 else 1
        assert(m == expected, s"doc $id k=$k: $m != $expected (n=$n)")
      }
    }
    // md5Hash60 matches an independently computed reference value and
    // stays in [0, 2^60)
    assert(Kernels.md5Hash60("hello") == 419982666956583591L) // DuckDB-verified
    val hs = (0 until 1000).map(i => Kernels.md5Hash60(s"tok$i"))
    assert(hs.forall(h => h >= 0 && h < (1L << 60)))
    assert(hs.distinct.size == 1000)
  }

  test("text quality features are sane") {
    val q = docs.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.stopwordRatio(col("text")).as("sw"),
      TextFunctions.languageId(col("text")).as("lang"))
    val rows = q.as[(Int, Double, String)].collect()
    assert(rows.forall(_._1 > 0))
    assert(rows.forall(r => r._2 >= 0.0 && r._2 <= 1.0))
    assert(rows.count(_._3 == "en") >= 3) // "the/over" markers fire
  }

  test("streaming dedup property: per-cluster survivor laws over random splits") {
    // Property-style invariants of StreamingDedup.dedupBatch (seeded,
    // reproducible). Naive split-invariance — dedupe(b1) ++ dedupe(b2 |
    // index) == dedupe(b1 ++ b2) — is NOT a theorem under out-of-id-order
    // arrival (the arriving order decides which cluster member wins); on
    // id-ORDERED arrival it holds since the index started absorbing
    // within-batch-dropped docs' signatures (the PropertySpec chain law
    // pins the non-transitive-chain case). The properties here are the
    // order-free ones users actually rely on. With
    // near-dup classes that are CLIQUES (disjoint vocab clusters, every
    // member pairwise similar):
    //  1. id-ordered splits: survivors == { min id per cluster }, for ANY
    //     split points — exactly the combined-batch answer (this IS
    //     split-invariance on the clique + ordered domain where it holds);
    //  2. arbitrary (shuffled) splits: EXACTLY ONE survivor per cluster —
    //     the arriving order decides which member wins, but never how many;
    //  3. never a near-dup pair among survivors (guaranteed by 2 +
    //     disjoint cross-cluster vocab).
    // Clusters are EXACT-duplicate cliques (jaccard 1.0): banded LSH
    // catches a 1.0 pair with probability 1, so the similarity graph is
    // deterministic and the property isolates what it is about — the
    // split/order/index bookkeeping. (Near-dup pairs at jaccard ~0.9 miss
    // all 4 bands ~10% of the time by the S-curve; that recall trade is
    // the operator's documented design point and is covered by the
    // MinhashIndex/q31/q80 tests, not a law of batch splitting.)
    // Case count: 24 Spark-backed cases by default (each runs 2-3 full
    // index-check-append cycles); SPARK_GRAFT_FULL_PROPS=true raises it
    // to 100 for the long property run.
    import graft.streaming.StreamingDedup
    val cases =
      if (sys.env.get("SPARK_GRAFT_FULL_PROPS").contains("true")) 100 else 24
    for (seed <- 0 until cases) {
      val rng = new scala.util.Random(seed)
      val nClusters = 2 + rng.nextInt(4) // 2-5 cliques
      // per-cluster disjoint vocab -> cross-cluster jaccard is exactly 0
      val texts: Seq[(Int, String)] = (0 until nClusters).flatMap { c =>
        val base = Seq.fill(20)(s"w${seed}c${c}t${rng.nextInt(50)}").mkString(" ")
        (0 until 1 + rng.nextInt(3)).map(_ => (c, base))
      }
      // random id assignment across clusters
      val docs = rng.shuffle(texts).zipWithIndex.map {
        case ((c, text), i) => (c, 100L + i, text)
      }
      val clusterIds: Map[Int, Seq[Long]] =
        docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

      def run(batches: Seq[Seq[(Int, Long, String)]]): Set[Long] = {
        val dir = tmpDir(s"dedup-prop-$seed")
        val idx = MinhashIndex.build(
          Seq((1L, "seedvocab alpha beta gamma delta epsilon zeta eta theta"))
            .toDF("doc_id", "text"),
          "doc_id", "text", s"$dir/idx", threshold = 0.5)
        batches.filter(_.nonEmpty).flatMap { b =>
          StreamingDedup.dedupBatch(
            b.map(d => (d._2, d._3)).toDF("doc_id", "text"),
            "doc_id", "text", idx, _ => ())
            .select("doc_id").as[Long].collect()
        }.toSet
      }

      def splitAt(xs: Seq[(Int, Long, String)], parts: Int): Seq[Seq[(Int, Long, String)]] = {
        val cuts = Seq.fill(parts - 1)(rng.nextInt(xs.length + 1)).sorted
        (0L +: cuts.map(_.toLong) :+ xs.length.toLong).sliding(2).map {
          case Seq(a, b) => xs.slice(a.toInt, b.toInt)
        }.toSeq
      }

      if (seed % 2 == 0) {
        // law 1: id-ordered split, any cut points -> min id per cluster
        val got = run(splitAt(docs.sortBy(_._2), 2 + rng.nextInt(2)))
        val want = clusterIds.values.map(_.min).toSet
        assert(got == want, s"seed=$seed ordered split: got $got want $want")
      } else {
        // law 2: shuffled arrival -> exactly one survivor per cluster
        val got = run(splitAt(rng.shuffle(docs), 2 + rng.nextInt(2)))
        clusterIds.foreach { case (c, ids) =>
          assert(ids.toSet.intersect(got).size == 1,
            s"seed=$seed cluster $c: survivors ${ids.toSet.intersect(got)}")
        }
        assert(got.size == nClusters, s"seed=$seed: $got")
      }
    }
  }

  test("hammingBandKeys: pigeonhole recall for arbitrary maxDistance, incl. sign-bit hashes") {
    val rnd = new scala.util.Random(7)
    for (d <- Seq(0, 3, 5, 7)) {
      // pairs at Hamming distance exactly <= d, bit positions anywhere in
      // the 64 bits (incl. bit 63: shiftright sign-extends, the mask must
      // still isolate the band)
      val pairs = (0 until 60).map { _ =>
        val a = rnd.nextLong()
        val flips = rnd.shuffle((0 until 64).toList).take(rnd.nextInt(d + 1))
        (a, flips.foldLeft(a)((v, bit) => v ^ (1L << bit)))
      }
      val df = pairs.toDF("a", "b")
      val missed = df.select(arrays_overlap(
        DedupFunctions.hammingBandKeys(col("a"), 64, d),
        DedupFunctions.hammingBandKeys(col("b"), 64, d)).as("ok"))
        .where(!col("ok")).count()
      assert(missed == 0, s"maxDistance=$d: $missed pairs shared no band")
    }
    intercept[IllegalArgumentException] {
      DedupFunctions.hammingBandKeys(col("a"), 64, 64)
    }
  }

  test("repeatedSpanStats counts corpus-wide window repeats per document") {
    // k=3 windows; "a b c d" appears in docs 10 and 11 (shared 3-token
    // spans "a b c" and "b c d"), doc 12 repeats "x y z" twice internally,
    // doc 13 is all-unique.
    val corpus = Seq(
      (10L, "a b c d"),
      (11L, "a b c d e"),
      (12L, "x y z q x y z"),
      (13L, "p q r s t"))
      .toDF("doc_id", "text")
    val stats = DedupFunctions.repeatedSpanStats(corpus, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    // doc 10: windows [a b c, b c d] — both shared with doc 11
    assert(stats(10L) === ((10L, 2L, 2L, 1.0, 2L)))
    // doc 11: [a b c, b c d, c d e] — 2 of 3 shared
    assert(stats(11L) === ((11L, 3L, 2L, 2.0 / 3.0, 2L)))
    // doc 12: [x y z, y z q, z q x, q x y, x y z] — "x y z" twice (within-doc)
    assert(stats(12L) === ((12L, 5L, 2L, 0.4, 2L)))
    // doc 13: [p q r, q r s, r s t] — no repeats
    assert(stats(13L) === ((13L, 3L, 0L, 0.0, 1L)))
  }

  test("repeatedSpanStats: docs shorter than k contribute one whole-text window") {
    val corpus = Seq(
      (1L, "tiny doc"), (2L, "tiny doc"), (3L, "other")).toDF("doc_id", "text")
    val stats = DedupFunctions.repeatedSpanStats(corpus, "doc_id", "text", k = 5)
      .as[(Long, Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(stats(1L) === ((1L, 1L, 1L, 1.0, 2L))) // whole-text dup with doc 2
    assert(stats(3L) === ((3L, 1L, 0L, 0.0, 1L)))
    intercept[IllegalArgumentException] {
      DedupFunctions.repeatedSpanStats(corpus, "doc_id", "text", k = 3, minRepeat = 1)
    }
  }

  test("removeRepeatedSpans keeps the globally first occurrence, drops the rest") {
    val corpus = Seq(
      (10L, "a b c d"),            // first occurrence of the shared spans: kept whole
      (11L, "a b c d e"),          // loses the 4 tokens covered by repeated windows
      (12L, "x y z q x y z"),      // within-doc repeat: second x-y-z removed
      (13L, "p q r s t"),          // untouched
      (14L, "tiny"), (15L, "tiny") // short-doc exact dup: 15 emptied
    ).toDF("doc_id", "text")
    val out = DedupFunctions.removeRepeatedSpans(corpus, "doc_id", "text", k = 3)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(10L) === (("a b c d", 0L)))
    assert(out(11L) === (("e", 4L)))     // windows abc@1,bcd@2 removable -> tokens 1-4 gone
    assert(out(12L) === (("x y z q", 3L)))
    assert(out(13L) === (("p q r s t", 0L)))
    assert(out(14L) === (("tiny", 0L)))
    assert(out(15L) === (("", 1L)))
    // re-running on the cleaned corpus removes nothing further: the kept
    // first occurrences are now unique at this k
    val again = DedupFunctions.removeRepeatedSpans(
      out.toSeq.map { case (id, (t, _)) => (id, t) }.toDF("doc_id", "text"),
      "doc_id", "text", k = 3)
      .as[(Long, String, Long)].collect()
    assert(again.filter(_._1 != 15L).forall(_._3 == 0L))
  }

  test("removeRepeatedSpansCascade: longest-first, equals composed single-k passes, idempotent on aligned blocks") {
    // A 6-token block repeated verbatim in two docs, plus a 3-token
    // repeat only a k=3 pass can see after the long pass.
    val block = "q w e r t y"
    val corpus = Seq(
      (1L, s"$block a b c"),
      (2L, s"$block d e f"),   // the k=6 stage removes its copy of the block
      (3L, "m n o p"),
      (4L, "z z2 m n o p2"))   // "m n o" repeats at k=3 only
      .toDF("doc_id", "text")

    val cascade = DedupFunctions
      .removeRepeatedSpansCascade(corpus, "doc_id", "text", ks = Seq(6, 3))
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    // law: the cascade IS the composition of the single-k transforms
    val stage1 = DedupFunctions.removeRepeatedSpans(corpus, "doc_id", "text", k = 6)
    val composed = DedupFunctions
      .removeRepeatedSpans(stage1, "id", "clean_text", k = 3)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    val stage1Removed = stage1.as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    cascade.foreach { case (id, (txt, _)) => assert(composed(id) == txt) }

    // longest-first: doc 2 lost its 6-token block in ONE coherent sweep
    assert(cascade(2L)._1 == "d e f" && stage1Removed(2L) == 6L)
    assert(cascade(1L)._1 == s"$block a b c") // first occurrence intact
    // the short repeat was caught by the k=3 stage on CLEANED text
    assert(cascade(3L)._1 == "m n o p")
    assert(cascade(4L)._1 == "z z2 p2" && cascade(4L)._2 == 3L)

    // idempotence on block-aligned removals: a second full cascade over
    // the cleaned corpus removes nothing further
    val again = DedupFunctions.removeRepeatedSpansCascade(
      cascade.toSeq.map { case (id, (t, _)) => (id, t) }.toDF("doc_id", "text"),
      "doc_id", "text", ks = Seq(6, 3))
      .as[(Long, String, Long)].collect()
    assert(again.forall(_._3 == 0L),
      s"second cascade removed tokens: ${again.filter(_._3 > 0).mkString(",")}")
  }

  test("removeRepeatedSpans normalizes whitespace uniformly") {
    val corpus = Seq((1L, "  spaced   out  doc  "), (2L, "other words here"))
      .toDF("doc_id", "text")
    val out = DedupFunctions.removeRepeatedSpans(corpus, "doc_id", "text", k = 3)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(out(1L) === "spaced out doc")
  }

  test("topRepeatedSpans surfaces the most-repeated spans with doc counts") {
    val corpus = Seq(
      (1L, "a b c d"),
      (2L, "a b c e"),
      (3L, "a b c f a b c g"), // "a b c" twice within one doc
      (4L, "unrelated words only here"))
      .toDF("doc_id", "text")
    val top = DedupFunctions.topRepeatedSpans(corpus, "doc_id", "text", k = 3, topN = 5)
      .as[(String, Long, Long)].collect()
    // "a b c": 4 occurrences (docs 1, 2, 3x2) over 3 docs — must rank first
    assert(top.head === (("a b c", 4L, 3L)))
    // every returned span genuinely repeats
    assert(top.forall(_._2 >= 2))
    // no span from the unique doc 4
    assert(!top.exists(_._1.contains("unrelated")))
  }

  test("topRepeatedSpans: the shuffle-join fallback past the winner-broadcast bound is identical") {
    // r19 (r18 advice): a flat-count corpus ties the whole repeated-span
    // population at the rank-N boundary, so the winner set is counted
    // before broadcasting and past the bound the recovery join degrades
    // to shuffle_hash. Pin: forcing the fallback (bound = 0) returns
    // byte-identical results to the broadcast plan.
    val corpus = Seq(
      (1L, "a b c d"), (2L, "a b c e"),
      (3L, "a b c f a b c g"), (4L, "unrelated words only here"))
      .toDF("doc_id", "text")
    val broadcastPath = DedupFunctions
      .topRepeatedSpans(corpus, "doc_id", "text", k = 3, topN = 5)
      .as[(String, Long, Long)].collect().toSeq
    val prev = spark.conf.getOption("graft.topSpans.broadcastWinners")
    spark.conf.set("graft.topSpans.broadcastWinners", "0")
    try {
      val shufflePath = DedupFunctions
        .topRepeatedSpans(corpus, "doc_id", "text", k = 3, topN = 5)
        .as[(String, Long, Long)].collect().toSeq
      assert(shufflePath == broadcastPath)
    } finally {
      prev.fold(spark.conf.unset("graft.topSpans.broadcastWinners"))(
        spark.conf.set("graft.topSpans.broadcastWinners", _))
    }
  }

  test("cascade: the shuffle-join fallback past the drop-accumulator broadcast bound is identical") {
    // r19: the cascade broadcasts its narrow per-doc drop accumulator
    // while it fits; past the bound the replay joins degrade to
    // shuffle_hash. Pin: forcing the fallback returns identical rows.
    val block = (1 to 6).map(i => s"t$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$block a b c"), (2L, s"$block d e f $block"),
      (3L, "m n o p m n o"), (4L, "z z2 p2 m n o")).toDF("doc_id", "text")
    def run() = DedupFunctions
      .removeRepeatedSpansCascade(corpus, "doc_id", "text", ks = Seq(6, 3))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val broadcastPath = run()
    val prev = spark.conf.getOption("graft.cascade.broadcastDocs")
    spark.conf.set("graft.cascade.broadcastDocs", "0")
    try assert(run() == broadcastPath)
    finally prev.fold(spark.conf.unset("graft.cascade.broadcastDocs"))(
      spark.conf.set("graft.cascade.broadcastDocs", _))
  }

  test("cascade: empty and whitespace-only docs pass through without phantom drop rows") {
    // r19 review: millions of empty docs all tie on the "" window
    // (md5("")), and their drop rows — guaranteed replay no-ops — used
    // to inflate the checkpointed accumulator past the broadcast bound.
    // Zero-token docs are now excluded from the window keying; results
    // are identical (they survive as ("", 0)) and the span removal on
    // real docs is unaffected by their presence.
    val block = (1 to 6).map(i => s"t$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$block a b c"), (2L, s"$block d e f"),
      (3L, ""), (4L, "   "), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = DedupFunctions
      .removeRepeatedSpansCascade(corpus, "doc_id", "text", ks = Seq(6, 3))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out.filter(_._1 >= 3L) == Seq((3L, "", 0L), (4L, "", 0L), (5L, "", 0L)))
    // the duplicated 6-token block still dedups exactly as without them
    val noEmpties = DedupFunctions
      .removeRepeatedSpansCascade(corpus.where(col("doc_id") < 3L),
        "doc_id", "text", ks = Seq(6, 3))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out.filter(_._1 < 3L) == noEmpties)
  }

  test("chunkDedup: global first-occurrence at chunk granularity, positional reassembly") {
    import graft.functions.DedupFunctions
    // C=2 chunks: doc 1 = [a b][c d][e], doc 2 = [a b][x y] (first chunk
    // duplicates doc 1's), doc 3 = [c d] (whole doc duplicates a chunk),
    // doc 4 = [e f] (NOT a dup: chunk content differs from doc 1's [e])
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "a b x y"),
      (3L, "c d"),
      (4L, "e f")).toDF("doc_id", "text")
    val out = DedupFunctions.chunkDedup(df, "doc_id", "text", chunkTokens = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "a b c d e", 3L, 3L), // first occurrence keeps everything
      (2L, "x y", 1L, 2L), // leading [a b] deduped away
      (4L, "e f", 1L, 1L))) // [e f] != [e]; doc 3 vanished entirely
  }

  test("chunkDedupAgainstIndex: indexed chunks drop, within-batch dedup still applies") {
    import graft.functions.DedupFunctions
    val corpus = Seq((100L, "a b c d")).toDF("doc_id", "text") // index: [a b], [c d]
    val index = DedupFunctions.chunkHashIndex(corpus, "doc_id", "text", chunkTokens = 2)
    assert(index.count() == 2)
    val batch = Seq(
      (1L, "a b x y"), // [a b] indexed -> only [x y] survives
      (2L, "x y"), // whole doc duplicates doc 1's surviving chunk
      (3L, "c d")) // fully indexed -> vanishes
      .toDF("doc_id", "text")
    val out = DedupFunctions.chunkDedupAgainstIndex(
        batch, index, "doc_id", "text", chunkTokens = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, "x y", 1L, 2L)))
  }

  test("lsh band keys: per-band derivation equals packed-signature slices") {
    import graft.functions.SimilarityFunctions
    // the regime every gate corpus runs in (rows * bands <= 64): band b of
    // lshBandKeys must be bit-identical to slicing the packed signature
    val rng = new scala.util.Random(7)
    val (rows, bands, dim) = (13, 4, 16)
    val planes = SimilarityFunctions.lshPlanes(dim, rows * bands)
    (1 to 50).foreach { _ =>
      val v = Seq.fill(dim)(rng.nextFloat() * 2 - 1)
      val packed = SimilarityFunctions.lshSignatureOf(v, planes)
      val keys = SimilarityFunctions.lshBandKeysOf(v, planes, rows, bands)
      (0 until bands).foreach { b =>
        assert(keys(b) == ((packed >>> (b * rows)) & ((1L << rows) - 1)),
          s"band $b diverges from the packed slice")
      }
    }
  }

  test("adaptive LSH width: gate corpora keep 4 bands; growth holds the catch point") {
    import graft.functions.SimilarityFunctions._
    assert(adaptiveRows(2000) == 13 && adaptiveBands(13) == 4) // sf0.1 gate
    assert(adaptiveRows(16384) == 16 && adaptiveBands(16) == 4) // old-clamp edge
    assert(adaptiveRows(1000000) == 22 && adaptiveBands(22) == 6) // 500x point
    assert(adaptiveRows(Long.MaxValue) == 30 && adaptiveBands(30) == 8) // ceiling
    // the catch rate at cos 0.99 stays within ~3 points of the
    // 16-row/4-band baseline (0.926) at EVERY corpus size — versus
    // eroding to 0.84 by 1M vectors had rows widened under fixed bands
    for (n <- Seq(2000L, 16384L, 1000000L, 300000000L)) {
      val r = adaptiveRows(n); val b = adaptiveBands(r)
      val s = 1.0 - math.acos(0.99) / math.Pi
      val catchRate = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      assert(catchRate >= 0.90, f"n=$n rows=$r bands=$b catch=$catchRate%.3f")
    }
  }

  test("incremental chunk-dedup loop: append survivors, next batch dedups against them") {
    import graft.functions.DedupFunctions
    val idxPath = tmpDir("chunkidx") + "/index"
    val corpus = Seq((100L, "a b")).toDF("doc_id", "text")
    DedupFunctions.chunkHashIndex(corpus, "doc_id", "text", chunkTokens = 2)
      .write.parquet(idxPath)
    def index = spark.read.parquet(idxPath)
    // batch 1: [a b] indexed, [p q] fresh -> survivors appended
    val b1 = DedupFunctions.chunkDedupAgainstIndex(
      Seq((1L, "a b p q")).toDF("doc_id", "text"), index, "doc_id", "text", 2)
    DedupFunctions.appendToChunkIndex(b1, "doc_id", "clean_text", idxPath, 2)
    assert(index.count() == 2) // [a b] + [p q]
    // batch 2: [p q] now indexed (came from batch 1), [z w] fresh
    val b2 = DedupFunctions.chunkDedupAgainstIndex(
        Seq((2L, "p q z w")).toDF("doc_id", "text"), index, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(b2.toSeq == Seq((2L, "z w")))
  }

  test("observed drop metrics are readable off the executed plan under toRdd forcing") {
    // Observation.get blocks on an event that toRdd forcing never posts;
    // ObservedMetrics reads the populated accumulators directly. Corpus
    // built so drops occur while the RESULT stays non-empty (AQE
    // propagates EmptyRelation over CollectMetrics when the whole result
    // is empty — the documented observeDrops caveat, and the case where
    // the old blocking get would deadlock rather than degrade): the
    // 2-clone pair survives the cap, the 3-clone bucket exceeds it.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa"),
      (4L, "zeta eta theta iota kappa"),
      (5L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val o = org.apache.spark.sql.Observation()
    val df = DedupFunctions.minhashNearDuplicates(
      docs, "doc_id", "text", threshold = 0.1, maxBucketSize = 2,
      dropObservation = Some(o))
    df.queryExecution.toRdd.count()
    val dropped = org.apache.spark.sql.graft.ObservedMetrics.long(df, "dropped_buckets")
    assert(dropped.exists(_ > 0L), s"expected forced drops, got $dropped")
    assert(df.count() > 0, "fixture must keep the result non-empty")
  }

  /** Pure-GraphX connected components — the reference implementation the
    * contraction-accelerated duplicateClusters must equal exactly. */
  private def graphxClusters(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val edges = spark.sparkContext.parallelize(pairs)
      .map(p => org.apache.spark.graphx.Edge(p._1, p._2, ()))
    org.apache.spark.graphx.lib.ConnectedComponents
      .run(org.apache.spark.graphx.Graph.fromEdges(edges, ()))
      .vertices.collect().toMap
  }

  test("duplicateClusters: min-contraction result equals pure GraphX CC on adversarial shapes") {
    val rng = new scala.util.Random(59)
    val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
      // the worst case for min-contraction: a long path (diameter = n)
      "chain50" -> (1L to 49L).map(i => (i, i + 1)),
      // the dedup reality: cliques (collapse in one round)
      "clique20" -> (for (a <- 1L to 20L; b <- (a + 1) to 20L) yield (a, b)),
      // two cliques bridged by a chain — mixed regime
      "bridged" -> ((for (a <- 1L to 8L; b <- (a + 1) to 8L) yield (a, b)) ++
        (for (a <- 101L to 108L; b <- (a + 1) to 108L) yield (a, b)) ++
        Seq((8L, 50L), (50L, 51L), (51L, 101L))),
      // star from a HIGH id (canonical must still be the min leaf)
      "star" -> (1L to 15L).map(i => (1000L, i)),
      // duplicate + reversed-duplicate edges
      "dups" -> Seq((5L, 9L), (9L, 5L), (5L, 9L), (9L, 14L), (14L, 9L)),
      // random sparse graph (chains + small trees by construction)
      "random" -> Seq.fill(120)((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
        .filter(p => p._1 != p._2))
    shapes.foreach { case (name, pairs) =>
      val want = graphxClusters(pairs)
      // all three regimes: broadcast contraction, the beyond-broadcast
      // plain-Pregel fallback, and the small-graph driver union-find
      // (every graph here is under a MaxValue floor, so that regime runs
      // the r19 collect-and-label path)
      Seq(("4000000", "0", "contraction"),
          ("0", "0", "pregel-fallback"),
          ("4000000", s"${Long.MaxValue}", "driver-union-find")).foreach {
        case (bcast, minEdges, regime) =>
          val got = withConf(
            "graft.cc.broadcastVertices" -> bcast,
            "graft.cc.contractMinEdges" -> minEdges) {
            DedupFunctions.duplicateClusters(pairs.toDF("id_a", "id_b"))
              .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          }
          assert(got == want, s"shape $name ($regime): clusters != GraphX CC")
          // canonical ids are component minima by construction
          got.groupBy(_._2).foreach { case (canon, members) =>
            assert(members.keys.min == canon,
              s"shape $name ($regime): canonical $canon is not the component min")
          }
      }
    }
  }

  test("embeddingClusters: fused multiset path equals composed pairs->clusters") {
    // Planted clusters: 12 base directions, each with 2-5 near-clones
    // (tiny deterministic perturbation keeps cosine ~0.9999), plus 20
    // isolated random vectors. Threshold 0.95 verifies only true clones.
    val rng = new scala.util.Random(173)
    val dim = 16
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    var id = 0L
    val rows = scala.collection.mutable.Buffer.empty[(Long, Array[Float])]
    (0 until 12).foreach { _ =>
      val base = unit(Array.fill(dim)(rng.nextGaussian().toFloat))
      (0 until 2 + rng.nextInt(4)).foreach { _ =>
        rows += ((id, unit(base.map(_ + rng.nextGaussian().toFloat * 1e-3f))))
        id += 1
      }
    }
    (0 until 20).foreach { _ =>
      rows += ((id, unit(Array.fill(dim)(rng.nextGaussian().toFloat)))); id += 1
    }
    val emb = rows.toSeq.toDF("vec_id", "embedding")
    val pairs = SimilarityFunctions.embeddingNearDuplicates(
      emb, "vec_id", "embedding", dim = dim, threshold = 0.95)
    // the multiset's distinct edge set IS the deduped pair set
    val multiset = SimilarityFunctions.embeddingNearDuplicateMultiset(
      emb, "vec_id", "embedding", dim = dim, threshold = 0.95)
    assert(multiset.distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "multiset edge set != deduped pair set")
    val composed = DedupFunctions.duplicateClusters(pairs.select("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(composed.nonEmpty, "fixture must plant at least one cluster")
    // fused operator, in both clustering regimes
    Seq(("4000000", "0"), ("0", s"${Long.MaxValue}")).foreach {
      case (bcast, minEdges) =>
        val fused = withConf(
          "graft.cc.broadcastVertices" -> bcast,
          "graft.cc.contractMinEdges" -> minEdges) {
          SimilarityFunctions.embeddingClusters(
            emb, "vec_id", "embedding", dim = dim, threshold = 0.95)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        assert(fused == composed, "fused clusters != composed pairs->clusters")
    }
  }
}
