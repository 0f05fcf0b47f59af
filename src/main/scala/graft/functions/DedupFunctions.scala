package graft.functions

import graft.operators.Condense
import graft.util.PlanBarrier
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Designed for 100 TB scale: everything is expressed as column transforms
  * plus key-partitioned shuffles (band/bucket joins); no driver-side state,
  * no cross joins. The candidate-pair generation always goes through an
  * equi-join on a banded hash so Catalyst plans a shuffle hash / sort-merge
  * join on a high-cardinality key instead of a cartesian product.
  */
object DedupFunctions {

  /** 2^31-1: small enough that a*h+b stays within a long (no ANSI
    * overflow) while large enough that the mod genuinely wraps — a
    * monotonic "hash" (product below the modulus) would make every
    * signature position share one argmin shingle, collapsing MinHash to
    * min-shingle-hash. */
  private[functions] val MinhashPrime: Long = (1L << 31) - 1

  /** Exact dedup: keep one row per key set (first by tiebreak ordering). */
  def dedupExact(df: DataFrame, keys: Seq[String], tiebreak: Seq[Column]): DataFrame =
    Condense.groupAndRank(df, keys.map(col), tiebreak).drop("lhe_rank")

  /** Word k-shingles of a token array column (concatenated with spaces). */
  def shingles(tokens: Column, k: Int): Column =
    when(size(tokens) >= k,
      array_distinct(transform(
        sequence(lit(0), size(tokens) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(tokens, i + j + 1)): _*))))
      .otherwise(array(concat_ws(" ", tokens)))

  /** MinHash signature (array of `numHashes` longs) over a shingle array.
    * Universal hashing ((a*h + b) mod p) over murmur3 shingle hashes with
    * deterministic per-index coefficients — reproducible across runs.
    *
    * Computed as ONE `aggregate` pass over the shingle hashes that updates
    * all minima via `zip_with` against a literal coefficient array: the
    * expression tree stays small (codegen-friendly) and each shingle is
    * hashed exactly once, instead of `numHashes` duplicated traversals. */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    minhashSignatureFromHashes(
      transform(shinglesCol, s => pmod(hash(s).cast("long"), lit(MinhashPrime))),
      numHashes)

  /** Deterministic universal-hash coefficients for `numHashes` positions.
    * Exposed within the package so oracle SQL can splice them as literal
    * lists and reproduce the signatures exactly. */
  private[graft] def minhashCoefficients(numHashes: Int): (Array[Long], Array[Long]) = {
    import scala.util.hashing.MurmurHash3
    val as = (0 until numHashes).map { i =>
      (MurmurHash3.stringHash(s"minhash-a-$i").toLong & 0x7fffffffL) % (MinhashPrime - 1) + 1
    }.toArray
    val bs = (0 until numHashes).map { i =>
      (MurmurHash3.stringHash(s"minhash-b-$i").toLong & 0x7fffffffL) % MinhashPrime
    }.toArray
    (as, bs)
  }

  /** MinHash signature over already mod-p-hashed shingles (array<long>);
    * computed by a tight-loop kernel ([[Kernels.minhashSignature]]). */
  def minhashSignatureFromHashes(hashesCol: Column, numHashes: Int): Column = {
    val (as, bs) = minhashCoefficients(numHashes)
    Kernels.minhashSignature(hashesCol, as, bs, MinhashPrime)
  }

  /** LSH band keys for a minhash signature: `numBands` buckets, one per
    * contiguous band of `sig.length / numBands` values, each a
    * cross-engine polynomial fold ([[Kernels.polyBandBuckets]]) so the
    * banding is reproducible in a SQL oracle (xxhash64 is not). */
  def lshBands(sig: Column, numHashes: Int, numBands: Int): Column =
    transform(Kernels.polyBandBuckets(sig, numBands, MinhashPrime),
      (bucket, b) => struct(b.cast("int").as("band"), bucket.as("bucket")))

  /** MinHash-LSH candidate pairs with exact Jaccard verification.
    *
    * Plan shape at scale: ONE narrow pass computes shingle hashes +
    * signature per doc and is persisted (the in-session analogue of
    * staging signatures to a table before the bucket join); candidate
    * generation then works on (id, band, bucket) only — explode band
    * keys, groupBy bucket collecting member ids, expand pairs inside the
    * bucket — so no array ever enters the candidate shuffle; finally the
    * hashed shingle arrays are joined back for exact Jaccard
    * verification. No self-join recompute, no cartesian products.
    *
    * Buckets larger than `maxBucketSize` are dropped before the O(B^2)
    * pair expansion: at corpus scale an over-full LSH bucket means a
    * degenerate near-identical cluster (or hash collapse), and the
    * standard practice is to discard it rather than let one hot bucket
    * dominate the stage (default keeps every bucket at test scales).
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    */
  def minhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = 100000,
      dropObservation: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // Verification carries hashed shingles (array<long>) rather than the
    // strings: cheaper to shuffle and to intersect; hash collisions are
    // negligible for jaccard estimation at these sizes. The fused kernel
    // ([[Kernels.shingleMinhash]]) computes shingle hashes + signature in
    // one pass without materializing shingle strings.
    val (as, bs) = minhashCoefficients(numHashes)
    val withSig = PlanBarrier.fence(df
      .select(col(idCol).as("id"),
        Kernels.shingleMinhash(TextFunctions.whitespaceTokens(col(textCol)),
          shingleSize, as, bs, MinhashPrime).as("ss"))
      .select(col("id"), col("ss._1").as("sh"), col("ss._2").as("sig")))
    // LAZY RDD-level materialization (r20 — measured: an eager checkpoint
    // is a whole extra job whose persist pass costs more than riding the
    // first consumer; blocks dedup concurrent computes): computed once,
    // consumed by banding and twice by verification. localCheckpoint
    // stores plain rows (no columnar cache encode/decode, which dominates
    // for long-array columns) and truncates lineage. At cluster scale the
    // equivalent move is staging signatures to a table; executor loss
    // replays from there.
    val cachedSig = withSig.localCheckpoint(false)
    val banded = cachedSig
      .select(col("id"), explode(lshBands(col("sig"), numHashes, numBands)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cands = observeDrops(
      banded
        .groupBy(col("band"), col("bucket"))
        .agg(collect_list(col("id")).as("ids")),
      size(col("ids")), maxBucketSize, dropObservation)
      .where(size(col("ids")).between(2, maxBucketSize))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // |union| = |A| + |B| - |intersect| (both sides are distinct sets),
    // so one array_intersect per pair suffices.
    val shA = cachedSig.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = cachedSig.select(col("id").as("id_b"), col("sh").as("sh_b"))
    cands.join(shA, Seq("id_a")).join(shB, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("double").as("szsum"))
      .select(col("id_a"), col("id_b"),
        (col("inter") / (col("szsum") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** SimHash of a token array: signed per-bit votes over 64-bit token
    * hashes, sign -> bit. Shuffle-free projection backed by a tight-loop
    * kernel ([[Kernels.simhash]]); bit 63 unused so the bitmap stays a
    * non-negative long. */
  def simhash(tokens: Column, bits: Int = 32): Column =
    Kernels.simhash(tokens, bits)

  /** 32-bit SimHash (kept for API compatibility). */
  def simhash32(tokens: Column): Column = simhash(tokens, 32)

  /** Hamming distance between two simhash bitmaps. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Band keys for Hamming-banded candidate generation: split `hashBits`
    * bits of `hash` into `maxDistance + 1` contiguous blocks. Pigeonhole
    * guarantee: two hashes within `maxDistance` differ in at most
    * `maxDistance` blocks, so at least one block matches exactly — full
    * recall for ANY `maxDistance`, not just the block count the caller
    * happened to hardcode. Returns an array of (block, key) structs to
    * explode. */
  private[graft] def hammingBandKeys(hash: Column, hashBits: Int, maxDistance: Int): Column = {
    val blocks = maxDistance + 1
    require(maxDistance >= 0 && blocks <= hashBits,
      s"maxDistance must be in [0, ${hashBits - 1}] (got $maxDistance): " +
        s"banding needs maxDistance + 1 blocks over $hashBits hash bits")
    val base = hashBits / blocks
    array((0 until blocks).map { i =>
      val lo = i * base
      val width = if (i == blocks - 1) hashBits - lo else base
      val key =
        if (width >= 64) hash
        else shiftright(hash, lo).bitwiseAND(lit((1L << width) - 1))
      struct(lit(i).as("block"), key.as("key"))
    }: _*)
  }

  /** SimHash near-duplicate pairs with Hamming distance <= maxDistance,
    * banded on 15-bit blocks of a 60-bit simhash (pigeonhole: distance<=3
    * over 4 blocks means at least one block matches exactly) to avoid the
    * cross join. Wide blocks (2^15 buckets each) keep candidate volume
    * low even on highly self-similar corpora. */
  def simhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 100000,
      dropObservation: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val withSim = PlanBarrier.fence(df
      .select(col(idCol).as("id"),
        TextFunctions.whitespaceTokens(col(textCol)).as("toks"))
      .select(col("id"), simhash(col("toks"), 60).as("sim")))
    // Single pass: explode block keys, ONE shuffle groups (id, sim) by
    // (block, key), pairs expand inside each bucket — the tokenize+simhash
    // pipeline is never evaluated twice (a self-join computes both sides),
    // and the carried state per member is 16 bytes, so bucket rows stay
    // small even for hot buckets. Block count derives from maxDistance
    // (pigeonhole), so recall holds for any requested distance.
    val banded = withSim.select(
      explode(hammingBandKeys(col("sim"), 60, maxDistance)).as("bk"),
      struct(col("id"), col("sim")).as("m"))
    // Same bounded-bucket guard as minhash: the collect_list buffer holds
    // every bucket member in ONE aggregation row, so a degenerate hot
    // bucket (hash collapse, boilerplate corpus) must be dropped before
    // the O(B^2) expansion rather than OOM an executor.
    val buckets = observeDrops(
      banded
        .groupBy(col("bk.block").as("block"), col("bk.key").as("key"))
        .agg(collect_list(col("m")).as("ms")),
      size(col("ms")), maxBucketSize, dropObservation)
      .where(size(col("ms")).between(2, maxBucketSize))
    buckets
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDistance(col("a.sim"), col("b.sim")).as("hamming"))
      .where(col("hamming") <= maxDistance)
      .dropDuplicates("id_a", "id_b")
  }

  /** Edit-distance-verified near-duplicate pairs: SimHash banding
    * generates candidates (recall bounded by the Hamming radius — the
    * standard blocking trade, same as every banded generator here), and
    * only candidate pairs pay the O(len²) Levenshtein verification, with
    * text attached to survivors by id-keyed joins — full text never
    * enters the banding shuffle. The char-level verify catches what
    * token-set measures miss (reorderings score far under Jaccard but
    * small under edit distance, and vice versa for global substitutions).
    *
    * @return (id_a, id_b, hamming, edits) with edits <= maxEdits
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      simhashMaxDistance: Int = 3,
      maxEdits: Int = 20,
      maxBucketSize: Int = 100000,
      dropObservation: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val cands = simhashNearDuplicates(df, idCol, textCol,
      simhashMaxDistance, maxBucketSize, dropObservation)
    // Attach text ONCE (r20, guide §8): the two id-keyed joins scanned the
    // corpus twice and the planner broadcast the ENTIRE text table for the
    // second join — workable at gate scale, corpus-sized broadcast at 100
    // TB. Explode each candidate pair into its two (pair, side, id) rows,
    // meet the corpus in one join (candidate side broadcasts; the corpus
    // streams), and regroup — exactly one corpus scan, and the only text
    // movement is the matched candidates' rows through one narrow
    // exchange. Then the exact Levenshtein lower bound |len_a - len_b|
    // (every edit changes the length by at most 1) prunes candidates
    // BEFORE the O(len^2) verify — §3 "cheap predicate before expensive
    // verify"; rows with the length gap over maxEdits can never pass the
    // edits filter, so the result set is identical. The regroup also
    // counts the text rows per side: an id with two rows has no single
    // text to compare, so the query fails naming `idCol` instead of
    // keeping one arbitrary text.
    val sides = cands.select(col("id_a"), col("id_b"), col("hamming"),
      explode(array(
        struct(lit(0).as("side"), col("id_a").as("id")),
        struct(lit(1).as("side"), col("id_b").as("id")))).as("s"))
      .select(col("id_a"), col("id_b"), col("hamming"),
        col("s.side").as("side"), col("s.id").as("id"))
    val txt = df.select(col(idCol).as("id"), col(textCol).as("__t"))
    sides.join(txt, Seq("id"))
      .groupBy(col("id_a"), col("id_b"), col("hamming"))
      .agg(max(when(col("side") === 0, col("__t"))).as("__a"),
        max(when(col("side") === 1, col("__t"))).as("__b"),
        count(when(col("side") === 0, 1)).as("__na"),
        count(when(col("side") === 1, 1)).as("__nb"))
      .select(col("id_a"), col("id_b"), col("hamming"),
        when(col("__na") > 1 || col("__nb") > 1, raise_error(concat(
          lit(s"editDistancePairs: ids in column '$idCol' must be unique; id "),
          when(col("__na") > 1, col("id_a")).otherwise(col("id_b")).cast("string"),
          lit(" has more than one row"))))
          .otherwise(col("__a")).as("text_a"),
        col("__b").as("text_b"))
      .where(abs(length(col("text_a")) - length(col("text_b"))) <= maxEdits)
      .select(col("id_a"), col("id_b"), col("hamming"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("edits"))
      .where(col("edits") <= maxEdits)
  }

  /** Resolve near-duplicate pairs into clusters: connected components
    * over the pair graph, each member mapped to its cluster's minimum
    * id as the canonical representative.
    *
    * This is the terminal step of fuzzy dedup at corpus scale: candidate
    * pairs from minhash/simhash feed in, and `keep = (id == canonical_id)`
    * drops every duplicate but one per cluster.
    *
    * 100 TB shape (round 17): a dedup pair graph is a union of
    * near-CLIQUES — measured at the 1M-vector point, 124M verified pairs
    * over 998k vertices in ~4k components of avg size 250 — and Pregel
    * drags the full edge multiset through EVERY iteration. So the
    * clustering runs bounded MIN-CONTRACTION rounds first, pure
    * DataFrame ops that shrink the data: each round maps every vertex to
    * min(N(v) ∪ {v}) (one map-side-combinable agg over the edge list)
    * and rewrites edges between representatives (self-loops drop,
    * duplicates collapse in the partial aggregate before the shuffle). A
    * clique collapses to its minimum in one round, so the measured graph
    * is near-empty after two; whatever remains (long chains — the
    * pathological shape dedup graphs don't take) goes to GraphX Pregel
    * CC, now on the tiny quotient graph. Correctness is invariant:
    * contraction preserves connectivity of representatives (quotient
    * graph of a connected subgraph is connected), the component minimum
    * is a contraction FIXPOINT (min(N(M) ∪ {M}) = M), and GraphX CC
    * labels with the component minimum — so composed labels equal the
    * pure-GraphX result exactly (law-tested on adversarial shapes).
    *
    * @param pairs DataFrame with long columns (id_a, id_b)
    * @return (id, canonical_id) for every id that appears in any pair
    */
  def duplicateClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    var edges = pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .localCheckpoint() // pairs upstream (band joins) is the expensive part
    // Below the contraction floor the graph is SMALL by definition (the
    // floor exists because distributed machinery loses there), yet the
    // pre-r19 path still launched a full GraphX Pregel — ~15 RDD jobs,
    // measured 0.44-0.92 s on a 253-edge gate graph where a driver-side
    // union-find labels identically in microseconds. One limit-probe on
    // the checkpointed edge blocks decides the regime AND delivers the
    // edges (<= floor+1 rows back, so the small path pays one job where
    // count-then-collect paid two); the collect is bounded by the same
    // floor that gates it (50k narrow long pairs ~ 800 KB — the scale of
    // a broadcast build side), so the driver never holds more than the
    // contraction path would have broadcast anyway. Same labels by
    // construction: union-find labels every member with its component
    // minimum, exactly GraphX CC's contract (law-pinned in
    // DedupAndSimilaritySpec).
    val floor = contractMinEdges(spark)
    val probeCap = math.min(floor, Int.MaxValue.toLong - 1).toInt
    val probe = edges.limit(probeCap + 1).collect()
    if (probe.length <= floor)
      return driverConnectedComponents(spark, probe.map(r =>
        (r.getLong(0), r.getLong(1))))
    val nEdges = edges.count()
    // id -> current representative (round 1's min map IS the full
    // mapping: every vertex appears in some edge, so no identity seed)
    var mapping: DataFrame = null
    var rounds = 0
    // Contraction trades ~10 extra small jobs + 2 shuffles for the
    // clique collapse — a fixed ~1 s that pays off as soon as the edge
    // multiset leaves gate scale (124M near-clique edges: 6.4 s vs
    // 50.3 s; 486k LINEAR edges, r18 interleaved: 7.8 s vs 22.9 s
    // Pregel). Edges below the floor never reach here (driver
    // union-find above); past the broadcast bound contraction stops
    // and Pregel takes the graph as-is.
    var contract = nEdges >= contractMinEdges(spark)
    while (contract && rounds < 2 && !edges.isEmpty) {
      // min over both orientations; the union is partition concat (no
      // shuffle) and the partial aggregate collapses to <=|V| rows per
      // map task before the exchange
      val und = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val m = und.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u").as("mid"), least(col("mv"), col("u")).as("mrep"))
        .localCheckpoint()
      // The endpoint rewrite must be MAP-SIDE to pay off: broadcast the
      // |V|-bounded rep map while it fits (both joins then fuse into one
      // codegen pass over the checkpointed edge scan). A sort-merge
      // contraction measured SLOWER than Pregel itself at the 124M-edge
      // point (33.9 s vs 26.8 s), so past the broadcast bound we stop
      // contracting and let Pregel take the graph as-is.
      if (m.count() > contractBroadcastLimit(spark)) {
        contract = false // plain Pregel below on the graph as contracted so far
        m.unpersist()
      } else {
        mapping =
          if (mapping == null) m.select(col("mid").as("id"), col("mrep").as("rep"))
          else mapping
            .join(m.withColumnRenamed("mid", "rep"), Seq("rep"), "left")
            .select(col("id"), coalesce(col("mrep"), col("rep")).as("rep"))
        def side(k: String, out: String) =
          broadcast(m.select(col("mid").as(k), col("mrep").as(out)))
        edges = edges
          .join(side("u", "cu"), Seq("u"))
          .join(side("v", "cv"), Seq("v"))
          .select(least(col("cu"), col("cv")).as("u"),
            greatest(col("cu"), col("cv")).as("v"))
          .where(col("u") =!= col("v"))
          .distinct()
          .localCheckpoint()
        rounds += 1
      }
    }
    if (mapping != null && edges.isEmpty)
      mapping.select(col("id"), col("rep").as("canonical_id"))
    else {
      val edgeRdd = edges.rdd
        .map(r => org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), ()))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cc = org.apache.spark.graphx.lib.ConnectedComponents
        .run(org.apache.spark.graphx.Graph.fromEdges(edgeRdd, ()))
      val quotientLabels = cc.vertices.toDF("rep", "lbl")
      edgeRdd.unpersist(blocking = false)
      if (mapping == null) quotientLabels.toDF("id", "canonical_id")
      else
        // reps whose component fully collapsed are not in the quotient
        // graph: their rep IS the component minimum already
        mapping.join(quotientLabels, Seq("rep"), "left")
          .select(col("id"), coalesce(col("lbl"), col("rep")).as("canonical_id"))
    }
  }

  /** Driver-side connected components for graphs under the contraction
    * floor: union-find (path compression + union by rank) over the
    * collected edge list, every vertex labeled with its component's
    * MINIMUM id — the exact GraphX ConnectedComponents contract, so the
    * two paths are interchangeable (law-tested). Input is bounded by the
    * caller ([[contractMinEdges]] rows). */
  private def driverConnectedComponents(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    val rank = new java.util.HashMap[Long, Int]()
    def find(x: Long): Long = {
      var root = x
      while (parent.get(root) != root) root = parent.get(root)
      var cur = x // path compression
      while (parent.get(cur) != root) {
        val next = parent.get(cur); parent.put(cur, root); cur = next
      }
      root
    }
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) { parent.put(x, x); rank.put(x, 0) }
    edges.foreach { case (u, v) =>
      add(u); add(v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        val (hi, lo) =
          if (rank.get(ru) >= rank.get(rv)) (ru, rv) else (rv, ru)
        parent.put(lo, hi)
        if (rank.get(ru) == rank.get(rv)) rank.put(hi, rank.get(hi) + 1)
      }
    }
    val minOf = new java.util.HashMap[Long, Long]()
    val it0 = parent.keySet().iterator()
    while (it0.hasNext) {
      val v = it0.next(); val r = find(v)
      val cur = minOf.getOrDefault(r, Long.MaxValue)
      if (v < cur) minOf.put(r, v)
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size())
    val it1 = parent.keySet().iterator()
    while (it1.hasNext) {
      val v = it1.next(); out += ((v, minOf.get(find(v))))
    }
    out.toSeq.toDF("id", "canonical_id")
  }

  /** Vertex-count bound for broadcasting the contraction rep map inside
    * [[duplicateClusters]] (default 4M longs ~ 64 MB broadcast);
    * session-configurable so deployments size it to executor memory. */
  private[graft] def contractBroadcastLimit(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.cc.broadcastVertices").map(_.toLong)
      .getOrElse(4000000L)

  /** Row bound for broadcasting [[topRepeatedSpans]]' winner set (the
    * topN rows plus every rank-N boundary tie — unbounded on flat-count
    * corpora). Default 1M narrow rows (~30-60 MB broadcast);
    * session-configurable so deployments size it to driver memory. */
  private[graft] def broadcastWinnersLimit(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.topSpans.broadcastWinners").map(_.toLong)
      .getOrElse(1000000L)

  /** Edge-count floor below which [[duplicateClusters]] skips contraction
    * (its fixed job overhead outweighs the clique collapse on small
    * graphs; the count itself is a cheap scan of the already-checkpointed
    * edge blocks). Default 50k (round 18): the r17 default of 2M was
    * calibrated on a ~1k-edge gate graph and a 124M-edge pre-fix
    * near-clique monster with nothing between — the r18 ledger then
    * caught a 486k-edge LINEAR graph (the realistic mid regime) paying
    * 22.9 s in Pregel where forced contraction took 7.8 s. Contraction's
    * downside is a bounded ~1.1 s of fixed jobs; Pregel's is unbounded
    * iteration cost — so the floor sits just above gate scale. Round 19:
    * the same floor now also bounds the driver union-find fast path
    * (below it the whole graph collects — at most this many narrow long
    * pairs, ~800 KB at the default — and labels in one driver pass
    * instead of a full Pregel run). */
  private[graft] def contractMinEdges(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.cc.contractMinEdges").map(_.toLong)
      .getOrElse(50000L)

  /** Attach a drop-visibility observation to a bucketed candidate
    * generator: `dropped_buckets` (bucket/posting rows above the cap,
    * i.e. recall silently lost) and `max_bucket` (the hottest bucket
    * seen). Read with `observation.getAsJava`/`getOrEmpty` after the
    * query's first action — the cheap, action-synchronous way to detect
    * degraded recall at scale without a second pass.
    *
    * Caveat (Spark AQE): if the ENTIRE query result is empty, adaptive
    * re-planning can propagate the empty relation over the CollectMetrics
    * node and the harvested metrics come back empty even though the
    * bucket stage ran — read with `getOrEmpty` and treat "empty result +
    * no metrics" as "inspect with AQE off". Any non-empty result (the
    * production monitoring case) delivers exact metrics. */
  private def observeDrops(
      buckets: DataFrame, sizeCol: Column, cap: Int,
      obs: Option[org.apache.spark.sql.Observation]): DataFrame =
    obs.fold(buckets)(o => buckets.observe(o,
      sum(when(sizeCol > cap, 1L).otherwise(0L)).as("dropped_buckets"),
      coalesce(max(sizeCol), lit(0)).as("max_bucket")))

  /** n-gram Jaccard similarity for all pairs sharing >= 1 SURVIVING
    * n-gram. Inverted-index join (explode n-grams, group by n-gram into
    * posting lists) — the standard scalable formulation. Postings longer
    * than `maxPostingSize` are dropped before pair expansion: a stop-word
    * n-gram shared by millions of docs would materialize them all in one
    * aggregation buffer row AND contribute O(B^2) pairs; dropping it
    * loses only pairs whose entire overlap is degenerate hot n-grams
    * (standard prefix-filtering practice) — NOT exact over such pairs.
    * Pass `dropObservation` to measure how many postings were dropped
    * (recall observability); zero dropped means the result IS the exact
    * all-pairs answer. */
  /** The gram inverted index shared by the jaccard and containment pair
    * generators: ONE shuffle groups (id, n_grams) by gram (the posting
    * list), pairs expand inside each posting — identical pair multiset
    * to the self-join formulation (a posting of B docs yields the same
    * B^2/2 pairs the equi-join would), but the tokenize+shingle chain is
    * evaluated once, not per join side. */
  private def gramPostings(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      maxPostingSize: Int,
      dropObservation: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val grams = PlanBarrier.fence(df
      .select(col(idCol).as("id"),
        Kernels.distinctShingles(col(textCol), n).as("grams"))
      .select(col("id"), col("grams"), size(col("grams")).as("n_grams")))
    observeDrops(
      grams
        .select(explode(col("grams")).as("g"), struct(col("id"), col("n_grams")).as("m"))
        .groupBy(col("g"))
        .agg(collect_list(col("m")).as("ms")),
      size(col("ms")), maxPostingSize, dropObservation)
      .where(size(col("ms")).between(2, maxPostingSize))
  }

  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxPostingSize: Int = 100000,
      dropObservation: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    gramPostings(df, idCol, textCol, n, maxPostingSize, dropObservation)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .where(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_grams").as("n_a"), col("b.n_grams").as("n_b"))
      .agg(count(lit(1)).cast("double").as("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Asymmetric containment pairs: C(A, B) = |grams(A) ∩ grams(B)| /
    * |grams(A)| — the excerpt detector. A short quote A lifted into a
    * long document B has containment ~1 while its Jaccard is only
    * ~|A|/|B|, so symmetric dedup never fires; containment-based
    * filtering is the standard companion pass (cf. the suffix-array
    * dedup motivation in Lee et al. 2021). Same single-shuffle inverted
    * index as [[ngramJaccardPairs]]; output is ORDERED (id_a contained
    * in id_b), so each unordered pair can appear in both directions with
    * different scores.
    *
    * @return (id_a, id_b, containment) with containment >= threshold
    */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxPostingSize: Int = 100000,
      dropObservation: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    gramPostings(df, idCol, textCol, n, maxPostingSize, dropObservation)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .where(col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_grams").as("n_a"))
      .agg(count(lit(1)).cast("double").as("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter") / col("n_a")).as("containment"))
      .where(col("containment") >= threshold)

  /** Substring-level exact-duplication metrics: rolling k-token windows
    * fingerprinted and counted corpus-wide, aggregated per document.
    *
    * This is the scalable stand-in for suffix-array substring dedup
    * ("Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2021): a k-token span repeated ANYWHERE in the corpus (across
    * documents or within one) marks every occurrence as duplicated text.
    * The suffix-array formulation needs a global sorted structure; the
    * rolling-window formulation is a plain key-partitioned count — one
    * shuffle on a 16-byte fingerprint, one on the doc id — which is the
    * shape that survives 100 TB. Fingerprints are `unhex(md5(window))`:
    * 16 bytes on the wire regardless of window text length, and
    * cross-engine reproducible (the SQL oracle groups by the raw window
    * string; md5 collisions are the only divergence source, ~2^-64 per
    * corpus). Documents shorter than k tokens contribute their whole
    * text as one window (same semantics as [[Kernels.allShingles]]).
    *
    * @return (id, n_windows, dup_windows, dup_frac, max_repeat) — one row
    *         per input document, `dup_frac = dup_windows / n_windows`,
    *         `max_repeat` = highest corpus-wide count among this doc's
    *         windows.
    */
  def repeatedSpanStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minRepeat: Int = 2): DataFrame = {
    require(minRepeat >= 2, "minRepeat < 2 would mark every window duplicated")
    val wins0 = df
      .select(col(idCol).as("id"),
        explode(Kernels.allShingles(col(textCol), k)).as("w"))
      .select(col("id"), unhex(md5(col("w"))).as("span_key"))
    val wins = fingerprintPartitions(df, SpanKeyExpansion)
      .fold(wins0)(n => wins0.repartition(n, col("span_key")))
    // count(*) over (partition by span_key) instead of groupBy+self-join:
    // same single shuffle on the fingerprint, no second scan of the
    // window stream, and the per-key groups are tiny (mostly 1) so the
    // WindowExec sort is cheap.
    val counted = wins.withColumn("c",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("span_key"))))
    counted.groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("c") >= minRepeat, 1L).otherwise(0L)).as("dup_windows"),
        max(col("c")).as("max_repeat"))
      .select(col("id"), col("n_windows"), col("dup_windows"),
        (col("dup_windows").cast("double") / col("n_windows")).as("dup_frac"),
        col("max_repeat"))
  }

  /** The most-repeated k-token spans in the corpus, with occurrence and
    * document counts — the observability companion to
    * [[repeatedSpanStats]] (which spans are inflating the dup fraction?).
    *
    * Fingerprint-first (round 18): span TEXT never rides an exchange.
    * Before this rewrite the corpus shuffle keyed on the raw span string
    * — ~corpus-sized text on the wire for mostly-unique corpora, the
    * exact payload discipline the round-17 chunk/span rewrites removed
    * elsewhere. Now the one corpus-wide shuffle carries (16-byte md5
    * key, id, pos) rows, partitioned by the key ALONE so both
    * aggregation grains — per (span, doc), then per span — consume the
    * same single exchange (hash partitioning on a subset of the grouping
    * keys satisfies both clustered distributions; the price is losing
    * the map-side partial collapse, negligible on the mostly-unique
    * corpora where the old plan hurt most). The per-key aggregate —
    * narrow, one row per distinct repeated span — is checkpointed and
    * reused: a TakeOrdered pass derives the Nth-largest occurrence
    * count as a 1-row capped collect (so the winner filter is a plain
    * predicate, never a join), and every key tying that boundary
    * survives (rank-style), so boundary ties still resolve on span text
    * exactly as before. Each winner's text is then sliced back out of
    * the ONE document holding its globally-first occurrence (broadcast
    * join on doc id — at most topN + boundary-tie document rows are
    * touched). Same md5-collision tolerance (~2^-64) as the rest of the
    * family. Like the cascade, this operator is EAGER at build time
    * (the checkpoint + threshold jobs run when the DataFrame is built).
    *
    * @return (span, n_occ, n_docs) — top `topN` by occurrence count,
    *         ties broken by span text for determinism.
    */
  def topRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minRepeat: Int = 2,
      topN: Int = 20): DataFrame = {
    val perKey = topSpanAggregate(df, idCol, textCol, k, minRepeat)
      // narrow; feeds the threshold AND the winners. LAZY (r20): the
      // threshold TakeOrdered below is the first action and materializes
      // the blocks in the same job an eager checkpoint would have spent
      // on a dedicated pass.
      .localCheckpoint(false)
    // Nth-largest n_occ: TakeOrdered keeps topN narrow rows per
    // partition and the driver sees ONE row (the capped-collect
    // pattern). min over the topN prefix == the rank-N value, so
    // `n_occ >= thr` keeps every boundary tie for the text tie-break.
    val thrRow = perKey.orderBy(col("n_occ").desc).limit(topN)
      .agg(min(col("n_occ"))).collect()(0)
    val thr = if (thrRow.isNullAt(0)) Long.MaxValue else thrRow.getLong(0)
    val winners = perKey.where(col("n_occ") >= thr)
      .select(col("first.id").as("id"), col("first.minpos").as("minpos"),
        col("n_occ"), col("n_docs"))
    // Guard the broadcast (round 19, r18 advice): on a flat-count corpus
    // (every repeated span at exactly thr occurrences) the rank-N
    // boundary tie set is the ENTIRE repeated-span population, and an
    // unconditional broadcast() hint — which bypasses
    // autoBroadcastJoinThreshold — would collect it all to the driver.
    // The tie-set count is a narrow scan of the already-checkpointed
    // perKey rows; past the bound the winners meet the corpus through a
    // shuffle join instead (same rows out — the broadcast is purely a
    // plan choice, and the orderBy/limit below still resolves ties).
    val joinSide =
      if (winners.count() <= broadcastWinnersLimit(df.sparkSession))
        broadcast(winners)
      else winners.hint("shuffle_hash")
    // winner text recovery: slice the span back out of its first-occurrence
    // document — slice() truncates at the token array's end, reproducing
    // the whole-doc window of documents shorter than k tokens.
    df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .join(joinSide, Seq("id"))
      .select(
        array_join(slice(filter(split(col("__t"), " "), t => length(t) > 0),
          col("minpos") + 1, lit(k)), " ").as("span"),
        col("n_occ"), col("n_docs"))
      .orderBy(col("n_occ").desc, col("span"))
      .limit(topN)
  }

  /** The narrow per-span aggregate behind [[topRepeatedSpans]], exposed
    * package-private so the plan audit can pin its shape (the checkpoint
    * hides it from the final query's executed plan): one corpus-sized
    * fingerprint exchange, then both aggregation grains — per (span,
    * doc), then per span — consumed without further shuffles. The struct
    * min (globally first occurrence) runs as a per-partition
    * SortAggregate over rows the first grain already collapsed to one
    * per (span, doc).
    *
    * @return (span_key, n_occ, n_docs, first{id, minpos}) — only keys
    *         with n_occ >= minRepeat
    */
  private[graft] def topSpanAggregate(df: DataFrame, idCol: String,
      textCol: String, k: Int, minRepeat: Int): DataFrame = {
    val wins0 = df
      .select(col(idCol).as("id"),
        posexplode(Kernels.allShingles(col(textCol), k)).as(Seq("pos", "w")))
      .select(col("id"), col("pos"), unhex(md5(col("w"))).as("span_key"))
    val wins = fingerprintPartitions(df, SpanKeyExpansion)
      .fold(wins0.repartition(col("span_key")))(n =>
        wins0.repartition(n, col("span_key")))
    wins
      .groupBy(col("span_key"), col("id"))
      .agg(count(lit(1)).as("c"), min(col("pos")).as("minpos"))
      .groupBy(col("span_key"))
      .agg(sum(col("c")).as("n_occ"), count(lit(1)).as("n_docs"),
        min(struct(col("id"), col("minpos"))).as("first"))
      .where(col("n_occ") >= minRepeat)
  }

  /** Cross-document exact substring dedup at CHUNK granularity (the
    * RefinedWeb / Lee et al. preprocessing step applied at a fixed token
    * window): each document splits into consecutive `chunkTokens`-token
    * chunks, a chunk occurring anywhere earlier in the corpus (global
    * first occurrence by (id, pos)) drops, survivors reassemble in
    * position order.
    *
    * 100 TB shape (r17 rewrite — the 2000x curve caught the original's
    * text-bearing window exchange going super-linear at 10M docs, 4x
    * data -> 5.4x wall): chunk TEXT never rides an exchange. The
    * first-occurrence window runs over narrow (id, pos, hash16) rows
    * (16-byte binary fingerprint), only DUPLICATE positions aggregate
    * per document (absent for the typical dup-free doc), and clean_text
    * rebuilds MAP-SIDE from a second corpus scan joined to those dup
    * positions — document text moves at most once (not at all under a
    * broadcast of the dup side), the same discipline as [[removeSpans]].
    *
    * @return (id, clean_text, kept_chunks, total_chunks)
    */
  def chunkDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 5): DataFrame = {
    val fp0 = chunkFingerprints(df, idCol, textCol, chunkTokens, hex = false)
    val fp = fingerprintPartitions(df, ChunkKeyExpansion)
      .fold(fp0)(n => fp0.repartition(n, col("__h")))
    val dupPos = fp
      .withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("__h")).orderBy(col(idCol), col("pos"))))
      .where(col("__rn") > 1)
      .groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("__dup_pos"))
    rebuildChunks(df, dupPos, idCol, textCol, chunkTokens, posAreKept = false)
  }

  /** Per-row rebuild kernel for chunk dedup (the chunk analogue of
    * [[rebuildSpans]]): re-tokenize, re-chunk at the `cc`-token grid and
    * keep or drop by chunk position; returns (clean_text, kept_chunks,
    * total_chunks). Null positions with `posAreKept = false` keep
    * everything (the dup-free document of the left join). */
  private lazy val rebuildChunkText = udf {
    (text: String, positions: Seq[Int], cc: Int, posAreKept: Boolean) =>
      val raw = if (text == null) Array.empty[String] else text.split(" ", -1)
      val toks = raw.filter(_.nonEmpty)
      if (toks.isEmpty) ("", 0L, 0L) // dropped by the kept_chunks > 0 gate
      else {
        val total = (toks.length + cc - 1) / cc
        val pos = if (positions == null) Set.empty[Int] else positions.toSet
        val kept = (0 until total).iterator
          .filter(i => if (posAreKept) pos(i) else !pos(i))
          .map(i => toks.slice(i * cc, math.min((i + 1) * cc, toks.length))
            .mkString(" "))
          .toArray
        (kept.mkString(" "), kept.length.toLong, total.toLong)
      }
  }

  /** Map-side survivor rebuild shared by [[chunkDedup]] and
    * [[chunkDedupAgainstIndex]]: join the RAW documents to their per-doc
    * position verdicts and re-chunk after the join with the tight-loop
    * kernel, so the document text crosses exactly one hash exchange
    * un-sorted — the shuffle_hash hint keeps the text side out of a
    * sort-merge sort (and AQE still demotes to broadcast when the verdict
    * side is small). `posAreKept = false` treats positions as duplicates
    * to drop (docs without a row keep everything); `true` treats them as
    * the only chunks to keep (docs without a row vanish — the inner
    * join). The fence keeps the empty-doc filter from pushing the kernel
    * into a second plan node (PlanAuditSpec gates the duplication). */
  private def rebuildChunks(
      df: DataFrame, positions: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, posAreKept: Boolean): DataFrame = {
    val posCol = if (posAreKept) "__kept_pos" else "__dup_pos"
    val joined = df.select(col(idCol), col(textCol))
      .join(positions.hint("shuffle_hash"), Seq(idCol),
        if (posAreKept) "inner" else "left")
    PlanBarrier.fence(joined
      .select(col(idCol),
        rebuildChunkText(col(textCol), col(posCol),
          lit(chunkTokens), lit(posAreKept)).as("r"))
      .select(col(idCol), col("r._1").as("clean_text"),
        col("r._2").as("kept_chunks"), col("r._3").as("total_chunks")))
      .where(col("kept_chunks") > 0) // fully-duplicate documents vanish
  }

  /** The persisted-index side of incremental chunk dedup: the DISTINCT
    * chunk hashes of a corpus (one `chunk_hash` string column). Corpus
    * text never leaves the executors — only the 32-byte hashes land in
    * the index, so the artifact is a fraction of corpus size and the
    * arriving-batch check below is a hash-only anti-join. */
  def chunkHashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 5): DataFrame =
    chunkRows(df, idCol, textCol, chunkTokens)
      .select(md5(col("chunk")).as("chunk_hash")).distinct()

  /** Incremental chunk dedup (the continuous-ingest shape of
    * [[chunkDedup]]): an arriving batch drops every chunk already in the
    * corpus index (hash anti-join) or seen earlier IN the batch (global
    * first occurrence by (id, pos)), then reassembles. Appending the
    * survivors' hashes back to the index (caller-side, like
    * MinhashIndex.append) makes the next batch incremental too.
    *
    * @return (id, clean_text, kept_chunks, total_chunks) — fully-duplicate
    *         documents vanish
    */
  def chunkDedupAgainstIndex(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 5): DataFrame = {
    // Narrow throughout, like [[chunkDedup]]: the anti-join probes the
    // index with (id, pos, hex-hash) rows — hex strings because that is
    // the persisted chunkHashIndex format, and an anti-join tolerates the
    // duplicate hashes append-only ingest legitimately accumulates. The
    // batch text rides no exchange; survivors rebuild map-side from the
    // kept positions (inner join: fully-dropped documents vanish).
    val keptPos = chunkFingerprints(batch, idCol, textCol, chunkTokens, hex = true)
      .join(index.select(col("chunk_hash").as("__h")), Seq("__h"), "left_anti")
      .withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("__h")).orderBy(col(idCol), col("pos"))))
      .where(col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("__kept_pos"))
    rebuildChunks(batch, keptPos, idCol, textCol, chunkTokens, posAreKept = true)
  }

  /** The index-maintenance half of the incremental loop: the chunk
    * hashes of a batch's SURVIVING text (the `clean_text` output of
    * [[chunkDedupAgainstIndex]]), appended to the persisted index so the
    * next batch dedups against everything ingested so far. Append-only
    * parquet — the natural shape for an object-store index. */
  def appendToChunkIndex(
      survivors: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      chunkTokens: Int = 5): Unit =
    chunkHashIndex(survivors, idCol, textCol, chunkTokens)
      .write.mode("append").parquet(indexPath)

  /** Bin-pack the chunk-hash index (continuous ingest appends one file
    * per micro-batch forever — the small-files failure mode). Collapses
    * to the DISTINCT hash set while rewriting: the index is consumed
    * only by the hash anti-join, so the set is its semantics, and
    * re-chunked survivor text legitimately re-appends hashes earlier
    * batches already hold. checkBatch reads identically pre/post
    * (PropertySpec law); staged-swap commit, crash-recoverable. */
  def compactChunkIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      targetFileBytes: Long = 128L << 20): graft.maintain.IndexMaintenance.CompactionResult =
    graft.maintain.IndexMaintenance.compactIndex(
      spark, indexPath, distinctRows = true, targetFileBytes = targetFileBytes)

  /** Tokenize with the split fenced (one evaluation feeds every
    * downstream use — PlanAuditSpec gates the duplication); empty and
    * whitespace-only documents vanish. */
  private def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    PlanBarrier.fence(
      df.select(col(idCol),
        filter(split(col(textCol), " "), t => length(t) > 0).as("tk")))
      .where(size(col("tk")) > 0)

  /** Consecutive `chunkTokens`-token chunk strings of a token array, in
    * position order (the last chunk may be a short tail). */
  private def chunksOf(tk: Column, chunkTokens: Int): Column =
    transform(
      sequence(lit(0), ceil(size(tk) / lit(chunkTokens.toDouble)).cast("int") - 1),
      i => array_join(slice(tk, i * chunkTokens + 1, lit(chunkTokens)), " "))

  /** Shared chunking: (id, total_chunks, pos, chunk) rows. */
  private def chunkRows(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame =
    tokenized(df, idCol, textCol).select(col(idCol),
      ceil(size(col("tk")) / lit(chunkTokens.toDouble)).cast("long").as("total_chunks"),
      posexplode(chunksOf(col("tk"), chunkTokens)).as(Seq("pos", "chunk")))

  /** Narrow chunk-fingerprint stream: (id, pos, __h) — the dedup-relevant
    * projection of [[chunkRows]], hashed map-side so chunk text never
    * reaches an exchange. `hex = true` keeps the 32-char md5 string (the
    * persisted chunkHashIndex format); `hex = false` packs it to 16-byte
    * binary for in-flight-only use. */
  private def chunkFingerprints(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, hex: Boolean): DataFrame =
    tokenized(df, idCol, textCol).select(col(idCol),
      posexplode(transform(chunksOf(col("tk"), chunkTokens),
        c => if (hex) md5(c) else unhex(md5(c)))).as(Seq("pos", "__h")))

  /** Remove duplicated substrings from document text, keeping the first
    * occurrence — the transform stage of suffix-array substring dedup
    * (Lee et al. 2021), on top of [[repeatedSpanStats]]'s rolling-window
    * formulation.
    *
    * A k-token window repeated (>= minRepeat occurrences corpus-wide)
    * keeps its GLOBALLY FIRST occurrence — lowest (doc id, position) —
    * and every other occurrence is marked removable; a token is dropped
    * when any removable window covers it. Removal is therefore
    * deterministic and idempotent at the window level (re-running on the
    * cleaned corpus finds no repeats among surviving spans of the same
    * alignment), though overlapping removable windows can still erode
    * tokens inside a kept occurrence — the same window-granularity
    * approximation the byte-range original makes.
    *
    * Scale shape: one shuffle on the 16-byte window fingerprint (count +
    * first-occurrence rank share one exchange and one sort), one narrow
    * shuffle of (id, dup positions), then a join back to the corpus so
    * document text itself moves exactly once. The rebuild kernel is a
    * per-row JVM loop over (text, sorted removable starts).
    *
    * Output text is whitespace-normalized (tokens rejoined with single
    * spaces) for every document, cleaned or not, so the transform is
    * uniform. `n_removed` counts dropped tokens.
    *
    * @return (id, clean_text, n_removed)
    */
  def removeRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minRepeat: Int = 2): DataFrame =
    removeSpansStage(
      df.select(col(idCol).as("id"), col(textCol).as("clean_text"),
        lit(0L).as("n_removed")),
      k, minRepeat, fingerprintPartitions(df, SpanKeyExpansion))

  /** Input-proportional partition count for the corpus-sized fingerprint
    * window exchanges (span keys, chunk hashes) — Some(n) only when n
    * exceeds the session's static shuffle partitions, None otherwise so
    * small inputs keep their AQE-coalescible natural exchange.
    *
    * Why local sizing instead of a session conf (round 17, both
    * measured): the fingerprint stream is a near-constant expansion of
    * the corpus (one ~28-byte row per token), so at the 2000x point
    * (10M docs) the span-key window sorted ~20 GB through 32 static
    * partitions and spilled — 2.07x faster (q88 329.9 -> 159.2 s) with
    * the exchange sized to ~64 MB of sort volume per partition. The
    * session-wide alternative (`spark.sql.adaptive.coalescePartitions
    * .initialPartitionNum = 256`) won the same 2x on the window family
    * but taxed the healthy banded-join family 2.2x (q31 67.5 -> 150.7 s
    * at 2000x, same host window — more shuffle files on every exchange
    * of an 8-exchange pipeline), so the over-provision is scoped to the
    * operators whose exchange provably needs it. Source bytes come from
    * the optimizer's plan statistics — a localCheckpointed input (lazy or
    * eager) carries its origin plan's statistics, so the curation chain
    * (filter → checkpoint → dedup) sizes too; when the plan has no usable
    * estimate (the Long.MaxValue default), the operator keeps the
    * session setting.
    *
    * Note: forcing `optimizedPlan` here runs the analyzer/optimizer on
    * the input lineage at DataFrame BUILD time (before any action) — a
    * deliberate driver-side cost, bounded by plan depth, paid once per
    * operator construction. */
  private def fingerprintPartitions(src: DataFrame, expansion: Double): Option[Int] =
    partitionsForBytes(src.sparkSession,
      src.queryExecution.optimizedPlan.stats.sizeInBytes, expansion)

  /** The sizing arithmetic of [[fingerprintPartitions]], split out so the
    * cascade can feed it DECAYED byte estimates (survivor fraction of the
    * base corpus) instead of re-deriving plan statistics per stage. */
  private def partitionsForBytes(
      spark: org.apache.spark.sql.SparkSession,
      size: BigInt, expansion: Double): Option[Int] = {
    val default = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (size <= 0 || size > BigInt(1L << 50)) None
    else {
      val n = math.min(4096.0,
        math.ceil(size.toDouble * expansion / (64L << 20).toDouble)).toInt
      if (n > default) Some(n) else None
    }
  }

  /** Fingerprint expansion of the span family relative to (typically
    * parquet-compressed) source bytes: one (id, pos, 16-byte key) row
    * per token position — ~28 B unsorted sort payload per ~2 compressed
    * source bytes. Order-of-magnitude is all the sizing needs; the
    * clamp bounds both tails. */
  private val SpanKeyExpansion = 16.0

  /** Chunk-grid analogue: one row per chunkTokens (5) tokens. */
  private val ChunkKeyExpansion = 4.0

  /** Per-row rebuild kernel: drop every token covered by a removable
    * window start; returns (clean_text, tokens dropped). Shared by the
    * single-k transform and every cascade stage. */
  private lazy val rebuildSpans = udf { (text: String, starts: Seq[Int], kk: Int) =>
    val raw = if (text == null) Array.empty[String] else text.split(" ", -1)
    val toks = raw.filter(_.nonEmpty)
    if (starts == null || starts.isEmpty) (toks.mkString(" "), 0L)
    else {
      val win = math.min(kk, toks.length) // whole-doc window when short
      val covered = new Array[Boolean](toks.length)
      starts.foreach { s =>
        var i = s
        val end = math.min(s + win, toks.length)
        while (i < end) { covered(i) = true; i += 1 }
      }
      val kept = toks.indices.collect { case i if !covered(i) => toks(i) }
      (kept.mkString(" "), (toks.length - kept.length).toLong)
    }
  }

  /** The drop-position computation shared by the single-k transform and
    * the cascade, over an already-windowed (id, pos, w) stream: one
    * fingerprint-keyed window pass over narrow (id, pos, span_key) rows
    * marks every non-first occurrence of a repeated window, grouped to
    * one narrow (id, sorted starts) row per affected document — text
    * never rides any of its exchanges.
    *
    * Zero-token documents are excluded up front (round 19): their single
    * "" window would tie corpus-wide on md5(""), and on a raw-crawl
    * corpus with millions of empty docs the resulting drop rows are
    * guaranteed replay no-ops ([[applySpanDrops]] drops nothing from an
    * empty token array) that only inflate the cascade's checkpointed
    * accumulator — past the broadcast bound, and with phantom "dropped"
    * counts that under-size the next window exchange. Removal results
    * are identical with or without them. */
  private def dropStartsFromWindows(wins0: DataFrame,
      minRepeat: Int, windowParts: Option[Int]): DataFrame = {
    require(minRepeat >= 2, "minRepeat < 2 would mark every window duplicated")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("span_key"))
    val keyed = wins0.where(col("w") =!= "")
      .select(col("id"), col("pos"), unhex(md5(col("w"))).as("span_key"))
    val wins = windowParts.fold(keyed)(n => keyed.repartition(n, col("span_key")))
    wins
      .withColumn("c", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("id"), col("pos"))))
      .where(col("c") >= minRepeat && col("rn") >= 2)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
  }

  /** One span-removal pass over the (id, clean_text, n_removed) schema —
    * returns the same schema with the stage's drops applied and counted.
    * The accumulated `n_removed` rides the stage's OWN text join (the
    * document row moves exactly once per stage). */
  private def removeSpansStage(cur: DataFrame, k: Int, minRepeat: Int,
      windowParts: Option[Int]): DataFrame = {
    val dropStarts = dropStartsFromWindows(
      cur.select(col("id"),
        posexplode(Kernels.allShingles(col("clean_text"), k)).as(Seq("pos", "w"))),
      minRepeat, windowParts)
    cur
      // shuffle_hash: the document text must not pay a sort-merge sort
      // just to meet its narrow drop-position list (measured at the 2000x
      // point, r17 — the same fix as chunkDedup's rebuild join); AQE still
      // demotes to broadcast when the span side is small.
      .join(dropStarts.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"),
        rebuildSpans(col("clean_text"), col("starts"), lit(k)).as("r"),
        col("n_removed"))
      .select(col("id"), col("r._1").as("clean_text"),
        (col("n_removed") + col("r._2")).as("n_removed"))
  }

  /** VARIABLE-LENGTH repeated-span removal: a longest-first cascade of
    * [[removeRepeatedSpans]] passes.
    *
    * Single-k removal is window-granular: a repeat of 50 tokens and a
    * repeat of exactly k tokens are treated identically, and a long
    * repeat is erased as k-sized bites. The Lee et al. transform targets
    * MAXIMAL repeats above a length threshold; the scalable analogue is
    * a cascade — remove at the largest k first (long repeats go in one
    * coherent sweep, keeping their globally-first occurrence intact),
    * then re-window the CLEANED text at smaller k to catch shorter
    * repeats, including ones long-pass removal could not see. Each stage
    * is the exact single-k transform, so every stage inherits its
    * first-occurrence-keeps semantics and its oracle.
    *
    * Scale shape (round 19 — per-stage checkpoints are TEXT-FREE): the
    * r18 ledger's steepest row was this cascade's 2000x step (5.9x wall
    * per 4x data), driven by each stage re-materializing every surviving
    * document's full text into the block manager. Now the corpus text is
    * checkpointed ONCE (id-partitioned, so every downstream id-join
    * reuses the exchange), each stage checkpoints only its narrow
    * (id, k, starts) drop positions, and any stage's input text is
    * recomposed MAP-SIDE by replaying the accumulated drops against the
    * original tokens ([[composeSpanStages]] — the exact sequential
    * [[rebuildSpans]] semantics, per row). Per stage that is still one
    * fingerprint shuffle + one narrow positions shuffle, but the only
    * per-stage text movement is the map-side compose read, and the final
    * (id, clean_text, n_removed) output is one more compose over the
    * same two checkpoints. Like [[topRepeatedSpans]], the cascade is
    * EAGER at build time (the base + per-stage drop checkpoints run when
    * the DataFrame is constructed).
    *
    * Window sizing per stage: stage 1 from the base checkpoint's bytes,
    * later stages DECAYED by the measured drop counts (every marked
    * occurrence removes at least one token, so the estimate over-sizes —
    * the safe direction; heavy duplication decays it all the way to the
    * AQE-coalescible natural exchange instead of pinning thousands of
    * near-empty REPARTITION_BY_NUM sort partitions on small tails).
    *
    * @param ks window lengths; deduplicated and applied DESCENDING
    * @return (id, clean_text, n_removed) — n_removed totals all stages
    */
  def removeRepeatedSpansCascade(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ks: Seq[Int] = Seq(32, 16, 8),
      minRepeat: Int = 2): DataFrame = {
    require(ks.nonEmpty, "cascade needs at least one window length")
    val spark = df.sparkSession
    val ordered = ks.distinct.sorted(Ordering[Int].reverse)
    // The one corpus-text materialization. (No pre-partitioning: a
    // localCheckpoint's LogicalRDD does not advertise outputPartitioning,
    // so an up-front repartition(id) would be a pure extra text exchange
    // — verified on the executed join plan.) LAZY (r20): stage 1's
    // windows are the first consumer, so the text blocks materialize
    // inside stage 1's stats job instead of a dedicated checkpoint job —
    // at gate scale the cascade is job-count-bound (q112 ratio ~1 at 8
    // vs 32 cores) and this removes one of its fixed jobs.
    val based = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .localCheckpoint(false)
    // Compressed-calibration bytes for the window sizing: the input's
    // own plan stats (parquet-compressed — what SpanKeyExpansion is
    // calibrated against). Token estimates derive from the same figure
    // (~2 compressed bytes per token — see SpanKeyExpansion's scaladoc);
    // the decay only needs order-of-magnitude.
    val baseBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    var acc: DataFrame = null
    var droppedTokens = 0L
    var accRows = 0L
    // The drop accumulator is per-affected-document narrow rows: while it
    // fits the broadcast bound the per-stage replay join is MAP-SIDE over
    // the text checkpoint (no text exchange at all); past the bound it
    // degrades to a shuffle_hash join — text pays one hash exchange per
    // stage, exactly what the pre-r19 per-stage rebuild join paid.
    // The bound is payload-aware (round 19 review): rows carry
    // VARIABLE-LENGTH starts arrays, so a boilerplate-heavy corpus under
    // the row bound could still collect gigabytes to the driver —
    // `droppedTokens` (total start positions, already measured for the
    // sizing decay) charges each start against the same budget at ~1/8
    // the weight of a row.
    def accSide() =
      if (accRows + droppedTokens / 8 <= cascadeBroadcastLimit(spark)) broadcast(acc)
      else acc.hint("shuffle_hash")
    ordered.foreach { k =>
      // stage 1 sizes from the full corpus; later stages decay by the
      // measured drop counts (distinct starts cover distinct positions, so
      // the sum under-counts dropped tokens and the next exchange
      // over-sizes — the safe direction), restoring the AQE-coalescible
      // natural exchange on small tails.
      val parts = partitionsForBytes(spark,
        (baseBytes - BigInt(droppedTokens) * 2).max(BigInt(0)), SpanKeyExpansion)
      // Stage windows: stage 1 windows the checkpointed text directly;
      // later stages REPLAY the accumulated narrow drops against the
      // original tokens and emit the cleaned text's windows in the same
      // kernel pass ([[Kernels]]-style tight loop) — text is read
      // map-side from the one checkpoint, never re-materialized.
      val wins0 =
        if (acc == null)
          based.select(col("id"),
            posexplode(Kernels.allShingles(col("__text"), k)).as(Seq("pos", "w")))
        else
          based.join(accSide(), Seq("id"), "left")
            .select(col("id"),
              posexplode(composeSpanWindows(col("__text"), col("__ks"),
                col("__st"), lit(k))).as(Seq("pos", "w")))
      val drops = dropStartsFromWindows(wins0, minRepeat, parts)
      acc = (if (acc == null)
        drops.select(col("id"),
          array(lit(k)).as("__ks"), array(col("starts")).as("__st"))
      else acc.join(drops, Seq("id"), "full_outer")
        .select(col("id"),
          when(col("starts").isNull, col("__ks"))
            .when(col("__ks").isNull, array(lit(k)))
            .otherwise(concat(col("__ks"), array(lit(k)))).as("__ks"),
          when(col("starts").isNull, col("__st"))
            .when(col("__st").isNull, array(col("starts")))
            .otherwise(concat(col("__st"), array(col("starts")))).as("__st")))
        // LAZY (r20): the stats aggregate below is the stage's first
        // action, so it materializes the drop accumulator's blocks AND
        // delivers the budget numbers in ONE job — the eager form paid a
        // dedicated checkpoint job plus the aggregate per stage.
        .localCheckpoint(false)
      // one narrow job that BOTH materializes the stage checkpoint and
      // feeds the broadcast-vs-shuffle choice + the next stage's sizing decay
      val r = acc.agg(count(lit(1)), sum(size(flatten(col("__st"))))).collect()(0)
      accRows = r.getLong(0)
      droppedTokens = if (r.isNullAt(1)) 0L else r.getLong(1)
    }
    // Final rebuild: one lazy pass over the two checkpoints (the same
    // two-projection select shape as removeSpansStage — CollapseProject
    // does not duplicate the non-cheap kernel into the field extracts).
    based.join(accSide(), Seq("id"), "left")
      .select(col("id"),
        composeSpanStages(col("__text"), col("__ks"), col("__st")).as("r"))
      .select(col("id"), col("r._1").as("clean_text"),
        col("r._2").as("n_removed"))
  }

  /** Budget for broadcasting the cascade's per-document drop accumulator
    * (default 4M — the same order as [[contractBroadcastLimit]]);
    * session-configurable so deployments size it to executor memory.
    * Charged as rows + total_starts/8 (the starts arrays are the
    * variable-length part of the payload). Past it the replay joins
    * degrade to shuffle_hash — one text exchange per stage, the pre-r19
    * cost. */
  private[graft] def cascadeBroadcastLimit(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.cascade.broadcastDocs").map(_.toLong)
      .getOrElse(4000000L)

  /** Fused cascade-stage windowing kernel: replay the accumulated drop
    * starts against the original tokens (the [[composeSpanStages]]
    * semantics) and emit the CLEANED text's k-windows directly — one
    * tokenize per stage, no intermediate cleaned-text materialization,
    * and the same short-doc semantics as [[Kernels.allShingles]] (one
    * whole-doc window when fewer than k tokens survive). */
  private lazy val composeSpanWindows = udf {
    (text: String, ks: Seq[Int], starts: Seq[Seq[Int]], k: Int) =>
      val toks = applySpanDrops(text, ks, starts)._1
      Kernels.windowsOf(toks, toks.length, k)
  }

  /** Cascade compose kernel: replay the accumulated per-stage drop
    * starts (in application order — descending k) against the ORIGINAL
    * document text. Each stage re-tokenizes the survivors of the
    * previous one, so this is exactly the sequential [[rebuildSpans]]
    * composition; `win = min(k, current length)` reproduces the
    * whole-doc window of short documents at every stage. Returns
    * (clean_text, total tokens dropped) — whitespace-normalized for
    * every document, drops or not. */
  private lazy val composeSpanStages = udf {
    (text: String, ks: Seq[Int], starts: Seq[Seq[Int]]) =>
      val (toks, n0) = applySpanDrops(text, ks, starts)
      (toks.mkString(" "), (n0 - toks.length).toLong)
  }

  /** Shared replay loop behind [[composeSpanStages]] and
    * [[composeSpanWindows]]: tokenize, then apply each stage's drop
    * starts in order, each against the SURVIVORS of the previous stage
    * (`win = min(k, current length)` — the whole-doc window of short
    * documents at every stage, exactly the sequential [[rebuildSpans]]
    * composition). Returns (surviving tokens, original token count). */
  private def applySpanDrops(
      text: String, ks: Seq[Int], starts: Seq[Seq[Int]]): (Array[String], Int) = {
    val raw = if (text == null) Array.empty[String] else text.split(" ", -1)
    var toks: Array[String] = raw.filter(_.nonEmpty)
    val n0 = toks.length
    if (ks != null && ks.nonEmpty) {
      var si = 0
      while (si < ks.length) {
        val st = starts(si)
        if (st != null && st.nonEmpty && toks.length > 0) {
          val win = math.min(ks(si), toks.length)
          val covered = new Array[Boolean](toks.length)
          st.foreach { s =>
            var i = s
            val end = math.min(s + win, toks.length)
            while (i < end) { covered(i) = true; i += 1 }
          }
          val kept = new Array[String](toks.length)
          var nk = 0
          var i = 0
          while (i < toks.length) {
            if (!covered(i)) { kept(nk) = toks(i); nk += 1 }
            i += 1
          }
          toks = java.util.Arrays.copyOf(kept, nk)
        }
        si += 1
      }
    }
    (toks, n0)
  }
}
