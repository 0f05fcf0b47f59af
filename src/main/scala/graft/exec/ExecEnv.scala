package graft.exec

import org.apache.spark.sql.SparkSession

/** SparkSession management with engine defaults.
  *
  * Capability parity with the reference's execution environment
  * (`lakehouse_engine/core/exec_env.py:54-104`): a single place that
  * creates/fetches the session and applies engine-default confs (AQE on,
  * UTC session timezone). Confs that the running Spark build does not
  * support are skipped silently, mirroring the reference's tolerant
  * conf application (`core/exec_env.py:130-146`).
  *
  * Static confs, among them the codegen cache size, take effect only
  * when [[getOrCreate]] builds the JVM's first session: Spark sizes its
  * codegen cache once per JVM, and a session that already exists keeps
  * the confs it was built with.
  */
object ExecEnv {

  /** Engine-default Spark confs, applied unless the caller overrides. */
  val defaultConfs: Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.exec.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // The driver test data writes event timestamps as parquet
    // INT64(TIMESTAMP(NANOS,...)), which vanilla Spark rejects; read them
    // as nanosecond longs and convert explicitly where needed.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "134217728",
    // RDD-shuffle paths (GraphX connected components) serialize edge/vertex
    // objects; Kryo halves their payload vs Java serialization. SQL/Tungsten
    // paths are unaffected (they use UnsafeRow).
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    // Round 19 (measured — OPTIMIZATION_r19.md): let the planner choose
    // shuffled-hash over sort-merge when its size conditions hold, and let
    // AQE rewrite SMJ->SHJ at runtime when every post-shuffle build
    // partition is under 64 MB. Joins too big to broadcast (full-outer
    // joins, merges of a large source) paid two sorts for joins whose
    // build side fits a partition-local hash map. Suite A/B at sf0.1: untouched-query
    // median ratio 0.92 on a 1.14x-slower-cal window; interleaved min-of-4
    // on the five widest movers showed zero regressions. Scale story: the
    // 64 MB threshold bounds the per-partition build exactly like the
    // advisory partition size bounds a sort buffer, and AQE skew-split
    // applies to SHJ as it does to SMJ — this is the guide's (§3.1/§9)
    // recommended baseline, not a local[32] tune.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
    // Measured (4 cores, Spark's codegen compile counts): the codegen cache
    // holds 100 generated classes by default; the 11 curation queries need
    // ~400 and the whole catalog 1,412, so each query evicted what the next
    // one needed and warm passes recompiled it (curation: 283-391 compiles
    // per timed iteration; catalog: ~2,080 per warm pass). 4000 holds the
    // catalog's working set with 2.8x headroom; warm passes then compile
    // 0-17 classes. Cost over the whole catalog: metaspace 190 -> 204 MB,
    // heap after a full GC 182 -> 187-222 MB. A static conf: see above.
    "spark.sql.codegen.cache.maxEntries" -> "4000"
  )

  /** Ad-hoc conf overrides for A/B measurement (dev only): semicolon-
    * separated `key=value` pairs in SPARK_GRAFT_EXTRA_CONFS, applied LAST
    * so an experiment can flip one knob across every entry point without
    * a code edit. Production behavior is the committed [[defaultConfs]];
    * this hook is empty in the driver's environment. */
  private def envConfs: Map[String, String] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONFS").map(_.split(';').toSeq
      .map(_.trim).filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
      .toMap).getOrElse(Map.empty)

  /** Create (or fetch) the engine SparkSession. */
  def getOrCreate(
      appName: String = "graft",
      master: Option[String] = None,
      confs: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    master.foreach(b.master)
    (defaultConfs ++ confs ++ envConfs).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
