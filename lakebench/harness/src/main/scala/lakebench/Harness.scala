package lakebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The benchmark client: one process, one closed loop on local[4].
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <input dir> <work dir> <result file>
  *
  * Reaches the engine only through its public entry points
  * (`QueryCatalog.all`, `Engine.loadData`, the `DataLoader` steps). Writes
  * one JSON result; the Python wrapper turns it into metrics.
  */
object Harness {
  val Cores = 4

  /** Writes the result file and the oracle list. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Conditions under which a run would measure a different program than
    * the committed one; each is a reason to refuse the run. */
  def refusals(env: Map[String, String], jvmArgs: Seq[String]): Seq[String] =
    env.get("SPARK_GRAFT_EXTRA_CONFS").filter(_.trim.nonEmpty)
      .map(v => s"SPARK_GRAFT_EXTRA_CONFS is set ($v): it overrides engine confs").toSeq ++
      (if (jvmArgs.contains("-XX:ReservedCodeCacheSize=512m")) Nil
       else Seq("the JVM lacks -XX:ReservedCodeCacheSize=512m, which the engine build requires"))

  /** Bytes the block manager holds for cached or checkpointed data. */
  def retainedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Drop every cached table and persistent RDD, so the next operation
    * starts from the same state as the first. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum else f.length

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Code-cache pools and whether any ended full: a full code cache stops
    * the JIT, and the run no longer measures compiled code. */
  def codeCache(): (Seq[Map[String, Any]], Boolean) = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("CodeHeap")).toSeq
    val rows = pools.map { p =>
      val u = p.getUsage
      Map("pool" -> p.getName, "used_mb" -> u.getUsed / 1048576.0, "max_mb" -> u.getMax / 1048576.0)
    }
    (rows, pools.exists { p => val u = p.getUsage; u.getMax > 0 && u.getUsed >= 0.98 * u.getMax })
  }

  final case class Sample(op: String, iteration: Int, seconds: Double, ok: Boolean,
      retained: Long)

  def main(argv: Array[String]): Unit = {
    val Array(workloadName, seedS, secondsS, traceS, inputDir, work, resultFile) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traceMode = traceS == "1"
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val refused = refusals(sys.env, jvmArgs)
    if (refused.nonEmpty) {
      refused.foreach(r => System.err.println(s"lakebench: refusing to run: $r"))
      sys.exit(3)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.exec.ExecEnv.getOrCreate(
      appName = "lakebench", master = Some(s"local[$Cores]"),
      confs = Map(
        "spark.sql.shuffle.partitions" -> Cores.toString,
        "spark.ui.enabled" -> "false",
        "spark.local.dir" -> s"$work/spark-local",
        "spark.sql.warehouse.dir" -> s"$work/warehouse"))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark.sparkContext)
    val workload: Workload = workloadName match {
      case "catalog_sf01" => new QueryWorkload(spark, tracer, s"$inputDir/catalog",
        s"$inputDir/catalog_check", work, QueryWorkload.catalogPanel, seed)
      case "curation_x10" => new QueryWorkload(spark, tracer, s"$inputDir/curation",
        s"$inputDir/curation_check", work, QueryWorkload.curation, seed)
      case "acon_upsert" => new AconWorkload(spark, tracer, s"$inputDir/acon",
        s"$inputDir/acon_check", work,
        new File(s"$inputDir/acon").list().count(_.startsWith("cdc_")))
      case other => sys.error(s"unknown workload $other")
    }

    // A traced run traces the warm-up too: threads it starts inherit the
    // span, so a job one of them launches late is still attributed.
    tracer.tracing = traceMode
    val (warmAttempted, warmFailures) =
      tracer.span(Layers.WarmUp, s"$workloadName/$seed/${Layers.WarmUp}")(workload.warm())
    release(spark)

    // ---- timed closed loop: the next operation starts when the last returns
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val failures = scala.collection.mutable.ArrayBuffer.from(warmFailures)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val before = tracer.snapshot()
    val gc0 = gcMs
    heapPools.foreach(_.resetPeakUsage())
    val loopStart = System.nanoTime()
    var it = 0
    while (it == 0 || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      workload.iteration(it).foreach { op =>
        val t0 = System.nanoTime()
        val ok =
          try { tracer.span(op.name, s"$workloadName/$seed/$it/${op.name}")(op.run()); true }
          catch {
            case scala.util.control.NonFatal(e) =>
              failures += (op.name -> e.toString)
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        tracer.drain()
        val retained = retainedBytes(spark)
        release(spark)
        workload.afterOp(it, op)
        samples += Sample(op.name, it, dt, ok, retained)
      }
      it += 1
    }
    tracer.drain()
    tracer.tracing = false
    val timed = tracer.snapshot() - before
    val gcS = (gcMs - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val (codeCachePools, codeCacheFull) = codeCache()

    val (checked, wrong) = workload.check()
    val extra = workload.extra(it, timed)
    val layers = if (traceMode) Layers.perLayer(tracer, samples.toSeq, extra, gcS, heapPeakMb)
      else Map.empty[String, Double]
    val spans = if (traceMode) Layers.spansJson(tracer) else Nil

    val result = ListMap(
      "workload" -> workloadName,
      "seed" -> seed,
      "trace" -> traceMode,
      "identity" -> Map(
        "cores" -> Cores, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "forcing" -> "noop", "spark" -> spark.version,
        "java" -> System.getProperty("java.version")),
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "samples" -> samples.map(s => Map("op" -> s.op, "iteration" -> s.iteration,
        "seconds" -> s.seconds, "ok" -> s.ok, "retained_block_bytes" -> s.retained)),
      "iterations" -> it,
      "attempted" -> (warmAttempted + samples.size),
      "failures" -> failures.map { case (op, e) => Map("op" -> op, "error" -> e) },
      "harness_checked" -> checked,
      "harness_wrong" -> wrong,
      "timed_counters" -> timed.toMap,
      "unattributed_jobs" -> tracer.unattributedJobs,
      "unattributed_call_sites" -> tracer.unattributedCallSites,
      "extra" -> extra,
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb,
        "code_cache" -> codeCachePools, "code_cache_full" -> codeCacheFull),
      "per_layer" -> layers,
      "spans" -> spans)
    json.writeValue(new File(resultFile), result)
    spark.stop()
  }
}
