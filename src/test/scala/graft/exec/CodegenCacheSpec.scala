package graft.exec

import graft.SparkSpec
import graft.queries.QueryCatalog
import org.apache.spark.metrics.source.CodegenMetrics

/** Warm queries compile nothing: [[ExecEnv]] sizes Spark's codegen cache
  * to the engine's working set, and the engine's plans generate the same
  * code on every run, so a second run of a query set finds every class in
  * the cache. Compiles are counted with Spark's own codegen metrics, which
  * count every janino compile in the JVM, on the driver and in local tasks.
  *
  * Not pinned here: q91 and q97 can compile again on a later run, because
  * adaptive execution numbers a plan's codegen stages in the order its
  * query stages finish, and the stage id is part of the generated class.
  * Each numbering compiles once and is cached after that. */
class CodegenCacheSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The lakebench catalog panel (every tenth catalog query) plus
    * q81_dq_profile, whose DQ aggregates once generated new code per run. */
  private def panel = QueryCatalog.all.zipWithIndex.collect {
    case (q, i) if i % 10 == 0 || q.name == "q81_dq_profile" => q
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles per query for one run of the panel, each forced with the
    * noop sink as the benchmarks force it. */
  private def run(): Seq[(String, Long)] = panel.map { q =>
    val before = compiles
    q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
    q.name -> (compiles - before)
  }

  test("the engine session carries the codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      ExecEnv.defaultConfs("spark.sql.codegen.cache.maxEntries"))
  }

  test("a second run of the catalog panel compiles no generated class") {
    assume(new java.io.File(sfDir).isDirectory, s"needs the test data at $sfDir")
    assert(panel.size == 13)
    run()
    val second = run()
    assert(second.map(_._2).sum == 0,
      s"recompiled on the second run: ${second.filter(_._2 > 0).mkString(", ")}")
  }
}
