package graft.tools

import graft.queries.QueryCatalog

/** Dev-only: replicate Bench's exact conditions (fresh local[32] session,
  * same warm-up, each query timed cold) for a subset of queries.
  * Args: sfDir names...
  *
  * SPARK_GRAFT_MINOF=N runs each query N times and reports every run plus
  * min/median and each run's Spark job count, followed by the Bench
  * JVM-health snapshot — the host-vs-regression evidence protocol: a
  * min-of-5 back at a previous round's level says "host noise", an
  * elevated min with clean JVM diagnostics says "real regression, go find
  * the change".
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_MINOF", "1").toInt
    val spark = graft.exec.ExecEnv.getOrCreate("bench-one", Some(s"local[$cpus]"),
      Map("spark.sql.shuffle.partitions" -> cpus, "spark.ui.enabled" -> "false"))
    // single-thread CPU calibration (shared with the driver-run Bench, so
    // every BENCH_r{N}.json carries the same host-speed instrument):
    // "min-of-N elevated AND cal elevated by the same ratio" = host;
    // "cal flat, query up" = regression
    println(f"cpu_cal=${graft.Bench.cpuCal()}%.3fs")
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    // forcing matches Bench: noop sink (r20 convention); SPARK_GRAFT_FORCE=count
    // reproduces the pre-r20 count() convention for series comparisons
    val countForce = sys.env.get("SPARK_GRAFT_FORCE").contains("count")
    QueryCatalog.all.filter(q => names.isEmpty || names(q.name)).foreach { q =>
      val times = (1 to repeats).map { _ =>
        val ((sec, n), jobs) = org.apache.spark.JobCounter.jobs(spark.sparkContext) {
          val t0 = System.nanoTime()
          val df = q.run(spark, sfDir)
          val n =
            if (countForce) df.count()
            else { df.write.format("noop").mode("overwrite").save(); -1L }
          ((System.nanoTime() - t0) / 1e9, n)
        }
        (sec, n, jobs.size)
      }
      val secs = times.map(_._1).sorted
      val med = secs(secs.size / 2)
      println(f"== ${q.name}: rows=${times.head._2} min=${secs.head}%.3fs " +
        f"median=$med%.3fs runs=[${times.map(t => f"${t._1}%.2f").mkString(",")}] " +
        s"jobs=[${times.map(_._3).mkString(",")}]")
    }
    println(s"jvm=${graft.Bench.jvmDiag()}")
    spark.stop()
  }
}
