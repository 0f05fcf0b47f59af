package graft.io

import graft.SparkSpec
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._

/** The driver-read parquet schema: the schema Spark's inference job would
  * give, with no job, and Spark's own inference wherever the two could
  * differ. */
class ParquetSchemaSpec extends SparkSpec {

  import spark.implicits._

  /** A Spark-written table partitioned by `(year, region)` whose columns
    * cover nested, decimal and temporal types. */
  private def partitioned(): String = {
    val loc = tmpDir("pq-schema") + "/t"
    (1 to 12).map(i => (i.toLong, s"n$i", BigDecimal(i) / 7, 1990 + i % 3, if (i % 2 == 0) "eu" else "us"))
      .toDF("id", "name", "price", "year", "region")
      .withColumn("price", col("price").cast("decimal(12,4)"))
      .withColumn("day", date_add(to_date(lit("2024-01-01")), col("id").cast("int")))
      .withColumn("at", col("day").cast("timestamp"))
      .withColumn("tags", array(col("name"), lit("x")))
      .withColumn("attrs", struct(col("id").as("k"), map(col("name"), col("price")).as("m")))
      .write.partitionBy("year", "region").parquet(loc)
    loc
  }

  private def loadCounting(paths: Seq[String], options: Map[String, String] = Map.empty) =
    JobCounter.jobs(spark.sparkContext)(ParquetSchema.load(spark, paths, options))

  test("a partitioned table reads Spark's schema without a job") {
    val loc = partitioned()
    val (df, jobs) = loadCounting(Seq(loc))
    assert(jobs.isEmpty, jobs)
    assert(df.schema == spark.read.parquet(loc).schema)
    // set operations reject maps: compare the rows without them
    assertSameRows(df.drop("attrs"), spark.read.parquet(loc).drop("attrs"))
    // a slice of partition dirs under a base path, as a scoped rewrite reads it
    val dirs = Seq(s"$loc/year=1991/region=eu", s"$loc/year=1992/region=us")
    val (slice, sliceJobs) = loadCounting(dirs, Map("basePath" -> loc))
    assert(sliceJobs.isEmpty, sliceJobs)
    val spark0 = spark.read.option("basePath", loc).parquet(dirs: _*)
    assert(slice.schema == spark0.schema)
    assertSameRows(slice.drop("attrs"), spark0.drop("attrs"))
  }

  test("mergeSchema defers to Spark's inference") {
    val loc = tmpDir("pq-merge") + "/t"
    Seq((1L, "a")).toDF("id", "a").write.parquet(s"$loc/p=1")
    Seq((2L, 2.0)).toDF("id", "b").write.parquet(s"$loc/p=2")
    val options = Map("mergeSchema" -> "true")
    assert(ParquetSchema.dataSchema(spark, Seq(loc), options).isEmpty)
    val (df, jobs) = loadCounting(Seq(loc), options)
    assert(jobs.nonEmpty)
    assert(df.schema == spark.read.options(options).parquet(loc).schema)
    assert(df.columns.toSet == Set("id", "a", "b", "p"))
  }

  test("no data file defers to Spark, and Spark's error stays") {
    val empty = tmpDir("pq-empty")
    assert(ParquetSchema.dataSchema(spark, Seq(empty), Map.empty).isEmpty)
    val ours = intercept[org.apache.spark.sql.AnalysisException](
      ParquetSchema.load(spark, Seq(empty)))
    val theirs = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(empty))
    assert(ours.getCondition == theirs.getCondition)
  }
}
