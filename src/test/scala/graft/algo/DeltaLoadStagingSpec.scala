package graft.algo

import graft.{CallCounter, SparkSpec}
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A DQ'd delta load evaluates its validated batch once: the DQ pass
  * stages it, and the result sink, the merge's touched-partition set and
  * the merge itself read that stage. Job counts are pinned with a
  * listener, so a change that re-evaluates the batch shows up as jobs. */
class DeltaLoadStagingSpec extends SparkSpec {

  import spark.implicits._

  private def shipDate(key: Int): String = s"${1992 + key % 7}-0${1 + key % 9}-15"

  /** 200 lineitem-shaped rows; `(l_orderkey, l_linenumber)` is unique. */
  private def writeSource(loc: String): Unit =
    (0 until 200).map(k => (k / 4L, k % 4, (1 + k % 50).toDouble, shipDate(k)))
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .withColumn("l_shipdate", to_date(col("l_shipdate")))
      .write.parquet(loc)

  /** CDC batch `b`: updates and deletes of live keys (one key changed
    * twice), and inserts of new keys in the latest ship year. */
  private def writeCdc(loc: String, b: Int): Unit = {
    val changes = (0 until 30).map { i =>
      val k = i * 6 + b
      (k / 4L, k % 4, (1 + (i + b) % 50).toDouble, shipDate(k),
        if (i % 5 == 0) "D" else "U", 10L * b + 1)
    }
    val repeat = changes.take(2).map(c => c.copy(_3 = 7.0, _5 = "U", _6 = 10L * b + 2))
    val inserts = (0 until 5).map(i =>
      (1000L + 10 * b + i, 0, 3.0, "1998-06-15", "I", 10L * b + 1))
    (changes ++ repeat ++ inserts)
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate", "record_mode", "ext_ts")
      .withColumn("l_shipdate", to_date(col("l_shipdate")))
      .write.parquet(loc)
  }

  private def fullLoadAcon(base: String): String =
    s"""{"input_specs": [{"spec_id": "lineitem", "read_type": "batch",
       |   "data_format": "parquet", "location": "$base/source"}],
       | "transform_specs": [{"spec_id": "shaped", "input_id": "lineitem",
       |   "transformers": [{"function": "with_expressions", "args": {"cols_and_exprs": {
       |     "record_mode": "'I'", "ext_ts": "cast(0 as bigint)",
       |     "ship_year": "year(l_shipdate)"}}}]}],
       | "output_specs": [{"spec_id": "target", "input_id": "shaped",
       |   "write_type": "overwrite", "data_format": "parquet",
       |   "location": "$base/target", "partitions": ["ship_year"]}]}""".stripMargin

  private def deltaAcon(base: String, b: Int): String =
    s"""{"input_specs": [{"spec_id": "cdc", "read_type": "batch",
       |   "data_format": "parquet", "location": "$base/cdc_$b"}],
       | "transform_specs": [{"spec_id": "condensed", "input_id": "cdc",
       |   "transformers": [
       |     {"function": "condense_record_mode_cdc", "args": {
       |       "business_key": ["l_orderkey", "l_linenumber"],
       |       "ranking_key_desc": ["ext_ts"], "record_mode_col": "record_mode",
       |       "valid_record_modes": ["I", "U", "D"]}},
       |     {"function": "with_expressions",
       |      "args": {"cols_and_exprs": {"ship_year": "year(l_shipdate)"}}}]}],
       | "dq_specs": [{"spec_id": "checked", "input_id": "condensed", "dq_type": "validator",
       |   "dq_functions": [
       |     {"function": "expect_column_values_to_not_be_null", "args": {"column": "l_orderkey"}},
       |     {"function": "expect_column_values_to_be_between",
       |      "args": {"column": "l_quantity", "min_value": 1, "max_value": 50}},
       |     {"function": "expect_column_values_to_be_in_set",
       |      "args": {"column": "record_mode", "value_set": ["I", "U", "D"]}},
       |     {"function": "expect_table_row_count_to_be_between", "args": {"min_value": 1}}],
       |   "result_sink": {"spec_id": "dq_results", "input_id": "checked",
       |     "write_type": "append", "data_format": "parquet", "location": "$base/dq_results"}}],
       | "output_specs": [{"spec_id": "target", "input_id": "checked", "write_type": "merge",
       |   "data_format": "parquet", "location": "$base/target", "partitions": ["ship_year"],
       |   "merge_opts": {
       |     "merge_predicate": "current.l_orderkey = new.l_orderkey and current.l_linenumber = new.l_linenumber and current.ship_year = new.ship_year",
       |     "delete_predicate": "new.record_mode = 'D'",
       |     "insert_predicate": "new.record_mode <> 'D'"}}]}""".stripMargin

  /** A loaded target and `batches` CDC batches at a fresh base dir. */
  private def loaded(prefix: String, batches: Int): String = {
    val base = tmpDir(prefix)
    writeSource(s"$base/source")
    (1 to batches).foreach(b => writeCdc(s"$base/cdc_$b", b))
    DataLoader.loadData(spark, fullLoadAcon(base))
    base
  }

  /** Last write wins over the full load and the first `applied` batches. */
  private def expected(base: String, applied: Int): DataFrame = {
    val full = spark.read.parquet(s"$base/source")
      .withColumn("record_mode", lit("I")).withColumn("ext_ts", lit(0L))
    val all = (1 to applied).map(b => spark.read.parquet(s"$base/cdc_$b"))
      .foldLeft(full)(_ unionByName _)
    all.withColumn("rn", row_number().over(
        Window.partitionBy("l_orderkey", "l_linenumber").orderBy(col("ext_ts").desc)))
      .where(col("rn") === 1 && col("record_mode") =!= "D")
      .drop("rn")
      .withColumn("ship_year", year(col("l_shipdate")))
  }

  private def target(base: String, like: DataFrame): DataFrame =
    spark.read.parquet(s"$base/target").select(like.columns.toSeq.map(col): _*)

  private def dataFiles(loc: String): Seq[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(loc))
    try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally walk.close()
  }

  test("a DQ'd CDC merge delta runs in at most 8 Spark jobs and merges correctly") {
    val base = loaded("delta-jobs", 1)
    val (_, jobs) = JobCounter.jobs(spark.sparkContext) {
      DataLoader.loadData(spark, deltaAcon(base, 1))
    }
    info(s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(jobs.size <= 8, jobs.mkString("jobs: ", ", ", ""))
    // every job carries a description an event log can attribute
    assert(!jobs.exists(_.isEmpty), jobs.mkString("jobs: ", ", ", ""))
    // the DQ pass stages the batch; the merge reads that stage as it is
    assert(jobs.contains("dq:checked"), jobs)
    assert(!jobs.exists(_.startsWith("merge-source:")), jobs)
    val want = expected(base, 1)
    assertSameRows(target(base, want), want)
  }

  test("each DQ'd run appends one file to the result sink") {
    val base = loaded("dq-sink-files", 2)
    DataLoader.loadData(spark, deltaAcon(base, 1))
    DataLoader.loadData(spark, deltaAcon(base, 2))
    assert(dataFiles(s"$base/dq_results").size == 2)
    assert(spark.read.parquet(s"$base/dq_results").count() == 8)
    val want = expected(base, 2)
    assertSameRows(target(base, want), want)
  }

  test("a DQ'd load with a nondeterministic column writes exactly the rows its DQ counted") {
    val base = tmpDir("dq-nondeterministic")
    CallCounter.calls.set(0)
    val next = udf(() => CallCounter.calls.incrementAndGet()).asNondeterministic()
    // calls 1..10 on the first evaluation, 11..20 on a second one
    val rows = spark.range(10).repartition(2).withColumn("v", next())
    val acon =
      s"""{"input_specs": [{"spec_id": "rows", "read_type": "batch", "df_name": "rows"}],
         | "dq_specs": [{"spec_id": "checked", "input_id": "rows", "dq_type": "validator",
         |   "fail_on_error": false,
         |   "dq_functions": [{"function": "expect_column_values_to_be_between",
         |     "args": {"column": "v", "min_value": 1, "max_value": 5}}],
         |   "result_sink": {"spec_id": "dq_results", "input_id": "checked",
         |     "write_type": "append", "data_format": "parquet", "location": "$base/dq_results"}}],
         | "output_specs": [{"spec_id": "out", "input_id": "checked", "write_type": "overwrite",
         |   "data_format": "parquet", "location": "$base/out"}]}""".stripMargin
    DataLoader.loadData(spark, acon, dfs = Map("rows" -> rows))
    val counted = spark.read.parquet(s"$base/dq_results")
      .select("element_count", "unexpected_count").as[(Long, Long)].collect().toSeq
    val written = spark.read.parquet(s"$base/out")
    assert(counted == Seq((10L, 5L)))
    assert(written.count() == 10)
    assert(written.where(!col("v").between(1, 5)).count() == 5)
  }
}
