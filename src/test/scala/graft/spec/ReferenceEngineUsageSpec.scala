package graft.spec

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** The reference's engine-usage-stats scenarios executed verbatim
  * (`tests/feature/test_engine_usage_stats.py`): load_data (simple acon +
  * custom transformer over a provided DataFrame), manage_table and
  * execute_dq_validation each record one usage JSON under
  * `{logs}/{dp_name}/{year}/{month}/`, golden-compared against the
  * reference control records with the same normalization its driver
  * applies — start_timestamp and engine_version ignored, runtime-object
  * reprs (the provided DataFrame, the custom transformer function)
  * scrubbed. */
class ReferenceEngineUsageSpec extends SparkSpec with ReferenceHarness {

  private val res = s"$refRoot/engine_usage_stats"
  private lazy val logs = tmpDir("ref-usage-logs")

  private def usage[A](body: => A): A =
    withConf("spark.graft.engineDevUsagePath" -> logs)(body)

  /** Normalize one usage record for comparison: drop the volatile
    * metadata and scrub runtime-object reprs, as the reference's
    * `_prepare_df_comparison` does. */
  private def normalize(json: String): Map[String, Any] = {
    val scrubbed = json
      .replaceAll("DataFrame\\[[^\\]]*\\]", "<df>")
      .replaceAll("<function [^\"]*", "<fn>")
      .replaceAll("\"custom_transformation\"(?=\\})", "\"<fn>\"")
    // year/month derive from start_timestamp, which is already excluded
    // (the reference driver compares only the acon record)
    Specs.parseJsonMap(scrubbed) --
      Seq("start_timestamp", "engine_version", "year", "month")
  }

  private def assertMatchesControl(scenario: String, tmp: String): Unit = {
    val now = java.time.LocalDateTime.now()
    val dir = Paths.get(s"$logs/$scenario/${now.getYear}/${now.getMonthValue}")
    val files = Files.list(dir).toArray.map(_.toString).sorted
    assert(files.nonEmpty, s"no usage record under $dir")
    val recorded = Specs.parseJsonMap(Files.readString(Paths.get(files.last)))
    assert(recorded.contains("start_timestamp") &&
      recorded.contains("engine_version"))
    val control = Files.readString(
      Paths.get(s"$res/$scenario/data/control.json"))
      .replace("/app/tests/lakehouse", tmp)
    assert(normalize(Specs.renderJson(recorded)) == normalize(control),
      s"usage record mismatch for $scenario:\n" +
        s"got:  ${normalize(Specs.renderJson(recorded))}\n" +
        s"want: ${normalize(control)}")
  }

  test("engine usage: load_data with a simple acon records verbatim") { usage {
    val scenario = "load_simple_acon"
    assume(new java.io.File(s"$res/$scenario/data").isDirectory,
      s"missing $res/$scenario/data")
    val tmp = tmpDir("ref-usage")
    val in = s"$tmp/in/feature/engine_usage_stats/$scenario/data/"
    Files.createDirectories(Paths.get(in))
    copyIn(s"$res/$scenario/data/source.csv", in)
    val acon = s"""{
      |"input_specs": [{"spec_id": "sales_source", "read_type": "batch",
      |  "data_format": "csv",
      |  "options": {"mode": "FAILFAST", "header": true, "delimiter": "|",
      |    "password": "dummy_password"},
      |  "location": "$in"}],
      |"transform_specs": [{"spec_id": "renamed_kpi",
      |  "input_id": "sales_source",
      |  "transformers": [{"function": "rename",
      |    "args": {"cols": {"salesorder": "salesorder1"}}}]}],
      |"output_specs": [{"spec_id": "sales_bronze", "input_id": "renamed_kpi",
      |  "write_type": "overwrite", "data_format": "delta",
      |  "location": "$tmp/out/feature/engine_usage_stats/$scenario/data/"}],
      |"exec_env": {"dp_name": "$scenario"}}""".stripMargin
    graft.Engine.loadData(spark, acon, collectEngineUsage = "enabled")
    assertMatchesControl(scenario, tmp)
  }}

  test("engine usage: load_data with custom transformer + df records verbatim") {
    usage {
      val scenario = "load_custom_transf_and_df"
      assume(new java.io.File(s"$res/$scenario/data").isDirectory,
        s"missing $res/$scenario/data")
      val tmp = tmpDir("ref-usage")
      val in = s"$tmp/in/feature/engine_usage_stats/$scenario/data/"
      Files.createDirectories(Paths.get(in))
      copyIn(s"$res/$scenario/data/source.csv", in)
      val df = spark.read
        .options(Map("header" -> "true", "inferSchema" -> "true",
          "delimiter" -> "|")).csv(in)
      val acon = s"""{
        |"input_specs": [{"spec_id": "sales_source", "read_type": "batch",
        |  "data_format": "dataframe", "df_name": "DataFrame[provided]"}],
        |"transform_specs": [{"spec_id": "renamed_kpi",
        |  "input_id": "sales_source",
        |  "transformers": [
        |    {"function": "rename",
        |     "args": {"cols": {"salesorder": "salesorder1"}}},
        |    {"function": "custom_transformation",
        |     "args": {"custom_transformer": "custom_transformation"}}]}],
        |"output_specs": [{"spec_id": "sales_bronze", "input_id": "renamed_kpi",
        |  "write_type": "overwrite", "data_format": "delta",
        |  "location": "$tmp/out/feature/engine_usage_stats/$scenario/data/"}],
        |"exec_env": {"dp_name": "$scenario"}}""".stripMargin
      graft.Engine.loadData(spark, acon,
        dfs = Map("DataFrame[provided]" -> df),
        customFns = Map("custom_transformation" ->
          ((d: org.apache.spark.sql.DataFrame) =>
            d.withColumn("new_column", org.apache.spark.sql.functions.lit("literal")))),
        collectEngineUsage = "enabled")
      assertMatchesControl(scenario, tmp)
    }
  }

  test("engine usage: manage_table records verbatim") { usage {
    val scenario = "table_manager"
    assume(new java.io.File(s"$res/$scenario/data").isDirectory,
      s"missing $res/$scenario/data")
    graft.Engine.manageTable(spark,
      """{"function": "execute_sql", "sql": "select 1",
        |"exec_env": {"dp_name": "table_manager"}}""".stripMargin,
      collectEngineUsage = "enabled")
    assertMatchesControl(scenario, "unused")
  }}

  test("engine usage: execute_dq_validation records verbatim") { usage {
    val scenario = "dq_validator"
    assume(new java.io.File(s"$res/$scenario/data").isDirectory,
      s"missing $res/$scenario/data")
    ensureTestDb()
    val tmp = tmpDir("ref-usage")
    val in = s"$tmp/in/feature/engine_usage_stats/$scenario/data/"
    Files.createDirectories(Paths.get(in))
    copyIn(s"$res/$scenario/data/source.csv", in)
    val acon = s"""{
      |"input_spec": {"spec_id": "sales_source", "read_type": "batch",
      |  "data_format": "csv",
      |  "options": {"mode": "FAILFAST", "header": true, "delimiter": "|"},
      |  "location": "$in"},
      |"dq_spec": {"spec_id": "dq_sales", "input_id": "sales_source",
      |  "dq_type": "validator", "store_backend": "file_system",
      |  "local_fs_root_dir": "$tmp/out/feature/engine_usage_stats/dq",
      |  "result_sink_db_table": "test_db.dq_validator",
      |  "result_sink_format": "json", "result_sink_explode": false,
      |  "dq_functions": [
      |    {"function": "expect_column_to_exist", "args": {"column": "article"}},
      |    {"function": "expect_table_row_count_to_be_between",
      |     "args": {"min_value": 3, "max_value": 11}},
      |    {"function": "expect_column_pair_a_to_be_smaller_or_equal_than_b",
      |     "args": {"column_A": "salesorder", "column_B": "amount"}}]},
      |"exec_env": {"dp_name": "dq_validator"}}""".stripMargin
    try graft.Engine.executeDqValidation(spark, acon, collectEngineUsage = "enabled")
    finally spark.sql("DROP TABLE IF EXISTS test_db.dq_validator")
    assertMatchesControl(scenario, tmp)
  }}
}
