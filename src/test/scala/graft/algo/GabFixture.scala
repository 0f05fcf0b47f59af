package graft.algo

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** An inline GAB config-table fixture for the run loop
  * ([[GabChoreography]]): a database holding a generated `dim_calendar`,
  * a one-row `lkp_query_builder`, empty `gab_use_case_results` and
  * `gab_log_events` tables and a `sales` source (`d`, `grp`, `v`), plus
  * one templated stage file that sums `v` by `grp` per cadence period.
  * Every table is a parquet table at `<base>/<name>`. */
object GabFixture {

  val QueryId = 7
  val Label = "sales_uc"

  /** The five sales rows the loop tests share: group A sums to 3/4/16 in
    * Jan/Feb/Mar 2024, group B to 8 in Feb. */
  val Sales: Seq[(String, String, Double)] = Seq(
    ("2024-01-05", "A", 1.0), ("2024-01-20", "A", 2.0), ("2024-02-10", "A", 4.0),
    ("2024-02-20", "B", 8.0), ("2024-03-15", "A", 16.0))

  val StageSql: String =
    """SELECT {{ project_date_column }} AS from_date, {{ to_date }} AS to_date,
      |  {{ cadence }}, grp, SUM(v) AS total
      |FROM {{ database }}.sales {{ joins }}
      |WHERE {{ filter_date_column }} >= '{{ start_date }}'
      |  AND {{ filter_date_column }} < '{{ end_date }}'
      |GROUP BY 1, 2, grp""".stripMargin

  /** One view, `vw_sales`: `grp` as `d1`, `total` as `m1`, its previous
    * period, a 3-period window sum and a doubled derived metric. */
  val Mappings: String =
    """{'vw_sales': {
      |  'dimensions': {'from_date': 'from_date', 'to_date': 'to_date', 'd1': 'grp'},
      |  'metric': {'m1': {'metric_name': 'total',
      |    'calculated_metric': {
      |      'last_cadence': [{'label': 'total_last', 'window': '1'}],
      |      'window_function': [{'label': 'total_3_1', 'window': [3, 1], 'agg_func': 'sum'}]},
      |    'derived_metric': [{'label': 'total_x2', 'formula': 'total * 2'}]}}}}""".stripMargin

  private val ResultsDdl = "query_id INT, cadence STRING, from_date DATE, to_date DATE, " +
    (1 to 40).map(i => s"d$i STRING").mkString(", ") + ", " +
    (1 to 40).map(i => s"m$i DOUBLE").mkString(", ") + ", lh_created_on TIMESTAMP"

  private val LogDdl = "run_start_time TIMESTAMP, run_end_time TIMESTAMP, " +
    "start_date TIMESTAMP, end_date TIMESTAMP, query_id STRING, query_label STRING, " +
    "cadence STRING, stage_name STRING, stage_query STRING, status STRING, error_message STRING"

  def location(base: String, table: String): String = s"$base/$table"

  private def emptyTable(spark: SparkSession, db: String, base: String,
      name: String, ddl: String): Unit = {
    spark.createDataFrame(java.util.List.of[Row](), StructType.fromDDL(ddl))
      .write.parquet(location(base, name))
    spark.sql(s"CREATE TABLE $db.$name ($ddl) USING parquet " +
      s"LOCATION '${location(base, name)}'")
  }

  /** (Re)create the database `db` with every fixture table under `base`.
    * `reconWindow` is the use case's `recon_window` cell. */
  def create(spark: SparkSession, db: String, base: String, reconWindow: String,
      startOfWeek: String = "M", storageLevel: String = "MEMORY_ONLY"): Unit = {
    import spark.implicits._
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(
      """SELECT explode(sequence(DATE'2023-12-01', DATE'2024-12-31')) AS calendar_date""")
      .selectExpr("calendar_date",
        "date(date_trunc('WEEK', calendar_date)) AS weekstart_mon",
        "date_add(date(date_trunc('WEEK', calendar_date)), 6) AS weekend_mon",
        "date_sub(calendar_date, dayofweek(calendar_date) - 1) AS weekstart_sun",
        "date_add(date_sub(calendar_date, dayofweek(calendar_date) - 1), 6) AS weekend_sun",
        "date(date_trunc('MONTH', calendar_date)) AS month_start",
        "last_day(calendar_date) AS month_end",
        "date(date_trunc('QUARTER', calendar_date)) AS quarter_start",
        "date_sub(add_months(date(date_trunc('QUARTER', calendar_date)), 3), 1) AS quarter_end",
        "date(date_trunc('YEAR', calendar_date)) AS year_start",
        "date_sub(add_months(date(date_trunc('YEAR', calendar_date)), 12), 1) AS year_end")
      .write.option("path", location(base, "dim_calendar")).saveAsTable(s"$db.dim_calendar")
    val stages =
      s"""{'1': {'file_path': 'sales/1_sales.sql', 'table_alias': 'sales_stage',
         |  'storage_level': '$storageLevel', 'project_date_column': 'd',
         |  'filter_date_column': 'd', 'repartition': {}}}""".stripMargin
    Seq((QueryId, Label, "GLOBAL", Mappings, stages, reconWindow, "0", startOfWeek,
        "Y", "q1", java.sql.Timestamp.valueOf("2024-06-01 00:00:00")))
      .toDF("query_id", "query_label", "query_type", "mappings", "intermediate_stages",
        "recon_window", "timezone_offset", "start_of_the_week", "is_active", "queue",
        "lh_created_on")
      .write.option("path", location(base, "lkp_query_builder"))
      .saveAsTable(s"$db.lkp_query_builder")
    emptyTable(spark, db, base, "gab_use_case_results", ResultsDdl)
    emptyTable(spark, db, base, "gab_log_events", LogDdl)
    writeSales(spark, db, base, Sales)
    val dir = java.nio.file.Paths.get(base, "usecases", "sales")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("1_sales.sql"), StageSql)
  }

  /** Replace the `sales` source with `rows`. */
  def writeSales(spark: SparkSession, db: String, base: String,
      rows: Seq[(String, String, Double)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("d", "grp", "v").selectExpr("CAST(d AS DATE) AS d", "grp", "v")
    if (!spark.catalog.tableExists(s"$db.sales"))
      df.write.option("path", location(base, "sales")).saveAsTable(s"$db.sales")
    else {
      df.write.mode("overwrite").parquet(location(base, "sales"))
      spark.catalog.refreshTable(s"$db.sales")
    }
  }

  /** The reference-shaped ACON of one run over [start, end]. */
  def acon(db: String, base: String, start: String, end: String,
      rerun: String = "N"): String =
    s"""{"query_label_filter": ["$Label"], "queue_filter": ["q1"],
       |"cadence_filter": ["All"], "target_database": "$db",
       |"start_date": "$start", "end_date": "$end", "rerun_flag": "$rerun",
       |"target_table": "gab_use_case_results", "source_database": "$db",
       |"gab_base_path": "$base/usecases/", "lookup_table": "lkp_query_builder",
       |"calendar_table": "dim_calendar"}""".stripMargin

  /** The results table as (cadence, from_date, to_date, d1) -> m1. */
  def results(spark: SparkSession, db: String): Map[(String, String, String, String), Double] = {
    import spark.implicits._
    spark.table(s"$db.gab_use_case_results")
      .selectExpr("cadence", "CAST(from_date AS STRING)", "CAST(to_date AS STRING)", "d1", "m1")
      .as[(String, String, String, String, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._4) -> r._5).toMap
  }

  /** The log table as (cadence, stage_name, status) rows, sorted. */
  def logRows(spark: SparkSession, db: String): Seq[(String, String, String)] = {
    import spark.implicits._
    spark.table(s"$db.gab_log_events").selectExpr("cadence", "stage_name", "status")
      .as[(String, String, String)].collect().toSeq.sorted
  }
}
