package graft.spec

import graft.SparkSpec
import graft.algo.GabChoreography

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The reference's GAB feature scenarios executed verbatim
  * (`tests/feature/test_gab.py`): the reference's own
  * `lkp_query_builder.csv` configuration, stage SQL templates, calendar
  * build and source fixtures drive [[GabChoreography]], and every
  * resulting consumption view is golden-compared against
  * `tests/resources/feature/gab/control`. */
class ReferenceGabSpec extends SparkSpec with ReferenceHarness {

  private val gabRes = s"$refRoot/gab"
  private lazy val tmpRoot = tmpDir("ref-gab")

  /** ANSI off: the reference ran on pre-ANSI Spark, and the GAB SQL
    * relies on lenient string/date/interval coercions throughout. */
  private def gabConf[A](body: => A): A =
    withConf("spark.sql.ansi.enabled" -> "false")(body)

  // ---- setup: tables + fixtures (test_gab.py:43-263) -----------------

  private def colListSchema(file: String): StructType = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(file)))
    val fields = node.properties().iterator()
    val b = Seq.newBuilder[StructField]
    while (fields.hasNext) {
      val e = fields.next()
      val dt = e.getValue.asText() match {
        case "string" => StringType
        case "timestamp" => TimestampType
        case "date" => DateType
        case "int" => IntegerType
        case "bigint" => LongType
        case "double" => DoubleType
        case "decimal" => DecimalType(10, 0)
        case other => throw new IllegalArgumentException(other)
      }
      b += StructField(e.getKey, dt)
    }
    StructType(b.result())
  }

  private def tableLoc(name: String) = s"$tmpRoot/tables/$name"

  /** `DataframeHelpers.create_delta_table`: an empty table with the
    * column_list schema (parquet-backed here — no Delta jars). */
  private def createGabTable(name: String, colList: String): Unit = {
    val schema = colListSchema(s"$gabRes/setup/column_list/$colList.json")
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .write.mode("overwrite").parquet(tableLoc(name))
    spark.sql(s"DROP TABLE IF EXISTS test_db.$name")
    spark.sql(s"CREATE TABLE test_db.$name (${schema.toDDL}) " +
      s"USING parquet LOCATION '${tableLoc(name)}'")
  }

  /** `_feed_table_with_test_data`: csv with declared schema, `|`
    * delimiter, FAILFAST, nullValue `null`, overwritten into the table. */
  private def feedFromCsv(table: String, schemaFile: String, csv: String): Unit = {
    val schema = DataType.fromJson(Files.readString(Paths.get(schemaFile)))
      .asInstanceOf[StructType]
    val df = spark.read.schema(schema)
      .options(Map("header" -> "true", "delimiter" -> "|",
        "mode" -> "FAILFAST", "nullValue" -> "null"))
      .csv(csv)
    overwriteTable(table, df)
  }

  private def overwriteTable(table: String, df: DataFrame): Unit = {
    val target = spark.table(s"test_db.$table").schema
    val aligned = df.select(target.map(f =>
      if (df.columns.exists(_.equalsIgnoreCase(f.name)))
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)): _*)
    aligned.write.mode("overwrite").parquet(tableLoc(table))
    spark.catalog.refreshTable(s"test_db.$table")
  }

  /** `_feed_dim_calendar` (test_gab.py:80-140): the dates 2016-01-02 ..
    * 2022-12-31 decorated with ISO-week (Monday) bounds via a
    * MIN-over-week-partition window, Sunday-week bounds via LEAD, and
    * month/quarter/year bounds. */
  private def buildCalendar(): Unit = {
    import spark.implicits._
    val dates = Iterator.iterate(java.time.LocalDate.of(2016, 1, 2))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.of(2022, 12, 31)))
      .map(_.toString).toSeq
    dates.toDF("value").createOrReplaceTempView("dates_completed")
    val cal = spark.sql(
      """WITH base AS (
        |  SELECT to_date(value, 'yyyy-MM-dd') AS calendar_date FROM dates_completed
        |), mon AS (
        |  SELECT calendar_date,
        |    WEEKOFYEAR(calendar_date) AS weeknum_mon,
        |    DATE_FORMAT(calendar_date, 'E') AS day_en,
        |    MIN(calendar_date) OVER (
        |      PARTITION BY CONCAT(DATE_PART('YEAROFWEEK', calendar_date),
        |                          WEEKOFYEAR(calendar_date))
        |      ORDER BY calendar_date) AS weekstart_mon
        |  FROM base
        |), led AS (
        |  SELECT mon.*,
        |    LEAD(weekstart_mon - 1) OVER (ORDER BY calendar_date) AS weekstart_sun,
        |    DATE(DATE_TRUNC('MONTH', calendar_date)) AS month_start,
        |    DATE(DATE_TRUNC('QUARTER', calendar_date)) AS quarter_start,
        |    DATE(DATE_TRUNC('YEAR', calendar_date)) AS year_start
        |  FROM mon
        |)
        |SELECT calendar_date, day_en, weeknum_mon, weekstart_mon,
        |  weekstart_mon + 6 AS weekend_mon,
        |  weekstart_sun, weekstart_sun + 6 AS weekend_sun,
        |  month_start, add_months(month_start, 1) - 1 AS month_end,
        |  quarter_start, ADD_MONTHS(quarter_start, 3) - 1 AS quarter_end,
        |  year_start, ADD_MONTHS(year_start, 12) - 1 AS year_end
        |FROM led""".stripMargin)
    overwriteTable("dim_calendar", cal)
  }

  private lazy val setup: Unit = gabConf {
    ensureTestDb()
    Seq("dim_calendar" -> "calendar", "lkp_query_builder" -> "lkp_query_builder",
      "gab_use_case_results" -> "gab_use_case_results",
      "gab_log_events" -> "gab_log_events",
      "order_events" -> "order_events",
      "dummy_sales_kpi" -> "dummy_sales_kpi")
      .foreach { case (t, cl) => createGabTable(t, cl) }
    feedFromCsv("lkp_query_builder",
      s"$gabRes/setup/schema/lkp_query_builder.json",
      s"$gabRes/setup/data/lkp_query_builder.csv")
    buildCalendar()
    feedFromCsv("order_events",
      s"$gabRes/setup/schema/order_events.json",
      s"$gabRes/setup/data/order_events.csv")
    feedFromCsv("dummy_sales_kpi",
      s"$gabRes/setup/schema/dummy_sales_kpi.json",
      s"$gabRes/setup/data/dummy_sales_kpi.csv")
    // `_import_use_case_sql`: stage files under the lakehouse-in root
    Seq("order_events" -> Seq("1_order_events.sql"),
      "dummy_sales_kpi" -> Seq("1_article_category.sql", "2_dummy_sales_kpi.sql"))
      .foreach { case (uc, files) =>
        files.foreach(f => copyIn(s"$gabRes/usecases/$uc/$f",
          s"$tmpRoot/in/feature/gab/usecases_sql/$uc/"))
      }
  }

  // ---- scenario driver (test_gab.py:266-409) -------------------------

  private def runScenario(useCaseStages: String, name: String): GabChoreography.RunLog = {
    // before `setup`, which reads the fixtures
    assume(new java.io.File(gabRes).isDirectory, s"missing $gabRes")
    gabConf {
      setup
      val acon = Files.readString(Paths.get(
          s"$gabRes/usecases/$useCaseStages/scenario/$name.json"))
        .replace("/app/tests/lakehouse", tmpRoot)
      GabChoreography.execute(spark,
        GabChoreography.specFromAcon(acon, LocalDateTime.of(2026, 1, 1, 0, 0)))
    }
  }

  private def assertGoldAssets(assets: Seq[String], schemaName: String): Unit =
    gabConf {
      val schemaJson = Files.readString(Paths.get(
        s"$gabRes/control/schema/$schemaName.json"))
      assets.foreach { asset =>
        val result = spark.sql(s"SELECT * FROM test_db.$asset")
        val control = readControlCsv(s"$gabRes/control/data/$asset.csv",
          Some(schemaJson))
        assertNoDiffRef(result, control)
      }
    }

  test("reference gab order_events runs verbatim (all cadences, recon windows, metrics)") {
    runScenario("order_events", "order_events")
    assertGoldAssets(Seq("vw_orders_all", "vw_orders_filtered"), "vw_orders")
  }

  test("reference gab order_events_snapshot runs verbatim (snapshot recon)") {
    runScenario("order_events", "order_events_snapshot")
    assertGoldAssets(Seq("vw_orders_all_snapshot", "vw_orders_filtered_snapshot"),
      "vw_orders")
  }

  test("reference gab order_events_nam runs verbatim (NAM query type)") {
    runScenario("order_events", "order_events_nam")
    assertGoldAssets(Seq("vw_nam_orders_all_snapshot", "vw_nam_orders_filtered_snapshot"),
      "vw_orders")
  }

  test("reference gab negative timezone offset runs verbatim") {
    runScenario("order_events", "order_events_negative_timezone_offset")
    assertGoldAssets(Seq("vw_negative_offset_orders_all",
      "vw_negative_offset_orders_filtered"), "vw_orders")
  }

  test("reference gab dummy_sales_kpi runs verbatim (multi-stage chain)") {
    runScenario("dummy_sales_kpi", "dummy_sales_kpi")
    assertGoldAssets(Seq("vw_dummy_sales_kpi"), "vw_dummy_sales_kpi")
  }

  test("reference gab skip: empty reconciliation window") {
    val log = runScenario("order_events", "skip_use_case_by_empty_reconciliation")
    assert(log.text.contains("Skipping use case " +
      "order_events_empty_reconciliation_window. No cadence processed " +
      "for the use case."), log.text)
  }

  test("reference gab skip: empty requested cadence") {
    val log = runScenario("order_events", "skip_use_case_by_empty_requested_cadence")
    assert(log.text.contains("Skipping use case " +
      "order_events_negative_timezone_offset. No cadence processed " +
      "for the use case."), log.text)
  }

  test("reference gab skip: not configured cadence") {
    val log = runScenario("order_events", "skip_use_case_by_not_configured_cadence")
    assert(log.text.contains("Skipping use case " +
      "order_events_negative_timezone_offset. No cadence processed " +
      "for the use case."), log.text)
  }

  test("reference gab skip: unexisting cadence") {
    val log = runScenario("order_events", "skip_use_case_by_unexisting_cadence")
    assert(log.text.contains("Skipping use case " +
      "order_events_unexisting_cadence. No cadence processed " +
      "for the use case."), log.text)
  }
}
