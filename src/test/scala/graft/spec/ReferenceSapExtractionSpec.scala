package graft.spec

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DateType, DecimalType, IntegerType, StringType, StructType, TimestampType}

/** The reference's own SAP B4 / SAP BW extraction scenarios, executed
  * verbatim (`tests/feature/test_extract_from_sap_b4.py`,
  * `test_extract_from_sap_bw.py`). The reference drives them against
  * sqlite; this build has no sqlite jar, so the SAME ACONs (built
  * field-for-field like `_get_test_acon`) run on embedded Derby.
  *
  * Dialect rebasing beyond the URL+driver swap (all documented, none
  * semantic): tables are pre-created with uppercase-normalized column
  * names (Derby, like HANA, uppercases unquoted identifiers — the
  * reference's generated SQL mixes unquoted cases and relies on sqlite's
  * case-insensitivity), strings become VARCHAR (Derby CLOBs reject
  * comparison/UPPER), and `rspmrequest.last_process_tsn` is typed
  * DECIMAL(23,0) so the custom join condition's reqtsn comparison is
  * typed (sqlite compares across types; Derby does not — the values are
  * the same 23-digit numbers either way).
  */
class ReferenceSapExtractionSpec extends SparkSpec with ReferenceHarness {

  private val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  // ---- fixture plumbing (DataframeHelpers equivalents) -----------------

  private def readFixtureCsv(csv: String, schemaJson: String): DataFrame =
    spark.read
      .schema(DataType.fromJson(Files.readString(Paths.get(schemaJson)))
        .asInstanceOf[StructType])
      .options(Map("header" -> "true", "delimiter" -> "|",
        "dateFormat" -> "yyyyMMdd"))
      .csv(csv)

  private def derbyType(dt: DataType): String = dt match {
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case IntegerType => "INTEGER"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case StringType => "VARCHAR(300)"
    case other => sys.error(s"no Derby mapping for $other")
  }

  /** Quote-uppercase plain identifiers (reserved words like date/time
    * must be quoted in Derby DDL); names with special characters keep
    * their exact fixture casing. */
  private def ddlName(name: String): String =
    if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) "\"" + name.toUpperCase + "\""
    else "\"" + name + "\""

  private def createTable(url: String, table: String, schema: StructType,
      typeOverrides: Map[String, String] = Map.empty): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, "dummy_user", "dummy_pwd")
    try {
      val cols = schema.fields.map(f => ddlName(f.name) + " " +
        typeOverrides.getOrElse(f.name, derbyType(f.dataType))).mkString(", ")
      val st = conn.createStatement()
      try st.execute(s"CREATE TABLE $table ($cols)")
      catch { // X0Y32 = already exists (loads append across iterations)
        case e: java.sql.SQLException if e.getSQLState == "X0Y32" => ()
      } finally st.close()
    } finally conn.close()
  }

  /** Reference `_load_test_table`: csv (+declared schema) appended into
    * the scenario's database table. */
  private def loadTestTable(resDir: String, dbUrl: String, dbTable: String,
      iteration: Option[Int] = None,
      typeOverrides: Map[String, String] = Map.empty): Unit = {
    val fileName = iteration.map(i => s"${dbTable}_$i").getOrElse(dbTable)
    val schema = DataType.fromJson(Files.readString(
      Paths.get(s"$resDir/${dbTable}_schema.json"))).asInstanceOf[StructType]
    createTable(dbUrl, dbTable, schema, typeOverrides)
    appendRows(dbUrl, dbTable,
      readFixtureCsv(s"$resDir/data/source/$fileName.csv",
        s"$resDir/${dbTable}_schema.json"))
  }

  /** Fixture-sized direct INSERT (Spark's JDBC writer setNull()s string
    * columns with the dialect's CLOB type, which Derby rejects against
    * our VARCHAR columns). */
  private def appendRows(dbUrl: String, table: String, df: DataFrame): Unit = {
    val schema = df.schema
    val conn = java.sql.DriverManager.getConnection(dbUrl, "dummy_user", "dummy_pwd")
    try {
      val sql = s"INSERT INTO $table (" +
        schema.fields.map(f => ddlName(f.name)).mkString(", ") +
        ") VALUES (" + schema.fields.map(_ => "?").mkString(", ") + ")"
      val st = conn.prepareStatement(sql)
      try df.collect().foreach { row =>
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          val sqlType = f.dataType match {
            case _: DecimalType => java.sql.Types.DECIMAL
            case IntegerType => java.sql.Types.INTEGER
            case DateType => java.sql.Types.DATE
            case TimestampType => java.sql.Types.TIMESTAMP
            case _ => java.sql.Types.VARCHAR
          }
          if (row.isNullAt(i)) st.setNull(i + 1, sqlType)
          else st.setObject(i + 1, row.get(i), sqlType)
        }
        st.executeUpdate()
      } finally st.close()
    } finally conn.close()
  }

  private def nowUtc(): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())

  /** has_diff with Derby's uppercase result columns normalized back to
    * the fixture casing. */
  private def assertMatchesControl(outDir: String, controlCsv: String,
      controlSchemaJson: String, dropDuplicates: Boolean): Unit = {
    val control = readFixtureCsv(controlCsv, controlSchemaJson)
    val result0 = spark.read.parquet(outDir)
    val lower = result0.toDF(result0.columns.map(_.toLowerCase).toSeq: _*)
    val selected = lower.select(control.columns.map(c => col(s"`$c`")).toSeq: _*)
    val result = if (dropDuplicates) selected.dropDuplicates() else selected
    def norm(df: DataFrame) = df.select(control.columns.map(c =>
      col(s"`$c`").cast("string").as(c)).toSeq: _*)
    assertSameRows(norm(result), norm(control))
  }

  // ---- scenario matrix (TEST_SCENARIOS, field-for-field) ---------------

  private case class Scenario(
      name: String,
      calculateUpperBound: Boolean,
      calcUpperBoundSchema: String,
      partCol: String,
      lowerBound: Any,
      upperBound: Any,
      minTimestamp: String,
      generatePredicates: Boolean,
      predicatesList: Seq[String],
      extraCols: String,
      actReqJoinCondition: String,
      getTimestampFromActRequest: Boolean = false)

  private val articlePreds = Seq(
    "\"/bic/article\"='article1'", "\"/bic/article\"='article2'",
    "\"/bic/article\"='article3'", "\"/bic/article\"='article4'",
    "\"/bic/article\"='article5'", "\"/bic/article\"='article6'",
    "\"/bic/article\"='article7'", "\"/bic/article\"='article33'",
    "\"/bic/article\"='article60'", "\"/bic/article\" IS NULL")

  private def commonScenarios(joinCondition: String): Seq[Scenario] = Seq(
    Scenario("no_part_col_no_lower_and_upper_bound_extra_cols", false, null,
      null, null, null, null, false, null, "EXTRA_COLS", null),
    Scenario("int_part_col_provide_upper_bound_&_min_timestamp", false,
      "upper_bound int", "item", 1, 3, "MIN_TS", false, null, null, null),
    Scenario("int_part_col_generate_predicates_multi_extra_cols", false, null,
      "item", null, null, null, true, null, "EXTRA_COLS_MULTI", null),
    Scenario("str_part_col_generate_predicates", false, null,
      "\"/bic/article\"", null, null, null, true, null, null, null),
    Scenario("str_part_col_predicates_list", false, null, null, null, null,
      null, false, articlePreds, null, null),
    Scenario("date_part_col_calculate_upper_bound", true, "upper_bound date",
      "date", "2000-01-01", null, null, false, null, null, null),
    Scenario("timestamp_part_col_calculate_upper_bound", true,
      "upper_bound timestamp", "time", "2000-01-01 01:01:01.000", null, null,
      false, null, null, null),
    Scenario("no_part_col_join_condition", false, null, null, null, null,
      null, false, null, null, joinCondition))

  // ---- SAP B4 (test_extract_from_sap_b4.py) ----------------------------

  private val b4Res = s"$refRoot/extract_from_sap_b4"

  private def b4Scenarios = commonScenarios(
    "tbl.reqtsn = req.request_tsn AND tbl.reqtsn = req.last_process_tsn")
      .map {
        case s if s.extraCols == "EXTRA_COLS" =>
          s.copy(extraCols = "req.records_read")
        case s if s.extraCols == "EXTRA_COLS_MULTI" =>
          s.copy(extraCols = "req.records_read, req.records_updated")
        case s if s.minTimestamp == "MIN_TS" =>
          s.copy(minTimestamp = "20210713151010000000000")
        case s => s
      }

  private def b4Acon(sc: Scenario, adsoType: String, changelogTable: String,
      dbUrl: String, outLoc: String, extractionType: String,
      writeType: String, extractionTimestamp: String): Map[String, Any] = Map(
    "input_specs" -> Seq(Map(
      "spec_id" -> "sales_source",
      "read_type" -> "batch",
      "data_format" -> "sap_b4",
      "calculate_upper_bound" -> sc.calculateUpperBound,
      "calc_upper_bound_schema" -> sc.calcUpperBoundSchema,
      "generate_predicates" -> sc.generatePredicates,
      "options" -> Map(
        "driver" -> DerbyDriver,
        "user" -> "dummy_user",
        "password" -> "dummy_pwd",
        "url" -> dbUrl,
        "dbtable" -> "dummy_table",
        "data_target" -> "dummy_table",
        "act_req_join_condition" -> sc.actReqJoinCondition,
        "changelog_table" -> changelogTable,
        "customSchema" -> ("reqtsn DECIMAL(23,0), datapakid STRING, " +
          "record INTEGER, extraction_start_timestamp DECIMAL(15,0)"),
        "request_status_tbl" -> "rspmrequest",
        "extra_cols_req_status_tbl" -> sc.extraCols,
        "latest_timestamp_data_location" -> outLoc,
        "extraction_type" -> extractionType,
        "numPartitions" -> 2,
        "partitionColumn" -> sc.partCol,
        "lowerBound" -> sc.lowerBound,
        "upperBound" -> sc.upperBound,
        "default_upper_bound" -> "Null",
        "extraction_timestamp" -> extractionTimestamp,
        "min_timestamp" -> sc.minTimestamp,
        "predicates" -> sc.predicatesList,
        "adso_type" -> adsoType))),
    "output_specs" -> Seq(Map(
      "spec_id" -> "sales_bronze",
      "input_id" -> "sales_source",
      "write_type" -> writeType,
      "data_format" -> "delta",
      "partitions" -> Seq("reqtsn"),
      "location" -> outLoc)),
    "exec_env" -> Map(
      "spark.databricks.delta.schema.autoMerge.enabled" ->
        (sc.extraCols != null)))

  for (adso <- Seq("AQ", "CL"); sc <- b4Scenarios)
    test(s"sap_b4 ${if (adso == "AQ") "extract_aq_dso" else "extract_cl_dso"} / ${sc.name} runs verbatim") {
      val testName = if (adso == "AQ") "extract_aq_dso" else "extract_cl_dso"
      val changelog = if (adso == "AQ") "dummy_table" else "dummy_table_cl"
      val res = s"$b4Res/$testName"
      assume(new java.io.File(res).isDirectory, s"missing $res")
      val tmp = tmpDir("sap-b4")
      val dbUrl = s"jdbc:derby:$tmp/tests.db;create=true"
      val outLoc = s"$tmp/out/data"
      val overrides = Map("last_process_tsn" -> "DECIMAL(23,0)")

      loadTestTable(res, dbUrl, "rspmrequest", typeOverrides = overrides)

      def load(extractionType: String, iteration: Option[Int]): Unit = {
        loadTestTable(res, dbUrl,
          if (extractionType == "init") "dummy_table" else changelog, iteration)
        val (writeType, ts) =
          if (extractionType == "init") ("overwrite", "20210713151010")
          else ("append", nowUtc())
        graft.algo.DataLoader.loadData(spark, Specs.renderJson(
          b4Acon(sc, adso, changelog, dbUrl, outLoc, extractionType,
            writeType, ts)))
      }

      load("init", None)
      load("delta", Some(1))
      load("delta", Some(2))

      val controlCsv =
        if (sc.name == "no_part_col_join_condition")
          s"$res/data/control/dummy_table_join_condition.csv"
        else s"$res/data/control/dummy_table.csv"
      assertMatchesControl(outLoc, controlCsv,
        s"$res/data/control/dummy_table_schema.json",
        dropDuplicates = sc.minTimestamp != null)
    }

  // ---- SAP BW (test_extract_from_sap_bw.py) ----------------------------

  private val bwRes = s"$refRoot/extract_from_sap_bw"

  private def bwScenarios = (commonScenarios(
    "changelog_tbl.request = act_req.actrequest " +
      "AND changelog_tbl.request = act_req.request")
    .map {
      case s if s.extraCols == "EXTRA_COLS" =>
        s.copy(extraCols = "act_req.request as activation_request")
      case s if s.extraCols == "EXTRA_COLS_MULTI" =>
        s.copy(extraCols = "act_req.request as actrequest_request, status")
      case s if s.minTimestamp == "MIN_TS" =>
        s.copy(minTimestamp = "20211004151010")
      case s => s
    }) ++ Seq(
    Scenario("init_timestamp_from_actrequest", true, "upper_bound timestamp",
      "time", "2000-01-01 01:01:01.000", null, null, false, null, null, null,
      getTimestampFromActRequest = true),
    Scenario("fail_calc_upper_bound", true, "upper_bound date", "order_date",
      "2000-01-01", null, null, false, null, null, null))

  private def bwAcon(sc: Scenario, requestColName: String,
      changelogTable: String, includeChangelogTechCols: Boolean,
      dbUrl: String, outLoc: String, extractionType: String,
      writeType: String, extractionTimestamp: String): Map[String, Any] = Map(
    "input_specs" -> Seq(Map(
      "spec_id" -> "sales_source",
      "read_type" -> "batch",
      "data_format" -> "sap_bw",
      "calculate_upper_bound" -> sc.calculateUpperBound,
      "calc_upper_bound_schema" -> sc.calcUpperBoundSchema,
      "generate_predicates" -> sc.generatePredicates,
      "options" -> Map(
        "driver" -> DerbyDriver,
        "user" -> "dummy_user",
        "password" -> "dummy_pwd",
        "url" -> dbUrl,
        "dbtable" -> "dummy_table",
        "changelog_table" -> changelogTable,
        "customSchema" -> ("actrequest_timestamp DECIMAL(15,0), " +
          "datapakid STRING, request STRING, partno INTEGER, " +
          "record INTEGER, extraction_start_timestamp DECIMAL(15,0)"),
        "act_request_table" -> "rsodsactreq",
        "extra_cols_act_request" -> sc.extraCols,
        "latest_timestamp_data_location" -> outLoc,
        "extraction_type" -> extractionType,
        "numPartitions" -> 2,
        "partitionColumn" -> sc.partCol,
        "lowerBound" -> sc.lowerBound,
        "upperBound" -> sc.upperBound,
        "default_upper_bound" -> "Null",
        "extraction_timestamp" -> extractionTimestamp,
        "min_timestamp" -> sc.minTimestamp,
        "request_col_name" -> requestColName,
        "act_req_join_condition" -> sc.actReqJoinCondition,
        "include_changelog_tech_cols" -> includeChangelogTechCols,
        "predicates" -> sc.predicatesList,
        "get_timestamp_from_act_request" -> sc.getTimestampFromActRequest))),
    "transform_specs" -> Seq(Map(
      "spec_id" -> "filtered_sales",
      "input_id" -> "sales_source",
      "transformers" -> Seq(Map(
        "function" -> "expression_filter",
        "args" -> Map("exp" -> "`/bic/article` like 'article%'"))))),
    "output_specs" -> Seq(Map(
      "spec_id" -> "sales_bronze",
      "input_id" -> "sales_source",
      "write_type" -> writeType,
      "data_format" -> "delta",
      "partitions" -> Seq("actrequest_timestamp"),
      "location" -> outLoc)),
    "exec_env" -> Map(
      "spark.databricks.delta.schema.autoMerge.enabled" ->
        (sc.extraCols != null)))

  for (wodso <- Seq(false, true); sc <- bwScenarios)
    test(s"sap_bw ${if (wodso) "extract_write_optimised_dso" else "extract_dso"} / ${sc.name} runs verbatim") {
      val testName =
        if (wodso) "extract_write_optimised_dso" else "extract_dso"
      val requestColName = if (wodso) "request" else "actrequest"
      val changelog = if (wodso) "dummy_table" else "dummy_table_cl"
      val res = s"$bwRes/$testName"
      assume(new java.io.File(res).isDirectory, s"missing $res")
      val tmp = tmpDir("sap-bw")
      val dbUrl = s"jdbc:derby:$tmp/tests.db;create=true"
      val outLoc = s"$tmp/out/data"

      loadTestTable(res, dbUrl, "rsodsactreq")

      def load(extractionType: String, iteration: Option[Int]): Unit = {
        loadTestTable(res, dbUrl,
          if (extractionType == "init") "dummy_table" else changelog, iteration)
        val (writeType, ts) =
          if (extractionType == "init") ("overwrite", "20211004151010")
          else ("append", nowUtc())
        graft.algo.DataLoader.loadData(spark, Specs.renderJson(
          bwAcon(sc, requestColName, changelog, !wodso, dbUrl, outLoc,
            extractionType, writeType, ts)))
      }

      if (sc.name == "fail_calc_upper_bound") {
        val err = intercept[Exception] { load("init", None) }
        assert(err.getMessage.contains("Not able to calculate upper bound"))
      } else if (!wodso && sc.getTimestampFromActRequest) {
        val err = intercept[Exception] { load("init", None) }
        assert(err.getMessage.contains("Not able to get the extraction query"))
      } else {
        load("init", None)
        load("delta", Some(1))
        load("delta", Some(2))
        val controlCsv =
          if (wodso && sc.getTimestampFromActRequest)
            s"$res/data/control/dummy_table_actreq_timestamp.csv"
          else if (sc.name == "no_part_col_join_condition")
            s"$res/data/control/dummy_table_join_condition.csv"
          else s"$res/data/control/dummy_table.csv"
        assertMatchesControl(outLoc, controlCsv,
          s"$res/data/control/dummy_table_schema.json",
          dropDuplicates = sc.minTimestamp != null)
      }
    }

  // ---- test_changelog_table_name_derivation ----------------------------

  for (logsys <- Seq(Some("DHACLNT003"), None))
    test(s"sap_bw changelog table derivation (logsys=${logsys.getOrElse("auto")})") {
      val res = s"$bwRes/derive_changelog_table_name"
      assume(new java.io.File(res).isDirectory, s"missing $res")
      val tmp = tmpDir("sap-bw-derive")
      val dbUrl = s"jdbc:derby:$tmp/tests.db;create=true"
      val odsobject = if (logsys.isDefined) "testtable" else "test_table"
      for (table <- Seq("RSTSODS", "RSBASIDOC")) {
        val schema = DataType.fromJson(Files.readString(
          Paths.get(s"$res/${table}_schema.json"))).asInstanceOf[StructType]
        createTable(dbUrl, table, schema)
        appendRows(dbUrl, table, spark.read
          .schema(schema)
          .options(Map("header" -> "true", "delimiter" -> "|"))
          .csv(s"$res/data/source/$table.csv"))
      }
      val derived = graft.io.SapBwExtraction.deriveChangelogTable(spark,
        url = dbUrl, user = "dummy_user", password = "dummy_pwd",
        driver = DerbyDriver, odsobject = Some(odsobject),
        changelogTable = None, extractionType = "delta",
        sapBwSchema = "", logsys = logsys, dbtable = "dummy_table")
      assert(derived.matches(s"${odsobject}_OA.*"),
        s"derived '$derived' does not match ${odsobject}_OA*")
    }
}
