package graft.spec

import graft.SparkSpec
import graft.algo.HeartbeatControl
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The reference's heartbeat unit scenarios executed verbatim:
  * `tests/unit/test_heartbeat_anchor_job.py` (which job triggers under
  * which dependency/status/state combinations) and
  * `tests/unit/test_heartbeat_acon_creation.py` (the exact sensor ACON
  * built per control row for delta_table / kafka / sap_b4 sources). */
class ReferenceHeartbeatUnitSpec extends SparkSpec with ReferenceHarness {

  private val unitRes = "/root/reference/tests/resources/unit/heartbeat"
  private lazy val lakehouse = tmpDir("ref-heartbeat-unit")

  private def unitConf[A](body: => A): A =
    withConf("spark.sql.ansi.enabled" -> "false",
      "spark.sql.storeAssignmentPolicy" -> "LEGACY")(body)

  private def createTable(testName: String, table: String): Unit = {
    ensureTestDb()
    val text = Files.readString(java.nio.file.Paths.get(
      s"$unitRes/$testName/setup/column_list/$table.json"))
    val cols = "\"([A-Za-z_]+)\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(text).map(m => s"${m.group(1)} ${m.group(2)}").toSeq
    val loc = s"$lakehouse/$testName/$table"
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType.fromDDL(cols.mkString(", ")))
      .write.mode("overwrite").parquet(loc)
    spark.sql(s"DROP TABLE IF EXISTS test_db.$table")
    spark.sql(s"CREATE TABLE test_db.$table (${cols.mkString(", ")}) " +
      s"USING parquet LOCATION '$loc'")
  }

  // ---- test_heartbeat_anchor_job.py ------------------------------------

  private case class AnchorScenario(name: String, sensorSource: String,
      records: String, jobsTriggeredCount: Int, jobIds: Set[String])

  private val anchorScenarios = Seq(
    AnchorScenario("delta_table_trigger_2_jobs", "delta_table",
      """("delta_table","dummy_orders","batch","delta_table_order_events",
        |NULL,NULL,NULL,"3849201756384721","events_orders",
        |"NEW_EVENT_AVAILABLE",NULL,NULL,NULL,"UNPAUSED","TRUE"),
        |("delta_table","dummy_sales","batch","delta_table_order_events",
        |NULL,NULL,NULL,"3849201756384721","events_orders",
        |"NEW_EVENT_AVAILABLE",NULL,NULL,NULL,"UNPAUSED","TRUE"),
        |("delta_table","dummy_test","batch","delta_table_order_events",
        |NULL,NULL,NULL,"7601938475620193","events_orders",
        |"NEW_EVENT_AVAILABLE",NULL,NULL,NULL,"UNPAUSED","TRUE"),
        |("delta_table","dummy_test2","batch","delta_table_order_events",
        |NULL,NULL,NULL,"7601938475620193","events_orders",
        |"NEW_EVENT_AVAILABLE",NULL,NULL,NULL,"UNPAUSED","TRUE")""".stripMargin,
      2, Set("3849201756384721", "7601938475620193")),
    AnchorScenario("kafka_trigger_1_job", "kafka",
      """("kafka","dummy_test3","batch","delta_table_order_events",
        |NULL,NULL,NULL,"5918374620193847","events_orders","COMPLETE",
        |NULL,NULL,NULL,"UNPAUSED","FALSE"),
        |("kafka","dummy_test4","batch","delta_table_order_events",
        |NULL,NULL,NULL,"5918374620193847","events_orders",
        |"NEW_EVENT_AVAILABLE",NULL,NULL,NULL,"UNPAUSED","TRUE")""".stripMargin,
      1, Set("5918374620193847")),
    AnchorScenario("sap_b4_no_trigger", "sap_b4",
      """("sap_b4","dummy_test3","batch","delta_table_order_events",
        |NULL,NULL,NULL,"8203746159283746","events_orders",
        |"NEW_EVENT_AVAILABLE",NULL,NULL,NULL,"PAUSED","FALSE"),
        |("sap_b4","dummy_test4","batch","delta_table_order_events",
        |NULL,NULL,NULL,"8203746159283746","events_orders","COMPLETE",
        |NULL,NULL,NULL,"UNPAUSED","TRUE")""".stripMargin,
      0, Set.empty))

  for (sc <- anchorScenarios)
    test(s"heartbeat anchor job: ${sc.name}") { unitConf {
      assume(new java.io.File(unitRes).isDirectory, s"missing $unitRes")
      createTable("heartbeat_anchor_job", "heartbeat_sensor_control_table")
      try {
        spark.sql("INSERT INTO test_db.heartbeat_sensor_control_table " +
          s"VALUES ${sc.records}")
        val spec = HeartbeatControl.specFromAcon(Map(
          "heartbeat_sensor_db_table" -> "test_db.heartbeat_sensor_control_table",
          "lakehouse_engine_sensor_db_table" -> "test_db.sensor_table",
          "data_format" -> "delta",
          "sensor_source" -> sc.sensorSource,
          "token" -> "my-token", "domain" -> "example.com"))
        val calls = scala.collection.mutable.ArrayBuffer.empty[String]
        HeartbeatControl.triggerJobs(spark, spec,
          runJob = { id => calls += id; Some("run_id") })
        assert(calls.size == sc.jobsTriggeredCount,
          s"expected ${sc.jobsTriggeredCount} triggers, got $calls")
        assert(calls.forall(sc.jobIds.contains))
      } finally spark.sql(
        "DROP TABLE IF EXISTS test_db.heartbeat_sensor_control_table")
    }}

  // ---- test_heartbeat_acon_creation.py ---------------------------------

  private def inputSpecMap(dataFormat: String, dbTable: Any, options: Any)
      : Map[String, Any] = Map(
    "spec_id" -> "sensor_upstream", "read_type" -> "batch",
    "data_format" -> dataFormat, "db_table" -> dbTable,
    "options" -> options, "location" -> null, "schema" -> null)

  private def expectedAcon(sensorId: String, asset: String,
      inputSpec: Map[String, Any]): Map[String, Any] = Map(
    "sensor_id" -> sensorId, "assets" -> Seq(asset),
    "control_db_table_name" -> "test_db.sensor_table",
    "input_spec" -> inputSpec, "preprocess_query" -> null,
    "base_checkpoint_location" -> null, "fail_on_empty_result" -> false)

  private def checkAcons(spec: HeartbeatControl.Spec,
      expected: Map[String, Map[String, Any]],
      secretProvider: (Option[String], String) => Option[String]): Unit =
    spark.sql("SELECT * FROM test_db.heartbeat_sensor_control_table " +
      "ORDER BY sensor_id").collect().foreach { row =>
      val got = HeartbeatControl.sensorAconFromHeartbeat(
        spark, spec, row, secretProvider)
      val sid = row.getString(row.fieldIndex("sensor_id"))
      assert(got == expected(sid), s"acon mismatch for $sid:\n$got")
    }

  test("heartbeat acon creation: delta_table") { unitConf {
    assume(new java.io.File(unitRes).isDirectory, s"missing $unitRes")
    createTable("heartbeat_acon_creation", "heartbeat_sensor_control_table")
    try {
      spark.sql("""INSERT INTO test_db.heartbeat_sensor_control_table VALUES
        ("delta_table","dummy_order","batch","delta_table_order_events",
        NULL,NULL,NULL,"9274610384726150","dummy_order_events","COMPLETED",
        NULL,NULL,NULL,"UNPAUSED","TRUE")""")
      val spec = HeartbeatControl.specFromAcon(Map(
        "sensor_source" -> "delta_table", "data_format" -> "delta",
        "heartbeat_sensor_db_table" -> "test_db.heartbeat_sensor_control_table",
        "lakehouse_engine_sensor_db_table" -> "test_db.sensor_table",
        "token" -> "my-token", "domain" -> "example.com"))
      checkAcons(spec, Map("dummy_order" -> expectedAcon(
        "dummy_order_9274610384726150",
        "delta_table_order_events_9274610384726150",
        inputSpecMap("delta", "dummy_order", null))), (_, _) => None)
    } finally spark.sql(
      "DROP TABLE IF EXISTS test_db.heartbeat_sensor_control_table")
  }}

  test("heartbeat acon creation: kafka") { unitConf {
    assume(new java.io.File(unitRes).isDirectory, s"missing $unitRes")
    createTable("heartbeat_acon_creation", "heartbeat_sensor_control_table")
    try {
      spark.sql("""INSERT INTO test_db.heartbeat_sensor_control_table VALUES
        ("kafka","sales: sales.dummy_deliveries","batch",
        "delta_table_order_events",NULL,NULL,NULL,"1847362093847561",
        "dummy_order_events","COMPLETED",NULL,NULL,NULL,"UNPAUSED","TRUE")""")
      val spec = HeartbeatControl.specFromAcon(Map(
        "sensor_source" -> "kafka", "data_format" -> "kafka",
        "heartbeat_sensor_db_table" -> "test_db.heartbeat_sensor_control_table",
        "lakehouse_engine_sensor_db_table" -> "test_db.sensor_table",
        "token" -> "my-token", "domain" -> "example.com",
        "kafka_configs" -> Map("sales" -> Map(
          "kafka_bootstrap_servers_list" -> Seq("server1", "server2"),
          "kafka_ssl_truststore_location" -> "trust_store_location",
          "kafka_ssl_keystore_location" -> "keystore_location",
          "truststore_pwd_secret_key" -> "trust_store_key",
          "keystore_pwd_secret_key" -> "keystore_pwd_secret_key"))))
      checkAcons(spec, Map("sales: sales.dummy_deliveries" -> expectedAcon(
        "sales__sales_dummy_deliveries_1847362093847561",
        "delta_table_order_events_1847362093847561",
        inputSpecMap("kafka", null, Map(
          "kafka.bootstrap.servers" -> Seq("server1", "server2"),
          "subscribe" -> "sales.dummy_deliveries",
          "startingOffsets" -> "earliest",
          "kafka.security.protocol" -> "SSL",
          "kafka.ssl.truststore.location" -> "trust_store_location",
          "kafka.ssl.truststore.password" -> "key",
          "kafka.ssl.keystore.location" -> "keystore_location",
          "kafka.ssl.keystore.password" -> "key")))),
        (_, _) => Some("key"))
    } finally spark.sql(
      "DROP TABLE IF EXISTS test_db.heartbeat_sensor_control_table")
  }}

  test("heartbeat acon creation: sap_b4") { unitConf {
    assume(new java.io.File(unitRes).isDirectory, s"missing $unitRes")
    createTable("heartbeat_acon_creation", "heartbeat_sensor_control_table")
    createTable("heartbeat_acon_creation", "sensor_table")
    try {
      spark.sql("""INSERT INTO test_db.heartbeat_sensor_control_table VALUES
        ("sap_b4","SAP_DUMMY_ID","batch","dummy_tables","LOAD_DATE",NULL,
        NULL,"6039184726153847","dummy_order_events","COMPLETED",
        NULL,NULL,NULL,"UNPAUSED","FALSE"),
        ("sap_b4","SAP_DUMMY_ID2","batch","dummy_tables","LOAD_DATE",NULL,
        NULL,"7482910364728193","dummy_order_events","COMPLETED",
        NULL,NULL,NULL,"UNPAUSED","FALSE")""")
      val spec = HeartbeatControl.specFromAcon(Map(
        "sensor_source" -> "sap_b4", "data_format" -> "sap_b4",
        "heartbeat_sensor_db_table" -> "test_db.heartbeat_sensor_control_table",
        "lakehouse_engine_sensor_db_table" -> "test_db.sensor_table",
        "token" -> "my-token", "domain" -> "example.com",
        "jdbc_db_table" -> "sap_table",
        "options" -> Map("prepareQuery" -> "", "query" -> "")))
      def sapExpected(id: String, job: String) = expectedAcon(
        s"${id}_$job", s"dummy_tables_$job",
        inputSpecMap("sap_b4", null, Map(
          "prepareQuery" -> ("WITH sensor_new_data AS (SELECT CHAIN_ID, " +
            "CONCAT(DATUM, ZEIT) AS LOAD_DATE, ANALYZED_STATUS " +
            s"FROM sap_table WHERE UPPER(CHAIN_ID) = UPPER('$id') " +
            "AND UPPER(ANALYZED_STATUS) = UPPER('G'))"),
          "query" -> ("SELECT COUNT(1) as count, 'LOAD_DATE' as UPSTREAM_KEY, " +
            "max(LOAD_DATE) as UPSTREAM_VALUE FROM sensor_new_data " +
            "WHERE LOAD_DATE > '19000101000000' HAVING COUNT(1) > 0"))))
      checkAcons(spec, Map(
        "SAP_DUMMY_ID" -> sapExpected("SAP_DUMMY_ID", "6039184726153847"),
        "SAP_DUMMY_ID2" -> sapExpected("SAP_DUMMY_ID2", "7482910364728193")),
        (_, _) => None)
    } finally {
      spark.sql("DROP TABLE IF EXISTS test_db.heartbeat_sensor_control_table")
      spark.sql("DROP TABLE IF EXISTS test_db.sensor_table")
    }
  }}
}
