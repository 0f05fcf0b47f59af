package graft.spec

import graft.SparkSpec
import graft.algo.HeartbeatControl
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** The reference's heartbeat feature scenarios executed verbatim
  * (`tests/feature/test_heartbeat.py`): the four heartbeat stages — data
  * feed, sensor sweep, completion update, job trigger — against the
  * reference's own setup/control fixtures, with the same two injection
  * points its driver patches (`_execute_batch_of_sensor`,
  * `SensorJobRunManager.run_job`) and its fixed clock
  * (2025-08-14 23:00). */
class ReferenceHeartbeatSpec extends SparkSpec with ReferenceHarness {

  private val res = s"$refRoot/heartbeat"
  private lazy val lakehouse = tmpDir("ref-heartbeat")
  private val fixedTs = java.sql.Timestamp.valueOf("2025-08-14 23:00:00")

  private def heartbeatConf[A](body: => A): A =
    withConf("spark.sql.ansi.enabled" -> "false",
      "spark.sql.storeAssignmentPolicy" -> "LEGACY")(body)

  /** `_create_heartbeat_table` over the scenario's column_list json. */
  private def createTable(scenario: String, table: String): Unit = {
    ensureTestDb()
    // column ORDER matters (the driver INSERTs positionally) — parse the
    // column_list json order-preserving
    val text = Files.readString(Paths.get(
      s"$res/setup/$scenario/column_list/$table.json"))
    val cols = "\"([A-Za-z_]+)\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toSeq
    val ddl = cols.map { case (c, t) => s"$c $t" }.mkString(", ")
    val loc = s"$lakehouse/$scenario/tables/$table"
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType.fromDDL(ddl))
      .write.mode("overwrite").parquet(loc)
    spark.sql(s"DROP TABLE IF EXISTS test_db.$table")
    spark.sql(s"CREATE TABLE test_db.$table ($ddl) USING parquet LOCATION '$loc'")
  }

  private def schemaOf(path: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      Files.readString(Paths.get(path))).asInstanceOf[StructType]

  private def controlHeartbeatDf(scenario: String, fileName: String): DataFrame =
    spark.read
      .schema(schemaOf(s"$res/control/$scenario/schema/ctrl_heart_tbl_schema.json"))
      .options(Map("header" -> "true", "delimiter" -> "|"))
      .csv(s"$res/control/$scenario/data/$fileName")

  private def sensorJsonDf(scenario: String, dir: String, fileName: String): DataFrame =
    spark.read
      .schema(schemaOf(s"$res/setup/$scenario/schema/schema_sensor_df.json"))
      .json(s"$res/$dir/$scenario/data/$fileName")

  private case class Scenario(
      name: String,
      newEventsAvailableCount: Int,
      jobId: String,
      heartbeatInsert: String,
      sensorInsert: String)

  private val scenarios = Seq(
    Scenario("default", 1, "1927384615203749",
      """("delta_table","dummy_order","batch","dummy_heartbeat_asset",
        |NULL,NULL,NULL,"1015557820139870","data-product_job_name_orders",
        |"NEW_EVENT_AVAILABLE",NULL,NULL,NULL,"UNPAUSED","true")""".stripMargin,
      """("dummy_order",array("dummy_heartbeat_asset"),"ACQUIRED_NEW_DATA",
        |NULL,NULL,"LOAD_DATE","10155578201985")""".stripMargin),
    Scenario("heartbeat_paused_sensor_new_record", 0, "2604918372561094",
      """("delta_table","dummy_order","batch","dummy_heartbeat_asset",
        |NULL,NULL,NULL,"1015557820139870","data-product_job_name_orders",
        |"IN PROGRESS",NULL,NULL,NULL,"UNPAUSED","true")""".stripMargin,
      """("dummy_order",array("dummy_heartbeat_asset"),"ACQUIRED_NEW_DATA",
        |NULL,NULL,"LOAD_DATE","10155578201985")""".stripMargin))

  for (sc <- scenarios)
    test(s"heartbeat scenario ${sc.name} runs verbatim") { heartbeatConf {
      assume(new java.io.File(res).isDirectory, s"missing $res")
      val heartbeatTable = "test_db.heartbeat_sensor_control_table"
      val sensorTable = "test_db.sensor_table"
      createTable(sc.name, "heartbeat_sensor_control_table")
      createTable(sc.name, "sensor_table")
      try {
        val spec = HeartbeatControl.specFromAcon(Map(
          "heartbeat_sensor_db_table" -> heartbeatTable,
          "lakehouse_engine_sensor_db_table" -> sensorTable,
          "data_format" -> "delta",
          "sensor_source" -> "delta_table",
          "token" -> "my-token",
          "domain" -> "my-domain.example.com"))

        // 1. execute_heartbeat_sensor_data_feed
        graft.Engine.executeHeartbeatSensorDataFeed(spark,
          s"$res/setup/${sc.name}/data/setup_heartbeat_data.csv", heartbeatTable)
        assertNoDiffRef(spark.table(heartbeatTable),
          controlHeartbeatDf(sc.name, "ctr_heart_tbl_heartb_feed.csv"))

        // 2. execute_sensor_heartbeat, _execute_batch_of_sensor patched to
        // the fixed (sensor_id, trigger_job_id) hit, clock fixed
        HeartbeatControl.execute(spark, spec,
          runSensor = Some((_, _) =>
            Some(("dummy_delta_table", "1927384615203749"))),
          now = Some(fixedTs))
        assert(spark.table(heartbeatTable)
          .filter("status = 'NEW_EVENT_AVAILABLE'").count() ==
          sc.newEventsAvailableCount)
        assertNoDiffRef(spark.table(heartbeatTable),
          controlHeartbeatDf(sc.name, "ctrl_heart_tbl_exec_sensor.csv"))

        // 3. update_heartbeat_sensor_status
        val sensors = sensorJsonDf(sc.name, "setup", "setup_sensor_data.json")
        sensors.select(spark.table(sensorTable).columns.map(
          org.apache.spark.sql.functions.col).toSeq: _*)
          .write.mode("overwrite").insertInto(sensorTable)
        spark.catalog.refreshTable(sensorTable)
        HeartbeatControl.updateCompletionStatus(spark, heartbeatTable,
          sensorTable, sc.jobId, now = Some(fixedTs))
        assertNoDiffRef(spark.table(heartbeatTable),
          controlHeartbeatDf(sc.name, "ctrl_heart_tbl_updated.csv"))
        assertNoDiffRef(spark.table(sensorTable),
          sensorJsonDf(sc.name, "control", "ctrl_sensor_tbl_upd_status.json"))

        // 4. trigger_heartbeat_sensor_jobs, run_job patched to a fixed
        // run id
        spark.sql(s"INSERT INTO $heartbeatTable VALUES ${sc.heartbeatInsert}")
        spark.sql(s"INSERT INTO $sensorTable VALUES ${sc.sensorInsert}")
        HeartbeatControl.triggerJobs(spark, spec,
          runJob = _ => Some("run_id"), now = Some(fixedTs))
        assertNoDiffRef(spark.table(heartbeatTable),
          controlHeartbeatDf(sc.name, "ctrl_heart_tbl_trigger_job.csv"))
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $heartbeatTable")
        spark.sql(s"DROP TABLE IF EXISTS $sensorTable")
      }
    }}
}
