package graft

import graft.io.TableRef
import graft.spec.{DQFunctionSpec, DQSpec, InputSpec}

/** The public facade delegates faithfully (one smoke case per entry
  * point family; deep behavior is covered by the algorithm suites). */
class EngineSpec extends SparkSpec {

  import spark.implicits._

  test("engine facade: load, dq, sensor, reconciliation, sensor query") {
    val dir = tmpDir("engine")
    Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "name", "v")
      .write.parquet(s"$dir/in")
    // load_data
    val out = Engine.loadData(spark,
      s"""{"input_specs": [{"spec_id": "src", "read_type": "batch",
         |  "data_format": "parquet", "location": "$dir/in"}],
         |"output_specs": [{"spec_id": "res", "input_id": "src",
         |  "data_format": "dataframe"}]}""".stripMargin.replace("\n", " "))
    assert(out("res").count() == 2)
    // dq validation
    val r = Engine.executeDqValidation(spark,
      InputSpec(specId = "in", dataFormat = Some("parquet"), location = Some(s"$dir/in")),
      DQSpec("dq", "in", dqFunctions = Seq(
        DQFunctionSpec("expect_column_values_to_not_be_null", Map("column" -> "name")))))
    assert(r.success)
    // sensor + status update
    assert(Engine.executeSensor(spark, s"$dir/ctl", "s1",
      InputSpec(specId = "up", dataFormat = Some("parquet"), location = Some(s"$dir/in"))))
    Engine.updateSensorStatus(spark, s"$dir/ctl", "s1")
    // reconciliation (identical sides -> green)
    val df = spark.read.parquet(s"$dir/in")
    val statuses = Engine.executeReconciliation(
      df, df, Seq("id"), Seq("v" -> "v"), thresholds = Map.empty)
    assert(statuses.forall(_.status == "green"))
    // sensor preprocess query generation (both shapes)
    val q1 = Engine.generateSensorQuery("s1",
      filterExp = Some("?upstream_key > '?upstream_value'"),
      upstreamKey = Some("load_date"), upstreamValue = Some("20240101"))
    assert(q1 ==
      "SELECT COUNT(1) as count, 'load_date' as UPSTREAM_KEY, " +
        "max(load_date) as UPSTREAM_VALUE FROM sensor_new_data " +
        "WHERE load_date > '20240101' HAVING COUNT(1) > 0")
    val q2 = Engine.generateSensorQuery("s1")
    assert(q2.contains("sensor_id = 's1'") && q2.contains("PROCESSED_NEW_DATA"))
    // table manager passthrough
    assert(Engine.manageTable(spark).executeSql("SELECT 1 AS one").head.count() == 1)
  }

  /** Feed -> sweep -> gated trigger -> completion through the four
    * heartbeat facades, with `ctl` and `sensorCtl` as the control tables
    * (locations or catalog tables). Job `job-A` is gated on sensors s1 and
    * s2, whose upstreams land one sweep apart; `job-B` on s3 alone. */
  private def heartbeatLifecycle(base: String, ctl: String, sensorCtl: String): Unit = {
    import spark.implicits._
    def rows = TableRef.read(spark, ctl).get
    val feed = s"$base/feed"
    Seq("s1" -> "job-A", "s2" -> "job-A", "s3" -> "job-B").map { case (sid, job) =>
        ("trigger_file", sid, "streaming", sid, null: String, null: String, job, job,
          "unpaused", "TRUE") }
      .toDF(algo.HeartbeatControl.ConfigColumns: _*).coalesce(1)
      .write.option("header", "true").csv(feed)
    def land(sid: String, row: String): Unit = {
      val dir = java.nio.file.Paths.get(s"$base/trigger/$sid")
      java.nio.file.Files.createDirectories(dir)
      if (row.nonEmpty) java.nio.file.Files.writeString(dir.resolve("f.csv"), row + "\n")
    }
    val acon = Map[String, Any](
      "heartbeat_sensor_db_table" -> ctl, "lakehouse_engine_sensor_db_table" -> sensorCtl,
      "sensor_source" -> "trigger_file", "data_format" -> "csv",
      "schema_dict" -> "id INT, v STRING",
      "base_trigger_file_location" -> s"$base/trigger",
      "base_checkpoint_location" -> s"$base/checkpoints")
    val launched = scala.collection.mutable.ArrayBuffer.empty[String]
    val launcher: String => Option[String] = { jobId => launched += jobId; Some("run-1") }
    def statuses = rows.select("sensor_id", "status").as[(String, String)].collect().toMap

    Engine.executeHeartbeatSensorDataFeed(spark, feed, ctl)
    assert(statuses == Map("s1" -> null, "s2" -> null, "s3" -> null))
    assert(rows.select("job_state").as[String].collect().toSet == Set("UNPAUSED"))
    land("s1", "1,a")
    land("s2", "")
    land("s3", "3,c")
    Engine.executeSensorHeartbeat(spark, acon) // two sensors acquire in one sweep
    assert(statuses ==
      Map("s1" -> "NEW_EVENT_AVAILABLE", "s2" -> null, "s3" -> "NEW_EVENT_AVAILABLE"))
    // job-A waits for s2
    assert(Engine.triggerHeartbeatSensorJobs(spark, acon, Some(launcher)) == Seq("job-B"))
    land("s2", "2,b")
    Engine.executeSensorHeartbeat(spark, acon)
    assert(Engine.triggerHeartbeatSensorJobs(spark, acon, Some(launcher)) == Seq("job-A"))
    assert(launched.toSeq == Seq("job-B", "job-A"))
    assert(statuses == Map("s1" -> "IN_PROGRESS", "s2" -> "IN_PROGRESS", "s3" -> "IN_PROGRESS"))
    // a re-fed definition keeps its running state
    Engine.executeHeartbeatSensorDataFeed(spark, feed, ctl)
    assert(statuses == Map("s1" -> "IN_PROGRESS", "s2" -> "IN_PROGRESS", "s3" -> "IN_PROGRESS"))
    Engine.updateHeartbeatSensorStatus(spark, ctl, sensorCtl, "job-A")
    assert(statuses == Map("s1" -> "COMPLETED", "s2" -> "COMPLETED", "s3" -> "IN_PROGRESS"))
    Seq("s1", "s2").foreach(sid => assert(algo.SensorControl.sensorStatus(spark,
      algo.HeartbeatControl.sensorTableId(sid, "job-A"), sensorCtl)
      .contains(algo.SensorControl.Processed)))
  }

  test("heartbeat facades run the control-table lifecycle on locations") {
    val base = tmpDir("engine-hb")
    heartbeatLifecycle(base, s"$base/control", s"$base/sensors")
  }

  test("heartbeat facades run the control-table lifecycle on catalog tables") {
    val base = tmpDir("engine-hb-tables")
    val stateDdl = "latest_event_fetched_timestamp timestamp, status string, " +
      "status_change_timestamp timestamp, job_start_timestamp timestamp, " +
      "job_end_timestamp timestamp"
    val tables = Seq(
      "hb_engine_control" -> (algo.HeartbeatControl.ConfigColumns.map(c => s"$c string")
        .mkString(", ") + ", " + stateDdl),
      "hb_engine_sensors" -> algo.SensorControl.SensorSchema.toDDL)
    tables.foreach { case (t, ddl) =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t ($ddl) USING parquet LOCATION '$base/$t'")
    }
    try heartbeatLifecycle(base, "hb_engine_control", "hb_engine_sensors")
    finally tables.foreach { case (t, _) => spark.sql(s"DROP TABLE IF EXISTS $t") }
  }

  test("dq args parse through ACON JSON: value_set, quantile_ranges, bounds") {
    // value_set must arrive as a Scala Seq and quantile_ranges as a
    // nested Map through the Jackson path — a java.util.List would make
    // anySeq silently return empty and flip outcomes
    val dir = tmpDir("engine-dq-json")
    Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)).toDF("k", "v")
      .write.parquet(s"$dir/in")
    val out = Engine.loadData(spark,
      s"""{"input_specs": [{"spec_id": "src", "read_type": "batch",
         |  "data_format": "parquet", "location": "$dir/in"}],
         |"dq_specs": [{"spec_id": "dq", "input_id": "src",
         |  "dq_functions": [
         |    {"function": "expect_column_values_to_be_in_set",
         |     "args": {"column": "k", "value_set": ["a", "b"]}},
         |    {"function": "expect_column_distinct_values_to_equal_set",
         |     "args": {"column": "k", "value_set": ["a", "b"]}},
         |    {"function": "expect_column_quantile_values_to_be_between",
         |     "args": {"column": "v", "quantile_ranges": {
         |        "quantiles": [0.0, 1.0],
         |        "value_ranges": [[0.5, 1.5], [2.5, 3.5]]}}},
         |    {"function": "expect_column_unique_value_count_to_be_between",
         |     "args": {"column": "k", "min_value": 2, "max_value": 2}}],
         |  "fail_on_error": true}],
         |"output_specs": [{"spec_id": "res", "input_id": "dq",
         |  "data_format": "dataframe"}]}""".stripMargin.replace("\n", " "))
    assert(out("res").count() == 3) // fail_on_error would have thrown
  }

  test("streaming output chained through TWO dq specs runs the whole chain") {
    // batch and streaming must not diverge: dqA(input=src) -> dqB(input=dqA)
    // -> output(input=dqB); one-level resolution would silently skip dqA
    val dir = tmpDir("engine-dq-chain")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in/part-0.csv"), "id,v\n1,a\n2,\n")
    val out = Engine.loadData(spark,
      s"""{"input_specs": [{"spec_id": "src", "read_type": "streaming",
         |  "data_format": "csv", "location": "$dir/in",
         |  "schema": "id INT, v STRING",
         |  "options": {"header": "true"}}],
         |"dq_specs": [
         |  {"spec_id": "dqA", "input_id": "src", "tag_source_data": true,
         |   "dq_functions": [{"function": "expect_column_values_to_not_be_null",
         |                     "args": {"column": "v"}}],
         |   "fail_on_error": false, "max_percentage_failure": 1.0},
         |  {"spec_id": "dqB", "input_id": "dqA",
         |   "dq_functions": [{"function": "expect_column_values_to_not_be_null",
         |                     "args": {"column": "id"}}],
         |   "fail_on_error": false, "max_percentage_failure": 1.0}],
         |"output_specs": [{"spec_id": "res", "input_id": "dqB",
         |  "write_type": "append", "data_format": "parquet",
         |  "location": "$dir/out",
         |  "options": {"checkpointLocation": "$dir/ckpt"},
         |  "streaming_trigger": "availableNow"}]}"""
        .stripMargin.replace("\n", " "))
    val res = spark.read.parquet(s"$dir/out")
    assert(res.count() == 2)
    // dqA ran in foreachBatch: its tagging column is present and the
    // null-v row is marked failed
    assert(res.columns.contains("dq_validations"))
    assert(res.where("v IS NULL")
      .selectExpr("size(dq_validations.dq_failure_details)").head.getInt(0) == 1)
    assert(res.where("v IS NOT NULL")
      .selectExpr("dq_validations.run_row_success").head.getBoolean(0))
  }

  test("executeManager dispatches a list of file/table operations") {
    val dir = tmpDir("mgr")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/obj.txt"), "payload")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/ddl.sql"),
      "CREATE OR REPLACE TEMP VIEW mgr_v AS SELECT 42 AS answer")
    val statuses = Engine.executeManager(spark,
      s"""{"operations": [
         |  {"manager": "table", "function": "execute_sql",
         |   "sql": "CREATE OR REPLACE TEMP VIEW mgr_sql_v AS SELECT 1 AS one"},
         |  {"manager": "table", "function": "create_view", "path": "$dir/ddl.sql"},
         |  {"manager": "file", "function": "copy_objects", "dry_run": false,
         |   "bucket": "$dir", "source_object": "obj.txt",
         |   "destination_bucket": "$dir", "destination_object": "obj2.txt"},
         |  {"manager": "file", "function": "delete_objects", "dry_run": false,
         |   "bucket": "$dir", "object_paths": ["obj.txt"]},
         |  {"manager": "file", "function": "move_objects", "dry_run": true,
         |   "bucket": "$dir", "source_object": "obj2.txt",
         |   "destination_bucket": "$dir", "destination_object": "obj3.txt"}
         |]}""".stripMargin)
    assert(statuses.size == 5)
    assert(spark.table("mgr_v").collect().head.getInt(0) == 42)
    assert(spark.table("mgr_sql_v").count() == 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/obj2.txt")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/obj.txt")))
    assert(statuses.last.contains("dry_run"))
    // validation collects ALL errors before anything executes
    val err = intercept[RuntimeException] {
      Engine.executeManager(spark,
        """{"operations": [
          |  {"manager": "bogus", "function": "x"},
          |  {"manager": "table", "function": "nope"},
          |  {"manager": "table", "function": "drop_table"}
          |]}""".stripMargin)
    }
    assert(err.getMessage.contains("Manager type not supported: bogus"))
    assert(err.getMessage.contains("Function 'nope' not supported"))
    assert(err.getMessage.contains("Missing mandatory parameters"))
    intercept[RuntimeException] { Engine.executeManager(spark, """{"operations": []}""") }
  }

  test("RunAcon main: load and manage modes run acon files end to end") {
    import spark.implicits._
    val dir = tmpDir("runacon")
    val in = s"$dir/in"
    Seq((1L, 5.0), (2L, -1.0)).toDF("id", "amount")
      .write.mode("overwrite").parquet(in)
    val out = s"$dir/out"
    val loadAcon = s"""{
      |  "input_specs": [{"spec_id": "src", "read_type": "batch",
      |    "data_format": "parquet", "location": "$in"}],
      |  "transform_specs": [{"spec_id": "t", "input_id": "src",
      |    "transformers": [{"function": "expression_filter",
      |      "args": {"exp": "amount > 0"}}]}],
      |  "output_specs": [{"spec_id": "o", "input_id": "t",
      |    "write_type": "overwrite", "data_format": "parquet",
      |    "location": "$out"}]
      |}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/load.json"), loadAcon)
    RunAcon.main(Array("load", s"$dir/load.json"))
    assert(spark.read.parquet(out).count() == 1L)

    val manageAcon = s"""{"operations": [
      |  {"manager": "table", "function": "optimize", "path": "$out",
      |   "target_partitions": 1}]}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/manage.json"), manageAcon)
    RunAcon.main(Array("manage", s"$dir/manage.json"))
    assert(spark.read.parquet(out).inputFiles.length == 1)

    intercept[RuntimeException] { RunAcon.main(Array("bogus", s"$dir/load.json")) }
    intercept[IllegalArgumentException] { RunAcon.main(Array("load")) }
  }

  test("executeManager optimize: zorder col list and where scoping reach the rewrite") {
    import spark.implicits._
    val loc = tmpDir("mgropt") + "/t"
    (1 to 100).map(i => (i % 2, i.toLong)).toDF("p", "x")
      .repartition(4).write.partitionBy("p").mode("overwrite").parquet(loc)
    val st = Engine.executeManager(spark,
      s"""{"operations": [
         |  {"manager": "table", "function": "optimize", "path": "$loc",
         |   "target_partitions": 1, "optimize_zorder_col_list": "x",
         |   "optimize_where": "p = 1"}
         |]}""".stripMargin)
    assert(st.size == 1)
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$loc/p=1"))
      .count(_.getPath.getName.endsWith(".parquet")) == 1)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$loc/p=0"))
      .count(_.getPath.getName.endsWith(".parquet")) > 1)
    assert(spark.read.parquet(loc).count() == 100L)
  }

  test("executeManager: typed dry_run contract, bad types and argless creates rejected") {
    val dir = tmpDir("mgr2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/keep.txt"), "payload")
    // the reference's typed validation rejects a STRING dry_run outright
    // (`expected bool, got str`) — it can never silently run destructively
    val strErr = intercept[RuntimeException] {
      Engine.executeManager(spark,
        s"""{"operations": [
           |  {"manager": "file", "function": "delete_objects", "dry_run": "true",
           |   "bucket": "$dir", "object_paths": ["keep.txt"]}
           |]}""".stripMargin)
    }
    assert(strErr.getMessage.contains(
      "Parameter 'dry_run' expected bool, got str"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/keep.txt")))
    // non-boolean dry_run and create_table without its mandatory path are
    // both caught at validation, before anything runs
    val err = intercept[RuntimeException] {
      Engine.executeManager(spark,
        s"""{"operations": [
           |  {"manager": "file", "function": "delete_objects", "dry_run": 5,
           |   "bucket": "$dir", "object_paths": ["keep.txt"]},
           |  {"manager": "table", "function": "create_table"}
           |]}""".stripMargin)
    }
    assert(err.getMessage.contains("Parameter 'dry_run' expected bool, got int"))
    assert(err.getMessage.contains(
      "Missing mandatory parameters for table manager function create_table: ['path']"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/keep.txt")))
    // a failed move must surface loudly, never as "ok" — local FS throws
    // FileNotFoundException; object stores return false, which the
    // dispatcher's require() turns into IllegalArgumentException
    intercept[Exception] {
      Engine.executeManager(spark,
        s"""{"operations": [
           |  {"manager": "file", "function": "move_objects", "dry_run": false,
           |   "bucket": "$dir", "source_object": "nope.txt",
           |   "destination_bucket": "$dir", "destination_object": "out.txt"}
           |]}""".stripMargin)
    }
  }

  test("generateSensorSapLogchainQuery reproduces the reference template") {
    assert(Engine.generateSensorSapLogchainQuery("MY_CHAIN") ==
      "WITH sensor_new_data AS (" +
        "SELECT CHAIN_ID, CONCAT(DATUM, ZEIT) AS LOAD_DATE, ANALYZED_STATUS " +
        "FROM SAPPHA.RSPCLOGCHAIN " +
        "WHERE UPPER(CHAIN_ID) = UPPER('MY_CHAIN') " +
        "AND UPPER(ANALYZED_STATUS) = UPPER('G'))")
    assert(Engine.generateSensorSapLogchainQuery(
      "c1", dbtable = "DB.CHAINS", status = "X", engineTableName = "t") ==
      "WITH t AS (SELECT CHAIN_ID, CONCAT(DATUM, ZEIT) AS LOAD_DATE, " +
        "ANALYZED_STATUS FROM DB.CHAINS WHERE UPPER(CHAIN_ID) = UPPER('c1') " +
        "AND UPPER(ANALYZED_STATUS) = UPPER('X'))")
    intercept[IllegalArgumentException] { Engine.generateSensorSapLogchainQuery("") }
  }

  test("engine usage stats: strategies, scrubbing, and the partitioned layout") {
    // reference `utils/engine_usage_stats.py` + `tests/feature/
    // test_engine_usage_stats.py`: load_data records the scrubbed acon
    // under {path}/{dp_name}/{year}/{month}/eng_usage_load_data_*.json
    import graft.exec.EngineUsage
    val usage = tmpDir("usage")
    val acon =
      """{
        |  "input_specs": [{"spec_id": "src", "data_format": "dataframe",
        |    "df_name": "d", "options": {"password": "dummy_password"}}],
        |  "output_specs": [{"spec_id": "out", "input_id": "src",
        |    "write_type": "append", "data_format": "dataframe"}],
        |  "exec_env": {"dp_name": "sales_dp"}
        |}""".stripMargin
    try {
      // dev environment + prod_only (the default): nothing recorded
      spark.conf.set("spark.graft.engineDevUsagePath", s"$usage/dev")
      assert(EngineUsage.record(spark, acon, "load_data").isEmpty)
      // dev environment + enabled: dev path, partitioned, scrubbed
      val written = EngineUsage.record(spark, acon, "load_data", EngineUsage.Enabled)
      assert(written.isDefined)
      val now = java.time.LocalDateTime.now()
      assert(written.get.contains(s"/dev/sales_dp/${now.getYear}/${now.getMonthValue}/"))
      val payload = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(new java.net.URI(written.get).getPath)))
      assert(payload.contains("\"password\":\"******\""))
      assert(!payload.contains("dummy_password"))
      assert(payload.contains("\"function\":\"load_data\""))
      assert(payload.contains("\"dp_name\":\"sales_dp\""))
      // prod environment + prod_only: prod path used
      spark.conf.set("spark.graft.environment", "prod")
      spark.conf.set("spark.graft.engineUsagePath", s"$usage/prod")
      val prodWritten = EngineUsage.record(spark, acon, "execute_manager")
      assert(prodWritten.exists(_.contains("/prod/sales_dp/")))
      // disabled: never records, even in prod
      assert(EngineUsage.record(spark, acon, "load_data", EngineUsage.Disabled).isEmpty)
      spark.conf.unset("spark.graft.environment")
      // recording must never fail the caller: an unparseable acon is
      // still recorded (as raw text)
      assert(EngineUsage.record(spark, "not json {", "load_data",
        EngineUsage.Enabled).isDefined)
      // e2e through the facade: loadData with enabled writes the file
      spark.conf.unset("spark.graft.environment")
      import spark.implicits._
      Engine.loadData(spark, acon, dfs = Map("d" -> Seq((1, "a")).toDF("id", "v")),
        collectEngineUsage = EngineUsage.Enabled)
      val dir = new java.io.File(
        s"$usage/dev/sales_dp/${now.getYear}/${now.getMonthValue}")
      assert(dir.listFiles().exists(_.getName.startsWith("eng_usage_load_data_")))
    } finally Seq("spark.graft.engineDevUsagePath", "spark.graft.engineUsagePath",
      "spark.graft.environment").foreach(spark.conf.unset)
  }
}
