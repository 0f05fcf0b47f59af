package graft.algo

import graft.io.TableRef
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table-addressed Heartbeat sensor fleet — the reference's
  * `algorithms/sensors/heartbeat.py` contract over [[SensorControl]]:
  *
  *  - a CSV data feed upserts sensor DEFINITIONS into the heartbeat
  *    control table (running state survives, vanished definitions are
  *    deleted);
  *  - a sweep per source system runs one sensor per active row
  *    (UNPAUSED, status null or COMPLETED) and marks acquiring rows
  *    NEW_EVENT_AVAILABLE;
  *  - dependency-satisfied jobs trigger (all dependency_flag=TRUE rows
  *    of the job share one status) via the anchor record of the acon's
  *    sensor source, landing IN_PROGRESS;
  *  - job completion flips the job's rows COMPLETED and the matching
  *    sensor-table rows PROCESSED_NEW_DATA.
  *
  * The job launcher and the per-row sensor execution are injectable (the
  * reference patches `_execute_batch_of_sensor` / `run_job` in its own
  * tests the same way); timestamps take an optional fixed clock so runs
  * are replayable. Control tables are config-sized by definition — the
  * driver-side collects here are bounded by the fleet size, not data.
  *
  * A control table is a storage location or a catalog table
  * ([[graft.io.TableRef]]); every read settles an interrupted commit
  * first, and every write commits through
  * [[graft.io.PartitionedRewrite.rewriteAll]]. The data feed creates a
  * control table at a location that holds none yet.
  */
object HeartbeatControl {

  val NewEventAvailable = "NEW_EVENT_AVAILABLE"
  val InProgress = "IN_PROGRESS"
  val Completed = "COMPLETED"

  /** Control-table columns (the reference's heartbeat sensor table):
    * the definitions a data feed carries, then the running state. */
  val ConfigColumns: Seq[String] = Seq(
    "sensor_source", "sensor_id", "sensor_read_type", "asset_description",
    "upstream_key", "preprocess_query", "trigger_job_id", "trigger_job_name",
    "job_state", "dependency_flag")
  val StateColumns: Seq[String] = Seq(
    "latest_event_fetched_timestamp", "status", "status_change_timestamp",
    "job_start_timestamp", "job_end_timestamp")

  /** Sensor-table id (or asset) for a control row — the reference's
    * `generate_unique_column_values`: `[ :.]` -> `_`, + `_<trigger job>`. */
  def sensorTableId(sensorId: String, triggerJobId: String): String =
    sensorId.replaceAll("[ :.]", "_") + "_" + triggerJobId

  /** `HeartbeatConfigSpec` (reference `core/definitions.py`). */
  final case class Spec(
      heartbeatSensorDbTable: String,
      lakehouseEngineSensorDbTable: String,
      sensorSource: String,
      dataFormat: Option[String] = None,
      options: Option[Map[String, Any]] = None,
      schemaDict: Option[String] = None,
      baseCheckpointLocation: Option[String] = None,
      baseTriggerFileLocation: Option[String] = None,
      jdbcDbTable: Option[String] = None,
      kafkaConfigs: Map[String, Map[String, Any]] = Map.empty,
      kafkaSecretScope: Option[String] = None,
      token: Option[String] = None,
      domain: Option[String] = None)

  def specFromAcon(m: Map[String, Any]): Spec = {
    import graft.spec.Specs.A
    Spec(
      heartbeatSensorDbTable = A.str(m, "heartbeat_sensor_db_table")
        .getOrElse(sys.error("heartbeat acon needs heartbeat_sensor_db_table")),
      lakehouseEngineSensorDbTable = A.str(m, "lakehouse_engine_sensor_db_table")
        .getOrElse(sys.error("heartbeat acon needs lakehouse_engine_sensor_db_table")),
      sensorSource = A.str(m, "sensor_source")
        .getOrElse(sys.error("heartbeat acon needs sensor_source")),
      dataFormat = A.str(m, "data_format"),
      options = m.get("options").collect { case mm: Map[_, _] =>
        mm.map { case (k, v) => String.valueOf(k) -> v }.toMap[String, Any]
      },
      kafkaConfigs = m.get("kafka_configs").collect { case mm: Map[_, _] =>
        mm.collect { case (k, v: Map[_, _]) =>
          String.valueOf(k) -> v.map { case (a, b) =>
            String.valueOf(a) -> b }.toMap[String, Any]
        }.toMap
      }.getOrElse(Map.empty),
      kafkaSecretScope = A.str(m, "kafka_secret_scope"),
      schemaDict = A.str(m, "schema_dict"),
      baseCheckpointLocation = A.str(m, "base_checkpoint_location"),
      baseTriggerFileLocation = A.str(m, "base_trigger_file_location"),
      jdbcDbTable = A.str(m, "jdbc_db_table"),
      token = A.str(m, "token"),
      domain = A.str(m, "domain"))
  }

  /** The control table's rows, read through [[TableRef.read]], which
    * settles an interrupted commit of the table first. */
  private def controlRows(spark: SparkSession, controlTable: String): DataFrame =
    TableRef.read(spark, controlTable).getOrElse(
      sys.error(s"heartbeat control table $controlTable holds no table"))

  // -------------------------------------------------------------------
  // Data feed (`heartbeat_sensor_control_table_data_feed`)
  // -------------------------------------------------------------------

  /** `merge_control_table_data_feed_records`: upsert definitions keyed on
    * (sensor_id, trigger_job_id) — matched rows refresh definition
    * columns and keep running state, new rows insert with null state,
    * control rows absent from the feed are deleted
    * (whenNotMatchedBySourceDelete). */
  def controlTableDataFeed(spark: SparkSession, feedPath: String,
      controlTable: String): Unit = {
    val feed = spark.read.format("csv").option("header", "true").load(feedPath)
      .withColumn("job_state", upper(col("job_state")))
    TableRef.rewrite(spark, controlTable) {
      case Some(target) =>
        val state = target.select(
          ("sensor_id" +: "trigger_job_id" +: StateColumns).map(col): _*)
        val merged = feed.join(state, Seq("sensor_id", "trigger_job_id"), "left")
        merged.select(target.schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toSeq: _*).coalesce(1)
      case None =>
        // a location with no table yet: every feed row is new, state null
        feed.select(ConfigColumns.map(col) ++ Seq(
          lit(null).cast("timestamp").as("latest_event_fetched_timestamp"),
          lit(null).cast("string").as("status"),
          lit(null).cast("timestamp").as("status_change_timestamp"),
          lit(null).cast("timestamp").as("job_start_timestamp"),
          lit(null).cast("timestamp").as("job_end_timestamp")): _*).coalesce(1)
    }
  }

  // -------------------------------------------------------------------
  // Sweep (`Heartbeat.execute`)
  // -------------------------------------------------------------------

  /** `_get_active_heartbeat_jobs`: UNPAUSED rows of the source with
    * status null or COMPLETED. */
  def activeHeartbeatJobs(spark: SparkSession, controlTable: String,
      sensorSource: String): DataFrame =
    controlRows(spark, controlTable)
      .filter(lower(col("sensor_source")) === sensorSource.toLowerCase)
      .filter("job_state == 'UNPAUSED' and (status is null OR status == 'COMPLETED')")

  /** `_get_sensor_acon_from_heartbeat` (+
    * `_enhance_sensor_acon_extra_options`): the per-row sensor ACON. */
  /** Secret lookup for the kafka SSL passwords (the reference uses
    * dbutils.secrets, `heartbeat.py` `_get_all_kafka_options`):
    * deployments install one; the default resolves nothing — and the
    * acon builder below leaves the password null, which the kafka read
    * rejects loudly at connect time. */
  @volatile var defaultSecretProvider: (Option[String], String) => Option[String] =
    (_, _) => None

  def sensorAconFromHeartbeat(spark: SparkSession, spec: Spec, row: Row,
      secretProvider: (Option[String], String) => Option[String] =
        defaultSecretProvider): Map[String, Any] = {
    def s(name: String): Option[String] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(String.valueOf(row.get(i)))
    }
    val sensorId = s("sensor_id").getOrElse("")
    val triggerJobId = s("trigger_job_id").getOrElse("")
    val source = s("sensor_source").getOrElse("").toLowerCase
    val upstreamValue = s("latest_event_fetched_timestamp")
      .map(_ => {
        val ts = row.getTimestamp(row.fieldIndex("latest_event_fetched_timestamp"))
        new java.text.SimpleDateFormat("yyyyMMddHHmmss").format(ts)
      }).getOrElse("19000101000000")
    val base: Map[String, Any] = Map(
      "sensor_id" -> sensorTableId(sensorId, triggerJobId),
      "assets" -> Seq(sensorTableId(
        s("asset_description").getOrElse(""), triggerJobId)),
      "control_db_table_name" -> spec.lakehouseEngineSensorDbTable,
      "input_spec" -> (Map(
        "spec_id" -> "sensor_upstream",
        "read_type" -> s("sensor_read_type").getOrElse("batch"),
        "data_format" -> spec.dataFormat.orNull,
        "db_table" -> (if (spec.dataFormat.contains("delta")) sensorId else null),
        "options" -> spec.options.orNull,
        "location" -> spec.baseTriggerFileLocation
          .map(b => s"$b/$sensorId").orNull,
        "schema" -> spec.schemaDict.orNull): Map[String, Any]),
      "preprocess_query" -> s("preprocess_query").orNull,
      "base_checkpoint_location" -> spec.baseCheckpointLocation.orNull,
      "fail_on_empty_result" -> false)
    source match {
      case "sap_b4" | "sap_bw" =>
        val opts = spec.options.getOrElse(Map.empty[String, Any]) ++ Map(
          "prepareQuery" -> SensorControl.generateSensorSapLogchainQuery(
            chainId = sensorId,
            dbtable = spec.jdbcDbTable.getOrElse("SAPPHA.RSPCLOGCHAIN")),
          "query" -> SensorControl.generateFilterExpQuery(spark, sensorId,
            "?upstream_key > '?upstream_value'",
            controlDbTableName = Some(spec.lakehouseEngineSensorDbTable),
            upstreamKey = s("upstream_key"),
            upstreamValue = Some(upstreamValue)))
        val in = base("input_spec").asInstanceOf[Map[String, Any]] +
          ("options" -> opts)
        base + ("input_spec" -> in)
      case "lmu_delta_table" =>
        base + ("preprocess_query" -> SensorControl.generateFilterExpQuery(
          spark, sensorId, "?upstream_key > '?upstream_value'",
          controlDbTableName = Some(spec.lakehouseEngineSensorDbTable),
          upstreamKey = s("upstream_key"),
          upstreamValue = Some(upstreamValue)))
      case "kafka" =>
        // `_get_all_kafka_options`: per-data-product connection config
        // selected by the sensor id's `dp: topic` prefix, passwords via
        // the pluggable secret provider (dbutils.secrets there)
        val parts = sensorId.split(":")
        require(parts.length == 2,
          s"heartbeat kafka sensor_id must be 'dp_name: topic', got '$sensorId'")
        val dpName = parts(0).trim
        val topic = parts(1).trim
        val cfg = spec.kafkaConfigs.getOrElse(dpName, sys.error(
          s"heartbeat kafka_configs has no entry for '$dpName'"))
        def secret(keyName: String): Any =
          cfg.get(keyName).filter(_ != null).map(String.valueOf)
            .flatMap(k => secretProvider(spec.kafkaSecretScope, k)).orNull
        val kafkaOptions: Map[String, Any] = Map(
          "kafka.bootstrap.servers" -> cfg("kafka_bootstrap_servers_list"),
          "subscribe" -> topic,
          "startingOffsets" -> "earliest",
          "kafka.security.protocol" -> "SSL",
          "kafka.ssl.truststore.location" -> cfg("kafka_ssl_truststore_location"),
          "kafka.ssl.truststore.password" -> secret("truststore_pwd_secret_key"),
          "kafka.ssl.keystore.location" -> cfg("kafka_ssl_keystore_location"),
          "kafka.ssl.keystore.password" -> secret("keystore_pwd_secret_key"))
        val in = base("input_spec").asInstanceOf[Map[String, Any]] +
          ("options" -> kafkaOptions)
        base + ("input_spec" -> in)
      case _ => base
    }
  }

  /** `_execute_batch_of_sensor` default: run the sensor, return the
    * (sensor_id, trigger_job_id) of the row on acquisition. */
  def executeBatchOfSensor(spark: SparkSession)(
      sensorAcon: Map[String, Any], row: Row): Option[(String, String)] = {
    val hasNew = SensorControl.executeSensor(spark,
      SensorControl.specFromAcon(sensorAcon))
    if (hasNew)
      Some((row.getString(row.fieldIndex("sensor_id")),
        row.getString(row.fieldIndex("trigger_job_id"))))
    else None
  }

  /** `Heartbeat.execute`: sweep the active rows of the acon's sensor
    * source; acquiring sensors land NEW_EVENT_AVAILABLE with the sweep's
    * event timestamp, in one commit after the sweep. The commit runs even
    * when a sensor throws, so the hits acquired before it are kept. */
  def execute(spark: SparkSession, spec: Spec,
      runSensor: Option[(Map[String, Any], Row) => Option[(String, String)]] = None,
      now: Option[java.sql.Timestamp] = None,
      secretProvider: (Option[String], String) => Option[String] =
        defaultSecretProvider): Unit = {
    val nowCol = now.map(lit(_).cast("timestamp")).getOrElse(current_timestamp())
    val controlTable = spec.heartbeatSensorDbTable
    val active = activeHeartbeatJobs(spark, controlTable, spec.sensorSource)
    val run = runSensor.getOrElse(executeBatchOfSensor(spark) _)
    val hits = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try active.collect().foreach { row =>
      hits ++= run(sensorAconFromHeartbeat(spark, spec, row, secretProvider), row)
    } finally if (hits.nonEmpty) {
      val updated = activeHeartbeatJobs(spark, controlTable, spec.sensorSource)
        .filter(hits.map { case (sid, job) =>
          col("sensor_id") === sid && col("trigger_job_id") === job
        }.reduce(_ || _))
        .withColumn("status", lit(NewEventAvailable))
        .withColumn("status_change_timestamp", nowCol)
        .withColumn("latest_event_fetched_timestamp", nowCol)
      mergeByKeys(spark, controlTable, updated,
        extraTargetCond = lower(col("sensor_source")) ===
          spec.sensorSource.toLowerCase)
    }
  }

  // -------------------------------------------------------------------
  // Trigger (`heartbeat_sensor_trigger_jobs`)
  // -------------------------------------------------------------------

  /** `get_heartbeat_jobs_to_trigger`: among jobs with a
    * NEW_EVENT_AVAILABLE row (in the source-scoped view), a job fires
    * when all its dependency_flag=TRUE rows across the WHOLE table share
    * one status. */
  def jobsToTrigger(spark: SparkSession, controlTable: String,
      scopedControl: DataFrame): Seq[String] = {
    val newJobs = scopedControl
      .filter(s"status == '$NewEventAvailable'")
      .select("trigger_job_id").distinct()
    val fullData = controlRows(spark, controlTable)
      .select(col("trigger_job_id"), col("status"),
        upper(col("dependency_flag")).as("dependency_flag"))
      .distinct()
    val flagged = fullData.join(newJobs, Seq("trigger_job_id"))
      .filter(trim(upper(col("dependency_flag"))) === "TRUE")
    val blocked = flagged
      .groupBy("trigger_job_id", "dependency_flag")
      .agg(count("trigger_job_id").as("count"))
      .where(col("count") > 1)
      .select("trigger_job_id")
    flagged.join(blocked, Seq("trigger_job_id"), "left_anti")
      .groupBy("trigger_job_id", "status")
      .agg(count("trigger_job_id").as("count"))
      .where(col("count") === 1)
      .select("trigger_job_id").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** `get_anchor_job_record`: the job's latest row (status change desc,
    * sensor_id asc), kept only when it belongs to the acon's source —
    * one source triggers and updates, the others observe. */
  def anchorJobRecord(control: DataFrame, jobId: String,
      sensorSource: String): DataFrame =
    control.filter(col("trigger_job_id") === jobId)
      .withColumn("row_no", row_number().over(
        Window.partitionBy("trigger_job_id")
          .orderBy(col("status_change_timestamp").desc, col("sensor_id").asc)))
      .filter(s"row_no = 1 AND sensor_source = '$sensorSource'")
      .drop("row_no")

  /** `heartbeat_sensor_trigger_jobs`: fire dependency-satisfied jobs via
    * the injectable launcher; successful launches mark every row of the
    * job IN_PROGRESS with a start timestamp. `runJob` returns the
    * scheduler run id, or None on failure (the row then stays
    * untouched). */
  def triggerJobs(spark: SparkSession, spec: Spec,
      runJob: String => Option[String],
      now: Option[java.sql.Timestamp] = None): Seq[String] = {
    val nowCol = now.map(lit(_).cast("timestamp")).getOrElse(current_timestamp())
    val controlTable = spec.heartbeatSensorDbTable
    val scoped = controlRows(spark, controlTable).filter(
      lower(col("sensor_source")) === spec.sensorSource.toLowerCase &&
        col("job_state") === "UNPAUSED")
    val jobs = jobsToTrigger(spark, controlTable, scoped)
    val full = controlRows(spark, controlTable)
    val fired = jobs.filter { jobId =>
      anchorJobRecord(full, jobId, spec.sensorSource).take(1).nonEmpty &&
        runJob(jobId).isDefined
    }
    if (fired.nonEmpty) {
      val updated = full
        .filter(col("trigger_job_id").isin(fired: _*))
        .withColumn("job_start_timestamp", nowCol)
        .withColumn("status", lit(InProgress))
        .withColumn("status_change_timestamp", nowCol)
      mergeByKeys(spark, controlTable, updated, extraTargetCond = lit(true))
    }
    fired
  }

  /** Jobs `run-now` HTTP trigger — the wire shape of the reference's
    * `SensorJobRunManager.run_job` (`core/sensor_manager.py:410-452`):
    * `POST {base}/api/2.1/jobs/run-now` with a bearer token and body
    * `{"job_id": ..., "notebook_params": {"msg": ...}}`; 200 carries the
    * `run_id`, any other status carries `error_code` + `message`, which
    * raise here (the reference logs and returns the error — a scheduler
    * fleet wants the failed trigger loud). `baseUrl` is the workspace
    * host. */
  final class HttpJobTrigger(
      baseUrl: String,
      tokenProvider: () => String,
      client: java.net.http.HttpClient =
        java.net.http.HttpClient.newBuilder()
          .connectTimeout(java.time.Duration.ofSeconds(30)).build()) {

    import java.net.http.{HttpRequest, HttpResponse}

    /** Trigger and return the scheduler's run id. */
    def run(jobId: String): Long = {
      val body =
        s"""{"job_id": "${jobId.replace("\"", "\\\"")}", """ +
          """"notebook_params": {"msg": "triggered via heartbeat sensor"}}"""
      val req = HttpRequest.newBuilder(
          java.net.URI.create(s"${baseUrl.stripSuffix("/")}/api/2.1/jobs/run-now"))
        .header("Authorization", s"Bearer ${tokenProvider()}")
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val res = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (res.statusCode() == 200) {
        val parsed = graft.spec.Specs.parseJsonMap(res.body())
        parsed.get("run_id").collect { case n: Number => n.longValue() }
          .getOrElse(sys.error(s"jobs/run-now 200 response missing run_id: ${res.body().take(200)}"))
      } else {
        // an error body may be proxy HTML or empty — a JSON parse failure
        // there must not mask the real HTTP status and message
        val detail = scala.util.Try(graft.spec.Specs.parseJsonMap(res.body())).toOption match {
          case Some(p) if p.contains("error_code") || p.contains("message") =>
            p.get("error_code").map(String.valueOf(_)).getOrElse(res.statusCode().toString) +
              "  " + p.get("message").map(String.valueOf(_)).getOrElse("")
          case _ => s"HTTP ${res.statusCode()}: ${res.body().take(200)}"
        }
        sys.error(s"jobs/run-now failed: $detail")
      }
    }
  }

  /** Default launcher: the Databricks jobs `run-now` wire call
    * (`SensorJobRunManager.run_job`) against the acon's domain+token. */
  def runJobHttp(spec: Spec)(jobId: String): Option[String] = {
    val trigger = new HttpJobTrigger(
      "https://" + spec.domain.getOrElse(sys.error("heartbeat acon needs domain")),
      () => spec.token.getOrElse(sys.error("heartbeat acon needs token")))
    scala.util.Try(trigger.run(jobId)).toOption.map(_.toString)
  }

  // -------------------------------------------------------------------
  // Completion (`update_heartbeat_sensor_completion_status`)
  // -------------------------------------------------------------------

  /** Flip a finished job's control rows COMPLETED (+end timestamp) and
    * its sensor-table rows PROCESSED_NEW_DATA. */
  def updateCompletionStatus(spark: SparkSession, controlTable: String,
      sensorTable: String, jobId: String,
      now: Option[java.sql.Timestamp] = None): Unit = {
    val ts = now.getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))
    val jobRows = controlRows(spark, controlTable)
      .filter(col("trigger_job_id") === jobId)
      .withColumn("status", lit(Completed))
      .withColumn("status_change_timestamp", lit(ts).cast("timestamp"))
      .withColumn("job_end_timestamp", lit(ts).cast("timestamp"))
    // sensor PROCESSED updates first, as in the reference
    jobRows.select("sensor_id", "trigger_job_id").collect().foreach { r =>
      SensorControl.updateSensorStatus(spark, SensorControl.Spec(
        sensorTableId(r.getString(0), r.getString(1)), Seq.empty, sensorTable, None, None, None),
        SensorControl.Processed, statusChangeTimestamp = Some(ts))
    }
    mergeByKeys(spark, controlTable, jobRows, extraTargetCond = lit(true))
  }

  // -------------------------------------------------------------------
  // Merge materialization
  // -------------------------------------------------------------------

  /** `update_heartbeat_control_table`: replace target rows matching the
    * update rows on (sensor_id, trigger_job_id) — optionally narrowed by
    * an extra target condition — with the update rows; unmatched update
    * rows insert. The control table is config-sized, so the key set is
    * bounded. */
  private def mergeByKeys(spark: SparkSession, controlTable: String,
      updated: DataFrame, extraTargetCond: Column): Unit = {
    val target = controlRows(spark, controlTable)
    val keys = updated
      .select(concat_ws("||", col("sensor_id"), col("trigger_job_id")))
      .collect().map(_.getString(0)).toSeq.distinct
    val isHit = concat_ws("||", col("sensor_id"), col("trigger_job_id"))
      .isin(keys: _*) && extraTargetCond
    val kept = target.filter(not(coalesce(isHit, lit(false))))
    val aligned = updated.select(target.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    TableRef.rewrite(spark, controlTable)(_ => kept.unionByName(aligned).coalesce(1))
  }
}
