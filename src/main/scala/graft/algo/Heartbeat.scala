package graft.algo

import graft.spec.InputSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Heartbeat: a fleet of sensors driven by a control dataset, triggering
  * downstream jobs when upstreams have new data.
  *
  * Capability parity with `lakehouse_engine/algorithms/sensors/heartbeat.py`:
  * iterate the heartbeat control rows, build a sensor spec per source, run
  * the sensor check, and on acquisition fire the downstream job. The
  * reference calls the Databricks Jobs `run-now` REST API; here the
  * trigger is a pluggable trait (the same pattern as the REST writer's
  * transport) so schedulers other than Databricks — or a test recorder —
  * plug in without touching the control flow.
  */
object Heartbeat {

  /** Downstream job launcher ("jobs/run-now" in the reference). */
  trait JobTrigger {
    def trigger(jobId: String, sensorId: String): Unit
  }

  /** Jobs `run-now` HTTP trigger — the wire shape of the reference's
    * `SensorJobRunManager.run_job` (`core/sensor_manager.py:410-452`):
    * `POST {base}/api/2.1/jobs/run-now` with a bearer token and body
    * `{"job_id": ..., "notebook_params": {"msg": ...}}`; 200 carries the
    * `run_id`, any other status carries `error_code` + `message`, which
    * raise here (the reference logs and returns the error — a scheduler
    * fleet wants the failed trigger loud). `baseUrl` is the workspace
    * host; tests point it at a local fake endpoint. */
  final class HttpJobTrigger(
      baseUrl: String,
      tokenProvider: () => String,
      client: java.net.http.HttpClient =
        java.net.http.HttpClient.newBuilder()
          .connectTimeout(java.time.Duration.ofSeconds(30)).build())
      extends JobTrigger {

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

    def trigger(jobId: String, sensorId: String): Unit = run(jobId)
  }

  /** One heartbeat source row. */
  final case class Source(
      sensorId: String,
      location: String,
      dataFormat: String = "parquet",
      readType: String = "batch",
      schema: Option[String] = None,
      options: Map[String, String] = Map.empty,
      jobId: String = "",
      enabled: Boolean = true)

  final case class Result(sensorId: String, acquiredNewData: Boolean, triggeredJob: Option[String])

  /** Run one heartbeat sweep over the given sources. */
  def run(
      spark: SparkSession,
      controlLocation: String,
      sources: Seq[Source],
      jobTrigger: JobTrigger): Seq[Result] = {
    sources.filter(_.enabled).map { src =>
      val spec = InputSpec(
        specId = src.sensorId,
        readType = src.readType,
        dataFormat = Some(src.dataFormat),
        location = Some(src.location),
        schema = src.schema,
        options = src.options)
      val acquired = SensorControl.checkUpstream(spark, controlLocation, src.sensorId, spec)
      val triggered =
        if (acquired && src.jobId.nonEmpty) {
          jobTrigger.trigger(src.jobId, src.sensorId)
          Some(src.jobId)
        } else None
      Result(src.sensorId, acquired, triggered)
    }
  }

  /** Load sources from a heartbeat control DataFrame (columns mirror the
    * reference's heartbeat control table). */
  def sourcesFrom(df: DataFrame): Seq[Source] =
    df.select(
        col("sensor_id"), col("location"),
        coalesce(col("data_format"), lit("parquet")).as("data_format"),
        coalesce(col("read_type"), lit("batch")).as("read_type"),
        col("job_id"),
        coalesce(col("enabled"), lit(true)).as("enabled"))
      .collect().toSeq.map { r =>
        Source(
          sensorId = r.getString(0), location = r.getString(1),
          dataFormat = r.getString(2), readType = r.getString(3),
          jobId = Option(r.getString(4)).getOrElse(""),
          enabled = r.getBoolean(5))
      }

  // ---------------------------------------------------------------------
  // Control-table lifecycle (reference `sensors/heartbeat.py:55-832`):
  // data-feed merge, sweep -> NEW_EVENT_AVAILABLE, dependency-gated
  // trigger -> IN_PROGRESS, completion -> COMPLETED + sensor PROCESSED.
  // ---------------------------------------------------------------------

  val NewEventAvailable = "NEW_EVENT_AVAILABLE"
  val InProgress = "IN_PROGRESS"
  val Completed = "COMPLETED"

  /** Control-table columns (the reference's heartbeat sensor table). */
  val ConfigColumns: Seq[String] = Seq(
    "sensor_source", "sensor_id", "sensor_read_type", "asset_description",
    "upstream_key", "preprocess_query", "trigger_job_id", "trigger_job_name",
    "job_state", "dependency_flag")
  val StateColumns: Seq[String] = Seq(
    "latest_event_fetched_timestamp", "status", "status_change_timestamp",
    "job_start_timestamp", "job_end_timestamp")

  def readControl(spark: SparkSession, location: String): DataFrame =
    spark.read.parquet(location)

  private def writeControl(df: DataFrame, location: String): Unit =
    graft.io.Versioned.write(
      df.select((ConfigColumns ++ StateColumns).map(col): _*), location)

  private def nullState: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "latest_event_fetched_timestamp" -> lit(null).cast("timestamp"),
    "status" -> lit(null).cast("string"),
    "status_change_timestamp" -> lit(null).cast("timestamp"),
    "job_start_timestamp" -> lit(null).cast("timestamp"),
    "job_end_timestamp" -> lit(null).cast("timestamp"))

  /** Sensor-table id (or asset) for a control row — the reference's
    * `generate_unique_column_values`: `[ :.]` -> `_`, + `_<trigger job>`. */
  def sensorTableId(sensorId: String, triggerJobId: String): String =
    sensorId.replaceAll("[ :.]", "_") + "_" + triggerJobId

  /** Data-feed merge (reference `merge_control_table_data_feed_records`):
    * feed rows upsert CONFIG columns; matched rows keep their running
    * STATE columns; brand-new rows get null state; control rows absent
    * from the feed are deleted (whenNotMatchedBySourceDelete). */
  def controlTableDataFeed(
      spark: SparkSession, controlLocation: String, feed: DataFrame): DataFrame = {
    val confFeed = feed.select(ConfigColumns.map(col): _*)
      .withColumn("job_state", upper(col("job_state")))
    val exists = new java.io.File(controlLocation).exists() ||
      scala.util.Try(spark.read.parquet(controlLocation).schema).isSuccess
    val merged =
      if (!exists) nullState.foldLeft(confFeed) { case (d, (c, v)) => d.withColumn(c, v) }
      else {
        val state = readControl(spark, controlLocation)
          .select(("sensor_id" +: "trigger_job_id" +: StateColumns).map(col): _*)
        confFeed.join(state, Seq("sensor_id", "trigger_job_id"), "left")
      }
    writeControl(merged, controlLocation)
    readControl(spark, controlLocation)
  }

  /** Sweep one sensor source: run the sensor for every active control row
    * (UNPAUSED, status null or COMPLETED — reference
    * `_get_active_heartbeat_jobs`) and mark acquiring rows
    * NEW_EVENT_AVAILABLE. `upstream_key` is the readable location and
    * `sensor_source` the data format in this build (the reference builds
    * per-source ACONs for SAP/Kafka/Delta; those connectors are
    * environment-absent here). Returns the (sensor_id, trigger_job_id)
    * pairs that acquired new data. */
  def sweepControl(
      spark: SparkSession, controlLocation: String, sensorControlLocation: String,
      sensorSource: String): Seq[(String, String)] = {
    val control = readControl(spark, controlLocation)
    val active = control
      .where(lower(col("sensor_source")) === sensorSource.toLowerCase &&
        col("job_state") === "UNPAUSED" &&
        (col("status").isNull || col("status") === Completed))
      .select("sensor_id", "trigger_job_id", "upstream_key", "preprocess_query")
      .collect().toSeq
    val hits = active.flatMap { r =>
      val (sid, job) = (r.getString(0), r.getString(1))
      val spec = InputSpec(
        specId = sensorTableId(sid, job),
        dataFormat = Some(sensorSource),
        location = Option(r.getString(2)))
      // an upstream that does not exist yet is simply "no data" for a
      // heartbeat sweep — the next sweep retries it
      val acquired = scala.util.Try(
        SensorControl.checkUpstream(spark, sensorControlLocation, sensorTableId(sid, job), spec,
          preprocessQuery = Option(r.getString(3)).filter(_.nonEmpty)))
        .getOrElse(false)
      if (acquired) Some(sid -> job) else None
    }
    if (hits.nonEmpty) {
      val hitKeys = hits.map { case (s, j) => s"$s||$j" }.toSet.toSeq
      val isHit = concat_ws("||", col("sensor_id"), col("trigger_job_id"))
        .isin(hitKeys: _*) && lower(col("sensor_source")) === sensorSource.toLowerCase
      writeControl(control
        .withColumn("status", when(isHit, NewEventAvailable).otherwise(col("status")))
        .withColumn("status_change_timestamp",
          when(isHit, current_timestamp()).otherwise(col("status_change_timestamp")))
        .withColumn("latest_event_fetched_timestamp",
          when(isHit, current_timestamp())
            .otherwise(col("latest_event_fetched_timestamp"))),
        controlLocation)
    }
    hits
  }

  /** Dependency-gated trigger list (reference
    * `get_heartbeat_jobs_to_trigger`): among jobs with any
    * NEW_EVENT_AVAILABLE row, a job triggers when all its
    * dependency_flag=TRUE rows share one status — i.e. every gated
    * dependency has fired. */
  def jobsToTrigger(control: DataFrame): Seq[String] = {
    val newJobs = control.where(col("status") === NewEventAvailable)
      .select("trigger_job_id").distinct()
    val flagged = control
      .select(col("trigger_job_id"), col("status"),
        trim(upper(col("dependency_flag"))).as("flag"))
      .distinct()
      .join(newJobs, Seq("trigger_job_id"))
      .where(col("flag") === "TRUE")
    // `flagged` is distinct (job, status, flag) rows, so a plain row count
    // per job counts distinct statuses INCLUDING null (a dependency that
    // has never fired) — countDistinct would skip the null and let a job
    // with an unfired dependency through.
    val blocked = flagged.groupBy("trigger_job_id")
      .agg(count(lit(1)).as("n_statuses"))
      .where(col("n_statuses") > 1)
      .select("trigger_job_id")
    flagged.join(blocked, Seq("trigger_job_id"), "left_anti")
      .select("trigger_job_id").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Trigger every dependency-satisfied job and mark its rows IN_PROGRESS
    * with a job_start_timestamp. Returns the triggered job ids. */
  def triggerReadyJobs(
      spark: SparkSession, controlLocation: String,
      jobTrigger: JobTrigger): Seq[String] = {
    val control = readControl(spark, controlLocation)
    val ready = jobsToTrigger(control)
    if (ready.nonEmpty) {
      ready.foreach(job => jobTrigger.trigger(job, ""))
      val hit = col("trigger_job_id").isin(ready: _*)
      writeControl(control
        .withColumn("status", when(hit, InProgress).otherwise(col("status")))
        .withColumn("status_change_timestamp",
          when(hit, current_timestamp()).otherwise(col("status_change_timestamp")))
        .withColumn("job_start_timestamp",
          when(hit, current_timestamp()).otherwise(col("job_start_timestamp"))),
        controlLocation)
    }
    ready
  }

  /** Completion callback (reference
    * `update_heartbeat_sensor_completion_status`): mark the job's control
    * rows COMPLETED with a job_end_timestamp, and flip the corresponding
    * sensor-table rows to PROCESSED so the next sweep re-arms them. */
  def completeJob(
      spark: SparkSession, controlLocation: String, sensorControlLocation: String,
      jobId: String): Unit = {
    val control = readControl(spark, controlLocation)
    val rows = control.where(col("trigger_job_id") === jobId)
      .select("sensor_id").collect().map(_.getString(0)).toSeq
    rows.foreach(sid =>
      SensorControl.updateSensorStatusById(spark, sensorTableId(sid, jobId), sensorControlLocation))
    val hit = col("trigger_job_id") === jobId
    writeControl(control
      .withColumn("status", when(hit, Completed).otherwise(col("status")))
      .withColumn("status_change_timestamp",
        when(hit, current_timestamp()).otherwise(col("status_change_timestamp")))
      .withColumn("job_end_timestamp",
        when(hit, current_timestamp()).otherwise(col("job_end_timestamp"))),
      controlLocation)
  }
}
