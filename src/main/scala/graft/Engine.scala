package graft

import graft.spec.{DQSpec, InputSpec, TerminatorSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's public entry points, one per reference API function
  * (`lakehouse_engine/engine.py:29-476`) — the surface a user of the
  * reference programs against, re-expressed with Scala signatures. Each
  * call delegates to the corresponding algorithm; nothing here adds
  * behavior, so a caller can equally use the algorithm objects directly.
  */
object Engine {

  /** `load_data`: run an ACON pipeline (read -> transform -> DQ -> write
    * -> terminate); returns the produced DataFrames by spec id.
    * `collectEngineUsage` mirrors the reference's strategy parameter
    * (`engine.py:32`, default prod_only): the invocation is recorded via
    * [[exec.EngineUsage]] before the load runs. */
  def loadData(
      spark: SparkSession, aconJson: String,
      dfs: Map[String, DataFrame] = Map.empty,
      customFns: Map[String, DataFrame => DataFrame] = Map.empty,
      collectEngineUsage: String = exec.EngineUsage.ProdOnly): Map[String, DataFrame] = {
    exec.EngineUsage.record(spark, aconJson, "load_data", collectEngineUsage)
    algo.DataLoader.loadData(spark, aconJson, dfs, customFns)
  }

  /** `execute_reconciliation`: truth-vs-current diff with thresholded
    * metrics; throws on a red breach. */
  /** `execute_reconciliation` over a full reconciliation ACON
    * (`algorithms/reconciliator.py`). Returns the recon results map. */
  def executeReconciliation(
      spark: SparkSession, aconJson: String): Map[String, Double] =
    algo.Reconciliator.runAcon(spark, spec.Specs.parseJsonMap(aconJson))

  def executeReconciliation(
      truth: DataFrame, current: DataFrame, keys: Seq[String],
      metrics: Seq[(String, String)], agg: String = "max",
      thresholds: Map[String, (Double, Double)] = Map.empty,
      failOnRed: Boolean = true): Seq[algo.Reconciliator.MetricStatus] =
    algo.Reconciliator.reconcile(truth, current, keys, metrics, agg, thresholds, failOnRed)

  /** `execute_dq_validation`: stand-alone DQ over any readable input,
    * optionally restoring the previous [[io.Versioned]] generation on a
    * breached policy (the reference's Delta-restore path). */
  def executeDqValidation(
      spark: SparkSession, input: InputSpec, dqSpec: DQSpec,
      restorePrevVersion: Boolean = false,
      dfs: io.Readers.DfSupplier =
        name => sys.error(s"no DataFrame registered as '$name'")): dq.DQRunResult =
    algo.DQValidator.validate(spark, input, dqSpec, restorePrevVersion, dfs)

  /** `execute_manager`: dispatch a list of file/table manager operations
    * in one call (reference `engine.py:140-167`). The ACON is
    * `{"operations": [{"manager": "table"|"file", "function": ..., ...}]}`;
    * every operation validates before any executes. Returns one status
    * line per operation. */
  def executeManager(
      spark: SparkSession, aconJson: String,
      collectEngineUsage: String = exec.EngineUsage.ProdOnly): Seq[String] = {
    exec.EngineUsage.record(spark, aconJson, "execute_manager", collectEngineUsage)
    maintain.ManagerDispatch.execute(spark, aconJson)
  }

  /** `execute_manager` over already-parsed operation maps. */
  def executeManager(
      spark: SparkSession, operations: Seq[Map[String, Any]]): Seq[String] =
    maintain.ManagerDispatch.execute(spark, operations)

  /** `validate_manager_list` (`utils/acon_utils.py:17-35`): validate an
    * `{"operations": [...]}` ACON without executing anything — raises on
    * an empty list or on any validation error (all errors collected into
    * one message), returns the operations otherwise. */
  def validateManagerList(aconJson: String): Seq[Map[String, Any]] =
    validateManagerList(spec.Specs.parseJsonMap(aconJson))

  def validateManagerList(acon: Map[String, Any]): Seq[Map[String, Any]] = {
    val ops = spec.Specs.A.seqOfMaps(acon, "operations")
    if (ops.isEmpty)
      throw new RuntimeException("No operations found in the acon.")
    val errors = maintain.ManagerDispatch.validationErrors(ops)
    if (errors.nonEmpty)
      throw new RuntimeException(
        "Errors found during validation:\n" + errors.mkString("\n"))
    ops
  }

  /** `manage_table`: DDL/maintenance operations. */
  def manageTable(spark: SparkSession): maintain.TableManager =
    new maintain.TableManager(spark)

  /** `manage_table` over a single-operation ACON (`engine.py` —
    * `{"function": ..., ...}` with the table manager implied). */
  def manageTable(spark: SparkSession, aconJson: String,
      collectEngineUsage: String = exec.EngineUsage.ProdOnly): Seq[String] = {
    exec.EngineUsage.record(spark, aconJson, "manage_table", collectEngineUsage)
    // flat acons skip typed validation like the reference's (see
    // ManagerDispatch.execute scaladoc)
    maintain.ManagerDispatch.execute(spark,
      Seq(spec.Specs.parseJsonMap(aconJson) + ("manager" -> "table")),
      strictTypes = false)
  }

  /** `execute_dq_validation` over the reference's ACON shape
    * (`{"input_spec": ..., "dq_spec": ..., ...}`). */
  def executeDqValidation(spark: SparkSession, aconJson: String,
      collectEngineUsage: String): dq.DQRunResult = {
    exec.EngineUsage.record(spark, aconJson, "execute_dq_validation",
      collectEngineUsage)
    val m = spec.Specs.parseJsonMap(aconJson)
    def sub(k: String): Map[String, Any] = m.get(k).collect {
      case mm: Map[_, _] => mm.map { case (a, b) => String.valueOf(a) -> b }.toMap
    }.getOrElse(sys.error(s"execute_dq_validation acon needs $k"))
    // per-pipeline exec_env confs, tolerant like the data loader
    m.get("exec_env").foreach {
      case mm: Map[_, _] => mm.foreach { case (k, v) =>
        try spark.conf.set(String.valueOf(k), String.valueOf(v))
        catch { case scala.util.control.NonFatal(_) => () }
      }
      case _ => ()
    }
    executeDqValidation(spark, spec.Specs.inputSpec(sub("input_spec")),
      spec.Specs.dqSpec(sub("dq_spec")),
      restorePrevVersion = m.get("restore_prev_version").contains(true))
  }

  /** `manage_files` over a single-operation ACON. */
  def manageFiles(spark: SparkSession, aconJson: String): Seq[String] =
    maintain.ManagerDispatch.execute(spark,
      Seq(spec.Specs.parseJsonMap(aconJson) + ("manager" -> "file")),
      strictTypes = false)

  /** `manage_files`: file-system operations. */
  def manageFiles(spark: SparkSession): maintain.FileManager =
    new maintain.FileManager(spark)

  /** `execute_sensor`: check one upstream; true when this call acquired
    * new data ([[algo.SensorControl.checkUpstream]]). */
  def executeSensor(
      spark: SparkSession, controlLocation: String, sensorId: String,
      upstream: InputSpec, preprocessQuery: Option[String] = None,
      assets: Seq[String] = Seq.empty,
      failOnEmptyResult: Boolean = false): Boolean =
    algo.SensorControl.checkUpstream(spark, controlLocation, sensorId, upstream,
      preprocessQuery, assets, failOnEmptyResult)

  /** `update_sensor_status`: mark a sensor's data consumed. */
  def updateSensorStatus(
      spark: SparkSession, controlLocation: String, sensorId: String): Unit =
    algo.SensorControl.updateSensorStatusById(spark, sensorId, controlLocation)

  /** `generate_sensor_query`: preprocess query for a sensor config
    * ([[algo.SensorControl.generateSensorQuery]] without a control
    * table). */
  def generateSensorQuery(
      sensorId: String,
      filterExp: Option[String] = None,
      upstreamKey: Option[String] = None,
      upstreamValue: Option[String] = None,
      upstreamTableName: Option[String] = None): String =
    algo.SensorControl.generateSensorQuery(SparkSession.active, sensorId, filterExp,
      None, upstreamKey, upstreamValue, upstreamTableName)

  /** `generate_sensor_sap_logchain_query`: the CTE prelude a sensor
    * prepends to its JDBC query to watch an SAP BW process-chain status
    * table ([[algo.SensorControl.generateSensorSapLogchainQuery]]). */
  def generateSensorSapLogchainQuery(
      chainId: String,
      dbtable: String = "SAPPHA.RSPCLOGCHAIN",
      status: String = "G",
      engineTableName: String = "sensor_new_data"): String =
    algo.SensorControl.generateSensorSapLogchainQuery(chainId, dbtable, status,
      engineTableName)

  /** `send_notification` (engine.py): email specs go through the full
    * EmailNotifier create+send choreography — the facade does NOT apply
    * on_failure gating (that belongs to the terminator path) — anything
    * else renders through the pluggable transport. */
  def sendNotification(spec: TerminatorSpec, failed: Boolean = false): Unit =
    if (spec.args.get("type").map(String.valueOf).contains("email") &&
        spec.args.contains("server"))
      algo.EmailNotifier.sendNotification(
        algo.EmailNotifier.createNotification(spec.args))
    else algo.Notifier.notify(spec, failed)

  /** `execute_gab` over the reference's ACON: run the active
    * `lookup_table` use cases of the acon's queues and labels through
    * their stage files, replace their cadence slices of `target_table`,
    * log each stage to `gab_log_events` and (re)create their consumption
    * views in `target_database` ([[algo.GabChoreography]]). Returns the
    * run's log messages. */
  def executeGab(spark: SparkSession, aconJson: String): algo.GabChoreography.RunLog =
    algo.GabChoreography.execute(spark, algo.GabChoreography.specFromAcon(aconJson))

  // Heartbeat (`engine.py:220-325`): each control table — the heartbeat
  // one and the sensor one it drives — is a storage location or a catalog
  // table (a reference containing `/` is a location, [[graft.io.TableRef]]).

  /** `execute_sensor_heartbeat`: sweep the active control rows of the
    * acon's sensor source; rows whose sensor acquires new data land
    * NEW_EVENT_AVAILABLE. */
  def executeSensorHeartbeat(spark: SparkSession, acon: Map[String, Any]): Unit =
    algo.HeartbeatControl.execute(spark, algo.HeartbeatControl.specFromAcon(acon))

  /** `trigger_heartbeat_sensor_jobs`: launch every dependency-satisfied
    * job and mark its rows IN_PROGRESS; returns the launched job ids.
    * `runJob` returns the scheduler's run id, or None when the launch
    * failed; by default it is the jobs `run-now` call against the acon's
    * `domain` and `token`. */
  def triggerHeartbeatSensorJobs(
      spark: SparkSession, acon: Map[String, Any],
      runJob: Option[String => Option[String]] = None): Seq[String] = {
    val spec = algo.HeartbeatControl.specFromAcon(acon)
    algo.HeartbeatControl.triggerJobs(spark, spec,
      runJob.getOrElse(algo.HeartbeatControl.runJobHttp(spec)))
  }

  /** `execute_heartbeat_sensor_data_feed`: upsert the definitions of a
    * CSV feed into the heartbeat control table, keeping running state;
    * a location with no table yet is created from the feed. */
  def executeHeartbeatSensorDataFeed(
      spark: SparkSession, dataFeedPath: String, controlTable: String): Unit =
    algo.HeartbeatControl.controlTableDataFeed(spark, dataFeedPath, controlTable)

  /** `update_heartbeat_sensor_status`: completion callback for a
    * triggered job — its control rows COMPLETED, its sensor-table rows
    * PROCESSED_NEW_DATA. */
  def updateHeartbeatSensorStatus(
      spark: SparkSession, controlTable: String,
      sensorTable: String, jobId: String): Unit =
    algo.HeartbeatControl.updateCompletionStatus(spark, controlTable, sensorTable, jobId)
}
