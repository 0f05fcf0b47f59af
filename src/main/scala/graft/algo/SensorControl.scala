package graft.algo

import graft.io.{Readers, TableRef}
import graft.spec.InputSpec

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The sensor engine: a port of the reference sensor contract —
  * control-table manager, upstream query generators and the sensor
  * algorithm run loop (`core/sensor_manager.py:24-407`,
  * `algorithms/sensor.py:25-167`, `engine.py:326-406` (facades),
  * `core/definitions.py:1083-1169` (SensorSpec / SENSOR_SCHEMA / update
  * set / allowed formats)).
  *
  * The control table is a catalog table or view, or a storage location
  * ([[graft.io.TableRef]]); a location with no table yet starts empty
  * with [[SensorSchema]]. Reads settle an interrupted commit first, and
  * the MERGE runs as a staged rewrite ([[graft.io.TableRef.rewrite]]; no
  * Delta jars in the build) with the reference's
  * whenMatchedUpdate(set)/whenNotMatchedInsertAll row semantics. The ACON
  * path ([[executeSensor]], which [[HeartbeatControl]]'s sweep runs per
  * control row) and [[checkUpstream]] (behind `Engine.executeSensor`)
  * share one engine.
  *
  * Scale note: the control table is config-sized (one row per sensor), so
  * the full-table rewrite the merge performs is bounded; upstream reads
  * stay lazy — batch sensors evaluate `first()` only, streaming sensors
  * drain an availableNow trigger with checkpoint tracking.
  */
object SensorControl {

  val Acquired = "ACQUIRED_NEW_DATA"
  val Processed = "PROCESSED_NEW_DATA"

  /** Reference SENSOR_SCHEMA (`core/definitions.py:1145-1155`). */
  val SensorSchema: StructType = StructType(Seq(
    StructField("sensor_id", StringType, nullable = false),
    StructField("assets", ArrayType(StringType, containsNull = false)),
    StructField("status", StringType, nullable = false),
    StructField("status_change_timestamp", TimestampType, nullable = false),
    StructField("checkpoint_location", StringType),
    StructField("upstream_key", StringType),
    StructField("upstream_value", StringType)))

  /** SENSOR_UPDATE_SET (`core/definitions.py:1157-1161`): the columns a
    * matched row always refreshes. */
  private val BaseUpdateSet = Seq("sensor_id", "status", "status_change_timestamp")

  /** SENSOR_ALLOWED_DATA_FORMATS (`core/definitions.py:1163-1169`). */
  private val AllowedFormats: Map[String, Seq[String]] = Map(
    "streaming" -> Seq("kafka", "avro", "json", "parquet", "csv", "delta", "cloudfiles"),
    "batch" -> Seq("delta", "jdbc"))

  private val KnownFormats = Seq("kafka", "avro", "json", "parquet", "csv",
    "delta", "cloudfiles", "jdbc", "sql", "table", "dataframe", "sftp",
    "sharepoint", "rest_api", "orc", "text")

  /** Reference SensorSpec (`core/definitions.py:1083-1132`). */
  final case class Spec(
      sensorId: String,
      assets: Seq[String],
      controlDbTableName: String,
      inputSpec: Option[InputSpec],
      preprocessQuery: Option[String],
      checkpointLocation: Option[String],
      failOnEmptyResult: Boolean = true)

  def specFromAcon(m: Map[String, Any]): Spec = {
    import graft.spec.Specs.A
    val sensorId = A.str(m, "sensor_id").getOrElse(sys.error("sensor acon needs sensor_id"))
    val checkpoint = A.str(m, "base_checkpoint_location").map(b =>
      s"${b.stripSuffix("/")}/lakehouse_engine/sensors/$sensorId")
    Spec(
      sensorId = sensorId,
      assets = A.strSeq(m, "assets"),
      controlDbTableName = A.str(m, "control_db_table_name")
        .getOrElse(sys.error("sensor acon needs control_db_table_name")),
      inputSpec = m.get("input_spec").collect { case im: Map[_, _] =>
        graft.spec.Specs.inputSpec(im.map { case (k, v) => String.valueOf(k) -> v })
      },
      preprocessQuery = A.str(m, "preprocess_query"),
      checkpointLocation = checkpoint,
      failOnEmptyResult = A.bool(m, "fail_on_empty_result", default = true))
  }

  // ------------------------------------------------------------------
  // Control table manager (core/sensor_manager.py:24-231)
  // ------------------------------------------------------------------

  /** `_get_sensor_update_set` (sensor_manager.py:169-187): the MERGE
    * update-set mapping — the base columns always, plus each optional
    * field whose value is Python-truthy (non-empty list / non-empty
    * string). Pinned verbatim by ReferenceSensorUnitSpec against
    * `tests/unit/test_sensor_manager.py`. */
  def sensorUpdateSet(
      assets: Seq[String] = Seq.empty,
      checkpointLocation: Option[String] = None,
      upstreamKey: Option[String] = None,
      upstreamValue: Option[String] = None): Map[String, String] = {
    val extras = Seq(
      "assets" -> assets.nonEmpty,
      "checkpoint_location" -> checkpointLocation.exists(_.nonEmpty),
      "upstream_key" -> upstreamKey.exists(_.nonEmpty),
      "upstream_value" -> upstreamValue.exists(_.nonEmpty))
    (BaseUpdateSet.map(c => s"sensors.$c" -> s"updates.$c") ++
      extras.collect { case (c, true) => s"sensors.$c" -> s"updates.$c" }).toMap
  }

  private def emptyControl(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], SensorSchema)

  /** `read_sensor_table_data`: by sensor_id, or by exact asset array, read
    * after settling an interrupted commit of the control table (a location
    * with no table yet holds no rows). */
  def readSensorTableData(spark: SparkSession, controlDbTableName: String,
      sensorId: Option[String] = None, assets: Seq[String] = Seq.empty): Option[Row] = {
    var df = TableRef.read(spark, controlDbTableName).getOrElse(emptyControl(spark))
    if (sensorId.isDefined) df = df.where(col("sensor_id") === sensorId.get)
    else if (assets.nonEmpty) df = df.where(col("assets") === array(assets.map(lit): _*))
    else throw new IllegalArgumentException(
      "Either sensor_id or assets need to be provided as arguments.")
    df.take(1).headOption
  }

  /** A sensor's status in the control table; None when not registered. */
  def sensorStatus(spark: SparkSession, sensorId: String,
      controlDbTableName: String): Option[String] =
    readSensorTableData(spark, controlDbTableName, Some(sensorId))
      .map(r => r.getString(r.fieldIndex("status")))

  def checkIfSensorHasAcquiredData(spark: SparkSession, sensorId: String,
      controlDbTableName: String): Boolean =
    sensorStatus(spark, sensorId, controlDbTableName).contains(Acquired)

  /** `update_sensor_status` (sensor_manager.py:54-127): MERGE one update
    * row into the control table — matched rows refresh the update set
    * (plus assets/checkpoint/upstream fields when provided), unmatched
    * insert the full row. The reference stringifies absent upstream
    * fields with Python `str(None)`, landing the literal `"None"` on
    * inserts — preserved. */
  def updateSensorStatus(spark: SparkSession, spec: Spec, status: String,
      upstreamKey: Option[String] = None, upstreamValue: Option[String] = None,
      statusChangeTimestamp: Option[java.sql.Timestamp] = None): Unit = {
    val now = statusChangeTimestamp.getOrElse(
      new java.sql.Timestamp(System.currentTimeMillis()))
    val newValues: Map[String, Column] = Map(
      "sensor_id" -> lit(spec.sensorId),
      "assets" -> (if (spec.assets.nonEmpty) array(spec.assets.map(lit): _*)
        else lit(null).cast(SensorSchema("assets").dataType)),
      "status" -> lit(status),
      "status_change_timestamp" -> lit(now),
      "checkpoint_location" -> lit(spec.checkpointLocation.orNull),
      "upstream_key" -> lit(upstreamKey.getOrElse("None")),
      "upstream_value" -> lit(upstreamValue.getOrElse("None")))

    val updateSet: Set[String] = sensorUpdateSet(spec.assets,
      spec.checkpointLocation, upstreamKey, upstreamValue)
      .keySet.map(_.stripPrefix("sensors."))

    TableRef.rewrite(spark, spec.controlDbTableName) { current =>
      val ctrl = current.getOrElse(emptyControl(spark))
      val tgtCols = ctrl.columns.toSeq
      val matchedExists = ctrl.where(col("sensor_id") === spec.sensorId).take(1).nonEmpty
      val merged =
        if (matchedExists)
          ctrl.select(tgtCols.map { c =>
            if (updateSet.contains(c))
              when(col("sensor_id") === spec.sensorId, newValues(c).cast(ctrl.schema(c).dataType))
                .otherwise(col(c)).as(c)
            else col(c)
          }: _*)
        else {
          // whenNotMatchedInsertAll: target columns populated by name
          val insert = spark.range(1).select(tgtCols.map(c =>
            newValues(c).cast(ctrl.schema(c).dataType).as(c)): _*)
          ctrl.unionByName(insert)
        }
      merged.coalesce(1)
    }
  }

  // ------------------------------------------------------------------
  // Upstream query generators (core/sensor_manager.py:233-407)
  // ------------------------------------------------------------------

  /** `generate_filter_exp_query`: COUNT-based probe. With an upstream
    * key, `?upstream_key`/`?upstream_value` are substituted — the value
    * stored in the control table (when one is named) wins over
    * `upstreamValue`; a control table without an upstream key raises.
    * `spark` is only used to read the control table. */
  def generateFilterExpQuery(spark: => SparkSession, sensorId: String,
      filterExp: String, controlDbTableName: Option[String] = None,
      upstreamKey: Option[String] = None, upstreamValue: Option[String] = None,
      upstreamTableName: Option[String] = None): String = {
    val sourceTable = upstreamTableName.getOrElse("sensor_new_data")
    if (controlDbTableName.isDefined && upstreamKey.isEmpty)
      throw new IllegalArgumentException(
        "If control_db_table_name is defined, upstream_key should also be defined!")
    upstreamKey match {
      case None =>
        s"SELECT COUNT(1) as count FROM $sourceTable WHERE $filterExp HAVING COUNT(1) > 0"
      case Some(key) =>
        val stored = controlDbTableName
          .flatMap(readSensorTableData(spark, _, Some(sensorId)))
          .filter(_.schema.fieldNames.contains("upstream_value"))
          .flatMap(r => Option(r.getAs[String]("upstream_value"))).filter(_.nonEmpty)
        val value = stored.orElse(upstreamValue).getOrElse("-2147483647")
        val exp = filterExp.replace("?upstream_key", key).replace("?upstream_value", value)
        s"SELECT COUNT(1) as count, '$key' as UPSTREAM_KEY, max($key) as UPSTREAM_VALUE " +
          s"FROM $sourceTable WHERE $exp HAVING COUNT(1) > 0"
    }
  }

  /** `generate_sensor_table_preprocess_query`: the sensor-on-sensor CDF
    * probe. */
  def generateSensorTablePreprocessQuery(sensorId: String): String =
    s"SELECT * FROM sensor_new_data WHERE" +
      s" _change_type in ('insert', 'update_postimage')" +
      s" and sensor_id = '$sensorId'" +
      s" and status = '$Processed'"

  /** `engine.generate_sensor_query` dispatch (engine.py:360-406). */
  def generateSensorQuery(spark: => SparkSession, sensorId: String,
      filterExp: Option[String] = None, controlDbTableName: Option[String] = None,
      upstreamKey: Option[String] = None, upstreamValue: Option[String] = None,
      upstreamTableName: Option[String] = None): String =
    filterExp match {
      case Some(exp) => generateFilterExpQuery(spark, sensorId, exp,
        controlDbTableName, upstreamKey, upstreamValue, upstreamTableName)
      case None => generateSensorTablePreprocessQuery(sensorId)
    }

  /** `generate_sensor_sap_logchain_query` (sensor_manager.py:362-407). */
  def generateSensorSapLogchainQuery(chainId: String,
      dbtable: String = "SAPPHA.RSPCLOGCHAIN", status: String = "G",
      engineTableName: String = "sensor_new_data"): String = {
    if (chainId == null || chainId.isEmpty)
      throw new IllegalArgumentException(
        "To query on log chain SAP table the chain id should be defined!")
    val selectExp = "SELECT CHAIN_ID, CONCAT(DATUM, ZEIT) AS LOAD_DATE, ANALYZED_STATUS"
    val filterExp = s"UPPER(CHAIN_ID) = UPPER('$chainId') " +
      s"AND UPPER(ANALYZED_STATUS) = UPPER('$status')"
    s"WITH $engineTableName AS ($selectExp FROM $dbtable WHERE $filterExp)"
  }

  // ------------------------------------------------------------------
  // Sensor algorithm (algorithms/sensor.py:25-167)
  // ------------------------------------------------------------------

  final case class SensorAlreadyExistsException(msg: String) extends RuntimeException(msg)
  final case class NoNewDataException(msg: String) extends RuntimeException(msg)

  private def noNewData(sensorId: String) =
    NoNewDataException(s"No data was acquired by $sensorId sensor.")

  /** `execute_sensor` over a sensor ACON: returns whether the sensor's
    * status is ACQUIRED_NEW_DATA after the run (the reference's answer). */
  def executeSensor(spark: SparkSession, spec: Spec): Boolean = {
    validateSpec(spec)
    acquire(spark, spec)
    val hasNewData = checkIfSensorHasAcquiredData(spark, spec.sensorId,
      spec.controlDbTableName)
    if (spec.failOnEmptyResult && !hasNewData) throw noNewData(spec.sensorId)
    hasNewData
  }

  /** `execute_sensor` without an ACON (`Engine.executeSensor`):
    * [[executeSensor]] minus the ACON data-format allowlist. A streaming
    * upstream checkpoints at `<control location>__ckpt/<sensorId>`.
    * Returns whether THIS call acquired new data; with
    * `failOnEmptyResult` an empty upstream raises [[NoNewDataException]]
    * instead. */
  def checkUpstream(spark: SparkSession, control: String, sensorId: String,
      upstream: InputSpec, preprocessQuery: Option[String] = None,
      assets: Seq[String] = Seq.empty, failOnEmptyResult: Boolean = false): Boolean = {
    val checkpoint = TableRef.location(spark, control)
      .map(loc => s"${loc.stripSuffix("/")}__ckpt/$sensorId")
    val acquired = acquire(spark,
      Spec(sensorId, assets, control, Some(upstream), preprocessQuery, checkpoint))
    if (failOnEmptyResult && !acquired) throw noNewData(sensorId)
    acquired
  }

  /** Check registration, read the upstream (reader factory + optional
    * preprocess over the `sensor_new_data` view — streaming-safe: the SQL
    * applies as a streaming transformation) and flip the sensor to
    * ACQUIRED_NEW_DATA when it has rows. Returns whether it had rows. */
  private def acquire(spark: SparkSession, spec: Spec): Boolean = {
    if (sensorAlreadyExists(spark, spec))
      throw SensorAlreadyExistsException(
        "There's already a sensor registered with same id or assets!")

    val input = spec.inputSpec.getOrElse(sys.error("sensor needs input_spec"))
    var newData = Readers.read(spark, input)
    spec.preprocessQuery.foreach { q =>
      newData.createOrReplaceTempView("sensor_new_data")
      newData = spark.sql(q)
    }

    if (input.readType == "streaming") {
      val found = new java.util.concurrent.atomic.AtomicBoolean(false)
      newData.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", spec.checkpointLocation.getOrElse(
          sys.error("streaming sensor needs base_checkpoint_location")))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (runBatchSensor(spark, spec, batch)) found.set(true)
        }.start().awaitTermination()
      found.get()
    } else {
      runBatchSensor(spark, spec, newData)
    }
  }

  /** `_check_if_sensor_already_exists`: same id with different assets, or
    * same assets under a different id (a sensor without assets has no
    * asset set to collide on). */
  private[algo] def sensorAlreadyExists(spark: SparkSession, spec: Spec): Boolean = {
    val byId = readSensorTableData(spark, spec.controlDbTableName, Some(spec.sensorId))
    byId match {
      case Some(row) if Option(row.getSeq[String](row.fieldIndex("assets")))
          .getOrElse(Seq.empty) != spec.assets => true
      case _ =>
        spec.assets.nonEmpty &&
          readSensorTableData(spark, spec.controlDbTableName, assets = spec.assets)
            .exists(r => r.getString(r.fieldIndex("sensor_id")) != spec.sensorId)
    }
  }

  /** Flip the sensor to ACQUIRED_NEW_DATA, with the watermark columns
    * (`UPSTREAM_KEY`/`UPSTREAM_VALUE`) when present, if `df` has a row. */
  private def runBatchSensor(spark: SparkSession, spec: Spec, df: DataFrame): Boolean = {
    val first = df.take(1).headOption
    first.foreach { row =>
      def watermark(c: String): Option[String] =
        if (df.columns.contains(c)) Option(row.get(row.fieldIndex(c))).map(String.valueOf(_))
        else None
      updateSensorStatus(spark, spec, Acquired,
        watermark("UPSTREAM_KEY"), watermark("UPSTREAM_VALUE"))
    }
    first.isDefined
  }

  /** `_validate_sensor_spec` (sensor.py:147-164): read-type/data-format
    * allowlist; messages verbatim incl. the Python dict repr of
    * SENSOR_ALLOWED_DATA_FORMATS. */
  private[algo] def validateSpec(spec: Spec): Unit = {
    val input = spec.inputSpec.getOrElse(return)
    val fmt = input.dataFormat.getOrElse(return)
    if (KnownFormats.contains(fmt)) {
      if (!AllowedFormats.getOrElse(input.readType, Seq.empty).contains(fmt)) {
        val allowedRepr = Seq("streaming", "batch").map { rt =>
          s"'$rt': " + AllowedFormats(rt).map(f => s"'$f'")
            .mkString("[", ", ", "]")
        }.mkString("{", ", ", "}")
        throw new NotImplementedError(
          s"A sensor has not been implemented yet for this data format or, " +
            s"this data format is not available for the read_type ${input.readType}. " +
            s"Check the allowed combinations of read_type and data_formats: $allowedRepr")
      }
    } else {
      throw new NotImplementedError(s"Data format $fmt isn't implemented yet.")
    }
  }

  /** `engine.update_sensor_status` (engine.py:326-357). */
  def updateSensorStatusById(spark: SparkSession, sensorId: String,
      controlDbTableName: String, status: String = Processed,
      assets: Seq[String] = Seq.empty): Unit =
    updateSensorStatus(spark,
      Spec(sensorId, assets, controlDbTableName, None, None, None), status)
}
