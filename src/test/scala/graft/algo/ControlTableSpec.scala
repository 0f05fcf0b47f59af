package graft.algo

import graft.{Engine, SparkSpec}
import graft.spec.InputSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._

/** Sensor control tables and the GAB log: a control table written by the
  * earlier location-addressed sensor (5 columns) keeps working, every
  * read of a control table settles an interrupted commit before it
  * rewrites the table, heartbeat control reads settle one too, and the
  * GAB loop settles its log before it reads or appends to it. */
class ControlTableSpec extends SparkSpec {

  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The torn state of a whole-location commit: `content` staged at
    * `<loc>__stage`, the intent written and `live -> __old` done, but not
    * `stage -> live`. */
  private def tear(loc: String, content: DataFrame): Unit = {
    val stage = loc + "__stage"
    content.write.mode("overwrite").parquet(stage)
    val fs = new Path(loc).getFileSystem(conf)
    val out = fs.create(new Path(loc + "__intent"), true)
    try out.writeUTF(new Path(stage).toString) finally out.close()
    assert(fs.rename(new Path(loc), new Path(loc + "__old")))
  }

  private def assertSettled(loc: String): Unit = {
    val fs = new Path(loc).getFileSystem(conf)
    assert(fs.exists(new Path(loc)))
    Seq("__old", "__intent", "__stage").foreach(s => assert(!fs.exists(new Path(loc + s))))
  }

  private def statuses(df: DataFrame): Map[String, String] =
    df.select("sensor_id", "status").as[(String, String)].collect().toMap

  private def upstream(base: String): InputSpec = {
    Seq((1, "x")).toDF("id", "v").write.mode("overwrite").parquet(s"$base/up")
    InputSpec(specId = "up", dataFormat = Some("parquet"), location = Some(s"$base/up"))
  }

  test("a 5-column control table from the location-addressed sensor keeps working") {
    val base = tmpDir("ctl-5col")
    val ctl = s"$base/control"
    val fiveColumns = StructType(Seq(
      StructField("sensor_id", StringType, nullable = false),
      StructField("assets", ArrayType(StringType)),
      StructField("status", StringType, nullable = false),
      StructField("status_change_timestamp", TimestampType, nullable = false),
      StructField("checkpoint_location", StringType)))
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row("s1", Seq.empty[String], SensorControl.Processed, ts, s"$ctl/../checkpoints/s1"),
        Row("other", Seq("a1"), SensorControl.Acquired, ts, s"$ctl/../checkpoints/other"))),
        fiveColumns)
      .write.parquet(ctl)
    val up = upstream(base)
    assert(SensorControl.sensorStatus(spark, "other", ctl).contains(SensorControl.Acquired))
    assert(Engine.executeSensor(spark, ctl, "s1", up))
    assert(statuses(spark.read.parquet(ctl)) ==
      Map("s1" -> SensorControl.Acquired, "other" -> SensorControl.Acquired))
    Engine.updateSensorStatus(spark, ctl, "s1")
    val after = spark.read.parquet(ctl)
    assert(statuses(after) ==
      Map("s1" -> SensorControl.Processed, "other" -> SensorControl.Acquired))
    assert(after.columns.toSeq == fiveColumns.fieldNames.toSeq)
    assert(after.where("sensor_id = 'other'").select("assets").as[Seq[String]].head() ==
      Seq("a1"))
    // the registration check reads the old rows too
    intercept[SensorControl.SensorAlreadyExistsException] {
      Engine.executeSensor(spark, ctl, "s2", up, assets = Seq("a1"))
    }
  }

  test("a new location control table gets the reference's 7-column schema") {
    val base = tmpDir("ctl-new")
    val ctl = s"$base/control"
    assert(Engine.executeSensor(spark, ctl, "s1", upstream(base)))
    assert(spark.read.parquet(ctl).columns.toSeq == SensorControl.SensorSchema.fieldNames.toSeq)
  }

  test("a bare name is a catalog table: a mistyped one raises and writes no directory") {
    val name = s"no_such_control_${System.nanoTime()}"
    intercept[org.apache.spark.sql.AnalysisException] {
      Engine.updateSensorStatus(spark, name, "s1")
    }
    assert(!new java.io.File(name).exists())
  }

  test("a status update through a location settles a torn control-table commit first") {
    val base = tmpDir("ctl-torn")
    val ctl = s"$base/control"
    val up = upstream(base)
    assert(Engine.executeSensor(spark, ctl, "s1", up))
    assert(Engine.executeSensor(spark, ctl, "s2", up))
    // the interrupted commit marked s2 processed
    tear(ctl, spark.read.parquet(ctl).withColumn("status",
      when(col("sensor_id") === "s2", lit(SensorControl.Processed)).otherwise(col("status"))))
    Engine.updateSensorStatus(spark, ctl, "s1")
    assertSettled(ctl)
    assert(statuses(spark.read.parquet(ctl)) ==
      Map("s1" -> SensorControl.Processed, "s2" -> SensorControl.Processed))
  }

  test("a status update through a catalog table settles a torn control-table commit first") {
    val loc = tmpDir("ctl-torn-table") + "/ctl"
    spark.sql("DROP TABLE IF EXISTS ctl_torn")
    spark.sql("CREATE TABLE ctl_torn (sensor_id string, assets array<string>, " +
      "status string, status_change_timestamp timestamp, checkpoint_location string, " +
      s"upstream_key string, upstream_value string) USING parquet LOCATION '$loc'")
    def spec(id: String) = SensorControl.Spec(id, Seq(s"asset_$id"), "ctl_torn", None, None, None)
    SensorControl.updateSensorStatus(spark, spec("s1"), SensorControl.Acquired)
    SensorControl.updateSensorStatus(spark, spec("s2"), SensorControl.Acquired)
    tear(loc, spark.read.parquet(loc).withColumn("status",
      when(col("sensor_id") === "s2", lit(SensorControl.Processed)).otherwise(col("status"))))
    SensorControl.updateSensorStatus(spark, spec("s1"), SensorControl.Processed)
    assertSettled(loc)
    assert(statuses(spark.table("ctl_torn")) ==
      Map("s1" -> SensorControl.Processed, "s2" -> SensorControl.Processed))
    spark.sql("DROP TABLE ctl_torn")
  }

  test("heartbeat control reads through a catalog table settle a torn commit first") {
    val loc = tmpDir("hb-torn-table") + "/ctl"
    spark.sql("DROP TABLE IF EXISTS hb_torn")
    spark.sql("CREATE TABLE hb_torn (sensor_id string, trigger_job_id string, " +
      s"sensor_source string, job_state string, status string) USING parquet LOCATION '$loc'")
    Seq(("s1", "j1", "kafka", "UNPAUSED", null), ("s2", "j2", "kafka", "UNPAUSED", "IN_PROGRESS"))
      .toDF("sensor_id", "trigger_job_id", "sensor_source", "job_state", "status")
      .write.mode("append").insertInto("hb_torn")
    // the interrupted commit completed j2
    tear(loc, spark.read.parquet(loc).withColumn("status",
      when(col("sensor_id") === "s2", lit("COMPLETED")).otherwise(col("status"))))
    val active = HeartbeatControl.activeHeartbeatJobs(spark, "hb_torn", "kafka")
    assertSettled(loc)
    assert(active.select("sensor_id").as[String].collect().sorted.toSeq == Seq("s1", "s2"))
    spark.sql("DROP TABLE hb_torn")
  }

  test("a heartbeat completion through a location settles a torn control-table commit first") {
    val base = tmpDir("hb-torn")
    val (loc, sensorLoc) = (s"$base/control", s"$base/sensors")
    Seq(("s1", "j1"), ("s2", "j2")).toDF("sensor_id", "trigger_job_id").selectExpr(
        "'kafka' AS sensor_source", "sensor_id", "'batch' AS sensor_read_type",
        "sensor_id AS asset_description", "CAST(NULL AS STRING) AS upstream_key",
        "CAST(NULL AS STRING) AS preprocess_query", "trigger_job_id",
        "trigger_job_id AS trigger_job_name", "'UNPAUSED' AS job_state",
        "'TRUE' AS dependency_flag", "CAST(NULL AS TIMESTAMP) AS latest_event_fetched_timestamp",
        "'IN_PROGRESS' AS status", "current_timestamp() AS status_change_timestamp",
        "current_timestamp() AS job_start_timestamp", "CAST(NULL AS TIMESTAMP) AS job_end_timestamp")
      .write.parquet(loc)
    // the interrupted commit completed j2
    tear(loc, spark.read.parquet(loc).withColumn("status",
      when(col("trigger_job_id") === "j2", lit("COMPLETED")).otherwise(col("status"))))
    Engine.updateHeartbeatSensorStatus(spark, loc, sensorLoc, "j1")
    assertSettled(loc)
    val after = spark.read.parquet(loc)
    assert(statuses(after) == Map("s1" -> "COMPLETED", "s2" -> "COMPLETED"))
    assert(after.where("sensor_id = 's1' AND job_end_timestamp IS NOT NULL").count() == 1)
    assert(SensorControl.sensorStatus(spark, "s1_j1", sensorLoc).contains(SensorControl.Processed))
  }

  /** The locations `body` commits through a staged rewrite, one entry per
    * commit: the writes it sends to `<location>__stage`. */
  private def commits(body: => Unit): Seq[String] = {
    val staged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.logical.foreach {
          case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
              if c.outputPath.getName.endsWith("__stage") =>
            staged.add(c.outputPath.toString.stripSuffix("__stage"))
          case _ =>
        }
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // JobCounter drains the listener bus, which delivers these events
    try org.apache.spark.JobCounter.jobs(spark.sparkContext)(body)
    finally spark.listenerManager.unregister(listener)
    staged.toArray(Array.empty[String]).toSeq
  }

  private def heartbeatControl(loc: String, sensors: Seq[(String, String)]): Unit =
    sensors.toDF("sensor_id", "trigger_job_id").selectExpr(
        "'trigger_file' AS sensor_source", "sensor_id", "'batch' AS sensor_read_type",
        "sensor_id AS asset_description", "CAST(NULL AS STRING) AS upstream_key",
        "CAST(NULL AS STRING) AS preprocess_query", "trigger_job_id",
        "trigger_job_id AS trigger_job_name", "'UNPAUSED' AS job_state",
        "'TRUE' AS dependency_flag", "CAST(NULL AS TIMESTAMP) AS latest_event_fetched_timestamp",
        "CAST(NULL AS STRING) AS status", "CAST(NULL AS TIMESTAMP) AS status_change_timestamp",
        "CAST(NULL AS TIMESTAMP) AS job_start_timestamp", "CAST(NULL AS TIMESTAMP) AS job_end_timestamp")
      .write.mode("overwrite").parquet(loc)

  test("a heartbeat sweep commits its hits once, and keeps them when a later sensor throws") {
    val base = tmpDir("hb-sweep")
    val loc = s"$base/control"
    val spec = HeartbeatControl.Spec(loc, s"$base/sensors", "trigger_file")
    def sensorId(row: Row) = row.getString(row.fieldIndex("sensor_id"))
    def hit(row: Row) = Some(sensorId(row) -> row.getString(row.fieldIndex("trigger_job_id")))
    heartbeatControl(loc, Seq("s1" -> "j1", "s2" -> "j2", "s3" -> "j3"))
    val swept = commits(HeartbeatControl.execute(spark, spec,
      runSensor = Some((_: Map[String, Any], row: Row) => if (sensorId(row) == "s3") None else hit(row))))
    assert(swept.map(new Path(_).getName) == Seq("control"))
    assert(statuses(spark.read.parquet(loc)) == Map("s1" -> HeartbeatControl.NewEventAvailable,
      "s2" -> HeartbeatControl.NewEventAvailable, "s3" -> null))

    // the second sensor throws: the first one's hit is still committed
    heartbeatControl(loc, Seq("s1" -> "j1", "s2" -> "j2"))
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val failed = intercept[IllegalStateException](HeartbeatControl.execute(spark, spec,
      runSensor = Some { (_: Map[String, Any], row: Row) =>
        ran += sensorId(row)
        if (ran.size == 2) throw new IllegalStateException("sensor down") else hit(row)
      }))
    assert(failed.getMessage == "sensor down")
    assert(statuses(spark.read.parquet(loc)) == Map(
      ran.head -> HeartbeatControl.NewEventAvailable, ran(1) -> null))
  }

  test("the GAB loop settles a torn gab_log_events commit before it reads and appends the log") {
    val (db, base) = ("gab_torn_log", tmpDir("gab-torn-log"))
    GabFixture.create(spark, db, base, "{'MONTH': {}}")
    val acon = GabFixture.acon(db, base, "2024-01-01", "2024-03-31")
    def run() = Engine.executeGab(spark, acon)
    run()
    val stage = s"$base/usecases/sales/1_sales.sql"
    val once = Seq(("MONTH", "Final Insert", "Success"), ("MONTH", stage, "Success")).sorted
    assert(GabFixture.logRows(spark, db) == once)
    // a compaction of the log was interrupted after live -> __old
    val log = GabFixture.location(base, "gab_log_events")
    tear(log, spark.read.parquet(log))
    val rerun = run()
    assertSettled(log)
    // the settled log is read: its Final Insert is newer than the config row
    assert(rerun.text.contains("View is not being re-created"), rerun.text)
    assert(GabFixture.logRows(spark, db) == (once ++ once).sorted)
    assert(GabFixture.results(spark, db) == Map(
      ("MONTH", "2024-01-01", "2024-01-31", "A") -> 3.0,
      ("MONTH", "2024-02-01", "2024-02-29", "A") -> 4.0,
      ("MONTH", "2024-03-01", "2024-03-31", "A") -> 16.0,
      ("MONTH", "2024-02-01", "2024-02-29", "B") -> 8.0))
  }
}
