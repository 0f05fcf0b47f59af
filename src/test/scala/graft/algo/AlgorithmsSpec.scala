package graft.algo

import graft.{Engine, SparkSpec}
import graft.spec.{DQFunctionSpec, DQSpec, InputSpec}
import graft.util.SqlSplitter
import java.nio.file.{Files, Paths}

/** Sensor, DQValidator, GAB, TableManager, SqlSplitter coverage. */
class AlgorithmsSpec extends SparkSpec {

  import spark.implicits._

  test("sql splitter respects quotes and comments") {
    val script =
      """CREATE TABLE t (a INT); -- trailing; comment
        |INSERT INTO t VALUES (1); /* block; ; comment */
        |SELECT 'semi;colon' AS s FROM t;
        |SELECT "quoted;too" FROM t
        |""".stripMargin
    val stmts = SqlSplitter.split(script)
    assert(stmts.length == 4)
    assert(stmts(2).contains("'semi;colon'"))
  }

  test("sensor acquires on new data and records control state") {
    val ctl = tmpDir("sensor") + "/control"
    val dataDir = tmpDir("sensor-data")
    Seq((1, "x")).toDF("id", "v").write.mode("overwrite").parquet(s"$dataDir/up")
    val spec = InputSpec(specId = "up", dataFormat = Some("parquet"),
      location = Some(s"$dataDir/up"))
    assert(SensorControl.checkUpstream(spark, ctl, "s1", spec))
    assert(SensorControl.sensorStatus(spark, "s1", ctl).contains(SensorControl.Acquired))
    SensorControl.updateSensorStatusById(spark, "s1", ctl)
    assert(SensorControl.sensorStatus(spark, "s1", ctl).contains(SensorControl.Processed))
    // preprocess query that matches nothing -> no new data
    assert(!SensorControl.checkUpstream(spark, ctl, "s2", spec,
      preprocessQuery = Some("SELECT * FROM sensor_new_data WHERE id > 100")))
    assert(SensorControl.sensorStatus(spark, "s2", ctl).isEmpty)
  }

  test("sensor registration contract: duplicate id/assets raise; fail_on_empty_result; assets survive status changes") {
    // Golden port of `tests/feature/test_sensors.py`
    // test_if_sensor_already_exists + the fail_on_empty_result contract.
    val ctl = tmpDir("sensor-reg") + "/control"
    val dataDir = tmpDir("sensor-reg-data")
    Seq((1, "x")).toDF("id", "v").write.mode("overwrite").parquet(s"$dataDir/up")
    val spec = InputSpec(specId = "up", dataFormat = Some("parquet"),
      location = Some(s"$dataDir/up"))
    assert(SensorControl.checkUpstream(spark, ctl, "sensor_id_1", spec,
      assets = Seq("dummy_asset_1")))

    // Same asset under a different sensor id.
    val byAssets = intercept[SensorControl.SensorAlreadyExistsException] {
      SensorControl.checkUpstream(spark, ctl, "sensor_id_2", spec,
      assets = Seq("dummy_asset_1"))
    }
    assert(byAssets.getMessage ==
      "There's already a sensor registered with same id or assets!")
    // Same sensor id with different assets.
    intercept[SensorControl.SensorAlreadyExistsException] {
      SensorControl.checkUpstream(spark, ctl, "sensor_id_1", spec,
      assets = Seq("dummy_asset_2"))
    }
    // Re-running the SAME registration is fine (the sensor's normal loop).
    assert(SensorControl.checkUpstream(spark, ctl, "sensor_id_1", spec,
      assets = Seq("dummy_asset_1")))

    // Status change must not erase the assets registration.
    SensorControl.updateSensorStatusById(spark, "sensor_id_1", ctl)
    assert(SensorControl.sensorStatus(spark, "sensor_id_1", ctl).contains(SensorControl.Processed))
    intercept[SensorControl.SensorAlreadyExistsException] {
      SensorControl.checkUpstream(spark, ctl, "sensor_id_3", spec,
      assets = Seq("dummy_asset_1"))
    }

    // fail_on_empty_result: an empty upstream raises instead of false.
    intercept[SensorControl.NoNewDataException] {
      SensorControl.checkUpstream(spark, ctl, "sensor_id_4", spec,
        preprocessQuery = Some("SELECT * FROM sensor_new_data WHERE id > 100"),
        failOnEmptyResult = true)
    }
  }

  test("jdbc sensor: new rows flip the sensor through a Derby upstream") {
    // Golden port of `tests/feature/test_sensors.py` test_jdbc_sensor:
    // the sensor's upstream is a JDBC table read through the same
    // reader factory, with a watermark preprocess query.
    val dir = tmpDir("sensor-jdbc")
    val dbUrl = s"jdbc:derby:$dir/db;create=true"
    val opts = Map("url" -> dbUrl,
      "driver" -> "org.apache.derby.jdbc.EmbeddedDriver", "dbtable" -> "events")
    Seq((1, "a")).toDF("id", "v").write.format("jdbc").options(opts).save()

    val ctl = tmpDir("sensor-jdbc-ctl") + "/control"
    val spec = InputSpec(specId = "up", dataFormat = Some("jdbc"), options = opts)
    assert(SensorControl.checkUpstream(spark, ctl, "j1", spec,
      preprocessQuery = Some("SELECT * FROM sensor_new_data WHERE id > 0")))
    assert(SensorControl.sensorStatus(spark, "j1", ctl).contains(SensorControl.Acquired))
    SensorControl.updateSensorStatusById(spark, "j1", ctl)
    // Watermarked query sees nothing new after processing id <= 1...
    assert(!SensorControl.checkUpstream(spark, ctl, "j1", spec,
      preprocessQuery = Some("SELECT * FROM sensor_new_data WHERE id > 1")))
    assert(SensorControl.sensorStatus(spark, "j1", ctl).contains(SensorControl.Processed))
    // ...until new rows land in the JDBC table.
    Seq((2, "b")).toDF("id", "v").write.format("jdbc").options(opts)
      .mode("append").save()
    assert(SensorControl.checkUpstream(spark, ctl, "j1", spec,
      preprocessQuery = Some("SELECT * FROM sensor_new_data WHERE id > 1")))
    assert(SensorControl.sensorStatus(spark, "j1", ctl).contains(SensorControl.Acquired))
  }

  test("dq validator over a file input") {
    val dir = tmpDir("dqv")
    Seq((1, "a"), (2, "b")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$dir/in")
    val result = DQValidator.validate(spark,
      InputSpec(specId = "in", dataFormat = Some("parquet"), location = Some(s"$dir/in")),
      DQSpec("dq", "in", dqFunctions = Seq(
        DQFunctionSpec("expect_column_values_to_not_be_null", Map("column" -> "name")))))
    assert(result.success)
  }

  test("gab builds unified multi-cadence insights with window metrics") {
    val src = Seq(
      ("2024-01-05", "A", 10.0), ("2024-01-20", "A", 5.0),
      ("2024-02-10", "A", 7.0), ("2024-02-15", "B", 3.0),
      ("2024-04-01", "A", 2.0))
      .toDF("d", "grp", "v")
      .selectExpr("CAST(d AS DATE) AS d", "grp", "v")
    val uc = Gab.UseCase(
      name = "t", dateCol = "d", dimensions = Seq("grp"),
      metrics = Seq(Gab.Metric("total", "sum", "v"), Gab.Metric("n", "count", "v")),
      cadences = Seq("MONTH", "QUARTER"),
      derived = Seq(Gab.DerivedMetric("avg_v", "total / n")),
      windows = Seq(Gab.WindowMetric("prev_total", "total", "lag", 1, 1)))
    val insights = Gab.buildInsights(src, uc)
    val jan = insights.where("cadence = 'MONTH' AND grp = 'A' AND from_date = '2024-01-01'")
    assert(jan.select("total").as[Double].collect().head == 15.0)
    val feb = insights.where("cadence = 'MONTH' AND grp = 'A' AND from_date = '2024-02-01'")
    assert(feb.select("prev_total").as[Double].collect().head == 15.0)
    val q1 = insights.where("cadence = 'QUARTER' AND grp = 'A' AND from_date = '2024-01-01'")
    assert(q1.select("n").as[Long].collect().head == 3)
  }

  test("dq validator restores the previous version on breached policy") {
    val loc = tmpDir("dqv-restore") + "/table"
    // v1: clean data; v2: a bad load with nulls
    Seq((1, "a"), (2, "b")).toDF("id", "name").transform { df =>
      graft.io.Versioned.write(df, loc); df
    }
    Seq((3, null), (4, null)).toDF("id", "name").transform { df =>
      graft.io.Versioned.write(df, loc); df
    }
    assert(graft.io.Versioned.versions(spark.sparkContext.hadoopConfiguration, loc)
      == Seq(1))
    val input = InputSpec(specId = "in", dataFormat = Some("parquet"),
      location = Some(loc))
    val dq = DQSpec("dq", "in", dqFunctions = Seq(
      DQFunctionSpec("expect_column_values_to_not_be_null", Map("column" -> "name"))))
    val e = intercept[graft.dq.DQValidationFailedException] {
      DQValidator.validate(spark, input, dq, restorePrevVersion = true)
    }
    assert(e.getMessage.contains("restored to the previous version! (v1"))
    // the original DQ failure travels as the cause, not just flattened text
    assert(e.getCause.isInstanceOf[graft.dq.DQValidationFailedException])
    // live content is back to v1 and the bad generation stays in history
    assert(spark.read.parquet(loc).selectExpr("id").as[Int].collect().toSet == Set(1, 2))
    assert(graft.io.Versioned.versions(spark.sparkContext.hadoopConfiguration, loc)
      == Seq(2))
    // the restored data now passes
    assert(DQValidator.validate(spark, input, dq, restorePrevVersion = true).success)
  }

  test("dq validator: failed restore does not mask the DQ failure") {
    val loc = tmpDir("dqv-norestore") + "/table"
    // single live write, NO archived versions -> restore is impossible
    Seq((1, null.asInstanceOf[String])).toDF("id", "name")
      .write.parquet(loc)
    val input = InputSpec(specId = "in", dataFormat = Some("parquet"),
      location = Some(loc))
    val dq = DQSpec("dq", "in", dqFunctions = Seq(
      DQFunctionSpec("expect_column_values_to_not_be_null", Map("column" -> "name"))))
    val e = intercept[graft.dq.DQValidationFailedException] {
      DQValidator.validate(spark, input, dq, restorePrevVersion = true)
    }
    // the DQ failure surfaces; the restore error rides along as suppressed
    assert(e.getSuppressed.exists(_.getMessage.contains("no archived")))
  }

  test("versioned double restore walks back through history, not into quarantine") {
    val conf = spark.sparkContext.hadoopConfiguration
    val loc = tmpDir("versioned-2x") + "/table"
    Seq(1).toDF("v").transform { df => graft.io.Versioned.write(df, loc, keepVersions = 3); df }
    Seq(2).toDF("v").transform { df => graft.io.Versioned.write(df, loc, keepVersions = 3); df }
    Seq(99).toDF("v").transform { df => graft.io.Versioned.write(df, loc, keepVersions = 3); df }
    // live=99 (bad), archives v1=1, v2=2
    assert(graft.io.Versioned.restorePrevious(conf, loc) == 2)
    assert(spark.read.parquet(loc).as[Int].collect().toSeq == Seq(2))
    // second restore must NOT bring back the quarantined 99 — it walks to v1
    assert(graft.io.Versioned.restorePrevious(conf, loc) == 1)
    assert(spark.read.parquet(loc).as[Int].collect().toSeq == Seq(1))
  }

  test("gab week-start: Monday vs Sunday truncation (week_start matrix axis)") {
    // 2024-01-07 is a Sunday, 2024-01-08 a Monday
    val src = Seq(("2024-01-07", "A", 1.0), ("2024-01-08", "A", 2.0), ("2024-01-10", "A", 4.0))
      .toDF("d", "grp", "v").selectExpr("CAST(d AS DATE) AS d", "grp", "v")
    def weeks(weekStart: String) = Gab.buildInsights(src,
      Gab.UseCase("w", "d", Seq("grp"), Seq(Gab.Metric("total", "sum", "v")),
        Seq("WEEK"), weekStart = weekStart))
      .selectExpr("CAST(from_date AS STRING)", "total")
      .as[(String, Double)].collect().toMap
    // Monday weeks: Sunday the 7th belongs to the week of Jan 1
    assert(weeks("MONDAY") == Map("2024-01-01" -> 1.0, "2024-01-08" -> 6.0))
    // Sunday weeks: the 7th STARTS a new week containing the 8th and 10th
    assert(weeks("SUNDAY") == Map("2024-01-07" -> 7.0))
  }

  test("gab snapshots: period-to-date rows, last snapshot equals plain cadence") {
    val src = Seq(
      ("2024-01-01", "A", 1.0), ("2024-01-03", "A", 2.0), ("2024-01-04", "A", 4.0),
      ("2024-01-09", "A", 8.0))
      .toDF("d", "grp", "v").selectExpr("CAST(d AS DATE) AS d", "grp", "v")
    val uc = Gab.UseCase("s", "d", Seq("grp"),
      Seq(Gab.Metric("total", "sum", "v"), Gab.Metric("n", "count", "v"),
        Gab.Metric("avg_v", "avg", "v")),
      Seq("WEEK"), snapshots = Map("WEEK" -> "DAY"))
    val snaps = Gab.buildInsights(src, uc)
      .selectExpr("CAST(from_date AS STRING) AS f", "CAST(to_date AS STRING) AS t",
        "total", "n", "avg_v")
      .as[(String, String, Double, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // week of Jan 1 (Monday): snapshots at each day from first datum to
    // period end... bounded by the data horizon (Jan 9), so all 7 days
    val w1 = snaps.filter(_._1._1 == "2024-01-01")
    assert(w1.size == 7) // dense: Jan 1..7 (to_date Jan 2..8)
    assert(w1(("2024-01-01", "2024-01-02")) == ((1.0, 1L, 1.0)))
    assert(w1(("2024-01-01", "2024-01-03")) == ((1.0, 1L, 1.0))) // empty day carries forward
    assert(w1(("2024-01-01", "2024-01-04")) == ((3.0, 2L, 1.5)))
    assert(w1(("2024-01-01", "2024-01-05")) == ((7.0, 3L, 7.0 / 3)))
    // completed period: final snapshot equals the plain cadence aggregate
    assert(w1(("2024-01-01", "2024-01-08")) == ((7.0, 3L, 7.0 / 3)))
    val plain = Gab.buildInsights(src, uc.copy(snapshots = Map.empty))
      .where("from_date = '2024-01-01'").selectExpr("total", "n")
      .as[(Double, Long)].collect().head
    assert(plain == ((7.0, 3L)))
    // horizon clamp: week of Jan 8 has snapshots only through Jan 9
    val w2 = snaps.filter(_._1._1 == "2024-01-08")
    assert(w2.keySet.map(_._2).max == "2024-01-10")
  }

  test("gab consumption view: snapshot rank-aligned lags union non-snapshot branch") {
    val src = Seq(
      ("2024-01-01", "A", 1.0), ("2024-01-02", "A", 2.0),
      ("2024-01-08", "A", 4.0), ("2024-01-09", "A", 8.0),
      ("2024-02-05", "A", 16.0))
      .toDF("d", "grp", "v").selectExpr("CAST(d AS DATE) AS d", "grp", "v")
    val uc = Gab.UseCase("cv", "d", Seq("grp"),
      Seq(Gab.Metric("total", "sum", "v")),
      cadences = Seq("WEEK", "MONTH"), snapshots = Map("WEEK" -> "DAY"))
    val insights = Gab.buildInsights(src, uc)
    val view = Gab.consumptionView(insights, uc,
      Gab.ViewMapping("vw_cv", Map("g" -> "grp"), Seq("total"),
        lastCadence = Seq(Gab.CalcLag("total_last", "total")),
        windowFunctions = Seq(Gab.CalcWindow("total_sum_2_1", "total", "sum", 2, 1)),
        derived = Seq(Gab.DerivedMetric("total_half", "total * 0.5"))))
    // non-snapshot MONTH branch: plain per-period lag
    val feb = view.where("cadence = 'MONTH' AND from_date = '2024-02-01'")
      .selectExpr("total", "total_last", "total_half")
      .as[(Double, Double, Double)].collect().head
    assert(feb == ((16.0, 15.0, 8.0)))
    // snapshot WEEK branch: rank-aligned lag — the day-2 snapshot of week
    // 2 (total 4+8=12) lags to the day-2 snapshot of week 1 (total 1+2=3)
    val w2d2 = view.where(
      "cadence = 'WEEK' AND from_date = '2024-01-08' AND to_date = '2024-01-10'")
      .selectExpr("total", "total_last").as[(Double, Double)].collect().head
    assert(w2d2 == ((12.0, 3.0)))
    // first period: lag coalesces to 0
    val w1d1 = view.where(
      "cadence = 'WEEK' AND from_date = '2024-01-01' AND to_date = '2024-01-02'")
      .selectExpr("total", "total_last").as[(Double, Double)].collect().head
    assert(w1d1 == ((1.0, 0.0)))
  }

  test("gab config table: parse, execute and register views end-to-end") {
    val (db, base) = ("gab_cfg", tmpDir("gab-cfg"))
    GabFixture.create(spark, db, base,
      """{'WEEK': {'recon_window': {'DAY': {'snapshot': 'Y'}}},
        |'MONTH': {'recon_window': {'DAY': {'snapshot': 'N'}}}}""".stripMargin,
      startOfWeek = "S")
    GabFixture.writeSales(spark, db, base,
      Seq(("2024-01-07", "A", 1.0), ("2024-01-09", "A", 2.0), ("2024-02-05", "A", 4.0)))
    Engine.executeGab(spark, GabFixture.acon(db, base, "2024-01-01", "2024-02-29"))
    // the view is created in the target database and is queryable
    val view = spark.table(s"$db.vw_sales")
    val weekRows = view.where("cadence = 'WEEK'")
      .selectExpr("CAST(from_date AS STRING)").distinct()
      .as[String].collect().toSet
    // the combined configuration renders `${config_week_start}` as the
    // literal Monday, as the reference does, so the Sunday-start use case
    // still gets Monday weeks: Jan 7 (a Sunday) falls in the week of Jan 1
    assert(weekRows == Set("2024-01-01", "2024-01-08", "2024-02-05"))
    assert(view.columns.contains("total_last") && view.columns.contains("total_x2"))
    val months = view.where("cadence = 'MONTH'").orderBy("from_date")
      .selectExpr("total", "total_last", "total_x2").as[(Double, Double, Double)].collect()
    assert(months.toSeq == Seq((3.0, 0.0, 6.0), (4.0, 3.0, 8.0)))
    // one stage row and one Final Insert row per reconciliation cadence:
    // MONTH reconciles as MONTH and as DAY, WEEK as its DAY snapshot
    val log = GabFixture.logRows(spark, db)
    assert(log.groupBy(_._1).map { case (c, rs) => c -> rs.size } == Map("MONTH" -> 4, "WEEK" -> 2))
    assert(log.forall(_._3 == "Success"))
  }

  test("gab reconciliation window: only the last N periods are recomputed") {
    val (db, base) = ("gab_recon", tmpDir("gab-recon"))
    GabFixture.create(spark, db, base, "{'MONTH': {}}")
    GabFixture.writeSales(spark, db, base,
      Seq(("2024-01-10", "A", 1.0), ("2024-02-10", "A", 2.0), ("2024-03-10", "A", 3.0)))
    Engine.executeGab(spark, GabFixture.acon(db, base, "2024-01-01", "2024-03-31"))
    // the source corrects Jan and Mar and adds Apr; the next run's window
    // covers Mar and Apr only
    GabFixture.writeSales(spark, db, base, Seq(("2024-01-10", "A", 100.0),
      ("2024-02-10", "A", 2.0), ("2024-03-10", "A", 30.0), ("2024-04-10", "A", 4.0)))
    Engine.executeGab(spark, GabFixture.acon(db, base, "2024-03-01", "2024-04-30"))
    val byMonth = GabFixture.results(spark, db).map { case ((_, from, _, _), total) => from -> total }
    assert(byMonth("2024-01-01") == 1.0) // untouched
    assert(byMonth("2024-02-01") == 2.0) // untouched
    assert(byMonth("2024-03-01") == 30.0) // recomputed
    assert(byMonth("2024-04-01") == 4.0) // new
    assert(byMonth.size == 4)
  }

  test("table manager: create/describe/properties/pk/drop via catalog") {
    val tm = new graft.maintain.TableManager(spark)
    tm.executeSql(
      """CREATE TABLE IF NOT EXISTS graft_tm_test (id INT, name STRING)
        |USING parquet TBLPROPERTIES ('lakehouse.primary_key' = 'id, name');
        |INSERT INTO graft_tm_test VALUES (1, 'x')""".stripMargin)
    assert(tm.getTablePk("graft_tm_test") == Seq("id", "name"))
    assert(spark.table("graft_tm_test").count() == 1)
    tm.truncate("graft_tm_test")
    assert(spark.table("graft_tm_test").count() == 0)
    tm.dropTable("graft_tm_test")
  }

  test("table manager delete_where rewrites a parquet location") {
    val loc = tmpDir("tm") + "/t"
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v").write.parquet(loc)
    new graft.maintain.TableManager(spark).deleteWhere(loc, "id = 2")
    val rest = spark.read.parquet(loc)
    assert(rest.count() == 2)
    assert(rest.where("id = 2").count() == 0)
  }

  test("file manager list/copy/move/delete") {
    val fm = new graft.maintain.FileManager(spark)
    val dir = tmpDir("fm")
    Files.writeString(Paths.get(s"$dir/a.txt"), "x")
    assert(fm.list(dir).exists(_.endsWith("a.txt")))
    assert(fm.copy(s"$dir/a.txt", s"$dir/b.txt"))
    assert(fm.move(s"$dir/b.txt", s"$dir/c.txt"))
    assert(fm.delete(s"$dir/c.txt"))
    assert(!fm.list(dir).exists(_.endsWith("c.txt")))
  }

  /** A heartbeat over `trigger_file` sources: each row's sensor reads the
    * csv files landing at `<base>/trigger/<sensor_id>` as a stream. */
  private def heartbeatSpec(base: String): HeartbeatControl.Spec =
    HeartbeatControl.specFromAcon(Map(
      "heartbeat_sensor_db_table" -> s"$base/control",
      "lakehouse_engine_sensor_db_table" -> s"$base/sensor-control",
      "sensor_source" -> "trigger_file", "data_format" -> "csv",
      "schema_dict" -> "id INT, v STRING",
      "base_trigger_file_location" -> s"$base/trigger",
      "base_checkpoint_location" -> s"$base/checkpoints"))

  /** The data-feed csv of (sensor_id, trigger_job_id, job_state) rows,
    * written under `base`; its path. */
  private def hbFeed(base: String, name: String, rows: Seq[(String, String, String)]): String = {
    val path = s"$base/$name"
    rows.map { case (sid, job, state) => ("trigger_file", sid, "streaming", s"asset-$sid",
        null: String, null: String, job, s"name-$job", state, "TRUE") }
      .toDF(HeartbeatControl.ConfigColumns: _*).coalesce(1)
      .write.option("header", "true").csv(path)
    path
  }

  /** An empty upstream for each sensor id (a missing one fails the sweep). */
  private def hbUpstreams(base: String, sids: String*): Unit =
    sids.foreach(sid => Files.createDirectories(Paths.get(s"$base/trigger/$sid")))

  private def hbLand(base: String, sid: String, file: String, rows: String): Unit =
    Files.writeString(Paths.get(s"$base/trigger/$sid/$file.csv"), rows)

  /** (sensor_id, trigger_job_id) of the control rows in `status`. */
  private def hbRows(ctl: String, status: String): Set[(String, String)] =
    spark.read.parquet(ctl).where($"status" === status)
      .select("sensor_id", "trigger_job_id").as[(String, String)].collect().toSet

  test("heartbeat control-table lifecycle: feed, sweep, gated trigger, completion") {
    val base = tmpDir("hb-life")
    val spec = heartbeatSpec(base)
    val (ctl, sctl) = (spec.heartbeatSensorDbTable, spec.lakehouseEngineSensorDbTable)
    // job-A is gated on TWO sensors; job-B on one; one row is PAUSED
    val feed = Seq(("sa1", "job-A", "UNPAUSED"), ("sa2", "job-A", "UNPAUSED"),
      ("sb1", "job-B", "UNPAUSED"), ("sp1", "job-P", "PAUSED"))
    hbUpstreams(base, "sa1", "sa2", "sb1", "sp1")
    HeartbeatControl.controlTableDataFeed(spark, hbFeed(base, "feed", feed), ctl)
    val control0 = spark.read.parquet(ctl)
    assert(control0.columns.toSeq ==
      HeartbeatControl.ConfigColumns ++ HeartbeatControl.StateColumns)
    assert(control0.count() == 4 && control0.where("status IS NOT NULL").count() == 0)
    // only sa1, sb1 and the paused sp1 have upstream data
    hbLand(base, "sa1", "f1", "1,x\n")
    hbLand(base, "sb1", "f1", "2,y\n")
    hbLand(base, "sp1", "f1", "9,p\n")
    HeartbeatControl.execute(spark, spec)
    assert(hbRows(ctl, HeartbeatControl.NewEventAvailable) ==
      Set("sa1" -> "job-A", "sb1" -> "job-B"))
    assert(SensorControl.sensorStatus(spark,
      HeartbeatControl.sensorTableId("sp1", "job-P"), sctl).isEmpty) // never swept
    // job-A is blocked (sa2 has not fired); job-B triggers
    val triggered = scala.collection.mutable.ArrayBuffer.empty[String]
    val launch: String => Option[String] = { jobId => triggered += jobId; Some(s"run-$jobId") }
    assert(HeartbeatControl.triggerJobs(spark, spec, launch) == Seq("job-B"))
    assert(triggered.toSeq == Seq("job-B"))
    assert(spark.read.parquet(ctl).where("trigger_job_id = 'job-B' AND " +
      "status = 'IN_PROGRESS' AND job_start_timestamp IS NOT NULL").count() == 1)
    // sa2's upstream lands -> sweep -> job-A's gated deps now agree
    hbLand(base, "sa2", "f1", "3,z\n")
    HeartbeatControl.execute(spark, spec)
    assert(hbRows(ctl, HeartbeatControl.NewEventAvailable) ==
      Set("sa1" -> "job-A", "sa2" -> "job-A"))
    assert(HeartbeatControl.triggerJobs(spark, spec, launch) == Seq("job-A"))
    // completion: COMPLETED rows + sensor table re-armed as PROCESSED
    HeartbeatControl.updateCompletionStatus(spark, ctl, sctl, "job-B")
    assert(spark.read.parquet(ctl).where("trigger_job_id = 'job-B' AND " +
      "status = 'COMPLETED' AND job_end_timestamp IS NOT NULL").count() == 1)
    assert(SensorControl.sensorStatus(spark, HeartbeatControl.sensorTableId("sb1", "job-B"),
      sctl).contains(SensorControl.Processed))
    // a COMPLETED row is active again; its streaming sensor fires on the
    // next file that lands, not on the one it already consumed
    HeartbeatControl.execute(spark, spec)
    assert(hbRows(ctl, HeartbeatControl.NewEventAvailable).isEmpty)
    hbLand(base, "sb1", "f2", "4,w\n")
    HeartbeatControl.execute(spark, spec)
    assert(hbRows(ctl, HeartbeatControl.NewEventAvailable) == Set("sb1" -> "job-B"))
    // data-feed delete: a feed without job-B's row removes it, state kept
    HeartbeatControl.controlTableDataFeed(spark,
      hbFeed(base, "feed2", feed.filter(_._2 != "job-B")), ctl)
    val control2 = spark.read.parquet(ctl)
    assert(control2.count() == 3)
    assert(control2.where("trigger_job_id = 'job-A' AND status = 'IN_PROGRESS'")
      .count() == 2) // preserved running state
  }

  test("heartbeat sweeps sensors and triggers jobs for acquired sources") {
    val base = tmpDir("hb")
    val spec = heartbeatSpec(base)
    hbUpstreams(base, "hb1", "hb2", "hb3")
    hbLand(base, "hb1", "f1", "1,x\n")
    hbLand(base, "hb2", "f1", "2,y\n") // data, but its row is PAUSED
    HeartbeatControl.controlTableDataFeed(spark, hbFeed(base, "feed", Seq(
      ("hb1", "job-1", "UNPAUSED"), ("hb2", "job-2", "PAUSED"), ("hb3", "job-3", "UNPAUSED"))),
      spec.heartbeatSensorDbTable)
    HeartbeatControl.execute(spark, spec)
    // hb3's upstream is empty; hb2 is paused
    assert(hbRows(spec.heartbeatSensorDbTable, HeartbeatControl.NewEventAvailable) ==
      Set("hb1" -> "job-1"))
    val triggered = scala.collection.mutable.ArrayBuffer.empty[String]
    assert(HeartbeatControl.triggerJobs(spark, spec,
      jobId => { triggered += jobId; Some("run") }) == Seq("job-1"))
    assert(triggered.toSeq == Seq("job-1"))
    assert(hbRows(spec.heartbeatSensorDbTable, HeartbeatControl.InProgress) ==
      Set("hb1" -> "job-1"))
  }

  test("sensor→heartbeat e2e: a landing file flips the streaming sensor and triggers exactly once") {
    // the reference's actual operating loop (`algorithms/sensor.py:90-108`
    // + `sensors/heartbeat.py:42-832`): files LAND in an upstream
    // location; the heartbeat sweep reads it as a stream (checkpointed,
    // so each sweep sees only files that arrived since the last one),
    // flips the sensor control row, and fires the downstream job trigger.
    val base = tmpDir("hb-e2e")
    val spec = heartbeatSpec(base)
    val (ctl, sctl) = (spec.heartbeatSensorDbTable, spec.lakehouseEngineSensorDbTable)
    val sensorId = HeartbeatControl.sensorTableId("lnd1", "job-lnd")
    hbUpstreams(base, "lnd1")
    HeartbeatControl.controlTableDataFeed(spark,
      hbFeed(base, "feed", Seq(("lnd1", "job-lnd", "UNPAUSED"))), ctl)
    val triggered = scala.collection.mutable.ArrayBuffer.empty[String]
    def sweep(): Seq[String] = {
      HeartbeatControl.execute(spark, spec)
      HeartbeatControl.triggerJobs(spark, spec, jobId => { triggered += jobId; Some("run") })
    }

    // sweep 1: upstream is empty — no acquisition, no trigger
    assert(sweep().isEmpty && triggered.isEmpty)
    assert(SensorControl.sensorStatus(spark, sensorId, sctl).isEmpty)

    // a file lands → sweep 2 acquires and fires the job
    hbLand(base, "lnd1", "batch1", "1,a\n2,b\n")
    assert(sweep() == Seq("job-lnd"))
    assert(triggered.toSeq == Seq("job-lnd"))
    assert(SensorControl.sensorStatus(spark, sensorId, sctl).contains(SensorControl.Acquired))

    // downstream done; sweep 3 sees the SAME file — checkpointed
    // stream yields nothing new, job must NOT re-fire
    HeartbeatControl.updateCompletionStatus(spark, ctl, sctl, "job-lnd")
    assert(sweep().isEmpty && triggered.size == 1)
    assert(SensorControl.sensorStatus(spark, sensorId, sctl).contains(SensorControl.Processed))

    // a second file lands → sweep 4 re-acquires and re-fires
    hbLand(base, "lnd1", "batch2", "3,c\n")
    assert(sweep() == Seq("job-lnd"))
    assert(triggered.toSeq == Seq("job-lnd", "job-lnd"))
    assert(SensorControl.sensorStatus(spark, sensorId, sctl).contains(SensorControl.Acquired))
  }

  test("reconciliator thresholds: green within, raises on red") {
    val truth = Seq(("A", 100.0), ("B", 50.0)).toDF("k", "m")
    val current = Seq(("A", 99.0), ("B", 50.0)).toDF("k", "m")
    val statuses = Reconciliator.reconcile(truth, current, Seq("k"),
      Seq("m" -> "m"), agg = "max",
      thresholds = Map("max_percentage_diff" -> (0.05, 0.2)))
    assert(statuses.forall(_.status == "green"))
    intercept[IllegalStateException] {
      Reconciliator.reconcile(truth,
        Seq(("A", 10.0), ("B", 50.0)).toDF("k", "m"), Seq("k"),
        Seq("m" -> "m"), agg = "max",
        thresholds = Map("max_percentage_diff" -> (0.05, 0.2)))
    }
  }

  test("notify terminator renders templates through the pluggable transport") {
    import graft.spec.TerminatorSpec
    val sent = scala.collection.mutable.ArrayBuffer.empty[Notifier.Notification]
    val prev = Notifier.setTransport(sent += _)
    try {
      // free-form message with {{ var }} rendering; on_failure DEFAULTS
      // true (reference notifier.py:95-96) so success-path sends must
      // opt out explicitly
      Notifier.notify(TerminatorSpec("notify", Map(
        "to" -> Seq("ops@example.com"),
        "subject" -> "load {{ status }}",
        "message" -> "rows={{ rows }} unknown={{ nope }}",
        "status" -> "done", "rows" -> 42, "on_failure" -> false)))
      assert(sent.last.subject == "load done")
      assert(sent.last.message == "rows=42 unknown=")
      assert(sent.last.recipients == Seq("ops@example.com"))
      // built-in failure template only fires on failure
      val spec = TerminatorSpec("notify", Map(
        "template" -> "failure_notification_email",
        "job_name" -> "nightly", "exception" -> "boom"))
      Notifier.notify(spec, failed = false)
      assert(sent.length == 1)
      Notifier.notify(spec, failed = true)
      assert(sent.last.message.contains("nightly") && sent.last.message.contains("boom"))
      intercept[IllegalArgumentException] {
        Notifier.notify(TerminatorSpec("notify", Map("template" -> "nope")))
      }
      // a template-less, message-less spec classifies as a failure
      // notification (on_failure default) — silently skipped on success,
      // loudly malformed on failure
      Notifier.notify(TerminatorSpec("notify", Map.empty))
      intercept[IllegalArgumentException] {
        Notifier.notify(TerminatorSpec("notify", Map.empty), failed = true)
      }
    } finally Notifier.setTransport(prev)
  }

  test("gab 18-combination matrix: every reference cadence/recon/week-start/snap combo golden-compared") {
    // The reference's GABCombinedConfiguration
    // (`core/definitions.py:1415-1756`) enumerates 18 entries mapping
    // (cadence x reconciliation x week_start x snap_flag) to SQL-template
    // behavior. This sweep materializes EVERY tuple of every entry and
    // golden-compares the engine against an independent pure-java.time
    // reimplementation of the calendar algebra (different code path:
    // LocalDate adjusters vs Spark date_trunc; driver fold vs partials +
    // cumulative window). Semantics mapping: snap_flag=N, or snap_flag=Y
    // with a reconciliation not strictly finer than the cadence (the
    // reference's empty join_select rows), is the plain cadence roll-up;
    // snap_flag=Y with finer recon emits period-to-date snapshot rows.
    import java.time.{DayOfWeek, LocalDate}
    import java.time.temporal.TemporalAdjusters

    val baseRows: Seq[(LocalDate, String, Double)] =
      (0 until 40).map(LocalDate.of(2023, 12, 20).plusDays(_)).zipWithIndex.flatMap {
        case (d, i) => Seq(
          (d.plusDays(i * 2), "A", (i % 7) + 1.0),
          (d.plusDays(i * 2), "B", (i % 5) + 0.5))
      }
    val src = baseRows.map { case (d, g, v) => (d.toString, g, v) }
      .toDF("d", "grp", "v").selectExpr("CAST(d AS DATE) AS d", "grp", "v")
      .localCheckpoint()
    val horizon = baseRows.map(_._1).maxBy(_.toEpochDay)

    // ---- independent calendar algebra (java.time) --------------------
    def trunc(d: LocalDate, cad: String, ws: String): LocalDate = cad match {
      case "DAY" => d
      case "WEEK" =>
        val dow = if (ws == "M") DayOfWeek.MONDAY else DayOfWeek.SUNDAY
        d.`with`(TemporalAdjusters.previousOrSame(dow))
      case "MONTH" => d.withDayOfMonth(1)
      case "QUARTER" => LocalDate.of(d.getYear, ((d.getMonthValue - 1) / 3) * 3 + 1, 1)
      case "YEAR" => d.withDayOfYear(1)
    }
    def pEnd(d: LocalDate, cad: String): LocalDate = cad match {
      case "DAY" => d.plusDays(1)
      case "WEEK" => d.plusDays(7)
      case "MONTH" => d.plusMonths(1)
      case "QUARTER" => d.plusMonths(3)
      case "YEAR" => d.plusYears(1)
    }
    type Key = (String, String, String) // grp, from_date, to_date
    def expectedPlain(cad: String, ws: String): Map[Key, (Double, Double)] =
      baseRows.groupBy { case (d, g, _) => (g, trunc(d, cad, ws)) }.map {
        case ((g, p), rs) =>
          val vs = rs.map(_._3)
          ((g, p.toString, pEnd(p, cad).toString), (vs.sum, vs.sum / vs.size))
      }
    def expectedSnaps(cad: String, rec: String, ws: String): Map[Key, (Double, Double)] =
      baseRows.groupBy { case (d, g, _) => (g, trunc(d, cad, ws)) }.flatMap {
        case ((g, p), rs) =>
          val end = pEnd(p, cad)
          Iterator.iterate(trunc(p, rec, ws))(pEnd(_, rec))
            .takeWhile(_.isBefore(end))
            .filterNot(_.isAfter(horizon))
            .flatMap { s =>
              val upTo = rs.filter { case (d, _, _) => !trunc(d, rec, ws).isAfter(s) }
              if (upTo.isEmpty) None
              else {
                val vs = upTo.map(_._3)
                val to = Seq(pEnd(s, rec), end).minBy(_.toEpochDay)
                Some(((g, p.toString, to.toString), (vs.sum, vs.sum / vs.size)))
              }
            }
      }

    // ---- the 18 reference entries, axis sets verbatim ----------------
    val All = Seq("DAY", "WEEK", "MONTH", "QUARTER", "YEAR")
    val WS = Seq("S", "M"); val YN = Seq("Y", "N")
    val entries = Seq(
      (1, Seq("DAY"), All, WS, YN),
      (2, Seq("WEEK"), Seq("DAY"), WS, Seq("Y")),
      (3, Seq("WEEK"), Seq("DAY", "MONTH", "QUARTER", "YEAR"), Seq("M"), YN),
      (4, Seq("MONTH"), Seq("DAY"), WS, Seq("Y")),
      (5, Seq("MONTH"), Seq("WEEK"), Seq("M"), Seq("Y")),
      (6, Seq("MONTH"), Seq("WEEK"), Seq("S"), Seq("Y")),
      (7, Seq("MONTH"), All, WS, YN),
      (8, Seq("QUARTER"), Seq("DAY"), WS, Seq("Y")),
      (9, Seq("QUARTER"), Seq("WEEK"), Seq("M"), Seq("Y")),
      (10, Seq("QUARTER"), Seq("WEEK"), Seq("S"), Seq("Y")),
      (11, Seq("QUARTER"), Seq("MONTH"), WS, Seq("Y")),
      (12, Seq("QUARTER"), Seq("YEAR"), WS, Seq("N")),
      (13, Seq("QUARTER"), All, WS, Seq("N")),
      (14, Seq("YEAR"), Seq("WEEK"), Seq("M"), Seq("Y")),
      (15, Seq("YEAR"), Seq("WEEK"), Seq("S"), Seq("Y")),
      (16, Seq("YEAR"), All, WS, Seq("N")),
      (17, Seq("YEAR"), Seq("DAY", "MONTH", "QUARTER"), WS, Seq("Y")),
      (18, All, All, WS, YN))
    val order = All.zipWithIndex.toMap
    val tuples = for {
      (id, cads, recs, wss, snaps) <- entries
      cad <- cads; rec <- recs; ws <- wss; sn <- snaps
    } yield (id, cad, rec, ws, sn)

    // one engine run per distinct BEHAVIOR (plain per cadence/ws;
    // snapshot per cadence/recon/ws); every matrix tuple validates
    // against its behavior's golden result
    val memo = scala.collection.mutable.Map.empty[(String, String, String), Map[Key, (Double, Double)]]
    def engine(cad: String, rec: Option[String], ws: String): Map[Key, (Double, Double)] =
      memo.getOrElseUpdate((cad, rec.getOrElse("PLAIN"), ws), {
        val uc = Gab.UseCase("matrix", "d", Seq("grp"),
          Seq(Gab.Metric("total", "sum", "v"), Gab.Metric("avg_v", "avg", "v")),
          cadences = Seq(cad), weekStart = ws,
          snapshots = rec.map(cad -> _).toMap)
        Gab.buildInsights(src, uc)
          .select("grp", "from_date", "to_date", "total", "avg_v")
          .collect()
          .map(r => ((r.getString(0), r.getDate(1).toString, r.getDate(2).toString),
            (r.getDouble(3), r.getDouble(4))))
          .toMap
      })

    val coveredEntries = scala.collection.mutable.Set.empty[Int]
    tuples.foreach { case (id, cad, rec, ws, sn) =>
      val snapshotting = sn == "Y" && order(rec) < order(cad)
      val act = engine(cad, if (snapshotting) Some(rec) else None, ws)
      val exp = if (snapshotting) expectedSnaps(cad, rec, ws) else expectedPlain(cad, ws)
      withClue(s"combo #$id cadence=$cad recon=$rec week_start=$ws snap=$sn: ") {
        assert(act.keySet == exp.keySet,
          s"row keys diverge: extra=${(act.keySet -- exp.keySet).take(3)} " +
            s"missing=${(exp.keySet -- act.keySet).take(3)}")
        exp.foreach { case (k, (s1, a1)) =>
          val (s2, a2) = act(k)
          assert(math.abs(s1 - s2) < 1e-9 && math.abs(a1 - a2) < 1e-9,
            s"$k: expected ($s1,$a1) got ($s2,$a2)")
        }
      }
      coveredEntries += id
    }
    assert(coveredEntries == (1 to 18).toSet)
  }

  test("gab stage storage_level is honored, not silently defaulted") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    import org.apache.spark.storage.StorageLevel
    val (db, base) = ("gab_lvl", tmpDir("gab-lvl"))
    GabFixture.create(spark, db, base, "{'MONTH': {}}", storageLevel = "DISK_ONLY")
    // the loop uncaches each stage once its cadence is written, so the
    // level is read off the cached stage's RDD as its jobs run
    val levels = new java.util.concurrent.ConcurrentLinkedQueue[StorageLevel]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.name == "In-memory table sales_stage")
          .foreach(rdd => levels.add(rdd.storageLevel))
    }
    spark.sparkContext.addSparkListener(listener)
    // JobCounter drains the listener bus before it returns
    try org.apache.spark.JobCounter.jobs(spark.sparkContext)(
      Engine.executeGab(spark, GabFixture.acon(db, base, "2024-01-01", "2024-03-31")))
    finally spark.sparkContext.removeSparkListener(listener)
    assert(!levels.isEmpty)
    levels.forEach(lvl => assert(lvl == StorageLevel.DISK_ONLY, s"requested DISK_ONLY, got $lvl"))
  }
}
