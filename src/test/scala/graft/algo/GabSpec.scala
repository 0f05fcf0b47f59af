package graft.algo

import graft.{Engine, SparkSpec}
import org.apache.spark.JobCounter

/** The GAB run loop end to end through its ACON facade
  * ([[Engine.executeGab]]) on an inline config table ([[GabFixture]]):
  * results, consumption view, log and job count. */
class GabSpec extends SparkSpec {

  import spark.implicits._
  import GabFixture.{QueryId, results, logRows}

  private def run(acon: String): GabChoreography.RunLog = Engine.executeGab(spark, acon)

  private val MonthQuarter = "{'MONTH': {}, 'QUARTER': {}}"

  private val Expected = Map(
    ("MONTH", "2024-01-01", "2024-01-31", "A") -> 3.0,
    ("MONTH", "2024-02-01", "2024-02-29", "A") -> 4.0,
    ("MONTH", "2024-03-01", "2024-03-31", "A") -> 16.0,
    ("MONTH", "2024-02-01", "2024-02-29", "B") -> 8.0,
    ("QUARTER", "2024-01-01", "2024-03-31", "A") -> 23.0,
    ("QUARTER", "2024-01-01", "2024-03-31", "B") -> 8.0)

  test("gab loop: month and quarter results, consumption view and log from a config table") {
    val (db, base) = ("gab_loop", tmpDir("gab-loop"))
    GabFixture.create(spark, db, base, MonthQuarter)
    run(GabFixture.acon(db, base, "2024-01-01", "2024-03-31"))
    assert(results(spark, db) == Expected)
    assert(spark.table(s"$db.gab_use_case_results").where(s"query_id = $QueryId").count() == 6)

    // the view: previous period per group, the derived metric doubles it
    val view = spark.table(s"$db.vw_sales").where("cadence = 'MONTH' AND grp = 'A'")
      .orderBy("from_date").selectExpr("total", "total_last", "total_x2")
      .as[(Double, Double, Double)].collect().toSeq
    assert(view == Seq((3.0, 0.0, 6.0), (4.0, 3.0, 8.0), (16.0, 4.0, 32.0)))

    // one stage row and one Final Insert row per cadence
    val stage = s"$base/usecases/sales/1_sales.sql"
    assert(logRows(spark, db) == Seq(
      ("MONTH", "Final Insert", "Success"), ("MONTH", stage, "Success"),
      ("QUARTER", "Final Insert", "Success"), ("QUARTER", stage, "Success")).sorted)

    // a rerun of the same window replaces its rows instead of adding to them
    run(GabFixture.acon(db, base, "2024-01-01", "2024-03-31"))
    assert(spark.table(s"$db.gab_use_case_results").count() == 6)
    assert(results(spark, db) == Expected)
  }

  test("gab loop: a two-cadence run and its rerun take at most 22 Spark jobs each") {
    val (db, base) = ("gab_jobs", tmpDir("gab-jobs"))
    GabFixture.create(spark, db, base, MonthQuarter)
    val acon = GabFixture.acon(db, base, "2024-01-01", "2024-03-31")
    val (_, first) = JobCounter.jobs(spark.sparkContext)(run(acon))
    val (_, rerun) = JobCounter.jobs(spark.sparkContext)(run(acon))
    info(s"first run ${first.size} jobs, rerun ${rerun.size} jobs")
    assert(first.size <= 22, first.mkString("jobs: ", ", ", ""))
    assert(rerun.size <= 22, rerun.mkString("jobs: ", ", ", ""))
    assert(results(spark, db) == Expected)
  }

  test("gab loop: a WEEK cadence with DAY snapshots writes one period-to-date row per day") {
    val (db, base) = ("gab_snap", tmpDir("gab-snap"))
    GabFixture.create(spark, db, base, "{'WEEK': {'recon_window': {'DAY': {'snapshot': 'Y'}}}}")
    run(GabFixture.acon(db, base, "2024-01-01", "2024-01-31"))
    // Jan 5 (a Friday) opens the week of Mon Jan 1, Jan 20 (a Saturday)
    // the week of Mon Jan 15; each day to the week's end carries the total
    assert(results(spark, db) == Map(
      ("WEEK", "2024-01-01", "2024-01-05", "A") -> 1.0,
      ("WEEK", "2024-01-01", "2024-01-06", "A") -> 1.0,
      ("WEEK", "2024-01-01", "2024-01-07", "A") -> 1.0,
      ("WEEK", "2024-01-15", "2024-01-20", "A") -> 2.0,
      ("WEEK", "2024-01-15", "2024-01-21", "A") -> 2.0))
  }
}
