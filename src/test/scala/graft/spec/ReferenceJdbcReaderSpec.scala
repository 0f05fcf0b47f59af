package graft.spec

import graft.SparkSpec
import graft.io.WrongArgumentsException
import java.nio.file.{Files, Paths}

/** The reference's own jdbc_reader scenarios, executed verbatim
  * (`tests/feature/test_jdbc_reader.py`, resources
  * `tests/resources/feature/jdbc_reader`). The reference drives them
  * against an in-process sqlite file; this build has no sqlite JDBC jar,
  * so the SAME choreography runs on embedded Derby — the only rebasing
  * beyond paths is the JDBC URL scheme + driver class (transport
  * coordinates, not semantics). */
class ReferenceJdbcReaderSpec extends SparkSpec with ReferenceHarness {

  private val res = s"$refRoot/jdbc_reader"
  private val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Reference `DataframeHelpers.write_into_jdbc_table`: append the
    * source frame into the scenario's database table. */
  private def writeIntoJdbcTable(csv: String, url: String, table: String): Unit = {
    val props = new java.util.Properties()
    props.setProperty("driver", DerbyDriver)
    readControlCsv(csv).write.mode("append").jdbc(url, table, props)
  }

  private def rebaseJdbc(aconPath: String, tmpRoot: String): String =
    rebase(aconPath, tmpRoot)
      .replace("jdbc:sqlite:", "jdbc:derby:")
      .replace("org.sqlite.JDBC", DerbyDriver)

  for (scenario <- Seq("jdbc_function", "jdbc_format"))
    test(s"$scenario / correct_arguments runs verbatim") {
      assume(new java.io.File(s"$res/$scenario/correct_arguments").isDirectory,
        s"missing $res/$scenario/correct_arguments")
      ensureTestDb()
      val tmp = tmpDir("jdbc-reader")
      val in = s"$tmp/in/feature/jdbc_reader/$scenario/correct_arguments"
      Files.createDirectories(Paths.get(in))
      writeIntoJdbcTable(
        s"$res/$scenario/correct_arguments/data/source/part-01.csv",
        s"jdbc:derby:$in/tests.db;create=true", scenario)
      graft.algo.DataLoader.loadData(spark,
        rebaseJdbc(s"$res/$scenario/correct_arguments/batch_init.json", tmp))
      assertNoDiffRef(
        spark.table(s"test_db.${scenario}_table"),
        readControlCsv(s"$res/$scenario/correct_arguments/data/control/part-01.csv"))
      spark.sql(s"DROP TABLE IF EXISTS test_db.${scenario}_table")
    }

  test("jdbc_function / wrong_arguments surfaces the unexpected-kwarg error") {
    assume(new java.io.File(s"$res/jdbc_function/wrong_arguments").isDirectory,
      s"missing $res/jdbc_function/wrong_arguments")
    val tmp = tmpDir("jdbc-reader")
    val err = intercept[WrongArgumentsException] {
      graft.algo.DataLoader.loadData(spark,
        rebaseJdbc(s"$res/jdbc_function/wrong_arguments/batch_init.json", tmp))
    }
    assert(err.getMessage.contains("jdbc() got an unexpected keyword argument"))
    assert(err.getMessage.contains("dbtable"))
  }

  test("jdbc_format / wrong_arguments surfaces Spark's required-option error") {
    assume(new java.io.File(s"$res/jdbc_format/wrong_arguments").isDirectory,
      s"missing $res/jdbc_format/wrong_arguments")
    val tmp = tmpDir("jdbc-reader")
    val err = intercept[Exception] {
      graft.algo.DataLoader.loadData(spark,
        rebaseJdbc(s"$res/jdbc_format/wrong_arguments/batch_init.json", tmp))
    }
    // pyspark surfaces IllegalArgumentException "Option ... is required."
    assert(err.getMessage.matches("(?s).*Option.*is required.*"),
      s"unexpected message: ${err.getMessage}")
  }

  test("jdbc_format / predicates raises: predicates need jdbc_args") {
    assume(new java.io.File(s"$res/jdbc_format/predicates").isDirectory,
      s"missing $res/jdbc_format/predicates")
    val tmp = tmpDir("jdbc-reader")
    val err = intercept[WrongArgumentsException] {
      graft.algo.DataLoader.loadData(spark,
        rebaseJdbc(s"$res/jdbc_format/predicates/batch_init.json", tmp))
    }
    assert(err.getMessage == "Predicates can only be used with jdbc_args.")
  }
}
