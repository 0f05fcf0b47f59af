package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (reference tests the same way:
  * a real session, no mocks — `tests/utils/exec_env_helpers.py`). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.exec.ExecEnv.getOrCreate(
    appName = "graft-test",
    master = Some("local[4]"),
    confs = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> s"/tmp/graft-warehouse-${ProcessHandle.current().pid()}"))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run a block with session confs temporarily overridden. */
  def withConf[A](entries: (String, String)*)(body: => A): A = {
    val olds = entries.map { case (k, _) => k -> spark.conf.getOption(k) }
    entries.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Two-sided exceptAll diff, as the reference's golden compare
    * (`tests/utils/dataframe_helpers.py:32-70`). */
  def assertSameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
    val left = a.exceptAll(b)
    val right = b.exceptAll(a)
    val (l, r) = (left.count(), right.count())
    assert(l == 0 && r == 0,
      s"dataframes differ: ${l} rows only in left, ${r} rows only in right\n" +
        s"left-only sample: ${left.take(5).mkString("; ")}\n" +
        s"right-only sample: ${right.take(5).mkString("; ")}")
  }
}

/** A call count shared by every task in the JVM (a counter captured in a
  * closure would be copied into each task), for UDFs whose result
  * depends on how often they ran. */
object CallCounter {
  val calls = new java.util.concurrent.atomic.AtomicLong
}
