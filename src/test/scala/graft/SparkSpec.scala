package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite, lazy), built by
  * [[GraftSession.builder]] like Verify and Bench, and per-test temp
  * trees ([[TempDirs]]). */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4)
    .appName(getClass.getSimpleName)
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  def rows(name: String): Long =
    SparkEntry.queries(name)(spark, sf).count()

  /** Runs `body` with `rule` excluded from the optimizer and from AQE's
    * runtime optimizer (each reads its own `excludedRules` conf): the
    * rule-off baseline of a rule GraftExtensions installs. */
  def withoutRule[A](rule: Rule[_])(body: => A): A = {
    val keys = Seq(SQLConf.OPTIMIZER_EXCLUDED_RULES.key,
      SQLConf.ADAPTIVE_OPTIMIZER_EXCLUDED_RULES.key)
    keys.foreach(spark.conf.set(_, rule.ruleName))
    try body
    finally keys.foreach(spark.conf.unset)
  }
}
