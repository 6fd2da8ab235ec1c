package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.plans.{AsOfJoinExec, AsOfJoinPlan}

/** GraftSession's extensions alone install graft: a new session of the
  * shared one, with nothing registered or patched by hand, resolves
  * every native SQL function, plans the as-of join natively and runs
  * both optimizer rules. */
class GraftSessionSpec extends SparkSpec {

  test("a new session gets graft's functions, strategy and rules from " +
      "the extensions alone") {
    val s = spark.newSession()
    import s.implicits._

    GraftFunctions.all.foreach { case (name, clazz, _) =>
      val info = s.sql(s"DESCRIBE FUNCTION $name").collect().mkString("\n")
      assert(info.contains(clazz.getName), s"$name did not resolve:\n$info")
    }

    val asof = AsOfJoinPlan.asof(Seq((1L, 5L)).toDF("k", "t"),
      Seq((1L, 3L)).toDF("qk", "qt"), "k", "qk", "t", "qt")
    assert(asof.queryExecution.sparkPlan
      .collectFirst { case e: AsOfJoinExec => e }.nonEmpty,
      asof.queryExecution.sparkPlan.toString)
    assert(asof.collect().map(_.toSeq).toSeq == Seq(Seq(1L, 5L, 1L, 3L)))

    val topOne = Seq(("a", 2L), ("a", 1L), ("b", 3L)).toDF("g", "k")
      .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("k")))
      .filter(col("rn") === 1)
    assert(!topOne.queryExecution.optimizedPlan.toString.contains("Window"),
      "TopOnePerKeyRule did not fire")

    val ts = Seq("2024-01-02 00:00:00").toDF("s")
      .select(col("s").cast("timestamp").as("ts"))
    val lo = Seq("2024-01-01 00:00:00").toDF("s")
      .select(col("s").cast("timestamp").as("lo"))
    val range = ts.join(lo, col("ts") >= col("lo") &&
      col("ts") <= col("lo") + expr("INTERVAL 7 DAYS"))
    assert(range.queryExecution.optimizedPlan.toString.contains("Generate"),
      "RangeJoinRule did not fire")
  }
}
