package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{array, col, explode}
import graft.operators.Parallelism
import graft.plans.SmallSortRule

/** SmallSortRule sorts a small, already-coalesced input in place: the
  * range exchange (its sample job and its map job) goes away where the
  * rule fires, and stays wherever one of its guards fails. */
class SmallSortRuleSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Rows of `df` (collected in order), the jobs that collect started,
    * and its final adaptive plan. */
  private def run(df: DataFrame): (Seq[Row], Int, SparkPlan) = {
    var rows = Seq.empty[Row]
    val jobs = JobLog.descriptionsDuring(spark) { rows = df.collect().toSeq }
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }
    (rows, jobs.size, plan)
  }

  private def rangeExchanges(p: SparkPlan): Int = collect(p) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }.size

  private def fired(p: SparkPlan): Boolean =
    rangeExchanges(p) == 0 && collect(p) { case c: CoalesceExec => c }.nonEmpty

  private def withConf[A](kv: (String, String))(body: => A): A = {
    spark.conf.set(kv._1, kv._2)
    try body finally spark.conf.unset(kv._1)
  }

  // small aggregate over a 4-partition input: one ENSURE_REQUIREMENTS
  // stage of a few hundred bytes below the sort
  private def grouped: DataFrame = spark.range(0, 2000, 1, 4)
    .selectExpr("id % 7 AS k", "id").groupBy("k").count()

  test("fires on the short ordered keys: 2 fewer sink jobs, same rows " +
      "in the same order") {
    val expected = Seq("q16_rollup" -> 2, "q29_tumbling_window" -> 2,
      "q33_text_stats" -> 2, "q90_asof_native" -> 4)
    for ((k, jobs) <- expected) {
      SparkEntry.queries(k)(spark, sf).collect() // first read of its tables
      val (rows, n, plan) = run(SparkEntry.queries(k)(spark, sf))
      val (rowsOff, nOff, planOff) = withoutRule(SmallSortRule)(
        run(SparkEntry.queries(k)(spark, sf)))
      assert(fired(plan), s"$k kept its range exchange:\n$plan")
      assert(rangeExchanges(planOff) == 1, s"$k rule-off plan:\n$planOff")
      assert(n == jobs && nOff == jobs + 2, s"$k: $n jobs on, $nOff off")
      assert(rows.nonEmpty && rows == rowsOff, s"$k rows differ from rule-off")
    }
  }

  test("fires on a small aggregate; its rows come back sorted") {
    val (rows, _, plan) = run(grouped.orderBy(col("count").desc, col("k")))
    assert(fired(plan), plan.toString)
    assert(rows.map(_.getLong(0)) == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("bails above an explicit repartition(n, col) and a widen stage") {
    val byNum = spark.range(0, 2000, 1, 4).selectExpr("id % 7 AS k", "id")
      .repartition(4, col("k")).groupBy("k").count().orderBy("k")
    val widened = Parallelism.widen(
      spark.range(0, 2000, 1, 1).selectExpr("id % 7 AS k", "id"), col("k"))
      .filter(col("id") > 5).orderBy("id")
    for (df <- Seq(byNum, widened)) {
      val (_, _, plan) = run(df)
      val spread = collect(plan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }
      assert(spread.size == 1 && rangeExchanges(plan) == 1, plan.toString)
    }
  }

  test("bails above an explode") {
    val df = grouped.select(col("k"),
      explode(array(col("count"), col("count") + 1)).as("v")).orderBy("k", "v")
    val (rows, _, plan) = run(df)
    assert(rangeExchanges(plan) == 1, plan.toString)
    assert(rows.size == 14)
  }

  test("bails over a stage larger than minPartitionSize") {
    val (_, _, plan) = withConf(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16")(
      run(grouped.orderBy("k")))
    assert(rangeExchanges(plan) == 1, plan.toString)
  }

  test("bails with AQE partition coalescing switched off") {
    val (_, _, plan) = withConf(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(
      run(grouped.orderBy("k")))
    assert(rangeExchanges(plan) == 1, plan.toString)
  }

  test("leaves orderBy().limit() as TakeOrderedAndProject") {
    val (rows, _, plan) = run(grouped.orderBy("k").limit(3))
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.size == 1,
      plan.toString)
    assert(!fired(plan), plan.toString)
    assert(rows.map(_.getLong(0)) == Seq(0L, 1L, 2L))
  }
}
