package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Dev tool: print the formatted physical plan of one or more queries.
  * Usage: runMain graft.Explain <queryName>... [-sf <dir>] [-digest]
  * With -digest, prints each query's operator-multiset digest instead,
  * in PlanAuditSpec's setting — the test suites' session (local[4], 4
  * shuffle partitions) at sf0.001 unless `-sf` says otherwise — so its
  * rows paste into PlanDigests.scala as they are.
  */
object Explain {

  /** The operator multiset of a DataFrame's FINAL adaptive physical
    * plan, rendered canonically ("BroadcastHashJoin x2 | Exchange x3 |
    * ...") — the plan-shape fingerprint PlanAuditSpec pins for the most
    * expensive queries, so a refactor that silently degrades a plan
    * (the round-7 q73 class: an extra scan, a lost exchange reuse, a
    * join strategy flip) fails at build time instead of surfacing in
    * the driver bench.
    *
    * EXECUTES the DataFrame (AQE finalizes plans only on execution).
    * Traversal descends into materialized query stages; pure codegen
    * packaging (WholeStageCodegen, InputAdapter) is skipped as noise;
    * ReusedExchange counts as its own marker — reuse vs recompute is
    * exactly the kind of fact worth pinning. */
  def operatorDigest(df: DataFrame): String = {
    df.collect()
    val counts = scala.collection.mutable.Map.empty[String, Int]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec =>
        counts("ReusedExchange") = counts.getOrElse("ReusedExchange", 0) + 1
      case other =>
        val n = other.nodeName
        if (!n.startsWith("WholeStageCodegen") && n != "InputAdapter")
          counts(n.trim) = counts.getOrElse(n.trim, 0) + 1
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    counts.toSeq.sorted.map { case (n, c) => s"$n x$c" }.mkString(" | ")
  }

  def main(args: Array[String]): Unit = {
    val sfIdx = args.indexOf("-sf")
    val digest = args.contains("-digest")
    val (cores, scale) = if (digest) (4, "sf0.001") else (8, "sf0.01")
    val sfDir = if (sfIdx >= 0) args(sfIdx + 1) else s"/root/testdata/$scale"
    val names = args.filterNot(Seq("-sf", sfDir, "-digest").contains)
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      if (digest) {
        println(s"\"$n\" ->\n  \"${operatorDigest(SparkEntry.queries(n)(spark, sfDir))}\",")
      } else {
        println(s"\n===== $n =====")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
