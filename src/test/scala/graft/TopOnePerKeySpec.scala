package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The row_number()=1 -> max-struct-aggregate optimizer rule
  * (plans/TopOnePerKeyRule): fires on non-nullable ASC keys, leaves
  * nullable/DESC shapes to the window, and preserves results and
  * output schema exactly. The shared session gets the rule from
  * GraftExtensions, as Verify and Bench do; the rule-off baseline
  * excludes it through `spark.sql.optimizer.excludedRules`.
  */
class TopOnePerKeySpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    ("a", 3L, "x"), ("a", 1L, "y"), ("a", 2L, "z"),
    ("b", 9L, "p"), ("b", 7L, "q"),
    ("c", 5L, "only"))

  test("rn=1 on non-nullable ASC keys becomes an aggregate, same rows") {
    val w = Window.partitionBy("g").orderBy("k")
    val df = rows.toDF("g", "k", "v")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"window must be rewritten:\n$plan")
    assert(plan.contains("Aggregate"), s"expected an aggregate:\n$plan")
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getInt(3))).toSet
    assert(got == Set(("a", 1L, "y", 1), ("b", 7L, "q", 1),
      ("c", 5L, "only", 1)))
  }

  test("rule equals the window answer on fixture-shaped data") {
    // same projection with and without the rule; keys made non-null
    // explicitly (parquet columns are nullable, which is exactly why
    // the declared q62 window formulation stays a window)
    def q() = {
      val w = Window.partitionBy("g").orderBy("k")
      Seq((1, 10, "r1"), (1, 20, "r2"), (2, 30, "r3"))
        .toDF("g", "k", "v")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("g", "k", "v")
    }
    val plain = withoutRule(graft.plans.TopOnePerKeyRule) {
      assert(q().queryExecution.optimizedPlan.toString.contains("Window"),
        "the excluded rule must not fire")
      q().collect().map(_.toSeq).toSet
    }
    assert(q().collect().map(_.toSeq).toSet == plain)
  }

  test("DESC order and nullable keys are left to the window") {
    val desc = rows.toDF("g", "k", "v")
      .withColumn("rn",
        row_number().over(Window.partitionBy("g").orderBy(col("k").desc)))
      .filter(col("rn") === 1)
    assert(desc.queryExecution.optimizedPlan.toString.contains("Window"),
      "DESC ordering must not be rewritten")
    // nullable sort key (Option values) -> bail
    val nullable = Seq(("a", Some(1L)), ("a", None), ("b", Some(2L)))
      .toDF("g", "k")
      .withColumn("rn",
        row_number().over(Window.partitionBy("g").orderBy("k")))
      .filter(col("rn") === 1)
    assert(
      nullable.queryExecution.optimizedPlan.toString.contains("Window"),
      "nullable sort keys must not be rewritten")
    // rn <= 2 is not top-one -> bail
    val topk = rows.toDF("g", "k", "v")
      .withColumn("rn",
        row_number().over(Window.partitionBy("g").orderBy("k")))
      .filter(col("rn") <= 2)
    assert(topk.queryExecution.optimizedPlan.toString.contains("Window"),
      "rn <= k must not be rewritten")
    // unorderable payload column (map) -> bail: min(struct(...map...))
    // would throw at execution where the window runs fine
    val mapped = rows.toDF("g", "k", "v")
      .withColumn("props", map(col("v"), col("v")))
      .withColumn("rn",
        row_number().over(Window.partitionBy("g").orderBy("k")))
      .filter(col("rn") === 1)
    assert(mapped.queryExecution.optimizedPlan.toString.contains("Window"),
      "unorderable payload columns must not be rewritten")
    assert(mapped.count() == 3, "the un-rewritten query still runs")
  }

  test("rewritten schema keeps the original nullability") {
    val w = Window.partitionBy("g").orderBy("k")
    val df = rows.toDF("g", "k", "v")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val opt = df.queryExecution.optimizedPlan
    assert(!opt.toString.contains("Window"))
    // k (primitive long) was non-nullable going in; the min-struct
    // extraction must not widen it in the rewritten plan's output
    // (KnownNotNull restores it — GetStructField alone would inherit
    // Min's nullable=true)
    val kAttr = opt.output.find(_.name == "k").get
    assert(!kAttr.nullable, "rewrite must not widen nullability")
  }
}
