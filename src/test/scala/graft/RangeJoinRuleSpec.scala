package graft

import org.apache.spark.sql.functions._

import graft.plans.RangeJoinRule

/** The static-span interval-join rewrite (plans/RangeJoinRule): fires
  * on `ts >= lo AND ts <= lo + INTERVAL C` shapes (bucketed equi-join,
  * no nested loop), bails on month spans / extra conjuncts, and
  * preserves results exactly — including rows on both interval
  * boundaries, cross-bucket pairs, and null endpoints. The shared
  * session gets the rule from GraftExtensions, as Verify and Bench do;
  * rule-off baselines exclude it through
  * `spark.sql.optimizer.excludedRules`.
  */
class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  // events: on-boundary rows (ts == lo, ts == lo + 7d), a cross-bucket
  // pair (Jan 3 vs the Jan 1 interval spans epoch-week buckets), a
  // far-away row, and a NULL ts
  private def ev = Seq(
    (1L, Some("2024-01-01 00:00:00")), (2L, Some("2024-01-03 12:00:00")),
    (3L, Some("2024-01-08 00:00:00")), (4L, Some("2024-01-10 23:59:59")),
    (5L, Some("2024-02-01 00:00:00")), (6L, None))
    .toDF("id", "s").select(col("id"), col("s").cast("timestamp").as("ts"))

  private def iv = Seq(
    (10L, Some("2024-01-01 00:00:00")), (20L, Some("2024-01-07 00:00:00")),
    (30L, Some("2024-03-01 00:00:00")), (40L, None))
    .toDF("iid", "s").select(col("iid"), col("s").cast("timestamp").as("lo"))

  private def joined = ev.join(iv, col("ts") >= col("lo") &&
    col("ts") <= col("lo") + expr("INTERVAL 7 DAYS"))

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet

  test("static-span interval join becomes a bucketed equi-join") {
    val plain = withoutRule(RangeJoinRule) {
      assert(!joined.queryExecution.optimizedPlan.toString
        .contains("Generate"), "the excluded rule must not fire")
      pairs(joined)
    }
    assert(plain == Set((1L, 10L), (2L, 10L), (3L, 10L), (3L, 20L),
      (4L, 20L)), "fixture sanity: boundaries in, far rows out")
    val df = joined
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Generate"), s"expected the bucket explode:\n$opt")
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"),
      s"rewrite must remove the nested loop:\n$phys")
    assert(pairs(df) == plain, "rewrite must be lossless")
  }

  test("strict bounds fire too; result parity holds") {
    def strict = ev.join(iv, col("ts") > col("lo") &&
      col("ts") < col("lo") + expr("INTERVAL 7 DAYS"))
    val plain = withoutRule(RangeJoinRule)(pairs(strict))
    val df = strict
    assert(df.queryExecution.optimizedPlan.toString.contains("Generate"))
    assert(pairs(df) == plain)
  }

  test("non-positive spans bail") {
    val neg = ev.join(iv, col("ts") >= col("lo") &&
      col("ts") <= col("lo") + expr("INTERVAL -7 DAYS"))
    assert(!neg.queryExecution.optimizedPlan.toString.contains("Generate"),
      "a negative span has no bucket width — must not rewrite")
  }

  test("month spans and extra conjuncts bail") {
    val month = ev.join(iv, col("ts") >= col("lo") &&
      col("ts") <= col("lo") + expr("INTERVAL 1 MONTH"))
    assert(!month.queryExecution.optimizedPlan.toString
      .contains("Generate"),
      "month spans have no fixed width — must not rewrite")
    val extra = ev.join(iv, col("id") === col("iid") &&
      col("ts") >= col("lo") &&
      col("ts") <= col("lo") + expr("INTERVAL 7 DAYS"))
    assert(!extra.queryExecution.optimizedPlan.toString
      .contains("Generate"),
      "an existing equi-conjunct already hash-joins — must not rewrite")
  }

  test("timestamp_ntz endpoints fire and stay lossless") {
    // the parquet fixtures read as TIMESTAMP_NTZ — the rule must treat
    // both flavors as micros-encoded timestamps
    def ntz = ev.select(col("id"), to_timestamp_ntz(col("ts")).as("ts"))
      .join(iv.select(col("iid"), to_timestamp_ntz(col("lo")).as("lo")),
        col("ts") >= col("lo") &&
        col("ts") <= col("lo") + expr("INTERVAL 7 DAYS"))
    val plain = withoutRule(RangeJoinRule)(pairs(ntz))
    val df = ntz
    assert(df.queryExecution.optimizedPlan.toString.contains("Generate"),
      "rule must fire on TIMESTAMP_NTZ endpoints")
    assert(pairs(df) == plain)
  }

  test("q12_range_join itself plans without a nested loop under the rule") {
    val plain = withoutRule(RangeJoinRule) {
      SparkEntry.queries("q12_range_join")(spark, sf).collect().map(_.toSeq)
    }
    val df = SparkEntry.queries("q12_range_join")(spark, sf)
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin"),
      s"the engine must rewrite the declared naive range join:\n$phys")
    assert(df.collect().map(_.toSeq).toSeq == plain.toSeq,
      "auto-rewritten q12 must return identical rows")
  }
}
