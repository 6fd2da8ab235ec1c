package graft

import java.sql.Timestamp

import graft.plans.AsOfJoinPlan
import org.apache.spark.sql.functions._

/** The native sort-merge as-of operator (graft.plans.AsOfJoinExec):
  * fixture semantics, equality with the window-composed operators.AsOfJoin
  * on real data, partitioning invariance, and the physical plan shape
  * (AsOfJoinExec present, no Window, sort+exchange per side).
  */
class AsOfJoinPlanSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val quotes = Seq(
    (1L, ts("2024-01-01 10:00:00"), 100.0),
    (1L, ts("2024-01-01 10:00:05"), 101.0),
    (1L, ts("2024-01-01 10:01:00"), 102.0),
    (2L, ts("2024-01-01 10:00:30"), 50.0)
  ).toDF("qk", "qts", "price")

  private val trades = Seq(
    (1L, ts("2024-01-01 10:00:03"), 10),   // -> 100.0 (10:00:00)
    (1L, ts("2024-01-01 10:00:05"), 20),   // -> 101.0 (same instant)
    (1L, ts("2024-01-01 10:02:00"), 30),   // -> 102.0 (10:01:00)
    (2L, ts("2024-01-01 10:00:00"), 40),   // -> no quote yet (null)
    (3L, ts("2024-01-01 10:00:00"), 50)    // -> key never quoted (null)
  ).toDF("k", "tts", "qty")

  private def fixtureOut = AsOfJoinPlan
    .asof(trades, quotes, "k", "qk", "tts", "qts")
    .select("k", "qty", "price").collect()
    .map(r => (r.getLong(0), r.getInt(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet

  private val expected = Set(
    (1L, 10, Some(100.0)),
    (1L, 20, Some(101.0)),
    (1L, 30, Some(102.0)),
    (2L, 40, None),
    (3L, 50, None))

  test("native as-of picks the latest quote at or before the trade") {
    assert(fixtureOut == expected)
  }

  test("null keys and null timestamps on the left emit unmatched") {
    val l = Seq(
      (Some(1L), Some(ts("2024-01-01 10:00:10")), 1),
      (None, Some(ts("2024-01-01 10:00:10")), 2),
      (Some(1L), None, 3)
    ).toDF("k", "tts", "id")
    val out = AsOfJoinPlan.asof(l, quotes, "k", "qk", "tts", "qts")
      .select("id", "price").collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
    assert(out == Set((1, Some(101.0)), (2, None), (3, None)))
  }

  test("result is invariant to input partitioning") {
    val repl = AsOfJoinPlan.asof(
      trades.repartition(7), quotes.repartition(3),
      "k", "qk", "tts", "qts")
      .select("k", "qty", "price").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(repl == expected)
  }

  test("native operator equals the window-composed as-of join on events") {
    val ev = Tables.load(spark, sf, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id").as("su_id"), col("ts").as("s_ts"))
      .agg(count(lit(1)).as("s_cnt"))
    val native = AsOfJoinPlan
      .asof(purchases, signups, "user_id", "su_id", "p_ts", "s_ts")
      .select("user_id", "p_ts", "s_ts", "s_cnt").collect()
      .map(_.toSeq).toSet
    val composed = graft.operators.AsOfJoin
      .asofJoin(purchases,
        signups.withColumnRenamed("su_id", "user_id"),
        "user_id", "p_ts", "s_ts")
      .select("user_id", "p_ts", "s_ts", "s_cnt").collect()
      .map(_.toSeq).toSet
    assert(native == composed,
      s"native ${native.size} rows vs composed ${composed.size}")
  }

  test("plan: AsOfJoinExec, no Window, one exchange+sort per side") {
    val df = AsOfJoinPlan.asof(trades, quotes, "k", "qk", "tts", "qts")
    df.collect()
    val p = (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case o => o
    }).toString
    assert(p.contains("AsOfJoin"), s"expected the native operator in:\n$p")
    assert(!p.contains("Window"), "native as-of must not plan a Window")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"expected one hash exchange per side in:\n$p")
  }

  test("candidate key survives child-iterator row reuse (spill contract)") {
    // Spark's sort/spill iterators REUSE the row object and, when
    // reading back from a spill file, the underlying byte buffer too:
    // any value eval'd from a child row is invalidated by the next
    // advance. The merge loop retains `candKey` across advances, so for
    // buffer-backed key types (string here; long keys box a primitive
    // and mask the hazard) a stale reference silently mutates into the
    // NEXT row's key. In-memory sorts keep old pages intact, so the
    // only deterministic reproduction is a child that emits rows over
    // one overwritten buffer — the exact UnsafeSorterSpillReader
    // behavior this guards against.
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow}
    import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String

    case class ReusedRowsExec(output: Seq[Attribute],
        keys: Seq[String], tss: Seq[Long])(
        @transient val sc: org.apache.spark.SparkContext)
        extends LeafExecNode {
      override protected def doExecute(): RDD[InternalRow] = {
        val ks = keys; val ts = tss
        sc.parallelize(Seq(0), 1).mapPartitions { _ =>
          // one shared buffer, overwritten per row — as a spill reader does
          val buf = new Array[Byte](8)
          val row = new GenericInternalRow(2)
          ks.indices.iterator.map { i =>
            val kb = ks(i).getBytes("UTF-8")
            java.util.Arrays.fill(buf, 0.toByte)
            System.arraycopy(kb, 0, buf, 0, kb.length)
            row.update(0, UTF8String.fromBytes(buf, 0, kb.length))
            row.update(1, ts(i))
            row
          }
        }
      }
    }

    val lOut = Seq(AttributeReference("k", StringType)(),
      AttributeReference("tts", LongType)())
    val rOut = Seq(AttributeReference("qk", StringType)(),
      AttributeReference("qts", LongType)())
    // right: ("a", 1) then ("b", 1); left probe ("a", 5) must match the
    // "a" row even though the merge has advanced the shared buffer to "b"
    val exec = graft.plans.AsOfJoinExec(
      lOut.head, rOut.head, lOut(1), rOut(1),
      ReusedRowsExec(lOut, Seq("a"), Seq(5L))(spark.sparkContext),
      ReusedRowsExec(rOut, Seq("a", "b"), Seq(1L, 1L))(spark.sparkContext))
    val got = exec.execute().map { r =>
      (r.getUTF8String(0).toString, r.getLong(1),
        if (r.isNullAt(2)) null else r.getUTF8String(2).toString,
        if (r.isNullAt(3)) -1L else r.getLong(3))
    }.collect().toSeq
    assert(got == Seq(("a", 5L, "a", 1L)),
      s"stale candidate key after row reuse: $got")
  }

  test("the strategy is injected by GraftExtensions (no manual ensure)") {
    // SparkSpec sessions are built via GraftSession -> GraftExtensions,
    // the only path that installs the strategy
    assert(spark.sessionState.planner.strategies
      .contains(graft.plans.AsOfJoinStrategy),
      "AsOfJoinStrategy must be available session-wide")
  }
}
