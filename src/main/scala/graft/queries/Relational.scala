package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** Relational core (SURVEY.md §2-B q01–q17, q20–q22): scans, filters,
  * joins of every shape, aggregation, rollup/cube, set ops, subqueries.
  *
  * Scale notes: dimension sides (region/nation/customer at these shapes)
  * are broadcast explicitly; fact-fact joins shuffle on their join key and
  * aggregate with map-side partial aggregation. Every query ends in a
  * total ORDER BY for the oracle hash compare.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Spark Percentile-expression interpolation replayed verbatim over
    * pre-picked bracketing values (q46): pos = p·(n−1); the bracketing
    * row when pos is integral, else the convex combination
    * (ceil(pos)−pos)·lo + (pos−floor(pos))·hi — the exact double
    * arithmetic of Percentile.getPercentile, so the domain-counts
    * formulation is bit-identical to the aggregate it replaces.
    * Expects columns `n` (group row count), `lo`, `hi`. */
  private def interpolate(p: String, lo: String, hi: String) = {
    val pos = s"($p * cast(n - 1 as double))"
    expr(s"""CASE WHEN floor($pos) = ceil($pos) THEN $lo
             ELSE (ceil($pos) - $pos) * $lo + ($pos - floor($pos)) * $hi
             END""")
  }

  /** Value-domain cumulative counts of a non-null measure per flag:
    * (flag, x, cnt, run, tot). The ONE builder behind q46's
    * percentile_cont replay and q87's winsorize cutpoints (q88 spells
    * the same shape in SQL): groupBy(value) bounds the table by the
    * 2-decimal money domain, so the running-count window runs over
    * that domain table, never the corpus. */
  private def valueCume(df: DataFrame, flag: String,
      value: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // widen by the VALUE column (r15): the domain-shrinking partial
    // aggregate is the corpus-sized pass here, and on a single-row-
    // group fixture scan it ran one-task. hash(x) ⊆ {flag, x} keeps
    // the groupBy exchange-free on top of the spread; at scale the
    // scan has real splits and widen no-ops.
    graft.operators.Parallelism
      .widen(df.filter(col(value).isNotNull), col(value))
      .groupBy(col(flag), col(value).as("x"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("run", sum("cnt").over(W.partitionBy(flag)
        .orderBy("x").rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("tot", sum("cnt").over(W.partitionBy(flag)))
  }

  val queries: Map[String, Q] = Map(
    // q01: scan + count
    "q01_scan_count" -> ((s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("cnt"))),

    // q02: projection + top-k (TakeOrderedAndProject — no full sort at scale)
    "q02_topk" -> ((s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(100)),

    // q03: comparison / BETWEEN filters (pushed to parquet scan)
    "q03_filter_range" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity").between(10, 20) && col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
          "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    // q04: IN / IS NOT NULL / boolean conjunction
    "q04_filter_in" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          col("o_orderstatus") === "F" && col("o_totalprice").isNotNull)
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")),

    // q05: LIKE / regexp filters
    "q05_filter_like" -> ((s, d) =>
      t(s, d, "part")
        .filter(col("p_name").like("%rod%") || col("p_name").rlike("^blue \\w+"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")),

    // q06: inner equi join, broadcast (small dims)
    "q06_join_broadcast" -> ((s, d) =>
      t(s, d, "nation")
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"), "inner")
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")),

    // q07: fact-fact equi join (shuffle; SMJ/SHJ chosen by Catalyst + AQE)
    "q07_join_shuffle" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderstatus")),

    // q08: multi-way join chain (facts shuffle, dims broadcast)
    "q08_join_multiway" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_lines"),
          Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .as("revenue"))
        .orderBy("r_name", "n_name")),

    // q09: left outer join with null preservation (customers w/o orders)
    "q09_join_left" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(Det.dsum(col("o_totalprice")), lit(0.0)).as("total"))
        .orderBy("c_custkey")),

    // q09f: full outer join (nation x supplier; uncovered nations survive)
    "q09_join_full" -> ((s, d) =>
      t(s, d, "nation")
        .join(t(s, d, "supplier"),
          col("n_nationkey") === col("s_nationkey"), "full_outer")
        .groupBy("n_nationkey")
        .agg(count(col("s_suppkey")).as("n_supp"))
        .orderBy(col("n_nationkey").asc_nulls_first)),

    // q10: left semi / left anti (EXISTS / NOT EXISTS)
    "q10_join_semi_anti" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has").as("status"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("none").as("status"))
      semi.union(anti).orderBy("c_custkey")
    }),

    // q11: cross join + theta filter (bounded side — region is tiny)
    "q11_cross_join" -> ((s, d) => {
      val r = t(s, d, "region")
      val a = r.select(col("r_regionkey").as("a_key"), col("r_name").as("a_name"))
      val b = r.select(col("r_regionkey").as("b_key"), col("r_name").as("b_name"))
      a.crossJoin(b).filter(col("a_key") < col("b_key"))
        .orderBy("a_key", "b_key")
    }),

    // q12: non-equi range join (date interval). Written as a BNLJ with
    // bounded sides; GraftExtensions' RangeJoinRule plans it as the
    // bucketed equi-join of the twin below
    "q12_range_join" -> ((s, d) => {
      // widen (r15): the probe side's join + count-distinct expand ran
      // on the month-slice scan's one task; the shipdate range still
      // pushes to the scan below the repartition
      val l = graft.operators.Parallelism.widen(
        t(s, d, "lineitem").filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp")),
        col("l_orderkey"))
      val o = t(s, d, "orders").filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-02-01").cast("timestamp"))
      l.join(broadcast(o),
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 7 DAYS"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // q12b: the same interval join as an equi-join on 7-day buckets —
    // each order's [date, date+7d] window spans at most two weekly
    // buckets, so exploding the small side into its buckets turns the
    // O(n*m) BNLJ into a shuffle/broadcast HASH join + exact residual
    // filter. Identical result; this is the shape that survives a 100x
    // scale-up where BNLJ does not.
    "q12_range_join_bucketed" -> ((s, d) => {
      // widen (r15): same rationale as the naive twin above
      val l = graft.operators.Parallelism.widen(
        t(s, d, "lineitem").filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp")),
        col("l_orderkey"))
        .withColumn("bk",
          expr("floor(datediff(l_shipdate, date'1970-01-01') / 7)"))
      val o = t(s, d, "orders").filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-02-01").cast("timestamp"))
        // the [date, date+7d] window spans EXACTLY two weekly buckets
        // (floor((d+7)/7) = floor(d/7) + 1 for every integer d), so the
        // explode is a fixed 2-row fan-out — no distinct needed
        .withColumn("bks", expr(
          """array(
               floor(datediff(o_orderdate, date'1970-01-01') / 7),
               floor(datediff(o_orderdate + interval 7 days,
                              date'1970-01-01') / 7))"""))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"),
          explode(col("bks")).as("bk"))
      l.join(o, Seq("bk"))
        .filter(col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 7 DAYS"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // q51: pivot (wide conditional aggregation)
    "q51_pivot" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .na.fill(0L)
        .orderBy("o_orderpriority")),

    // q52: unpivot/melt back to long form
    "q52_unpivot" -> ((s, d) => {
      val wide = t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count().na.fill(0L)
      wide.unpivot(Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")), "status", "cnt")
        .orderBy("o_orderpriority", "status")
    }),

    // q53: one-pass column profiling (ANALYZE-style data-quality op)
    "q53_profile" -> ((s, d) =>
      t(s, d, "orders").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("d_cust"),
        countDistinct(col("o_orderstatus")).as("d_status"),
        sum(col("o_totalprice").isNull.cast("long")).as("null_price"),
        Det.dsum(col("o_totalprice")).as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("min_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"))),

    // q54: deterministic content-hash train/test split (md5-based, so
    // the assignment is stable across engines, runs and cluster sizes —
    // the property a training pipeline needs from its split)
    "q54_hash_split" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("bucket",
          (ascii(substring(md5(col("text")), 1, 1)) % 5).cast("long"))
        .withColumn("split",
          when(col("bucket") < 4, "train").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")),

    // q55: seeded stratified sampling (per-language fractions) via the
    // Spark sampleBy API. NOTE the determinism boundary honestly:
    // sampleBy draws from per-partition positional rand(seed), so the
    // draw is reproducible only for a FIXED partition layout — a
    // different core count or maxPartitionBytes reassigns rows and
    // changes which rows are sampled (expected Bernoulli counts, not
    // exact rows). That is why q55 is rows-only by contract with
    // ScalaTest proportion assertions, and why the content-hash twin
    // q54 exists for the "stable across runs and cluster sizes" draw.
    "q55_stratified_sample" -> ((s, d) => {
      val fractions = Map("en" -> 0.5, "es" -> 0.5, "de" -> 0.5,
        "fr" -> 0.5, "zh" -> 0.5)
      Tables.load(s, d, "documents")
        .stat.sampleBy("lang", fractions, seed = 42L)
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")
    }),

    // q56: approximate quantiles via the engine's OWN mergeable
    // relative-error sketch (graft.functions.QuantileSketch, the
    // DDSketch construction — r14, re-based off the percentile_approx
    // builtin so every sketch family has an own mergeable
    // implementation beside HLL/MG/CMS/minhash). Still no DuckDB twin
    // (rows-only by contract — DuckDB has no DDSketch); the gamma
    // guarantee vs exact q46 is asserted in ScalaTest at all three
    // SFs, and the sketch itself is DETERMINISTIC (bin-count merges),
    // so the rows are stable across partitionings — unlike the
    // compaction builtin this replaces.
    "q56_approx_quantile" -> ((s, d) => {
      // boxed input encoder: NULL metric values are SKIPPED, not
      // decoded as 0.0 (r15, the r14 ADVICE null finding)
      val qs = udaf(new graft.functions.QuantileSketch(0.01, Seq(0.5, 0.9)),
        org.apache.spark.sql.Encoders.DOUBLE)
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(qs(col("l_extendedprice")).as("qq"))
        .select(col("l_returnflag"),
          round(element_at(col("qq"), 1), 4).as("p50_approx"),
          round(element_at(col("qq"), 2), 4).as("p90_approx"))
        .orderBy("l_returnflag")
    }),

    // q57: correlation / stddev / variance — computed from EXACT
    // integer moment sums, not the built-in double aggregates. Det
    // policy: corr/stddev_samp merge partial states in task-completion
    // order, so their low double bits depend on the partitioning and
    // differ from DuckDB's accumulation — near a round() boundary that
    // flips the last printed digit. Here every moment (Σx, Σy, Σxy,
    // Σx², Σy²) is an exact DECIMAL(38,0) sum of scaled-integer (cents)
    // products — order-independent — and the textbook closed forms
    //   corr = (nΣxy−ΣxΣy) / sqrt((nΣx²−(Σx)²)(nΣy²−(Σy)²))
    //   var  = (nΣx²−(Σx)²) / (n(n−1))
    // are evaluated in double from identical integers in both engines:
    // bit-identical results (scaling by 100 cancels in corr; sd
    // rescales by /100, var by /10^4).
    "q57_stats" -> ((s, d) => {
      val dec38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      // widen (r15): the eight exact-moment decimal sums ran on the
      // single-row-group scan's one task (measured: the whole 2.0 s
      // wall was one 1.9 s single-core stage)
      val b = graft.operators.Parallelism
        .widen(t(s, d, "lineitem"), col("l_orderkey"))
        .select(col("l_returnflag"),
        expr("cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)")
          .as("qx"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)")
          .as("py"),
        expr("cast(cast(l_discount as decimal(18,2)) * 100 as bigint)")
          .as("dz"))
      val m = b.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("qx").cast(dec38)).as("sx"),
        sum(col("py").cast(dec38)).as("sy"),
        sum((col("qx") * col("py")).cast(dec38)).as("sxy"),
        sum((col("qx") * col("qx")).cast(dec38)).as("sxx"),
        sum((col("py") * col("py")).cast(dec38)).as("syy"),
        sum(col("dz").cast(dec38)).as("sd"),
        sum((col("dz") * col("dz")).cast(dec38)).as("sdd"))
      def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
      // engine-EXACT d-decimal rounding: floor(x·10^d + 0.5)/10^d is
      // identical IEEE ops on the bit-identical doubles both engines
      // derive from the exact integer moments, where round(x, d)
      // HALF_UPs the shortest DECIMAL repr — a half-tie at the
      // (d+1)-th decimal (the Det.davg 73.91375 case) would diverge
      // cross-engine. The q71 floor(x+0.5) quantization, applied to
      // the output surface.
      def r(c: org.apache.spark.sql.Column, d: Int) = {
        val p = math.pow(10, d)
        floor(c * p + 0.5) / p
      }
      m.select(col("l_returnflag"),
        r(dbl(col("n") * col("sxy") - col("sx") * col("sy"))
          / sqrt(dbl(col("n") * col("sxx") - col("sx") * col("sx"))
            * dbl(col("n") * col("syy") - col("sy") * col("sy"))), 4)
          .as("qty_price_corr"),
        r(sqrt(dbl(col("n") * col("sxx") - col("sx") * col("sx"))
          / dbl(col("n") * (col("n") - 1))) / 100, 4).as("qty_sd"),
        r(dbl(col("n") * col("sdd") - col("sd") * col("sd"))
          / dbl(col("n") * (col("n") - 1)) / 10000, 6).as("disc_var"))
        .orderBy("l_returnflag")
    }),

    // q78: equi-width histogram of a measure — bins via floor division
    // (bin arithmetic is identical IEEE ops in both engines; the
    // per-bin sum follows the Det decimal-exact policy). Two-phase
    // partial aggregation on a handful of bin keys: the profiling
    // shape that stays O(bins) no matter the row count.
    "q78_histogram" -> ((s, d) =>
      // widen (r15): the q13 rationale — partial aggregation is the
      // whole query and the fixture scan is one task
      graft.operators.Parallelism
        .widen(t(s, d, "lineitem"), col("l_orderkey"))
        .groupBy(expr("cast(floor(l_extendedprice / 5000) as bigint)")
          .as("bin"))
        .agg(count(lit(1)).as("n"),
          graft.Det.dsum(col("l_extendedprice")).as("sum_price"))
        // a NULL price yields a NULL bin group: pin its sort placement
        // (suite convention NULLS LAST; Spark asc default is FIRST)
        .orderBy(col("bin").asc_nulls_last)),

    // q81: top-3 orders per customer via the bounded TopKAgg aggregator
    // — NOT the row_number window (q17/q18 cover that shape): the
    // window shuffles and sorts every row of every group, while the
    // aggregator keeps O(k) state per group, partially aggregates
    // map-side, and merges associatively — the per-group analog of
    // TakeOrderedAndProject. PlanSpec asserts the plan has no Window.
    "q81_group_topk" -> ((s, d) => {
      val topk = udaf(new graft.functions.TopKAgg(3),
        org.apache.spark.sql.Encoders.product[graft.functions.TopKEntry])
      t(s, d, "orders")
        // domain pin (mirrored in the oracle): the aggregator's entry
        // type holds a primitive Double, so a NULL price would rank as
        // 0.0 while the oracle's row_number ranks the NULL row — pin
        // the non-null domain explicitly instead
        .filter(col("o_totalprice").isNotNull)
        .groupBy("o_custkey")
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), col("col.id").as("o_orderkey"),
          col("col.v").as("o_totalprice"),
          (col("pos") + 1).cast("long").as("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // q13: hash aggregate, TPC-H Q1 shape (flagship)
    "q13_hash_agg" -> ((s, d) => q13(s, d)),

    // q14: count distinct per group
    "q14_count_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supp"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // q14d: distinct operator proper
    "q14_distinct" -> ((s, d) =>
      t(s, d, "customer").select("c_mktsegment").distinct()
        .orderBy("c_mktsegment")),

    // q15: approx distinct (HLL sketch) — no DuckDB oracle; tolerance
    // vs exact count is asserted in ScalaTest (AggSpec).
    "q15_approx_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          count(lit(1)).as("cnt"))),

    // q16: rollup + grouping_id. The group columns are pinned non-null
    // (mirrored in the oracle): a NULL data value would coalesce to the
    // same 'ALL' label as a subtotal row, making the (status, prio)
    // output sort non-total — Spark and DuckDB would then order the
    // tied rows independently and the row-order compare could flake on
    // a regenerated fixture (q16_cube is immune: it sorts by gid too).
    "q16_rollup" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderstatus").isNotNull &&
          col("o_orderpriority").isNotNull)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), grouping_id().cast("long").as("gid"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("cnt"), col("gid"))
        .orderBy("status", "prio")),

    // q16c: cube
    "q16_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), grouping_id().cast("long").as("gid"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("cnt"), col("gid"))
        .orderBy("status", "prio", "gid")),

    // q16g: explicit GROUPING SETS via the SQL surface
    "q16_grouping_sets" -> ((s, d) => {
      Tables.register(s, d, "orders")
      s.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS prio,
               count(*) AS cnt
        FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, prio""")
    }),

    // q46: exact percentiles / median per group (interpolated) — NOT
    // the percentile_cont aggregate, which buffers every group value
    // into one reducer's object buffer (corpus-sized single-task state
    // at 100 TB, and the honest noop-sink bench measured it at 3.2 s
    // where count() had hidden it at 0.16 s). The q88 value-domain
    // formulation instead: a 2-decimal money column has a BOUNDED
    // domain no matter the corpus size, so groupBy(flag, price) counts
    // shrink the data map-side, a per-flag cumulative window runs over
    // domain-sized input, and ONE tiny aggregate picks the bracketing
    // values. The interpolation replays Spark's Percentile expression
    // arithmetic exactly — pos = p·(n−1); lo when pos is integral,
    // else the convex form (ceil(pos)−pos)·lo + (pos−floor(pos))·hi
    // (NOT lo + (hi−lo)·frac, which can differ in the last ULP) — so
    // the result (and the DuckDB quantile_cont oracle match) is
    // bit-identical to the aggregate it replaces.
    "q46_percentiles" -> ((s, d) => {
      // percentile_cont skips NULL inputs; valueCume mirrors the domain
      val cume = valueCume(t(s, d, "lineitem"),
        "l_returnflag", "l_extendedprice")
      def pick(p: String) = {
        // 0-based fractional rank, identical to Percentile's position
        val pos = expr(s"$p * cast(tot - 1 as double)")
        val lo = min(when(col("run") >= floor(pos) + 1, col("x")))
        val hi = min(when(col("run") >= ceil(pos) + 1, col("x")))
        // ceil(pos)+1 can exceed tot only when frac = 0 (pos integral),
        // where hi is unused: coalesce keeps the arithmetic total
        (lo, coalesce(hi, lo))
      }
      val (lo50, hi50) = pick("0.5")
      val (lo90, hi90) = pick("0.9")
      cume.groupBy("l_returnflag")
        .agg(max("tot").as("n"),
          lo50.as("lo50"), hi50.as("hi50"),
          lo90.as("lo90"), hi90.as("hi90"))
        .select(col("l_returnflag"),
          round(interpolate("0.5", "lo50", "hi50"), 4).as("p50"),
          round(interpolate("0.9", "lo90", "hi90"), 4).as("p90"))
        .orderBy("l_returnflag")
    }),

    // q49: hot-key-safe aggregation — the two-phase salted aggregate
    // (operators.Skew) under the oracle gate: results must be identical
    // to a direct GROUP BY (decimal-cast sums keep the double exact
    // across the extra combine phase).
    "q49_salted_agg" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val li = t(s, d, "lineitem")
        .withColumn("dec_price", col("l_extendedprice").cast(DecimalType(18, 2)))
      graft.operators.Skew.saltedAgg(li, Seq("l_returnflag"), 8, Seq(
          graft.operators.Skew.count("cnt"),
          graft.operators.Skew.sum("sum_price", col("dec_price")),
          graft.operators.Skew.min("min_price", col("l_extendedprice")),
          graft.operators.Skew.max("max_price", col("l_extendedprice"))))
        .select(col("l_returnflag"), col("cnt"),
          col("sum_price").cast("double").as("sum_price"),
          col("min_price"), col("max_price"))
        .orderBy("l_returnflag")
    }),

    // q17: arg-max per group (A33 analog). max(struct) == lexicographic
    // max (highest price, ties to highest orderkey) — identical result to
    // a row_number window but with map-side partial aggregation instead
    // of a full shuffle + per-partition sort: the winning shape at scale.
    "q17_argmax" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"), col("m.o_orderkey").as("o_orderkey"),
          col("m.o_totalprice").as("o_totalprice"))
        .orderBy("o_custkey")),

    // q20: multi-key sort with explicit null ordering
    "q20_sort" -> ((s, d) =>
      t(s, d, "customer")
        .select(col("c_custkey"),
          expr("nullif(c_mktsegment, 'BUILDING')").as("seg"),
          col("c_acctbal"))
        .orderBy(col("seg").asc_nulls_last, col("c_acctbal").desc,
          col("c_custkey"))),

    // q21: set operations (union all / union distinct / intersect / except)
    "q21_set_ops" -> ((s, d) => {
      val cn = t(s, d, "customer").select(col("c_nationkey").as("nk"))
      val sn = t(s, d, "supplier").select(col("s_nationkey").as("nk"))
      val ua = cn.union(sn).groupBy("nk").agg(count(lit(1)).as("cnt"))
        .select(lit("union_all").as("op"), col("nk"), col("cnt"))
      val un = cn.union(sn).distinct()
        .select(lit("union").as("op"), col("nk"), lit(1L).as("cnt"))
      val in = cn.intersect(sn)
        .select(lit("intersect").as("op"), col("nk"), lit(1L).as("cnt"))
      val ex = cn.except(sn)
        .select(lit("except").as("op"), col("nk"), lit(1L).as("cnt"))
      ua.union(un).union(in).union(ex).orderBy("op", "nk")
    }),

    // q22: correlated scalar subqueries (Catalyst decorrelates);
    // exercises the SQL parser surface via spark.sql. The threshold is
    // EXACT arithmetic: price · count > sum in DECIMAL — a raw
    // avg(double) subquery merges partial double sums in
    // task-completion order, so the per-nation threshold's last bits
    // were nondeterministic across runs AND engines, and a price
    // landing inside that ulp band would flip set membership (the Det
    // policy applied to a correlated predicate: multiply through by
    // the count instead of dividing). count >= 1 always — the outer
    // row's own order is in its nation's group.
    "q22_subquery" -> ((s, d) => {
      Tables.register(s, d, "orders", "customer")
      s.sql("""
        SELECT o.o_orderkey, c.c_nationkey, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * (
          SELECT count(*)
          FROM orders o2 JOIN customer c2 ON o2.o_custkey = c2.c_custkey
          WHERE c2.c_nationkey = c.c_nationkey)
        > (
          SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,2)))
          FROM orders o2 JOIN customer c2 ON o2.o_custkey = c2.c_custkey
          WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY o.o_orderkey""")
    }),

    // q87: winsorized robust stats — per-group p05/p95 cutpoints with
    // percentile_disc SEMANTICS (an ACTUAL data value, no
    // interpolation: the cross-engine-exact choice; DuckDB twin is the
    // literal SQL-standard definition, min(x) where cume_dist >= p)
    // computed via the q88/q46 value-domain counts formulation — the
    // percentile_disc AGGREGATE buffers every group value into one
    // reducer (corpus-sized single-task state at 100 TB; the honest
    // noop bench measured it at 2.7 s where count() had hidden it).
    // cume_dist >= p is decided in exact INTEGER arithmetic
    // (20·run >= tot, 20·run >= 19·tot), no double division anywhere.
    // Then the mean of the clamped column: each clamped price converts
    // to exact integer CENTS per row (decimal(18,2) * 100 -> bigint),
    // so the sum is order-independent and the mean is a floored
    // integer division — no double summation, no decimal-division
    // scale rules. The clamp+sum pass is map-side partial aggregation
    // after a 3-row broadcast join.
    "q87_winsorize" -> ((s, d) => {
      // percentile_disc skips NULL inputs; valueCume mirrors the domain
      val cut = valueCume(t(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag")
        .agg(min(when(col("run") * 20 >= col("tot"), col("x"))).as("p05"),
          min(when(col("run") * 20 >= col("tot") * 19, col("x"))).as("p95"))
      t(s, d, "lineitem")
        .join(broadcast(cut), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p05"), col("p95"),
          expr("""cast(cast(least(greatest(l_extendedprice, p05), p95)
                   as decimal(18,2)) * 100 as bigint)""").as("wc"))
        .groupBy("l_returnflag")
        // the cents sum rides DECIMAL(38,0), not Long: at the 10^12-row
        // groups this shape targets, sum(bigint) exceeds Long and ANSI
        // throws (the DuckDB twin widens to HUGEINT); `div` is exact on
        // decimal/long operands alike and still lands a LongType mean
        .agg(count(lit(1)).as("n"), min("p05").as("p05"),
          min("p95").as("p95"),
          sum(col("wc").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)))
            .as("sw"))
        .select(col("l_returnflag"), col("n"), col("p05"), col("p95"),
          expr("sw div n").as("wmean_cents"))
        .orderBy("l_returnflag")
    }),

    // q88: equi-depth (decile) histogram — the complement of q78's
    // equi-width bins and the shape behind learned range partitioners.
    // All nine decile cutpoints (percentile_disc semantics: min value
    // with cume_dist >= p, an ACTUAL data value) come from ONE pass over
    // a VALUE-DOMAIN-bounded counts table: groupBy(value) shrinks the
    // corpus map-side to distinct prices (a 2-decimal money domain tops
    // out at ~10M rows no matter the corpus size), a running-count
    // window over that small table yields cume_dist, and one tiny
    // aggregate picks all 9 cutpoints. This replaces 9 percentile_disc
    // aggregates, each of which buffers the ENTIRE column into a
    // single-task object buffer — 3.5s at sf0.1 and corpus-sized
    // reducer state at 100 TB, vs domain-sized here (1.4s). Cutpoints
    // broadcast as ONE row (BNLJ allowlisted); bin assignment is the
    // map-side count-of-cutpoints-below (q84's no-global-ntile trick);
    // per-bin money sums decimal-exact.
    "q88_equidepth_hist" -> ((s, d) => {
      Tables.register(s, d, "orders")
      val cuts = (1 to 9).map(i =>
        s"min(CASE WHEN cast(run as double) / cast(tot as double) >= 0.$i " +
          s"THEN x END)").mkString(",\n            ")
      // null domain pinned on BOTH the cume table and the binned scan
      // (q46/q87 do the same): NULL prices would inflate Spark's
      // running count (ASC puts NULLS FIRST) but not the oracle's
      // cume_dist, shifting every decile cutpoint
      s.sql(s"""
        WITH vc AS (SELECT o_totalprice AS x, count(*) AS cnt
                    FROM orders WHERE o_totalprice IS NOT NULL
                    GROUP BY o_totalprice),
        cume AS (SELECT x,
                   sum(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                     AS run,
                   sum(cnt) OVER () AS tot
                 FROM vc),
        cut AS (SELECT array(
            $cuts) AS cuts
          FROM cume)
        SELECT cast(size(filter(c.cuts, v -> o.o_totalprice > v)) as bigint)
                 AS bin,
               count(*) AS n,
               cast(sum(cast(o.o_totalprice as decimal(18,2))) as double)
                 AS sum_price
        FROM orders o CROSS JOIN cut c
        WHERE o.o_totalprice IS NOT NULL
        GROUP BY 1 ORDER BY bin""")
    }),

    // q91: Z-order layout audit — the data-skipping story made
    // measurable: range-normalize both keys into the full 16-bit grid
    // (what a z-order writer does — interleaving RAW keys would leave
    // the z-space lopsided whenever one domain is smaller), interleave
    // into a z-value, slab the z-space into 64 would-be files, and
    // report each slab's PER-AXIS min/max span. Narrow spans on BOTH
    // axes are exactly what lets a min/max-pruning scan skip most files
    // for a predicate on EITHER key (a plain sort gives this for its
    // leading column only — ZOrderSpec quantifies the difference).
    // One 1-row stats broadcast (BNLJ allowlisted), map-only z ladder
    // (integer and/or/shift, codegen'd, ANSI-safe), one O(slabs) agg.
    "q91_zorder_layout" -> ((s, d) => {
      val o = t(s, d, "orders")
      val stats = o.agg(min("o_custkey").as("ck0"), max("o_custkey").as("ck1"),
        min("o_orderkey").as("ok0"), max("o_orderkey").as("ok1"))
      o.crossJoin(broadcast(stats))
        .withColumn("z", graft.operators.ZOrder.zorder2(
          expr("((o_custkey - ck0) * 65535) div greatest(ck1 - ck0, 1)"),
          expr("((o_orderkey - ok0) * 65535) div greatest(ok1 - ok0, 1)")))
        .withColumn("slab", expr("z div 67108864")) // 64 slabs of 2^32
        .groupBy("slab")
        .agg(count(lit(1)).as("n"),
          (max("o_custkey") - min("o_custkey")).as("ck_span"),
          (max("o_orderkey") - min("o_orderkey")).as("ok_span"))
        .orderBy("slab")
    }),

    // q94: 2-D pareto frontier (skyline) of part by (minimize
    // retailprice, maximize size) — multi-objective curation: "no other
    // part is both cheaper and bigger". The naive formulation is a
    // quadratic self-join (the oracle's NOT EXISTS); the scalable shape
    // is a SCAN: sorted by price, a part is on the frontier iff its
    // size beats the running max over strictly-cheaper parts and ties
    // the max within its own price group. The running max over price
    // groups comes from operators/PrefixAgg (blocked two-phase — never
    // a global-order single-task window); prices are exact cents, so
    // cents-as-long is an injective integral order key, and the
    // pre-aggregation per price makes it unique (PrefixAgg's contract).
    // Everything is linear + one tiny per-price aggregate.
    "q94_pareto_front" -> ((s, d) => {
      val p = t(s, d, "part")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val g = p.groupBy("p_retailprice")
        .agg(max(col("p_size")).as("gmax"))
        .withColumn("cents",
          expr("cast(round(p_retailprice * 100) as bigint)"))
      val withPrev = graft.operators.PrefixAgg
        .runningMax(g, "cents", "gmax", "prev_max",
          blockSize = 1024, inclusive = false)
      p.join(withPrev.select("p_retailprice", "gmax", "prev_max"),
          Seq("p_retailprice"))
        .filter(col("p_size") === col("gmax") &&
          (col("prev_max").isNull || col("prev_max") < col("p_size")))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy("p_retailprice", "p_partkey")
    }),

    // q93: bloom-pruned semi join — the semi-join REDUCTION pattern:
    // build a mergeable Bloom filter over the selective side's keys
    // (urgent orders) and drop non-matching lineitem rows MAP-SIDE,
    // before they pay the shuffle of the exact semi join that follows.
    // False positives ride through to the exact join (the result is
    // bit-identical to the plain semi join — which is exactly what the
    // oracle checks); false negatives cannot happen. At 100 TB the
    // fact side shuffles only the ~matching fraction instead of every
    // row. The filter arrives as a SCALAR SUBQUERY — the same delivery
    // mechanism Spark's own InjectRuntimeFilter uses — because a
    // broadcast-cross-join formulation gets REORDERED by Catalyst
    // (PushLeftSemiLeftAntiThroughJoin pushes the exact semi join
    // below the cross join, leaving the probe above the join it was
    // meant to protect; PlanSpec pins the correct Filter-on-scan
    // placement). The probe (bloom_might_contain,
    // functions/BloomFilter.scala) is native and codegen'd, so the
    // prune lives inside the scan's whole-stage-codegen span. The
    // filter's aggregate, bloom_agg_1m, is one of GraftFunctions.all.
    "q93_bloom_prune" -> ((s, d) => {
      Tables.register(s, d, "orders", "lineitem")
      s.sql(s"""
        WITH sel AS (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT'),
        bf AS (SELECT bloom_agg_1m(xxhash64(o_orderkey)) AS b FROM sel)
        SELECT l_returnflag, count(*) AS n,
          ${Det.sqlDsum("l_extendedprice")} AS sum_price
        FROM lineitem
        WHERE bloom_might_contain((SELECT b FROM bf),
                xxhash64(l_orderkey))
          AND l_orderkey IN (SELECT o_orderkey FROM sel)
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    })
  )

  private def q13(s: SparkSession, d: String): DataFrame =
    // widen (r15): six decimal-sum partial aggregates are the whole
    // cost of this query, and the single-row-group fixture scan ran
    // them one-task (measured 1.9 s of 2.5 s wall on one core of 32).
    // The shipdate filter still pushes through the repartition to the
    // scan (PlanSpec pins PushedFilters); at scale widen no-ops.
    graft.operators.Parallelism.widen(
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-06-01").cast("timestamp")),
      col("l_orderkey"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_base_price"),
        Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("sum_disc_price"),
        Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax")), 6).as("sum_charge"),
        Det.davg(col("l_quantity")).as("avg_qty"),
        Det.davg(col("l_extendedprice")).as("avg_price"),
        Det.davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  import Det.{sqlDsum, sqlDavg}

  val oracle: Map[String, String] = Map(
    "q01_scan_count" -> "SELECT count(*) AS cnt FROM lineitem",

    "q02_topk" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
         FROM lineitem
         ORDER BY l_extendedprice DESC NULLS LAST, l_orderkey, l_linenumber
         LIMIT 100""",

    "q03_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_extendedprice
         FROM lineitem
         WHERE l_quantity BETWEEN 10 AND 20 AND l_discount > 0.05
         ORDER BY l_orderkey, l_linenumber""",

    "q04_filter_in" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
         FROM orders
         WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
           AND o_orderstatus = 'F' AND o_totalprice IS NOT NULL
         ORDER BY o_orderkey""",

    "q05_filter_like" ->
      """SELECT p_partkey, p_name, p_type FROM part
         WHERE p_name LIKE '%rod%' OR regexp_matches(p_name, '^blue \w+')
         ORDER BY p_partkey""",

    "q06_join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name
         FROM nation JOIN region ON n_regionkey = r_regionkey
         ORDER BY n_nationkey""",

    "q07_join_shuffle" ->
      s"""SELECT o_orderstatus, count(*) AS n_lines,
            ${sqlDsum("l_extendedprice")} AS sum_price
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q08_join_multiway" ->
      s"""SELECT r_name, n_name, count(*) AS n_lines,
            ${sqlDsum("l_extendedprice * (1 - l_discount)", 6)} AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q09_join_left" ->
      s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
            coalesce(${sqlDsum("o_totalprice")}, 0) AS total
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey ORDER BY c_custkey""",

    "q09_join_full" ->
      """SELECT n_nationkey, count(s_suppkey) AS n_supp
         FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
         GROUP BY n_nationkey ORDER BY n_nationkey ASC NULLS FIRST""",

    "q10_join_semi_anti" ->
      """SELECT c_custkey, 'has' AS status FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT c_custkey, 'none' AS status FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",

    "q11_cross_join" ->
      """SELECT a.r_regionkey AS a_key, a.r_name AS a_name,
                b.r_regionkey AS b_key, b.r_name AS b_name
         FROM region a CROSS JOIN region b
         WHERE a.r_regionkey < b.r_regionkey
         ORDER BY a_key, b_key""",

    "q12_range_join" ->
      """SELECT o_orderpriority, count(*) AS n_pairs,
                count(DISTINCT o_orderkey) AS n_orders
         FROM (SELECT * FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                 AND l_shipdate < TIMESTAMP '1997-02-01') l,
              (SELECT * FROM orders
               WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                 AND o_orderdate < TIMESTAMP '1997-02-01') o
         WHERE l.l_shipdate BETWEEN o.o_orderdate
                                AND o.o_orderdate + INTERVAL 7 DAY
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q12_range_join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n_pairs,
                count(DISTINCT o_orderkey) AS n_orders
         FROM (SELECT * FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                 AND l_shipdate < TIMESTAMP '1997-02-01') l,
              (SELECT * FROM orders
               WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                 AND o_orderdate < TIMESTAMP '1997-02-01') o
         WHERE l.l_shipdate BETWEEN o.o_orderdate
                                AND o.o_orderdate + INTERVAL 7 DAY
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q51_pivot" ->
      """SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
               count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
               count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q52_unpivot" ->
      """WITH w AS (SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
             FROM orders GROUP BY o_orderpriority)
         SELECT o_orderpriority, 'F' AS status, f_cnt AS cnt FROM w
         UNION ALL SELECT o_orderpriority, 'O', o_cnt FROM w
         UNION ALL SELECT o_orderpriority, 'P', p_cnt FROM w
         ORDER BY o_orderpriority, status""",

    "q53_profile" ->
      s"""SELECT count(*) AS n_rows,
            count(DISTINCT o_custkey) AS d_cust,
            count(DISTINCT o_orderstatus) AS d_status,
            CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_price,
            ${sqlDsum("o_totalprice")} AS sum_price,
            min(o_totalprice) AS min_price,
            max(o_totalprice) AS max_price,
            strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
            strftime(max(o_orderdate), '%Y-%m-%d') AS max_date
          FROM orders""",

    "q54_hash_split" ->
      """SELECT CASE WHEN ascii(substring(md5(text), 1, 1)) % 5 < 4
                     THEN 'train' ELSE 'test' END AS split,
               count(*) AS n, count(DISTINCT lang) AS n_langs
         FROM documents GROUP BY 1 ORDER BY split""",

    "q57_stats" ->
      """WITH b AS (SELECT l_returnflag,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qx,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS py,
               CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS dz
             FROM lineitem),
          m AS (SELECT l_returnflag, count(*) AS n,
               sum(CAST(qx AS HUGEINT)) AS sx, sum(CAST(py AS HUGEINT)) AS sy,
               sum(CAST(qx AS HUGEINT) * py) AS sxy,
               sum(CAST(qx AS HUGEINT) * qx) AS sxx,
               sum(CAST(py AS HUGEINT) * py) AS syy,
               sum(CAST(dz AS HUGEINT)) AS sd,
               sum(CAST(dz AS HUGEINT) * dz) AS sdd
             FROM b GROUP BY l_returnflag)
         SELECT l_returnflag,
           floor(CAST(n*sxy - sx*sy AS DOUBLE)
             / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
                 * CAST(n*syy - sy*sy AS DOUBLE)) * 10000 + 0.5) / 10000
             AS qty_price_corr,
           floor(sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
             / CAST(n*(n-1) AS DOUBLE)) / 100 * 10000 + 0.5) / 10000
             AS qty_sd,
           floor(CAST(n*sdd - sd*sd AS DOUBLE)
             / CAST(n*(n-1) AS DOUBLE) / 10000 * 1000000 + 0.5) / 1000000
             AS disc_var
         FROM m ORDER BY l_returnflag""",

    "q81_group_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders WHERE o_totalprice IS NOT NULL) t
         WHERE rn <= 3 ORDER BY o_custkey, rn""",

    "q78_histogram" ->
      s"""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
            count(*) AS n, ${sqlDsum("l_extendedprice")} AS sum_price
          FROM lineitem GROUP BY 1 ORDER BY bin NULLS LAST""",

    "q13_hash_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
            ${sqlDsum("l_quantity")} AS sum_qty,
            ${sqlDsum("l_extendedprice")} AS sum_base_price,
            ${sqlDsum("l_extendedprice * (1 - l_discount)", 6)} AS sum_disc_price,
            ${sqlDsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
            ${sqlDavg("l_quantity")} AS avg_qty,
            ${sqlDavg("l_extendedprice")} AS avg_price,
            ${sqlDavg("l_discount")} AS avg_disc,
            count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-01'
          GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",

    "q14_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supp, count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q14_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",

    "q16_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                coalesce(o_orderpriority, 'ALL') AS prio,
                count(*) AS cnt,
                CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         FROM orders
         WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
         GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY status, prio""",

    "q16_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                coalesce(o_orderpriority, 'ALL') AS prio,
                count(*) AS cnt,
                CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY status, prio, gid""",

    "q16_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS prio,
               count(*) AS cnt
         FROM orders
         WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY status, prio""",

    "q46_percentiles" ->
      """SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q49_salted_agg" ->
      s"""SELECT l_returnflag, count(*) AS cnt,
            ${sqlDsum("l_extendedprice")} AS sum_price,
            min(l_extendedprice) AS min_price,
            max(l_extendedprice) AS max_price
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q17_argmax" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
           FROM orders) t
         WHERE rn = 1 ORDER BY o_custkey""",

    "q20_sort" ->
      """SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg, c_acctbal
         FROM customer
         ORDER BY seg ASC NULLS LAST, c_acctbal DESC NULLS LAST, c_custkey""",

    "q21_set_ops" ->
      """SELECT 'union_all' AS op, nk, count(*) AS cnt FROM
           (SELECT c_nationkey AS nk FROM customer
            UNION ALL SELECT s_nationkey FROM supplier) u GROUP BY nk
         UNION ALL
         SELECT 'union' AS op, nk, CAST(1 AS BIGINT) AS cnt FROM
           (SELECT c_nationkey AS nk FROM customer
            UNION SELECT s_nationkey FROM supplier) v
         UNION ALL
         SELECT 'intersect' AS op, nk, CAST(1 AS BIGINT) AS cnt FROM
           (SELECT c_nationkey AS nk FROM customer
            INTERSECT SELECT s_nationkey FROM supplier) w
         UNION ALL
         SELECT 'except' AS op, nk, CAST(1 AS BIGINT) AS cnt FROM
           (SELECT c_nationkey AS nk FROM customer
            EXCEPT SELECT s_nationkey FROM supplier) x
         ORDER BY op, nk""",

    // the identical exact-decimal predicate (DuckDB's sum(DECIMAL) is
    // exact too, so both engines decide membership on the same
    // integers-in-decimal — no double avg on either side)
    "q22_subquery" ->
      """SELECT o.o_orderkey, c.c_nationkey, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * (
          SELECT count(*)
          FROM orders o2 JOIN customer c2 ON o2.o_custkey = c2.c_custkey
          WHERE c2.c_nationkey = c.c_nationkey)
        > (
          SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,2)))
          FROM orders o2 JOIN customer c2 ON o2.o_custkey = c2.c_custkey
          WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY o.o_orderkey""",

    "q87_winsorize" ->
      """WITH r AS (SELECT l_returnflag AS rf, l_extendedprice AS x,
               cume_dist() OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice) AS cd
             FROM lineitem),
          cut AS (SELECT rf, min(x) FILTER (WHERE cd >= 0.05) AS p05,
                    min(x) FILTER (WHERE cd >= 0.95) AS p95
                  FROM r GROUP BY rf),
          w AS (SELECT l.l_returnflag, c.p05, c.p95,
                  CAST(CAST(least(greatest(l.l_extendedprice, c.p05), c.p95)
                    AS DECIMAL(18,2)) * 100 AS BIGINT) AS wc
                FROM lineitem l JOIN cut c ON l.l_returnflag = c.rf)
          SELECT l_returnflag, count(*) AS n, min(p05) AS p05,
            min(p95) AS p95,
            CAST(sum(wc) AS BIGINT) // count(*) AS wmean_cents
          FROM w GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q88_equidepth_hist" -> {
      val bins = (1 to 9).map(i =>
        s"(CASE WHEN o.o_totalprice > c.c$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val cuts = (1 to 9).map(i =>
        s"min(x) FILTER (WHERE cd >= 0.$i) AS c$i").mkString(", ")
      s"""WITH r AS (SELECT o_totalprice AS x,
               cume_dist() OVER (ORDER BY o_totalprice) AS cd
             FROM orders WHERE o_totalprice IS NOT NULL),
          cut AS (SELECT $cuts FROM r),
          b AS (SELECT o.o_totalprice, CAST($bins AS BIGINT) AS bin
                FROM orders o CROSS JOIN cut c
                WHERE o.o_totalprice IS NOT NULL)
          SELECT bin, count(*) AS n,
            CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              AS sum_price
          FROM b GROUP BY bin ORDER BY bin"""
    },

    "q91_zorder_layout" -> {
      val z = graft.operators.ZOrder.duckZorder2(
        "((o_custkey - ck0) * 65535) // greatest(ck1 - ck0, 1)",
        "((o_orderkey - ok0) * 65535) // greatest(ok1 - ok0, 1)")
      s"""WITH s AS (SELECT min(o_custkey) AS ck0, max(o_custkey) AS ck1,
               min(o_orderkey) AS ok0, max(o_orderkey) AS ok1 FROM orders),
          t AS (SELECT o_custkey, o_orderkey,
                  $z // 67108864 AS slab
                FROM orders CROSS JOIN s)
          SELECT slab, count(*) AS n,
            max(o_custkey) - min(o_custkey) AS ck_span,
            max(o_orderkey) - min(o_orderkey) AS ok_span
          FROM t GROUP BY slab ORDER BY slab"""
    },

    // deliberately the quadratic dominance definition, NOT the scan —
    // an independent formulation of the same frontier
    "q94_pareto_front" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
         FROM part p
         WHERE NOT EXISTS (
           SELECT 1 FROM part q
           WHERE q.p_retailprice <= p.p_retailprice
             AND q.p_size >= p.p_size
             AND (q.p_retailprice < p.p_retailprice
                  OR q.p_size > p.p_size))
         ORDER BY p_retailprice, p_partkey""",

    // the bloom prune is a lossless pre-filter, so the oracle is the
    // PLAIN exact semi join — any false negative would show up here
    "q93_bloom_prune" ->
      s"""SELECT l_returnflag, count(*) AS n,
            ${sqlDsum("l_extendedprice")} AS sum_price
          FROM lineitem l
          WHERE EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey
                          AND o.o_orderpriority = '1-URGENT')
          GROUP BY l_returnflag ORDER BY l_returnflag"""
  )
}
