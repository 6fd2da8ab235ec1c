package graft

import graft.operators.Bucketing
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Bucketed tables must make the equi-join shuffle-free: same bucket
  * count on the same key => co-located partitions, Exchange elided.
  */
class BucketingSpec extends SparkSpec {

  private def countShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    // materialized AQE stages (QueryStageExec) report no children, so a
    // plain collect() sees zero exchanges once stages have executed —
    // descend into them explicitly.
    // REPARTITION_BY_NUM exchanges are EXCLUDED: that origin only comes
    // from Parallelism.widen's explicit guard (which no-ops at real
    // input parallelism and fires on these single-row-group fixtures);
    // the co-location claims under test are about data-dependent
    // ENSURE_REQUIREMENTS shuffles
    def walk(p: SparkPlan): Int = {
      val self = p match {
        case s: ShuffleExchangeLike
            if s.shuffleOrigin !=
              org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("join of two same-key bucketed tables plans zero shuffles") {
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Bucketing.writeBucketed(li, "b_lineitem", "l_orderkey", 4)
    Bucketing.writeBucketed(o, "b_orders", "l_orderkey", 4)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.read(spark, "b_lineitem")
        .join(Bucketing.read(spark, "b_orders"), Seq("l_orderkey"))
      assert(joined.count() ==
        li.join(o, Seq("l_orderkey")).count(), "same result as unbucketed")
      assert(countShuffles(joined) == 0,
        "bucketed join must not contain a ShuffleExchange")

      // and the unbucketed equivalent DOES shuffle (sanity of the check)
      val unbucketed = li.join(o, Seq("l_orderkey"))
      unbucketed.count()
      assert(countShuffles(unbucketed) > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed corpus band state: probe never reshuffles the corpus") {
    // the q73/streaming incremental-dedup production claim, executable:
    // persist the corpus (band, mh) state bucketed on exactly the probe
    // join keys, and the arriving batch's band anti-probe shuffles ONLY
    // the (small) batch side — the 100 TB corpus is read co-located.
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sf, "documents")
    val (_, corpusBands) = graft.queries.Dedup
      .dedupState(docs.filter(col("doc_id") < 250))
    Bucketing.writeBucketed(corpusBands, "b_corpus_bands", "band", 4, "mh")

    val batchSig = graft.queries.Dedup.signaturesOf(
      graft.queries.Dedup.withTok(docs.filter(col("doc_id") >= 250)))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = batchSig.join(Bucketing.read(spark, "b_corpus_bands"),
        Seq("band", "mh"), "left_semi")
      probe.collect()
      assert(countShuffles(probe) == 1,
        "only the batch side may shuffle; the bucketed corpus must not")
      assert(probe.queryExecution.executedPlan.toString
        .contains("Bucketed: true"), "corpus must come from a bucketed scan")

      val unbucketed = batchSig.join(corpusBands,
        Seq("band", "mh"), "left_semi")
      unbucketed.collect()
      assert(countShuffles(unbucketed) > 1, "sanity: unbucketed shuffles both")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("appended bucketed state serves the next batch shuffle-free") {
    // the full incremental-ingest cycle: build state from the corpus,
    // append batch-1's bands, and batch-2's probe against the GROWN
    // state must (a) detect batch-1 near-dups and (b) still plan a
    // bucketed corpus scan with only the probe side shuffling
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sf, "documents")
    def bands(pred: org.apache.spark.sql.Column) =
      graft.queries.Dedup.signaturesOf(
        graft.queries.Dedup.withTok(docs.filter(pred)))
        .select("band", "mh").distinct()
    Bucketing.writeBucketed(bands(col("doc_id") < 200),
      "b_state", "band", 4, "mh")
    Bucketing.appendBucketed(bands(col("doc_id") >= 200 &&
      col("doc_id") < 350), "b_state", "band", 4, "mh")

    val batch2 = graft.queries.Dedup.signaturesOf(
      graft.queries.Dedup.withTok(docs.filter(col("doc_id") >= 350)))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hits = batch2.join(Bucketing.read(spark, "b_state"),
        Seq("band", "mh"), "left_semi")
      val hitIds = hits.select("doc_id").distinct().collect()
        .map(_.getLong(0)).toSet
      // fixture ground truth: batch-2 docs band-matching doc_id < 350
      val expect = batch2.join(bands(col("doc_id") < 350),
        Seq("band", "mh"), "left_semi")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(hitIds == expect && hitIds.nonEmpty,
        "grown state must equal corpus+batch1 band union")
      hits.collect()
      assert(countShuffles(hits) == 1,
        "appended state must stay co-located (probe-side shuffle only)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned sink: reads prune partitions at planning time") {
    val dir = tempDir("psink").toString
    val docs = Tables.load(spark, sf, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    val filtered = back.filter(org.apache.spark.sql.functions.col("lang") === "en")
    filtered.count()
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      "lang filter must prune hive partitions:\n" + plan.take(400))
    assert(filtered.count() ==
      docs.filter(org.apache.spark.sql.functions.col("lang") === "en").count())
  }

  test("csv and json round-trips preserve rows and schema") {
    val dir = tempDir("rt").toString
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars")
    docs.write.option("header", "true").csv(s"$dir/csv")
    val csvBack = spark.read.option("header", "true").schema(docs.schema)
      .csv(s"$dir/csv")
    assert(csvBack.schema == docs.schema)
    assert(csvBack.collect().toSet == docs.collect().toSet)
    docs.write.json(s"$dir/json")
    val jsonBack = spark.read.schema(docs.schema).json(s"$dir/json")
    assert(jsonBack.collect().toSet == docs.collect().toSet)
    docs.write.orc(s"$dir/orc")
    val orcBack = spark.read.orc(s"$dir/orc")
    assert(orcBack.schema.fieldNames.toSeq == docs.schema.fieldNames.toSeq)
    assert(orcBack.collect().toSet == docs.collect().toSet)
    val lines = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("text"))
    lines.write.text(s"$dir/text")
    val textBack = spark.read.text(s"$dir/text")
    assert(textBack.collect().map(_.getString(0)).toSet ==
      lines.collect().map(_.getString(0)).toSet)
  }

  test("aggregation on the bucket key also skips the shuffle") {
    val agg = Bucketing.read(spark, "b_lineitem")
      .groupBy("l_orderkey").agg(sum(col("l_quantity")))
    agg.count()
    assert(countShuffles(agg) == 0,
      "group-by on the bucket key must reuse bucketing")
  }

  test("snapshot diff over bucketed versions plans zero shuffles") {
    // the q110 100 TB claim, executable: both corpus snapshots stored
    // bucketed on doc_id => the digest full-outer join is co-located
    // and the whole diff runs without an Exchange
    val (v1, v2) = graft.queries.Analytics.snapshotSides(
      Tables.load(spark, sf, "documents"))
    Bucketing.writeBucketed(v1, "b_snap_v1", "doc_id", 4)
    Bucketing.writeBucketed(v2, "b_snap_v2", "doc_id", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val diff = Bucketing.read(spark, "b_snap_v1")
        .join(Bucketing.read(spark, "b_snap_v2"), Seq("doc_id"),
          "full_outer")
        .withColumn("status",
          when(col("in1").isNull, "added")
            .when(col("in2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed"))
        .filter(col("status").isNotNull)
        .select("doc_id", "status")
      val got = diff.collect().map(r => (r.getLong(0), r.getString(1)))
      val want = SparkEntry.queries("q110_snapshot_diff")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.sortBy(_._1).toSeq == want.toSeq,
        "bucketed diff must equal the q110 result")
      assert(countShuffles(diff) == 0,
        "bucketed snapshot diff must not contain a ShuffleExchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cms estimates equal a driver-side reference sketch exactly") {
    // independent recomputation: rebuild the sketch from the exact
    // per-user counts on the driver with the library's own mix61 and
    // the declared family/width, and require every estimate to match —
    // catches family-constant drift, a broken min-over-depths, or a
    // probe/build bucket mismatch (an est==exact+over tautology would
    // not). The >= exact invariant rides along for free.
    import graft.queries.Analytics.{CmsFamily, CmsWidth}
    val rows = SparkEntry.queries("q112_cms_counts")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val exact = rows.map { case (u, e, _, _) => u -> e }.toMap
    val buckets: Map[(Int, Long), Long] = exact.toSeq
      .flatMap { case (u, e) =>
        CmsFamily.map { case (j, a, b) =>
          (j, graft.functions.Mix61.mix(h60(u.toString), a, b) % CmsWidth) -> e
        }
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    rows.foreach { case (u, e, est, over) =>
      val ref = CmsFamily.map { case (j, a, b) =>
        buckets((j, graft.functions.Mix61.mix(h60(u.toString), a, b)
          % CmsWidth))
      }.min
      assert(est == ref, s"user $u: est $est != reference $ref")
      assert(est >= e && over == est - e)
    }
  }
}
