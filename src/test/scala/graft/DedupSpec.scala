package graft

import graft.queries.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Property tests for the non-oracled dedup ops (SURVEY.md §5.2-3):
  * minhash bands must collide for exact duplicates, usually collide for
  * near-duplicates, and not collide for disjoint texts; simhash is
  * content-determined with small hamming distance for near-dups; exact
  * dedup is idempotent.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 60 distinct words -> 58 distinct 3-shingles; the near-dup changes one
  // middle word, touching 3 shingles: jaccard = 55/61 ~ 0.90, where the
  // 4x4 band S-curve gives P(share >= 1 band) ~ 0.99. (A borderline
  // j ~ 0.6 doc would be a coin flip by design — the curve's midpoint —
  // and any fixed hash family decides it arbitrarily.)
  private val base = (1 to 60).map(i => s"w$i").mkString(" ")
  private val nearDup = base.replace(" w30 ", " changed ")
  private val disjoint = (1 to 60).map(i => s"z$i").mkString(" ")

  private def docsDf: DataFrame = Dedup.withTok(Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, disjoint)
  ).toDF("doc_id", "text"))

  test("minhash: exact duplicates collide on every band") {
    val sig = Dedup.signaturesOf(docsDf)
    val d1 = sig.filter($"doc_id" === 1).select("band", "mh").collect().toSet
    val d2 = sig.filter($"doc_id" === 2).select("band", "mh").collect().toSet
    assert(d1 == d2 && d1.size == 4)
  }

  test("minhash: near-duplicate shares a band; disjoint text shares none") {
    val sig = Dedup.signaturesOf(docsDf)
    def bands(id: Long) =
      sig.filter($"doc_id" === id).select("band", "mh")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bands(1).intersect(bands(3)).nonEmpty,
      "near-dup should share >= 1 band")
    assert(bands(1).intersect(bands(4)).isEmpty,
      "disjoint docs must not share a band")
  }

  test("simhash: identical for identical text, near for near-dups") {
    val sh = Dedup.simhashOf(docsDf)
      .collect().map(r => r.getLong(1)).toSeq
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(0) == sh(1), "identical text -> identical simhash")
    assert(hamming(sh(0), sh(2)) < 16, "near-dup hamming must be small")
    assert(hamming(sh(0), sh(3)) > hamming(sh(0), sh(2)),
      "disjoint text must be farther than near-dup")
  }

  test("jaccard pairs: exact dup = 1.0; disjoint absent") {
    val pairs = Dedup.jaccardPairsOf(docsDf, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("simhash block-permutation probe is EXACT for hamming <= 3") {
    // recall-1 pigeonhole claim, checked against brute force: the probe
    // must return precisely the all-pairs bit_count(xor) <= 3 set
    val pairs = SparkEntry.queries("q68_simhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.nonEmpty, "near-dup corpus must yield simhash pairs")
    val sh = Dedup.simhashOf(Dedup.withTok(Tables.load(spark, sf, "documents")))
      .select("doc_id", "simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, ha) <- sh; (b, hb) <- sh
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb).toLong)).toSet
    assert(pairs == brute,
      s"probe must equal brute force: got ${pairs.size}, want ${brute.size}")
  }

  test("connected components: chain merges into one cluster with min label") {
    val edges = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("a_id", "b_id")
    val cc = graft.operators.ConnectedComponents.run(edges, "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: empty edge set returns empty result, no NPE") {
    val edges = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val cc = graft.operators.ConnectedComponents.run(edges, "a_id", "b_id")
    assert(cc.columns.toSeq == Seq("node", "cluster_id"))
    assert(cc.count() == 0)
  }

  test("connected components: long chain converges; short maxIter throws") {
    // path graph 0-1-2-...-12: diameter 12; pointer doubling needs
    // ~log2(12)+2 = 5 rounds (plain min-label would need 13)
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val cc = graft.operators.ConnectedComponents
      .run(chain, "a_id", "b_id", maxIter = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == 13 && cc.forall(_._2 == 0L))
    // star converges in 2 rounds regardless of size
    val star = (1L to 30L).map(i => (0L, i)).toDF("a_id", "b_id")
    val sc = graft.operators.ConnectedComponents
      .run(star, "a_id", "b_id", maxIter = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sc.length == 31 && sc.forall(_._2 == 0L))
    // a maxIter below the convergence bound must fail loudly, not
    // mislabel (diameter-12 doubling needs 5 rounds; 2 is too few)
    intercept[IllegalStateException] {
      graft.operators.ConnectedComponents
        .run(chain, "a_id", "b_id", maxIter = 2).collect()
    }
  }

  test("map-side band fingerprints equal grouped signaturesOf exactly") {
    // withBandFingerprints (array_min per doc, stream-safe, shuffle-
    // free) must be bit-identical to the explode + groupBy reference
    val src = Dedup.withTok(Tables.load(spark, sf, "documents"))
    val grouped = Dedup.signaturesOfGrouped(src)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val mapSide = Dedup.withBandFingerprints(src)
      .select("doc_id", "mh0", "mh1", "mh2", "mh3").collect()
    assert(mapSide.nonEmpty)
    mapSide.foreach { r =>
      val id = r.getLong(0)
      (0 until 4).foreach { b =>
        if (r.isNullAt(b + 1))
          assert(!grouped.contains((id, b.toLong)),
            s"doc $id band $b: null map-side but present grouped")
        else
          assert(grouped((id, b.toLong)) == r.getLong(b + 1),
            s"doc $id band $b fingerprint mismatch")
      }
    }
  }

  test("connected components: 1000-node path converges in O(log n) rounds") {
    // plain min-label propagation needs 1000 rounds here; pointer
    // doubling's reach recurrence r' = 2(r + 1) covers 999 hops by
    // round 9, +1 confirmation round => 10. Pin the log bound at <= 12.
    val path = (0L until 999L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labelsDf, iters) = graft.operators.ConnectedComponents
      .runWithStats(path, "a_id", "b_id", maxIter = 15)
    val labels = labelsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 1000 && labels.forall(_._2 == 0L))
    assert(iters <= 12, s"expected O(log n) convergence, took $iters rounds")
  }

  test("connected components: reliable=true checkpoints and still converges") {
    // without a checkpoint dir it must fail fast, before any Spark jobs
    val edges = Seq((5L, 3L), (3L, 9L)).toDF("a_id", "b_id")
    reliably {
      spark.sparkContext.setCheckpointDir(null)
      intercept[IllegalStateException] {
        graft.operators.ConnectedComponents.run(edges, "a_id", "b_id")
      }
      spark.sparkContext.setCheckpointDir(tempDir("cc-ckpt").toString)
      val before = spark.sparkContext.getPersistentRDDs.size
      val cc = graft.operators.ConnectedComponents
        .run(edges, "a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(cc == Map(3L -> 3L, 5L -> 3L, 9L -> 3L))
      // the r13 persist-before-checkpoint fix (stops the checkpoint
      // write from recomputing each round) must also RELEASE every
      // round's cache once the checkpoint files hold the data — a
      // leaked cache per BSP round would fill executor storage over a
      // multi-hour 100 TB loop
      assert(spark.sparkContext.getPersistentRDDs.size <= before,
        "reliable CC leaked per-round caches")
    }
  }

  test("q103/q104 materialization honors spark.graft.reliableCheckpoints") {
    // default mode (localCheckpoint) vs reliable mode (durable
    // checkpoint()) must produce identical results, reliable mode must
    // actually write to the checkpoint dir, and reliable without a
    // checkpoint dir must fail fast
    val key = graft.operators.Materialize.ReliableKey
    val base = SparkEntry.queries("q103_prefix_jaccard")(spark, sf)
      .collect().map(_.toSeq).toSet
    val triBase = SparkEntry.queries("q104_triangles")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(base.nonEmpty)
    spark.conf.set(key, "true")
    try {
      spark.sparkContext.setCheckpointDir(null)
      intercept[IllegalStateException] {
        SparkEntry.queries("q103_prefix_jaccard")(spark, sf)
      }
      val dir = tempDir("graft-ckpt")
      spark.sparkContext.setCheckpointDir(dir.toString)
      val rel = SparkEntry.queries("q103_prefix_jaccard")(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(rel == base, "reliable mode changed q103 results")
      val written = java.nio.file.Files.walk(dir)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(written > 0, "reliable mode must write durable checkpoints")
      val tri = SparkEntry.queries("q104_triangles")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(tri == triBase, "reliable mode changed q104 results")
    } finally {
      spark.conf.unset(key)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("reliable Materialize.truncate computes its subtree exactly once") {
    // An eager Dataset.checkpoint writes the checkpoint in one job
    // (RDD.doCheckpoint) and runs no separate count, so the reliable path
    // needs no persist-first: a counting nondeterministic UDF sees each
    // of the 1000 rows once, and later actions read the checkpoint files.
    // A LAZY checkpoint is different: its first action computes the rows
    // and the write job computes them again — the case the reliable
    // Materialize.truncateWith persists for.
    val key = graft.operators.Materialize.ReliableKey
    val dir = tempDir("graft-ckpt-once")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(key, "true")
    try {
      def counted(name: String) = {
        val acc = spark.sparkContext.longAccumulator(name)
        val tick = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
        (acc, spark.range(1000).select(tick(col("id")).as("id")))
      }
      val (acc, df) = counted("truncate-evals")
      val out = graft.operators.Materialize.truncate(df)
      assert(acc.value == 1000L,
        "the eager reliable checkpoint ran the subtree more than once")
      assert(out.count() == 1000L)
      assert(out.agg(sum("id")).head().getLong(0) == 999L * 1000L / 2)
      assert(acc.value == 1000L,
        "actions on the truncated frame recomputed the subtree")

      val (lazyAcc, lazyDf) = counted("lazy-checkpoint-evals")
      val lazyOut = lazyDf.checkpoint(eager = false)
      assert(lazyOut.count() == 1000L)
      assert(lazyAcc.value == 2000L,
        "a lazy reliable checkpoint's first action computes the rows twice")
    } finally {
      spark.conf.unset(key)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  /** A 1000-row, 3-partition frame whose rows are counted, by an
    * accumulator, each time its subtree computes them. No shuffle: the
    * counting runs in the stage that materializes the frame. */
  private def counted(name: String) = {
    val acc = spark.sparkContext.longAccumulator(name)
    val tick = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
    (acc, spark.range(0, 1000, 1, 3).select(tick(col("id")).as("id")))
  }

  /** Runs `f` in reliable-checkpoint mode, with a temp checkpoint dir. */
  private def reliably[T](f: => T): T = {
    val key = graft.operators.Materialize.ReliableKey
    spark.sparkContext.setCheckpointDir(tempDir("graft-ckpt-rel").toString)
    spark.conf.set(key, "true")
    try f
    finally {
      spark.conf.unset(key)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("Materialize.truncateWith computes its subtree once and probes " +
      "every partition, in local and reliable mode") {
    import graft.operators.Materialize
    def check(mode: String): Unit = {
      val (acc, df) = counted(s"truncateWith-$mode")
      val (out, parts) = Materialize.truncateWith(df) {
        rows => rows.map(_.getLong(0)).sum
      }
      assert(acc.value == 1000L, s"$mode: the probe job recomputed rows")
      assert(parts.size == 3 && parts.sum == 999L * 1000L / 2, mode)
      assert(out.count() == 1000L)
      assert(out.agg(sum("id")).head().getLong(0) == 999L * 1000L / 2)
      assert(acc.value == 1000L,
        s"$mode: actions on the truncated frame recomputed the subtree")
    }
    check("local")
    reliably {
      val before = spark.sparkContext.getPersistentRDDs.size
      check("reliable")
      assert(spark.sparkContext.getPersistentRDDs.size <= before,
        "the reliable probe form kept its cache after the checkpoint")
    }
  }

  test("symmetric edges: the union's rows from one edge reference; " +
      "NULL endpoints dropped") {
    val rnd = new scala.util.Random(7L)
    val edges = Seq.fill(200)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .toDF("a_id", "b_id")
    val union = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
    val sym = graft.operators.ConnectedComponents
      .symmetric(edges, "a_id", "b_id")
    assert(sym.columns.toSeq == Seq("src", "dst"))
    assert(sym.exceptAll(union).isEmpty && union.exceptAll(sym).isEmpty)
    assert(sym.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
    }.size == 1, "the edge list must be read once")
    val withNull = Seq[(Option[Long], Option[Long])](
      (Some(1L), None), (None, Some(2L)), (Some(3L), Some(4L)))
      .toDF("a_id", "b_id")
    assert(graft.operators.ConnectedComponents
      .symmetric(withNull, "a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 4L), (4L, 3L)))
  }

  test("Materialize.hold computes its subtree once until released") {
    val (acc, df) = counted("hold-evals")
    val held = graft.operators.Materialize.hold(df)
    assert(acc.value == 0L, "the lazy form computed rows before any action")
    assert(held.df.count() == 1000L)
    assert(held.df.agg(sum("id")).head().getLong(0) == 999L * 1000L / 2)
    assert(acc.value == 1000L, "a second action recomputed the held rows")
    val before = spark.sparkContext.getPersistentRDDs.size
    held.release()
    assert(spark.sparkContext.getPersistentRDDs.size == before - 1)
    assert(held.df.count() == 1000L, "a released frame still recomputes")
  }

  test("the CC potential probe equals sum(cast(lbl as decimal(38,0)))") {
    import org.apache.spark.sql.types._
    import graft.operators.{ConnectedComponents => CC, Materialize}
    val rnd = new scala.util.Random(20261018L)
    val extremes = Seq(Long.MaxValue, Long.MaxValue - 1, Long.MinValue, -1L)
    def frame(vals: Seq[Option[Long]], dt: DataType): DataFrame =
      vals.toDF("lbl").select(col("lbl").cast(dt).as("lbl")).repartition(4)
    val cases = Seq(
      "seeded longs" -> (Seq.fill(500)(
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextLong())), LongType),
      "extremes (a Long sum wraps)" ->
        ((extremes ++ extremes ++ Seq(Long.MaxValue)).map(Some(_)), LongType),
      "seeded ints with nulls" -> (Seq.fill(300)(
        if (rnd.nextInt(4) == 0) None
        else Some(rnd.nextInt().toLong)), IntegerType),
      "empty" -> (Seq.empty[Option[Long]], LongType),
      "all NULL" -> (Seq.fill(7)(None), LongType))
    cases.foreach { case (name, (vals, dt)) =>
      val df = frame(vals, dt)
      val want = Option(df.agg(sum(col("lbl").cast(DecimalType(38, 0))))
        .head().getDecimal(0)).map(d => BigInt(d.toBigInteger))
      val (_, parts) =
        Materialize.truncateWith(df)(CC.labelSum(0, dt))
      assert(CC.potential(parts) == want, name)
    }
    intercept[IllegalArgumentException](CC.labelSum(0, DoubleType))
  }

  test("connected components: one job per round, probe included") {
    // two components, 3 rounds (initial labels, one relabel round, one
    // confirmation). A separate aggregate query per round's potential
    // costs one more job per probe, 3 in all.
    val edges = Seq((5L, 3L), (3L, 9L), (9L, 12L), (20L, 21L))
      .toDF("a_id", "b_id")
    var rounds = 0
    val jobs = JobLog.descriptionsDuring(spark) {
      rounds = graft.operators.ConnectedComponents
        .runWithStats(edges, "a_id", "b_id")._2
    }
    assert(rounds == 2)
    // under local[4]: the held edge list's shuffle stage, then per round
    // its shuffle stages and one checkpointing job (12 with a separate
    // potential query per round)
    assert(jobs.size == 9, s"CC job count moved: ${jobs.mkString(", ")}")
  }

  test("materialization and CC rounds name their jobs and restore the " +
      "caller's description") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val edges = Seq((5L, 3L), (3L, 9L)).toDF("a_id", "b_id")
      val jobs = JobLog.descriptionsDuring(spark) {
        graft.operators.Materialize.truncate(spark.range(10).toDF())
        graft.operators.ConnectedComponents.run(edges, "a_id", "b_id")
          .collect()
      }
      assert(jobs.head == graft.operators.Materialize.JobName)
      val cc = jobs.filter(_.startsWith("graft cc round "))
      assert(cc.distinct == Seq("graft cc round 0", "graft cc round 1"),
        jobs.mkString(", "))
      assert(jobs.last == "caller", "the result's own job lost the " +
        s"caller's description: ${jobs.mkString(", ")}")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("jaccard dfCap: a viral stop-shingle cannot explode pair count") {
    // 300 docs share exactly one shingle ("h1 h2 h3"); every other
    // shingle is unique per doc. Uncapped this is 300*299/2 = 44850
    // pairs from one group; with the cap the hot shingle is dropped from
    // the universe and NO pairs remain.
    val docs = Dedup.withTok((1 to 300).map(i =>
      (i.toLong, s"h1 h2 h3 u${i}a u${i}b u${i}c")).toSeq
      .toDF("doc_id", "text"))
    assert(Dedup.jaccardPairsOf(docs, 0.0, dfCap = 100).count() == 0)
    val uncapped = Dedup.jaccardPairsOf(docs, 0.0, dfCap = 1000)
    assert(uncapped.count() == 300L * 299 / 2)
  }

  test("jaccard dfCap: cap above max df is a no-op on results") {
    val a = Dedup.jaccardPairsOf(docsDf, 0.5, dfCap = 100)
      .collect().map(_.toSeq).toSet
    val b = Dedup.jaccardPairsOf(docsDf, 0.5, dfCap = 100000)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("contamination: full overlap flags, disjoint text does not") {
    val q = SparkEntry.queries("q72_contamination")(spark, sf).collect()
    assert(q.nonEmpty, "fixture near-dups must produce contaminated docs")
    q.foreach { r =>
      assert(r.getLong(3) >= 2500 && r.getLong(3) <= 10000)
      assert(r.getLong(2) <= r.getLong(1), "hits cannot exceed shingles")
      assert(r.getLong(0) >= 50, "eval docs must not flag themselves")
    }
  }

  test("incremental dedup: survivors are batch-only, and some are dropped") {
    val got = SparkEntry.queries("q73_incremental_dedup")(spark, sf)
      .collect().map(_.getLong(0))
    val batchSize = Tables.load(spark, sf, "documents")
      .filter($"doc_id" >= 250).count()
    assert(got.forall(_ >= 250), "corpus docs must never appear")
    assert(got.length < batchSize,
      "the fixture's cross-split duplicates must be dropped")
    assert(got.nonEmpty, "unique batch docs must survive")
  }

  test("dedup recall audit: hit count bounded, basis points in range") {
    val r = SparkEntry.queries("q115_dedup_recall")(spark, sf).head()
    val (nExact, nLsh, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nExact > 0, "fixture near-dups must produce exact pairs")
    assert(nHit <= math.min(nExact, nLsh),
      "the semi-join hit set is a subset of both pair sets")
    assert(r.getLong(3) >= 0 && r.getLong(3) <= 10000)
    assert(r.getLong(4) >= 0 && r.getLong(4) <= 10000)
    // exact pairs have jac >= 0.5 where the 4x4 banding S-curve is
    // steep but high — the audit must report a sane (non-degenerate)
    // recall on the fixture, not 0 (that would mean the band join and
    // the prefix filter disagree on the SAME shingle universe)
    assert(r.getLong(3) >= 5000, s"recall collapsed: $r")
  }

  test("bm25: top-10 ranked, scores positive and non-increasing") {
    val rows = SparkEntry.queries("q118_bm25_rank")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val scores = rows.map(_.getDouble(1)).toSeq
    assert(scores.forall(_ > 0.0), "matched docs must score positive")
    assert(scores == scores.sorted.reverse, "ranked by descending score")
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids.distinct.length == ids.length)
  }

  test("pagerank: scaled mass bounded, ranks ordered, ids distinct") {
    val rows = SparkEntry.queries("q119_pagerank")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val prs = rows.map(_.getLong(1)).toSeq
    // truncating div only ever LOSES mass: every rank sits in
    // (0, scale], and the listing is (pr desc, doc_id) deterministic
    assert(prs.forall(p => p > 0 && p <= 1000000000000L))
    assert(prs == prs.sorted.reverse)
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids.distinct.length == ids.length)
  }

  test("containment: prefix filter matches brute force exactly") {
    val dd = Dedup.withTok(Tables.load(spark, sf, "documents"))
    // brute-force ordered pairs over the SAME hashed shingle universe
    val n = Dedup.shingledOf(dd)
      .select(col("doc_id"), xxhash64(col("sh")).as("shk"))
    val nc = n.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val brute = n.as("a")
      .join(n.as("b"), col("a.shk") === col("b.shk")
        && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("sub_id"), col("b.doc_id").as("sup_id"))
      .agg(count(lit(1)).as("inter"))
      .join(nc.select(col("doc_id").as("sub_id"), col("ns").as("na")),
        Seq("sub_id"))
      .filter(col("inter") / col("na") >= 0.75)
      .select("sub_id", "sup_id")
    val got = Dedup.containmentPairsOf(spark, dd, 0.75)
      .select("sub_id", "sup_id")
    assert(got.exceptAll(brute).count() == 0
      && brute.exceptAll(got).count() == 0)
  }

  test("rrf fusion: fused docs come from >= 1 arm, score is the exact sum") {
    val rows = SparkEntry.queries("q122_rrf_fusion")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { r =>
      val rs = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val rd = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(rs.isDefined || rd.isDefined, "doc in neither arm")
      val expect = rs.map(x => 1000000L / (60 + x)).getOrElse(0L) +
        rd.map(x => 1000000L / (60 + x)).getOrElse(0L)
      assert(r.getLong(3) == expect, s"rrf mismatch: $r")
    }
    val rrfs = rows.map(_.getLong(3)).toSeq
    assert(rrfs == rrfs.sorted.reverse)
  }

  test("ndcg: metrics bounded, dcg never exceeds the ideal") {
    val r = SparkEntry.queries("q123_ndcg")(spark, sf).collect().head
    val (dcg, idcg) = (r.getLong(0), r.getLong(1))
    // rearrangement: the ideal ordering maximizes the discounted sum
    assert(dcg > 0 && idcg >= dcg)
    assert(r.getLong(2) >= 0 && r.getLong(2) <= 10000)
    assert(r.getLong(3) >= 0 && r.getLong(3) <= 10000)
  }

  test("sorted neighborhood: block-built rank equals one global window") {
    val got = SparkEntry.queries("q125_sorted_neighborhood")(spark, sf)
    // reference: the oracle's shape — ONE global window (fine in a
    // test at fixture scale; the production path avoids it)
    val names = Tables.load(spark, sf, "part").select("p_name").distinct()
    val ranked = names.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy("p_name"))
      .cast("long"))
    val a = ranked.select(col("p_name").as("a_name"), col("rn").as("ra"))
    val b = ranked.select(col("p_name").as("b_name"), col("rn").as("rb"))
    val ref = a.join(b,
        col("rb") > col("ra") && col("rb") <= col("ra") + 5)
      .withColumn("lev",
        levenshtein(col("a_name"), col("b_name")).cast("bigint"))
      .filter(col("lev") <= 3)
      .select("a_name", "b_name", "lev")
    assert(got.exceptAll(ref).count() == 0
      && ref.exceptAll(got).count() == 0)
  }

  test("exact dedup is idempotent and keeps min doc_id") {
    val df = Seq((10L, "same text"), (3L, "same text"), (7L, "other"))
      .toDF("doc_id", "text")
    def dedup(in: DataFrame): DataFrame = in
      .withColumn("h", md5($"text"))
      .groupBy("h").agg(min($"doc_id").as("doc_id"), first($"text").as("text"))
      .select("doc_id", "text")
    val once = dedup(df)
    val twice = dedup(once)
    assert(once.collect().toSet == twice.collect().toSet)
    assert(once.filter($"text" === "same text").head().getLong(0) == 3L)
  }
}
