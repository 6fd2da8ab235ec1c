package graft

import graft.queries.EventTime
import graft.streaming.StreamingWindows
import org.apache.spark.sql.Row

/** Streaming-batch parity (SURVEY.md §5.2-4): the watermarked streaming
  * variants of q29-q31 must produce exactly the batch results for every
  * window the watermark has finalized, and nothing else. With a single
  * input file the watermark never advances past the last event, so
  * append-mode output is the batch result minus the windows still within
  * the watermark horizon of max(ts) — i.e. a subset; complete/update
  * modes must equal batch exactly.
  */
class StreamingSpec extends SparkSpec {

  private def batchRows(name: String): Set[Row] =
    SparkEntry.queries(name)(spark, sf).collect().toSet

  /** Stage the events fixture as time-ordered sibling files split at
    * the given cut points (unix micros; events_0.parquet oldest,
    * increasing mtimes), so a stream with maxFilesPerTrigger=1 replays
    * them as cuts.size+1 micro-batches. Caller cleans up the dir. */
  private def stageEventsAt(cuts: Seq[Long]): java.io.File = {
    import org.apache.spark.sql.functions.expr
    val raw = graft.Tables.load(spark, sf, "events")
    val dir = tempDir("graft_mb").toFile
    val now = System.currentTimeMillis()
    val n = cuts.size + 1
    val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
    bounds.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      val part = raw.filter(
        expr(s"unix_micros(ts) >= ${a}L AND unix_micros(ts) < ${b}L"))
      val tmp = new java.io.File(dir, s"stage_$i")
      part.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val f = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, s"events_$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(now - (n - i) * 60000L)
    }
    dir
  }

  /** Evenly-spaced cuts over the fixture's time range (n files). */
  private def stageEventsFiles(n: Int): (java.io.File, Seq[Long]) = {
    val Array(lo, hi) =
      graft.Tables.load(spark, sf, "events")
        .selectExpr("min(unix_micros(ts))", "max(unix_micros(ts))")
        .collect().map(r => Array(r.getLong(0), r.getLong(1))).head
    val cuts = (1 until n).map(i => lo + (hi - lo) * i / n)
    (stageEventsAt(cuts), cuts)
  }

  test("tumbling window: streaming update mode equals batch") {
    val q = StreamingWindows.runToMemory(
      StreamingWindows.tumbling(spark, sf), "t_upd", mode = "update")
    try {
      val got = spark.table("t_upd").collect().toSet
      assert(got == batchRows("q29_tumbling_window"), "update-mode parity")
    } finally q.stop()
  }

  test("tumbling window: append mode emits a finalized subset of batch") {
    val q = StreamingWindows.runToMemory(
      StreamingWindows.tumbling(spark, sf), "t_app", mode = "append")
    try {
      val got = spark.table("t_app").collect().toSet
      val batch = batchRows("q29_tumbling_window")
      assert(got.subsetOf(batch), "append rows must be final batch rows")
      val horizonMissing = batch.size - got.size
      assert(horizonMissing >= 0 && horizonMissing <= 10,
        s"only tail windows within the watermark may be held back " +
          s"(missing $horizonMissing of ${batch.size})")
    } finally q.stop()
  }

  test("streaming sliding distinct finalizes exactly the batch q109 days") {
    // dedup-state (user, window-day) + day-window count == the batch
    // collapse-then-count; every finalized day inside the batch horizon
    // must carry the identical exact distinct count
    val q = StreamingWindows.runToMemory(
      StreamingWindows.slidingDistinct(spark, sf), "t_sd", mode = "append")
    try {
      val batch = SparkEntry.queries("q109_sliding_distinct")(spark, sf)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = spark.table("t_sd").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val inHorizon = got.filter { case (d, _) => batch.contains(d) }
      assert(inHorizon.nonEmpty, "no finalized days emitted")
      inHorizon.foreach { case (d, n) =>
        assert(n == batch(d), s"day $d: streaming $n != batch ${batch(d)}")
      }
      assert(batch.size - inHorizon.size <= 2,
        s"only watermark-tail days may be held back " +
          s"(${inHorizon.size} of ${batch.size} emitted)")
    } finally q.stop()
  }

  test("sliding distinct stays exact across MULTI-batch arrival") {
    // the watermark-horizon regression case: events split into two
    // files arriving as separate micro-batches (older days first). The
    // 7-day delay must keep batch-2's on-time events from looking
    // late — dedup state for still-open windows survives, duplicates
    // across the batch boundary collapse, and every finalized day is
    // exact vs a driver-side reference
    import org.apache.spark.sql.functions.{col, expr, lit}
    // Tables.load normalizes ts to TimestampType whatever the fixture's
    // layout (nanos-long or TIMESTAMP_NTZ); the staged split files then
    // carry plain TIMESTAMP and the stream source adapts via the same
    // tsToTimestamp, so this harness is layout-independent
    val raw = graft.Tables.load(spark, sf, "events")
    val cutUs = 1705363200L * 1000000L // 2024-01-16 00:00:00 UTC
    val dir = tempDir("graft_sd").toFile
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String,
        mtime: Long): Unit = {
      val tmp = new java.io.File(dir, s"stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, s"events_$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val now = System.currentTimeMillis()
    writeOne(raw.filter(expr("unix_micros(ts)") < cutUs), "a", now - 60000L)
    writeOne(raw.filter(expr("unix_micros(ts)") >= cutUs), "b", now)

    val q = StreamingWindows.runToMemory(
      StreamingWindows.slidingDistinct(spark, dir.getAbsolutePath,
        maxFilesPerTrigger = 1), "t_sd2", mode = "append")
    try {
      // driver-side reference: distinct (user, epoch-day), then exact
      // distinct counts per trailing-7-day window
      // integer epoch-day arithmetic (no double division: micros near
      // 1.7e15 are exact in long, and `div` matches the streaming
      // path's date_trunc day bucketing)
      val ud = raw.select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      val dmin = ud.map(_._2).min
      val dmax = ud.map(_._2).max
      def expected(w: Long): Long = ud.collect {
        case (u, d) if d >= w - 6 && d <= w => u
      }.distinct.length.toLong
      val got = spark.table("t_sd2").collect()
        .map(r => (java.time.LocalDate.parse(r.getString(0)).toEpochDay,
          r.getLong(1))).toMap
      assert(got.nonEmpty, "no finalized days emitted")
      got.foreach { case (w, n) =>
        assert(n == expected(w), s"day $w: streaming $n != ${expected(w)}")
      }
      // the final watermark (dmax+6 - 7d) finalizes windows <= dmax-2;
      // in particular days AFTER the split boundary must be present —
      // proving batch-2 events were not treated as late
      val boundaryDay = cutUs / 86400000000L
      assert(got.keySet.exists(_ >= boundaryDay),
        "no finalized window past the batch boundary")
      assert((dmin to (dmax - 2)).forall(got.contains),
        s"every closable day must be emitted: ${got.keySet.toSeq.sorted}")
    } finally q.stop()
  }

  test("sliding window: streaming update mode equals batch") {
    val q = StreamingWindows.runToMemory(
      StreamingWindows.sliding(spark, sf), "s_upd", mode = "update")
    try {
      assert(spark.table("s_upd").collect().toSet ==
        batchRows("q30_sliding_window"))
    } finally q.stop()
  }

  test("stream-static join enriches every event (count parity)") {
    import spark.implicits._
    val dim = Seq(("signup", 1), ("purchase", 2), ("click", 3),
      ("view", 4), ("error", 5)).toDF("event_type", "type_id")
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamJoins.enriched(spark, sf, dim), "enr")
    try {
      val streamed = spark.table("enr").count()
      val batch = Tables.load(spark, sf, "events").join(dim, Seq("event_type"))
        .count()
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch funnel join") {
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamJoins.streamingFunnel(spark, sf), "funnel")
    try {
      val got = spark.table("funnel").collect().toSet
      val ev = Tables.load(spark, sf, "events")
      val su = ev.filter(org.apache.spark.sql.functions.col("event_type") === "signup")
        .selectExpr("user_id", "ts AS s_ts")
      val pu = ev.filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
        .selectExpr("user_id AS p_user", "ts AS p_ts")
      val batch = su.join(pu, org.apache.spark.sql.functions.expr(
          "user_id = p_user AND p_ts >= s_ts AND p_ts <= s_ts + interval 7 days"))
        .select("user_id", "s_ts", "p_ts").collect().toSet
      assert(got == batch, s"streaming ${got.size} vs batch ${batch.size}")
    } finally q.stop()
  }

  test("streaming parquet sink: checkpointed append lands finalized windows") {
    // the production path — writeStream to a parquet directory with a
    // checkpoint — not just the memory sink the parity tests use
    val out = tempDir("ssink").toString
    val q = StreamingWindows.tumbling(spark, sf)
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$out/data").collect().toSet
    val batch = batchRows("q29_tumbling_window")
    assert(got.nonEmpty && got.subsetOf(batch),
      "file-sink rows must be finalized batch rows")
  }

  test("streaming exact-dedup: hash set and count match batch q32") {
    // batch keeps min doc_id per hash; the stream keeps first arrival —
    // parity is on the deduped hash universe and its size, plus every
    // surviving doc must carry its hash's correct content (hash match).
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingDedup.exactDedup(
        graft.streaming.StreamingDedup.docsStream(spark, sf)), "dedup")
    try {
      val got = spark.table("dedup").collect()
      val batch = SparkEntry.queries("q32_exact_dedup")(spark, sf)
        .collect().map(_.getString(0)).toSet
      assert(got.length == got.map(_.getString(0)).toSet.size,
        "no hash may survive twice")
      assert(got.map(_.getString(0)).toSet == batch,
        "streaming dedup must keep exactly the batch hash universe")
    } finally q.stop()
  }

  test("streaming watermarked dedup collapses in-horizon duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val df = graft.streaming.StreamingDedup.exactDedupWatermarked(
      in.toDF().toDF("doc_id", "text", "ts")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en")),
      "ts", "10 minutes")
    val q = df.writeStream.outputMode("append")
      .format("memory").queryName("wm_dedup").start()
    try {
      // same text twice within the 10-minute horizon -> one survivor
      in.addData((1L, "same text", ts(0)), (2L, "same text", ts(5)),
        (3L, "other", ts(5)))
      q.processAllAvailable()
      val got = spark.table("wm_dedup").as[(String, Long, String)].collect()
      assert(got.length == 2, s"expected 2 survivors, got ${got.toSeq}")
      assert(got.map(_._2).toSet == Set(1L, 3L), "first arrival survives")
    } finally q.stop()
  }

  test("streaming near-dup dedup matches batch q73 survivors exactly") {
    import org.apache.spark.sql.functions.col
    // same corpus/batch split as q73: corpus = doc_id < 250 (static
    // precomputed state), stream = the arriving batch (doc_id >= 250)
    val corpus = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 250)
    val (corpusHash, corpusBands) =
      graft.streaming.StreamingDedup.corpusState(corpus)
    val stream = graft.streaming.StreamingDedup.docsStream(spark, sf)
      .filter(col("doc_id") >= 250)
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingDedup.nearDupNew(
        stream, corpusHash, corpusBands), "neardup")
    try {
      val got = spark.table("neardup").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = SparkEntry.queries("q73_incremental_dedup")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == batch,
        s"streaming ${got.size} vs batch ${batch.size} survivors")
    } finally q.stop()
  }

  test("streaming prefix-Jaccard matches batch q103 cross pairs exactly") {
    import org.apache.spark.sql.functions.col
    // same split as the near-dup twin: corpus = doc_id < 250 (static
    // prefix index), stream = arriving docs (doc_id >= 250). Batch q103
    // runs over the WHOLE table with canonical a_id < b_id pairs, and
    // corpus ids sort below stream ids, so its cross-split pairs are
    // exactly (corpus_id, stream_id) — the twin emits (arriving,
    // corpus), i.e. the same pairs swapped, with identical inter/jac.
    val corpus = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 250)
    val (docsets, postings) =
      graft.streaming.StreamingDedup.prefixIndex(corpus)
    val stream = graft.streaming.StreamingDedup.docsStream(spark, sf)
      .filter(col("doc_id") >= 250)
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingDedup.prefixJaccardNew(
        stream, docsets, postings), "prefjac")
    try {
      val got = spark.table("prefjac").collect()
        .map(r => (r.getLong(1), r.getLong(0), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = SparkEntry.queries("q103_prefix_jaccard")(spark, sf)
        .collect()
        .filter(r => r.getLong(0) < 250 && r.getLong(1) >= 250)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(batch.nonEmpty, "fixture must contain cross-split pairs")
      assert(got == batch,
        s"streaming ${got.size} vs batch ${batch.size} qualifying pairs")
    } finally q.stop()
  }

  test("streaming containment matches batch q124 cross pairs exactly") {
    import org.apache.spark.sql.functions.col
    // same split as the prefix-Jaccard twin. Batch q124 emits ORDERED
    // (sub_id, sup_id) pairs in both directions; the twin covers the
    // arriving-contained-in-corpus direction, i.e. exactly the batch
    // pairs with sub_id >= 250 (arriving) and sup_id < 250 (corpus).
    val corpus = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 250)
    val (docsets, postings) =
      graft.streaming.StreamingDedup.prefixIndex(corpus)
    val stream = graft.streaming.StreamingDedup.docsStream(spark, sf)
      .filter(col("doc_id") >= 250)
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingDedup.containmentNew(
        stream, docsets, postings), "contain")
    try {
      val got = spark.table("contain").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = SparkEntry.queries("q124_containment")(spark, sf)
        .collect()
        .filter(r => r.getLong(0) >= 250 && r.getLong(1) < 250)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(batch.nonEmpty, "fixture must contain cross-split pairs")
      assert(got == batch,
        s"streaming ${got.size} vs batch ${batch.size} qualifying pairs")
    } finally q.stop()
  }

  test("streaming boilerplate strip matches batch q114 kept chunks") {
    import org.apache.spark.sql.functions._
    // dictionary from the full static corpus; the same docs then arrive
    // as a stream — the chunk-level survivor stream, reassembled per
    // doc (the sink compaction's job on an unbounded stream), must
    // equal batch q114's clean_text. Docs stripped to nothing have no
    // survivor rows, so they are excluded from the batch side.
    val corpus = Tables.load(spark, sf, "documents")
    val dict = graft.streaming.StreamingDedup.boilerState(corpus)
    val stream = graft.streaming.StreamingDedup.docsStream(spark, sf)
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingDedup.boilerplateStripNew(stream, dict),
      "boilerstrip")
    try {
      val got = spark.table("boilerstrip").groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(p, chunk))), x -> x.chunk)"))
            .as("clean_text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val batch = SparkEntry.queries("q114_boilerplate_strip")(spark, sf)
        .filter(col("n_chunks") > col("n_removed"))
        .select(col("doc_id"),
          (col("n_chunks") - col("n_removed")).as("n_kept"),
          col("clean_text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(batch.nonEmpty, "fixture must keep at least one doc")
      assert(got == batch,
        s"streaming ${got.size} vs batch ${batch.size} rewritten docs")
    } finally { q.stop(); dict.unpersist() }
  }

  test("streaming BM25 scoring matches batch q118 top-10 exactly") {
    import org.apache.spark.sql.functions._
    // serve state from the static corpus; the same docs then arrive as
    // a stream. Every doc's streaming score is the identical decimal
    // sum as batch, so ranking the collected sink by (sc desc, doc_id)
    // and rounding must reproduce q118's top-10 row for row.
    val corpus = Tables.load(spark, sf, "documents")
    val state = graft.streaming.StreamingDedup.bm25State(corpus)
    val stream = graft.streaming.StreamingDedup.docsStream(spark, sf)
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingDedup.bm25ScoreNew(stream, state), "bm25s")
    try {
      val got = spark.table("bm25s")
        .orderBy(col("sc").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), round(col("sc").cast("double"), 4))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = SparkEntry.queries("q118_bm25_rank")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.nonEmpty)
      assert(got == batch, s"streaming $got vs batch $batch")
    } finally { q.stop(); state.unpersist() }
  }

  test("streaming BPE encoding under the frozen vocabulary matches " +
      "batch q142 exactly") {
    import org.apache.spark.sql.functions._
    // the q141 merges train ONCE on the static corpus (the frozen
    // vocabulary a production tokenizer ships); the same docs then
    // arrive as a stream and are priced token-by-token via the
    // stateless stream-static join. Per-doc totals are the sink
    // compaction's job (the q114 survivor-stream precedent) and must
    // equal batch q142 row for row — same learned costs, same
    // character-split OOV fallback, exact integers.
    val corpus = Tables.load(spark, sf, "documents")
    val vocab = graft.streaming.StreamingDedup.bpeState(corpus)
    val stream = graft.streaming.StreamingDedup.docsStream(spark, sf)
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingDedup.bpeEncodeNew(stream, vocab),
      "bpeenc")
    try {
      val got = spark.table("bpeenc").groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("syms").as("bpe_syms"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = SparkEntry.queries("q142_bpe_encode")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty)
      assert(got == batch,
        s"streaming ${got.size} vs batch ${batch.size} encoded docs")
    } finally { q.stop(); vocab.unpersist() }
  }

  test("streaming BPE encode prices OOV tokens by character split " +
      "(the fallback path, exercised on the wire)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the fixture corpus is pure in-vocab [a-z]+ text, so the parity
    // test above never takes the coalesce fallback on the streaming
    // side — price a hand document with out-of-vocabulary tokens
    // against a hand-trained vocab: banana = 2 learned symbols
    // (b+anana after 3 merges), "X9" = 2 chars, "1234567" = 7 chars
    val corpus = Seq((0L, "banana banana banana bana"))
      .toDF("doc_id", "text")
    val vocab = graft.streaming.StreamingDedup.bpeState(corpus)
    val in = MemoryStream[(Long, String)]
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingDedup.bpeEncodeNew(
        in.toDF().toDF("doc_id", "text"), vocab), "bpeoov")
    try {
      in.addData((10L, "banana X9 1234567"))
      q.processAllAvailable()
      val got = spark.table("bpeoov").groupBy("doc_id")
        .agg(count(lit(1)).as("n"), sum("syms").as("syms"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq((10L, 3L, 2L + 2L + 7L)),
        s"got ${got.toSeq}")
    } finally { q.stop(); vocab.unpersist() }
  }

  test("streaming RAG chunking equals batch q101 exactly") {
    // the chunk projection is map-only (no aggregation, no watermark),
    // so the BATCH builder runs unchanged on the unbounded stream —
    // the strongest possible parity: same code path, same rows
    val chunks = graft.queries.TextOps.ragChunksOf(
      graft.queries.Dedup.withTok(
        graft.streaming.StreamingDedup.docsStream(spark, sf)))
    val q = StreamingWindows.runToMemory(chunks, "ragchunks")
    try {
      val got = spark.table("ragchunks").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      val batch = SparkEntry.queries("q101_rag_chunks")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      assert(got == batch,
        s"streaming ${got.size} vs batch ${batch.size} chunks")
    } finally q.stop()
  }

  test("streaming PII scrub equals batch q152 exactly") {
    // piiScrub is a pure codegen'd map (counts + redaction per row, no
    // aggregation, no watermark), so the BATCH builder — injection
    // included — runs unchanged on the unbounded docs stream: same
    // code path, same rows, the ragChunksOf parity discipline
    val scrubbed = graft.queries.TextOps.piiScrubbed(
      graft.streaming.StreamingDedup.docsStream(spark, sf))
    val q = StreamingWindows.runToMemory(scrubbed, "piiscrub")
    try {
      val got = spark.table("piiscrub").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getLong(5))).toSet
      val batch = SparkEntry.queries("q152_pii_scrub")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getLong(5))).toSet
      assert(batch.exists(_._2 > 0), "fixture must inject emails")
      assert(got == batch,
        s"streaming ${got.size} vs batch ${batch.size} scrubbed docs")
    } finally q.stop()
  }

  test("transformWithState running counts converge to batch counts") {
    import org.apache.spark.sql.functions.col
    // the Spark 4 arbitrary-state API needs the RocksDB provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    try {
      val q = StreamingWindows.runToMemory(
        graft.streaming.StatefulCounters.runningCounts(
          spark, StreamingWindows.eventsStream(spark, sf)).toDF(),
        "twscount", mode = "update")
      try {
        // latest update per user == the batch per-user count
        val got = spark.table("twscount").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).max }
        val batch = Tables.load(spark, sf, "events")
          .groupBy("user_id").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == batch,
          s"running counts must converge (got ${got.size} users, " +
            s"batch ${batch.size})")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState transitions match the batch q129 matrix") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    try {
      val q = StreamingWindows.runToMemory(
        graft.streaming.StatefulCounters.transitions(
          spark, StreamingWindows.eventsStream(spark, sf)).toDF(),
        "twstrans", mode = "append")
      try {
        // every transition is emitted exactly once -> counting them
        // reproduces the batch matrix (n column) exactly
        val got = spark.table("twstrans").collect()
          .map(r => (r.getString(1), r.getString(2)))
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        val batch = SparkEntry.queries("q129_event_transitions")(spark, sf)
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        assert(got == batch,
          s"streaming ${got.size} vs batch ${batch.size} transition cells")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState MapState type mix converges to batch distincts") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    try {
      val q = StreamingWindows.runToMemory(
        graft.streaming.StatefulCounters.typeMix(
          spark, StreamingWindows.eventsStream(spark, sf)).toDF(),
        "twsmix", mode = "update")
      try {
        // latest (types, total) per user == batch countDistinct + count
        val got = spark.table("twsmix").collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
          .groupBy(_._1)
          .map { case (u, rows) => u -> rows.map(_._2).maxBy(_._2) }
        val batch = Tables.load(spark, sf, "events")
          .groupBy("user_id")
          .agg(countDistinct(col("event_type")).as("t"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n"))
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(got == batch,
          s"type mix must converge (got ${got.size} users, " +
            s"batch ${batch.size})")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming Misra-Gries candidates honor the batch MG guarantee") {
    import org.apache.spark.sql.functions.col
    // O(k) streaming state: every term with true frequency > n/(k+1)
    // (computed from the batch twin) must appear among the streamed
    // candidates, and no estimate may exceed its true count
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingSketches.heavyHitterCandidates(
        graft.streaming.StreamingDedup.docsStream(spark, sf), k = 50),
      "mg_stream", mode = "complete")
    try {
      val got = spark.table("mg_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val truth = Tables.load(spark, sf, "documents")
        .select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.expr(
            graft.queries.Dedup.TokExpr)).as("term"))
        .groupBy("term").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = truth.values.sum
      val slack = n / 51
      truth.foreach { case (t, c) =>
        if (c > slack) assert(got.contains(t), s"$t freq=$c must survive")
      }
      got.foreach { case (t, est) =>
        assert(est <= truth.getOrElse(t, 0L), s"$t over-counted")
      }
    } finally q.stop()
  }

  test("streaming heavy hitters: the wire sketch's candidates feed an " +
      "exact re-count that reproduces batch q74 across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the production pattern end to end: the STREAM maintains O(k)
    // Misra-Gries state (never the vocabulary), its candidate set is
    // then re-counted EXACTLY by one batch pass — and that composition
    // must land on batch q74's answer even when the docs arrive over
    // several micro-batches (the sketch buffer merging across
    // triggers, not one lucky single-batch fold). Parity is guaranteed
    // because BOTH candidate sets cover every term with true freq >
    // n/(k+1) (the MG invariant; the q74 precondition test pins that
    // the fixture's top-10 are all above the bar), so the exact
    // re-count ranks the same terms with the same counts.
    val docsAll = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(docsAll.length >= 3)
    val in = MemoryStream[(Long, String)]
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingSketches.heavyHitterCandidates(
        in.toDF().toDF("doc_id", "text"), k = 50),
      "hh_twin", mode = "complete")
    try {
      docsAll.grouped((docsAll.length + 2) / 3).foreach { g =>
        in.addData(g.toSeq)
        q.processAllAvailable()
      }
      val cand = spark.table("hh_twin").select($"term")
      assert(cand.count() <= 50, "MG state exceeded its k counters")
      val terms = Tables.load(spark, sf, "documents")
        .select(explode(expr(graft.queries.Dedup.TokExpr)).as("term"))
      val recount = terms
        .join(broadcast(cand), Seq("term"), "left_semi")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"term").limit(10).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val batch = SparkEntry.queries("q74_heavy_hitters")(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(recount == batch,
        s"streamed-candidate re-count diverged:\n  got   $recount\n" +
          s"  batch $batch")
    } finally q.stop()
  }

  test("streaming quantile monitor reproduces the batch sketch " +
      "EXACTLY across micro-batches (deterministic bin merges)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the DDSketch merge is a bin-count SUM, so unlike MG (guarantee
    // parity) or any compaction sketch (tolerance parity), the wire
    // result must equal the batch aggregate BIT-FOR-BIT however the
    // rows are cut into micro-batches
    val rows = Tables.load(spark, sf, "lineitem")
      .select($"l_returnflag", $"l_extendedprice")
      .as[(String, Double)].collect()
    val in = MemoryStream[(String, Double)]
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingSketches.quantileMonitor(
        in.toDF().toDF("flag", "price"), "flag", "price"),
      "quant_stream", mode = "complete")
    try {
      rows.grouped((rows.length + 2) / 3).foreach { g =>
        in.addData(g.toSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("quant_stream").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
        .toMap
      val batch = graft.streaming.StreamingSketches.quantileMonitor(
          Tables.load(spark, sf, "lineitem")
            .select($"l_returnflag".as("flag"),
              $"l_extendedprice".as("price")),
          "flag", "price")
        .collect().map(r => r.getString(0) -> (r.getDouble(1),
          r.getDouble(2))).toMap
      assert(streamed == batch,
        s"wire sketch != batch sketch:\n  got   $streamed\n  batch $batch")
      // and the batch q56 rows are this same sketch (rounded): the
      // twin monitors exactly what the batch inventory reports
      val q56 = SparkEntry.queries("q56_approx_quantile")(spark, sf)
        .collect().map(r => r.getString(0) -> (r.getDouble(1),
          r.getDouble(2))).toMap
      streamed.foreach { case (k, (p50, p90)) =>
        val (b50, b90) = q56(k)
        // q56 rounds to 4 decimals; the raw twin value must sit within
        // that rounding step of it
        assert(math.abs(p50 - b50) < 1e-4 && math.abs(p90 - b90) < 1e-4,
          s"$k: twin ($p50, $p90) vs q56 ($b50, $b90)")
      }
    } finally q.stop()
  }

  test("stateful sessions merge across MULTI-batch boundaries") {
    // VERDICT r8 item 7: the single-file parity test never exercises
    // cross-micro-batch state. Stage the events as THREE time-ordered
    // files arriving one per trigger and sessionize them on the exact
    // session_window path (the StreamingWindows.session shape);
    // sessions that straddle a file cut only come out right if the
    // open-session state carries across micro-batches and the next
    // batch's events merge into it. The cuts
    // are MIDPOINTS of two real batch sessions (evenly-spaced cuts
    // bisected zero sessions on the fixture — a 30-minute-gap session
    // is a tiny target in a two-week range), so straddling sessions
    // exist by construction: a session with start < mid < end has its
    // first event before the cut and its last at-or-after it.
    val cuts = {
      val mids = SparkEntry.queries("q31_session_window")(spark, sf)
        .collect()
        .map(r => (r.getLong(1), r.getLong(3)))
        .filter(_._2 > 2000000L)
        .map { case (s, dur) => s + dur / 2 }
        .sorted
      Seq(mids(mids.length / 3), mids(2 * mids.length / 3)).distinct
    }
    val dir = stageEventsAt(cuts)
    val q = StreamingWindows.runToMemory(
      EventTime.sessionAgg(
        StreamingWindows.eventsStream(spark, dir.getAbsolutePath,
          maxFilesPerTrigger = 1)
          .withWatermark("ts", "10 minutes")
          .dropDuplicates("user_id", "ts")),
      "sess_mb", mode = "append")
    try {
      val got = spark.table("sess_mb").collect().toSet
      val batch = batchRows("q31_session_window")
      assert(got.nonEmpty, "closed sessions must be emitted")
      assert(got.subsetOf(batch),
        "every emitted session must equal its batch q31 twin")
      val users = spark.table("sess_mb").select("user_id")
        .distinct().count()
      assert(got.size >= batch.size - users,
        s"only each user's open tail session may be unemitted " +
          s"(got ${got.size} of ${batch.size}, $users users)")
      // the proof of cross-batch merging: emitted sessions that SPAN a
      // file cut exist, and each matched its batch twin above. If state
      // were dropped at the boundary, such a session would emit split
      // and the subset assertion would have failed.
      val spanning = got.count { r =>
        val start = r.getLong(1)
        val end = start + r.getLong(3)
        cuts.exists(c => start < c && end > c)
      }
      info(s"sessions spanning a batch cut: $spanning")
      assert(spanning > 0,
        "fixture must contain sessions straddling the staged cuts — " +
          "otherwise this test proves nothing; re-stage with other cuts")
    } finally q.stop()
  }

  test("transformWithState transitions carry across MULTI-batch " +
      "boundaries") {
    // q129's streaming twin keeps each user's LAST event in value
    // state; a (prev in batch i, next in batch i+1) transition is only
    // counted if that carry survives the micro-batch boundary. Exact
    // equality with the batch matrix over a 3-file staged arrival
    // proves it does.
    val (dir, cuts) = stageEventsFiles(3)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    try {
      val q = StreamingWindows.runToMemory(
        graft.streaming.StatefulCounters.transitions(
          spark, StreamingWindows.eventsStream(spark, dir.getAbsolutePath,
            maxFilesPerTrigger = 1)).toDF(),
        "twstrans_mb", mode = "append")
      try {
        val got = spark.table("twstrans_mb").collect()
          .map(r => (r.getString(1), r.getString(2)))
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        val batch = SparkEntry.queries("q129_event_transitions")(spark, sf)
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        assert(got == batch,
          s"streaming ${got.size} vs batch ${batch.size} transition cells")
        // meaningfulness guard: the staged cuts actually bisect
        // consecutive event pairs (computed driver-side from the raw
        // fixture), so the equality above covered cross-batch carries
        import org.apache.spark.sql.functions.expr
        val perUser = graft.Tables.load(spark, sf, "events")
          .select("user_id", "ts").distinct()
          .selectExpr("user_id", "unix_micros(ts) AS us")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1)
        val crossPairs = perUser.valuesIterator.map { evs =>
          val ts = evs.map(_._2).sorted
          ts.zip(ts.tail).count { case (a, b) =>
            cuts.exists(c => a < c && b >= c) }
        }.sum
        info(s"consecutive event pairs bisected by a cut: $crossPairs")
        assert(crossPairs > 0,
          "staged cuts must bisect consecutive pairs for this test " +
            "to prove cross-batch carry")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState trailing frames equal batch q136 per event " +
      "(single batch)") {
    // online/offline feature parity: the per-event trailing interval
    // features a stream serves must equal the offline RANGE-frame
    // backfill, or training/serving skew follows
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    try {
      val q = StreamingWindows.runToMemory(
        graft.streaming.StatefulFrames.trailingFrames(
          spark, StreamingWindows.eventsStream(spark, sf)).toDF(),
        "twsframes", mode = "append")
      try {
        val got = spark.table("twsframes").collect()
          .map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
          .toMap
        val batch = SparkEntry.queries("q136_range_frames")(spark, sf)
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
          .toMap
        assert(got.size == batch.size,
          s"row counts differ: stream ${got.size} vs batch ${batch.size}")
        assert(got == batch, {
          val bad = batch.keysIterator
            .filter(k => got.get(k) != batch.get(k)).take(3).toSeq
          s"feature skew on events $bad: " +
            bad.map(k => s"$k stream=${got.get(k)} batch=${batch.get(k)}")
              .mkString("; ")
        })
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState trailing frames hold parity across " +
      "MULTI-batch boundaries with bounded state") {
    // the 7-day buffer must carry across micro-batches (a frame can
    // reach back into events served batches ago) while older state is
    // evicted. Cuts split strictly by ts value, so equal-ts peers
    // never straddle a boundary and exact parity is the contract.
    val (dir, cuts) = stageEventsFiles(3)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    try {
      val q = StreamingWindows.runToMemory(
        graft.streaming.StatefulFrames.trailingFrames(
          spark, StreamingWindows.eventsStream(spark, dir.getAbsolutePath,
            maxFilesPerTrigger = 1)).toDF(),
        "twsframes_mb", mode = "append")
      try {
        val got = spark.table("twsframes_mb").collect()
          .map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
          .toMap
        val batch = SparkEntry.queries("q136_range_frames")(spark, sf)
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
          .toMap
        assert(got == batch,
          s"cross-batch feature skew: stream ${got.size} vs " +
            s"batch ${batch.size} events")
        // meaningfulness guard: some event's trailing frame must
        // actually reach across a cut — otherwise the equality never
        // exercised the carried state. The 7-DAY frame is the state
        // carrier (the buffer holds the full 7-day horizon; 30-minute
        // adjacency across a cut doesn't exist in the small fixture)
        val perUser = graft.Tables.load(spark, sf, "events")
          .filter(org.apache.spark.sql.functions.col("value").isNotNull)
          .selectExpr("user_id", "unix_micros(ts) AS us")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1)
        val reach = perUser.valuesIterator.map { evs =>
          val ts = evs.map(_._2).sorted
          ts.zip(ts.tail).count { case (a, b) =>
            b - a <= 7L * 24 * 3600 * 1000000L &&
              cuts.exists(c => a < c && b >= c) }
        }.sum
        info(s"7-day frames reaching across a cut: $reach")
        assert(reach > 0, "staged cuts must bisect at least one " +
          "7-day frame for this test to prove state carry")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("trailing-frame state SURVIVES A QUERY RESTART from its " +
      "checkpoint (exact parity across stop/start)") {
    // cross-micro-batch carry is necessary but not sufficient for
    // production: the RocksDB state must also survive a full query
    // stop + restart through the checkpoint — a deploy, a crash, an
    // executor rotation. Phase 1 processes 2 of 3 staged files and
    // STOPS; phase 2 is a brand-new query instance on the same
    // checkpoint that ingests the third file. Exact parity with batch
    // q136 over ALL events is only possible if phase 2 restored the
    // 7-day buffers phase 1 built.
    val (dir, _) = stageEventsFiles(3)
    val third = new java.io.File(dir, "events_2.parquet")
    val parked = new java.io.File(tempDir("parked").toFile,
      "events_2.parquet")
    java.nio.file.Files.move(third.toPath, parked.toPath)
    val out = tempDir("frestart").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    def startQuery() =
      graft.streaming.StatefulFrames.trailingFrames(
        spark, StreamingWindows.eventsStream(spark, dir.getAbsolutePath,
          maxFilesPerTrigger = 1)).toDF()
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .outputMode("append").start()
    try {
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop()
      val phase1 = spark.read.parquet(s"$out/data").count()
      java.nio.file.Files.move(parked.toPath, third.toPath)
      third.setLastModified(System.currentTimeMillis())
      val q2 = startQuery() // NEW query instance, same checkpoint
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(s"$out/data").collect()
        .map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      val batch = SparkEntry.queries("q136_range_frames")(spark, sf)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      assert(phase1 > 0 && phase1 < batch.size,
        s"phase 1 must be a strict prefix (got $phase1 of ${batch.size})")
      assert(got == batch,
        s"restart broke state recovery: ${got.size} vs ${batch.size} " +
          "events matched")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("trailing frames: the append-only state path (no eviction) and " +
      "the rewrite path (eviction) both hold parity") {
    // the state write is two-mode now — append when nothing ages out,
    // full rewrite when the 7-day filter drops entries. Drive both
    // through real micro-batches and check against brute force.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val MU = 1000000L
    val t0 = 1700000000L * MU
    val min = 60 * MU; val hour = 3600 * MU; val day = 86400L * MU
    // (ts_us, event_id, cents): batches A and B stay inside one 7-day
    // window (append path); batch C jumps 10 days (eviction rewrite)
    val a = Seq((t0, 1L, 100L), (t0 + 10 * min, 2L, 200L))
    val bb = Seq((t0 + 25 * min, 3L, 300L), (t0 + 2 * hour, 4L, 400L))
    val cc = Seq((t0 + 10 * day, 5L, 500L))
    val evs = a ++ bb ++ cc
    def brute(ts: Long): (Long, Long, Long) = {
      def in(h: Long) = evs.filter(e => e._1 >= ts - h && e._1 <= ts)
      val s1d = in(day).map(_._3).sum
      (in(7 * day).map(_._3).sum, in(30 * min).size.toLong,
        s1d * 100 / in(day).size)
    }
    val expected = evs.map(e => e._2 -> brute(e._1)).toMap
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    try {
      val in = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
      def rows(s: Seq[(Long, Long, Long)]) = s.map { case (ts, eid, c) =>
        (7L, new java.sql.Timestamp(ts / 1000), eid, c / 100.0)
      }
      val q = StreamingWindows.runToMemory(
        graft.streaming.StatefulFrames.trailingFrames(spark,
          in.toDF().toDF("user_id", "ts", "event_id", "value")).toDF(),
        "twsframes2p", mode = "append")
      try {
        Seq(a, bb, cc).foreach { batch =>
          in.addData(rows(batch)); q.processAllAvailable()
        }
        val got = spark.table("twsframes2p").collect()
          .map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
          .toMap
        assert(got == expected,
          s"two-path skew: ${expected.keysIterator.filter(k =>
            got.get(k) != expected.get(k)).toSeq.sorted
            .map(k => s"$k got=${got.get(k)} want=${expected(k)}")}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState CDC apply materializes exactly the batch " +
      "q137 MERGE") {
    // stream the same change set the batch MERGE resolves — base
    // snapshot as inserts (batch 1), then the q110 diff as CDC ops
    // (batch 2) — and the keyed store must end as the oracled merged
    // table: same keys, same bodies, deletes applied by absence
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val merged = SparkEntry.queries("q137_merge_apply")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mergedByKey = merged.map(t => t._1 -> t._3).toMap
    val diff = SparkEntry.queries("q110_snapshot_diff")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // base snapshot v1 = merged keep/update keys + removed keys; the
    // pre-update body is arbitrary for parity (it gets overwritten)
    val base = merged.collect {
      case (id, "keep", text) => (id, 0L, "insert", text)
      case (id, "update", _) => (id, 0L, "insert", "pre-update body")
    } ++ diff.collect { case (id, "removed") => (id, 0L, "insert", "doomed") }
      .toSeq
    // a NULL-body live doc (legal per q110's NULL-text contract): it
    // must materialize as a live row with a null body — neither kill
    // the query (ValueState rejects bare nulls) nor read as a tombstone
    val nullKey = merged.map(_._1).max + 1000L
    val cdc = diff.toSeq.collect {
      case (id, "added") => (id, 1L, "insert", mergedByKey(id))
      case (id, "changed") => (id, 1L, "update", mergedByKey(id))
      case (id, "removed") => (id, 1L, "delete", null: String)
    } :+ ((nullKey, 1L, "insert", null: String))
    val expected = mergedByKey + (nullKey -> (null: String))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    try {
      val in = MemoryStream[(Long, Long, String, String)]
      val q = StreamingWindows.runToMemory(
        graft.streaming.CdcApply.applyChanges(spark,
          in.toDF().toDF("doc_id", "seq", "op", "text")).toDF(),
        "twscdc", mode = "update")
      try {
        in.addData(base); q.processAllAvailable()
        in.addData(cdc); q.processAllAvailable()
        // the view = latest emission per key (memory sink appends
        // batches in order; one emission per key per batch), tombstones
        // (live = false) dropped
        val view = spark.table("twscdc").collect()
          .zipWithIndex
          .groupBy(_._1.getLong(0))
          .map { case (id, v) => id -> v.maxBy(_._2)._1 }
          .collect { case (id, r) if r.getBoolean(2) => id -> r.getString(3) }
        assert(view == expected,
          s"view ${view.size} keys vs merged ${expected.size}")
        assert(view.contains(nullKey) && view(nullKey) == null,
          "null-body insert must be live with a null body")
        // deletes really applied by absence
        val removed = diff.collect { case (id, "removed") => id }.toSet
        assert(removed.nonEmpty && removed.forall(!view.contains(_)))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("CDC apply: the RocksDB store IS the materialized view, " +
      "read back through the state data source across a restart") {
    // the emissions-based parity test reconstructs the view from the
    // sink; this one reads the STATE STORE itself (the thing a serving
    // layer would query) through Spark's state data source, across a
    // full query stop/restart. Keys inserted in phase 1 and untouched
    // by phase 2's diff can only be present afterwards if the RocksDB
    // state survived the checkpoint round trip.
    import spark.implicits._
    val merged = SparkEntry.queries("q137_merge_apply")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mergedByKey = merged.map(t => t._1 -> t._3).toMap
    val diff = SparkEntry.queries("q110_snapshot_diff")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val base = merged.collect {
      case (id, "keep", text) => (id, 0L, "insert", text)
      case (id, "update", _) => (id, 0L, "insert", "pre-update body")
    } ++ diff.collect { case (id, "removed") => (id, 0L, "insert", "doomed") }
      .toSeq
    val cdc = diff.toSeq.collect {
      case (id, "added") => (id, 1L, "insert", mergedByKey(id))
      case (id, "changed") => (id, 1L, "update", mergedByKey(id))
      case (id, "removed") => (id, 1L, "delete", null: String)
    }
    val dir = tempDir("graft_cdc").toFile
    val out = tempDir("graft_cdc_ck").toFile
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    def stage(name: String, rows: Seq[(Long, Long, String, String)],
        mtime: Long): java.io.File = {
      val tmp = new java.io.File(dir, s"stage_$name")
      rows.toDF("doc_id", "seq", "op", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val f = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, s"changes_$name.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime); dst
    }
    try {
      val now = System.currentTimeMillis()
      stage("0", base, now - 120000)
      val feedSchema = spark.read.parquet(
        new java.io.File(dir, "changes_0.parquet").getAbsolutePath).schema
      def start() =
        graft.streaming.CdcApply.applyChanges(spark,
            spark.readStream.schema(feedSchema)
              .option("maxFilesPerTrigger", "1")
              .parquet(dir.getAbsolutePath)).toDF()
          .writeStream
          // the sink must CONSUME every partition or the state stores
          // never commit (STATE_STORE_COMMIT_VALIDATION_FAILED); the
          // view itself is read from the store, not the sink
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.count(); ()
          }
          .option("checkpointLocation", s"${out.getAbsolutePath}/ckpt")
          .outputMode("update").start()
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      stage("1", cdc, now - 60000)
      val q2 = start() // NEW query instance, same checkpoint
      try q2.processAllAvailable() finally q2.stop()
      val got = graft.streaming.CdcApply
        .readView(spark, s"${out.getAbsolutePath}/ckpt")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == mergedByKey,
        s"state store diverges from the batch MERGE: ${got.size} keys " +
          s"vs ${mergedByKey.size}")
      val removed = diff.collect { case (id, "removed") => id }.toSet
      assert(removed.nonEmpty && removed.forall(!got.contains(_)),
        "deleted keys must be absent from the store")
      val untouched = merged.collect { case (id, "keep", _) => id }.toSet
      assert(untouched.nonEmpty && untouched.forall(got.contains),
        "phase-1 keys untouched by the diff prove restart recovery")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("CDC apply survives an OUT-OF-ORDER feed: updates and deletes " +
      "delivered before their inserts, plus duplicate deliveries, " +
      "still converge to the batch q137 MERGE") {
    // real change transports reorder across partitions and redeliver
    // on retry. Three staged files arrive as separate micro-batches in
    // the WRONG causal order: the high-seq CDC wave first (updates /
    // deletes / adds, seq 2), the base-snapshot inserts LATE (seq 1),
    // then a retry file duplicating earlier deliveries. Last-writer-
    // wins on seq must make this converge to exactly the ordered
    // outcome: the early update's body survives its late insert, the
    // early delete refuses the late resurrection, duplicates no-op.
    import spark.implicits._
    val merged = SparkEntry.queries("q137_merge_apply")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mergedByKey = merged.map(t => t._1 -> t._3).toMap
    val diff = SparkEntry.queries("q110_snapshot_diff")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val changed = diff.collect { case (id, "changed") => id }.toSet
    val removed = diff.collect { case (id, "removed") => id }.toSet
    assert(changed.nonEmpty && removed.nonEmpty,
      "fixture must exercise both update-before-insert and " +
        "delete-before-insert")
    // wave A (arrives FIRST, seq 2): the CDC ops
    val waveA = diff.toSeq.collect {
      case (id, "added") => (id, 2L, "insert", mergedByKey(id))
      case (id, "changed") => (id, 2L, "update", mergedByKey(id))
      case (id, "removed") => (id, 2L, "delete", null: String)
    }
    // wave B (arrives SECOND but causally FIRST, seq 1): base snapshot
    val waveB = merged.collect {
      case (id, "keep", text) => (id, 1L, "insert", text)
      case (id, "update", _) => (id, 1L, "insert", "pre-update body")
    }.toSeq ++ removed.toSeq.map(id => (id, 1L, "insert", "doomed"))
    // wave C: a transport retry — duplicates of earlier deliveries
    val waveC = removed.toSeq.map(id => (id, 1L, "insert", "doomed")) ++
      changed.take(3).toSeq.map(id => (id, 2L, "update", mergedByKey(id)))
    val dir = tempDir("graft_ooo").toFile
    val out = tempDir("graft_ooo_ck").toFile
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    def stage(name: String, rows: Seq[(Long, Long, String, String)],
        mtime: Long): Unit = {
      val tmp = new java.io.File(dir, s"stage_$name")
      rows.toDF("doc_id", "seq", "op", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val f = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, s"changes_$name.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    try {
      val now = System.currentTimeMillis()
      stage("0", waveA, now - 180000)
      stage("1", waveB, now - 120000)
      stage("2", waveC, now - 60000)
      val feedSchema = spark.read.parquet(
        new java.io.File(dir, "changes_0.parquet").getAbsolutePath).schema
      val q = graft.streaming.CdcApply.applyChanges(spark,
          spark.readStream.schema(feedSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(dir.getAbsolutePath)).toDF()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.count(); ()
        }
        .option("checkpointLocation", s"${out.getAbsolutePath}/ckpt")
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      val got = graft.streaming.CdcApply
        .readView(spark, s"${out.getAbsolutePath}/ckpt")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == mergedByKey,
        s"out-of-order feed diverged from the batch MERGE: " +
          s"${got.size} keys vs ${mergedByKey.size}")
      assert(changed.forall(id => got(id) == mergedByKey(id)
          && got(id) != "pre-update body"),
        "the seq-2 update must survive its late seq-1 insert")
      assert(removed.forall(!got.contains(_)),
        "the seq-2 delete must refuse the late seq-1 resurrection " +
          "and its duplicate redelivery")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("CDC TTL: a tombstone evicted before the straggler arrives no " +
      "longer shields the key — inside the TTL it still does") {
    // The SCALE.md O(keys-in-horizon) boundedness claim, executable
    // (VERDICT r10 task 3): state TTL evicts tombstones, and the price
    // of sizing the TTL SHORTER than the feed's disorder horizon is
    // pinned here rather than prosed. Key 1 = the wrongly-sized arm:
    // insert(seq 2) → delete(seq 3) tombstones it; after the TTL
    // passes, a straggler insert(seq 1) finds no seq watermark left to
    // lose against and RESURRECTS the key with the stale body. Key 2 =
    // the correctly-sized arm in the same run: its identical straggler
    // arrives while the tombstone is still live and is refused. The
    // exact-LWW (TTL NONE) behavior and batch-q137 equality stay
    // pinned by the parity tests above, which never set a TTL.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    try {
      // generous TTL: the refusal arm needs its straggler batch to run
      // BEFORE the tombstone expires, even on a loaded host (batches
      // take ~1 s here; 8 s absorbs a full GC-pause class of stall)
      val ttlMs = 8000L
      val in = MemoryStream[(Long, Long, String, String)]
      val q = StreamingWindows.runToMemory(
        graft.streaming.CdcApply.applyChanges(spark,
          in.toDF().toDF("doc_id", "seq", "op", "text"),
          org.apache.spark.sql.streaming.TTLConfig(
            java.time.Duration.ofMillis(ttlMs))).toDF(),
        "cdcttl", mode = "update")
      // processAllAvailable CANNOT be used under TimeMode.ProcessingTime:
      // the engine always requests another batch (processing time keeps
      // advancing), so its no-new-data condition never signals. Each
      // input row produces exactly one update-mode emission, so poll the
      // memory sink for the expected EMISSION COUNT per key instead.
      def rowsFor(id: Long) =
        spark.table("cdcttl").collect().filter(_.getLong(0) == id)
      def awaitCount(id: Long, n: Int): Unit = {
        val end = System.currentTimeMillis + 60000L
        while (rowsFor(id).length < n && System.currentTimeMillis < end)
          Thread.sleep(100)
        assert(rowsFor(id).length >= n,
          s"timed out waiting for $n emissions for key $id")
      }
      try {
        in.addData(Seq((1L, 2L, "insert", "body-1"),
          (2L, 2L, "insert", "body-2")))
        awaitCount(1L, 1); awaitCount(2L, 1)
        // earliest instant key 2's tombstone TTL clock can start (the
        // engine stamps it when the delete batch PROCESSES, which is
        // at or after this line) — lets the refusal assertion below
        // detect a host stall that legitimately expired the tombstone
        val tDel = System.currentTimeMillis
        in.addData(Seq((1L, 3L, "delete", null: String),
          (2L, 3L, "delete", null: String)))
        awaitCount(1L, 2); awaitCount(2L, 2)
        // key 2's straggler arrives INSIDE the TTL: refused by LWW
        in.addData(Seq((2L, 1L, "insert", "stale-2")))
        awaitCount(2L, 3)
        // if the host stalled past the TTL between the delete and the
        // straggler's commit, the tombstone may have expired on its
        // own — the refusal assertion would then flake on a timing
        // accident, not a product bug (ADVICE r11). Measure, don't
        // hope: elapsed uses the CONSERVATIVE start (before the delete
        // even enqueued), so skipping is provably sound.
        val strugglerInTtl = System.currentTimeMillis - tDel < ttlMs
        // let both tombstones expire, then key 1's straggler arrives
        Thread.sleep(ttlMs + 2000L)
        in.addData(Seq((1L, 1L, "insert", "stale-1")))
        awaitCount(1L, 3)
        // the view = latest emission per key (memory sink appends each
        // batch's updates in order)
        val r1 = rowsFor(1L).last
        val r2 = rowsFor(2L).last
        assert(r1.getBoolean(2) && r1.getString(3) == "stale-1",
          s"post-eviction straggler must RESURRECT key 1: $r1")
        if (strugglerInTtl)
          assert(!r2.getBoolean(2),
            s"in-horizon straggler must stay refused by the live " +
              s"tombstone: $r2")
        else
          info(s"host stall exceeded the ${ttlMs}ms TTL before key 2's " +
            "straggler committed — refusal arm skipped (eviction arm " +
            "above still verified)")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a stream can start on an EMPTY directory and pick up the " +
      "first arriving file") {
    // the documented production sequence — the stream exists before
    // its source directory has data. Schema inference has nothing to
    // read, so eventsStream must fall back to the fixed fixture schema
    // instead of throwing (the r8 ADVICE regression), then adapt when
    // the first real file lands.
    val dir = tempDir("graft_empty").toFile
    val q = StreamingWindows.runToMemory(
      StreamingWindows.tumbling(spark, dir.getAbsolutePath),
      "t_empty", mode = "update")
    try {
      assert(spark.table("t_empty").count() == 0,
        "no files yet -> no windows")
      // first file arrives; the next trigger must ingest it. The
      // default fallback declares the CURRENT fixture layout (ts as
      // TIMESTAMP_NTZ micros), so stage the file in that layout
      val src = graft.Tables.load(spark, sf, "events")
        .selectExpr("event_id", "cast(ts as timestamp_ntz) AS ts",
          "user_id", "event_type", "value", "props")
      val tmp = new java.io.File(dir, "stage")
      src.coalesce(1).write.parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, "events.parquet").toPath)
      q.processAllAvailable()
      assert(spark.table("t_empty").count() > 0,
        "windows must appear once the first file lands")
    } finally q.stop()
  }

  test("empty-dir start on a LEGACY nanos deployment: the pinned " +
      "nanosSchema fallback reads the first arriving nanos-long file") {
    // no single schema covers both physical ts layouts, so a nanos
    // deployment pins its layout via the fallback parameter — this is
    // the other half of the empty-dir contract
    val dir = tempDir("graft_empty_n").toFile
    val stream = graft.queries.EventTime.tumblingAgg(
      StreamingWindows.eventsStream(spark, dir.getAbsolutePath,
        maxFilesPerTrigger = 0,
        emptyDirFallback = StreamingWindows.nanosSchema)
        .withWatermark("ts", "10 minutes"))
    val q = StreamingWindows.runToMemory(stream, "t_empty_n",
      mode = "update")
    try {
      assert(spark.table("t_empty_n").count() == 0)
      val src = graft.Tables.load(spark, sf, "events")
        .selectExpr("event_id", "unix_micros(ts) * 1000 AS ts",
          "user_id", "event_type", "value", "props")
      val tmp = new java.io.File(dir, "stage")
      src.coalesce(1).write.parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, "events.parquet").toPath)
      q.processAllAvailable()
      assert(spark.table("t_empty_n").count() > 0,
        "windows must appear once the first nanos-layout file lands")
    } finally q.stop()
  }

  test("a real TIMESTAMP(NANOS) events file reads ts as TimestampType " +
      "in Tables.load and eventsStream") {
    // Spark cannot write the nanos layout, so parquet-mr's example
    // writer makes the file: ts is INT64 TIMESTAMP(NANOS,
    // isAdjustedToUTC=false), as in the older fixture generations
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{
      BINARY, DOUBLE, INT64}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType())
        .named("event_type")
      .required(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType())
        .named("props")
      .named("events")
    val instants = Seq(
      java.time.Instant.parse("2024-03-10T01:59:59.123456Z"),
      java.time.Instant.parse("2024-03-10T02:00:00Z"),
      java.time.Instant.parse("1999-12-31T23:59:59.999999Z"))
    val dir = tempDir("graft_nanos")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(
        dir.resolve("events.parquet").toUri))
      .withType(schema)
      .withConf(spark.sessionState.newHadoopConf())
      .build()
    try {
      val groups = new SimpleGroupFactory(schema)
      instants.zipWithIndex.foreach { case (t, i) =>
        writer.write(groups.newGroup()
          .append("event_id", i.toLong)
          .append("ts", t.getEpochSecond * 1000000000L + t.getNano)
          .append("user_id", 7L)
          .append("event_type", "click")
          .append("value", 1.5))
      }
    } finally writer.close()
    // the file really is the nanos layout: Spark sees a nanos long
    assert(spark.read.parquet(dir.toString).schema("ts").dataType == LongType)

    def instantsOf(rows: Array[Row]): Seq[java.time.Instant] =
      rows.sortBy(_.getLong(0)).map(_.getTimestamp(1).toInstant).toSeq
    val batch = graft.Tables.load(spark, dir.toString, "events")
    assert(batch.schema("ts").dataType == TimestampType)
    assert(instantsOf(batch.select("event_id", "ts").collect()) == instants)

    val stream = StreamingWindows.eventsStream(spark, dir.toString)
    assert(stream.schema("ts").dataType == TimestampType)
    val q = StreamingWindows.runToMemory(stream.select("event_id", "ts"),
      "nanos_stream")
    try {
      val drained = spark.table("nanos_stream")
      assert(drained.schema("ts").dataType == TimestampType)
      assert(instantsOf(drained.collect()) == instants)
    } finally q.stop()
  }

  test("nanos-long ts floors to the microsecond, before 1970 too") {
    // tsToTimestamp is the one conversion Tables.load and eventsStream
    // share; a LongType ts holds epoch nanoseconds
    import spark.implicits._
    val t2024 = java.time.Instant.parse("2024-03-10T01:59:59.123456Z")
    val nanos = Seq(-1L, -1000L, -1001L, 1999L,
      t2024.getEpochSecond * 1000000000L + t2024.getNano)
    val got = graft.Tables.tsToTimestamp(nanos.toDF("ts"))
      .selectExpr("unix_micros(ts)").as[Long].collect().toSeq
    assert(got == Seq(-1L, -1L, -2L, 1L,
      t2024.getEpochSecond * 1000000L + t2024.getNano / 1000))
    val first = graft.Tables.tsToTimestamp(Seq(-1L).toDF("ts"))
      .head().getTimestamp(0).toInstant
    assert(first == java.time.Instant.parse("1969-12-31T23:59:59.999999Z"))
  }

  test("a NONEXISTENT source path fails fast instead of silently " +
      "starting a forever-empty stream") {
    // the empty-dir fallback is only for "directory exists, no file
    // matches yet" — a typo'd path must surface at stream definition,
    // not run forever producing zero rows
    val parent = tempDir("graft_ghost").toFile
    val ghost = new java.io.File(parent, "no_such_subdir")
    intercept[org.apache.spark.sql.AnalysisException] {
      StreamingWindows.eventsStream(spark, ghost.getAbsolutePath)
    }
  }

  test("CDC apply: a malformed op fails the feed loudly instead of " +
      "silently upserting") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.StatefulCounters.RocksDbProvider)
    try {
      // op ∈ insert|update|delete is the contract; a mangled "Delete"
      // must not resurrect the key as a live document
      val in = MemoryStream[(Long, Long, String, String)]
      val q = StreamingWindows.runToMemory(
        graft.streaming.CdcApply.applyChanges(spark,
          in.toDF().toDF("doc_id", "seq", "op", "text")).toDF(),
        "tbadop", mode = "update")
      try {
        in.addData(Seq((7L, 9L, "Delete", null: String)))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        def chain(t: Throwable): List[Throwable] =
          if (t == null) Nil else t :: chain(t.getCause)
        assert(chain(e).exists(c =>
          c.isInstanceOf[IllegalArgumentException] &&
            c.getMessage.contains("insert|update|delete")),
          s"expected the op-contract IllegalArgumentException, got: $e")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming media near-dup probe equals the capped-band reference " +
      "across micro-batch cuts; degenerate arrivals stay capped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the image fixture's hashes: 120 formula images (every 3rd a
    // near-dup of its predecessor) + 20 flat images all at dHash 0
    val hs = graft.queries.ImageDedup.hashesOf(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // corpus = the bases + the WHOLE flat cluster (its buckets are
    // over-cap); arrivals = the planted near-dup copies + one fresh
    // flat image (the degenerate arrival the cap must silence)
    val arrivals = (0L until 120L).filter(_ % 3 == 2)
      .map(i => i -> hs(i)) :+ (999L -> 0L)
    val corpusIds = hs.keySet -- arrivals.map(_._1)
    val corpus = corpusIds.toSeq.sorted.map(i => (i, hs(i))).toDF("id", "h")
    val postings = graft.streaming.StreamingMediaDedup.bandPostings(
      corpus, "id", "h")
    // pure-Scala reference of the contract (the AudioDedupSpec style):
    // pair (a, b) iff Hamming <= 3 AND some shared band's CORPUS
    // bucket is under the cap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val cap = graft.operators.HashBands.BandBucketCap
    val bucketDf = corpusIds.toSeq
      .flatMap(i =>
        (0 until 4).map(bk => (bk, (hs(i) >> (bk * 16)) & 0xffffL)))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val expected = (for {
      (a, hav) <- arrivals; b <- corpusIds
      if ham(hav, hs(b)) <= 3
      if (0 until 4).exists { bk =>
        val (ba, bb) = ((hav >> (bk * 16)) & 0xffffL,
          (hs(b) >> (bk * 16)) & 0xffffL)
        ba == bb && bucketDf.getOrElse((bk, ba), 0) <= cap
      }
    } yield (a, b, ham(hav, hs(b)).toLong)).toSet
    val in = MemoryStream[(Long, Long)]
    val q = StreamingWindows.runToMemory(
      graft.streaming.StreamingMediaDedup.nearDupNew(
        in.toDF().toDF("id", "h"), "id", "h", postings), "mneardup")
    try {
      // two micro-batches: the pair set must not depend on the cut
      val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val rows = spark.table("mneardup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // the canonical-witness dedup: EXACTLY one row per matching pair
      assert(rows.length == rows.toSet.size,
        "a pair surfaced from more than one band")
      assert(rows.toSet == expected,
        s"stream pairs != reference: ${rows.length} vs ${expected.size}")
      // every planted copy found its base; the flat arrival found
      // nothing (its corpus bucket is over-cap — the batch semantics)
      assert((0L until 120L).filter(_ % 3 == 2).forall(i =>
        rows.exists(p => p._1 == i && p._2 == i - 1)),
        "a planted near-dup arrival missed its base")
      assert(!rows.exists(_._1 == 999L), "a capped bucket leaked a pair")
    } finally { q.stop(); postings.unpersist() }
  }

  test("media near-dup probe, batch backfill path: gain-shifted audio " +
      "arrivals match their source exactly; silence stays capped") {
    import spark.implicits._
    // same operator, batch frame in (the RAG-chunking same-code
    // precedent): audio fingerprints, arrivals = the planted gain-x2
    // copies (t % 4 == 1) + one silent track
    val fs = graft.queries.AudioDedup.fingerprintsOf(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val arrIds = (0L until 120L).filter(_ % 4 == 1)
    val corpus = (fs.keySet -- arrIds).toSeq.sorted.map(i => (i, fs(i)))
      .toDF("id", "h")
    val postings = graft.streaming.StreamingMediaDedup.bandPostings(
      corpus, "id", "h")
    try {
      val arr = (arrIds.map(i => (i, fs(i))) :+ (888L -> 0L)).toDF("id", "h")
      val got = graft.streaming.StreamingMediaDedup.nearDupNew(
        arr, "id", "h", postings).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length == got.toSet.size)
      assert(arrIds.forall(i =>
        got.exists(p => p._1 == i && p._2 == i - 1 && p._3 == 0L)),
        "a gain-shifted arrival missed its source")
      assert(!got.exists(_._1 == 888L),
        "the silent cluster's bucket leaked past the cap")
    } finally postings.unpersist()
  }

  test("session window: streaming parity with batch sessionization") {
    // session windows require watermark + append/update; update mode may
    // emit intermediate merged sessions, so compare the final state per
    // (user_id, sstart_us): the last emitted row per session must match batch
    val q = StreamingWindows.runToMemory(
      StreamingWindows.session(spark, sf), "sess_app", mode = "append")
    try {
      val got = spark.table("sess_app").collect().toSet
      val batch = batchRows("q31_session_window")
      assert(got.subsetOf(batch),
        "every finalized streaming session must equal its batch twin")
      assert(got.size >= batch.size - 20,
        s"only sessions near max(ts) may be unfinalized " +
          s"(got ${got.size} of ${batch.size})")
    } finally q.stop()
  }
}
