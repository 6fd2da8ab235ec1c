package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming exact deduplication — the streaming twin of batch q32
  * (md5 content hash, keep one row per hash), completing the
  * batch/stream parity set alongside the q29–q31 windows.
  *
  * Semantics difference vs batch, by design: batch q32 keeps the MINIMUM
  * doc_id per hash (a global decision), while a stream keeps the FIRST
  * ARRIVAL per hash — the only decision an unbounded stream can make.
  * Parity is therefore on the deduped hash set + count, not on which
  * representative survives (StreamingSpec pins both).
  *
  * Two state regimes:
  *  - [[exactDedup]]: exact forever-dedup; state grows with the number
  *    of DISTINCT hashes (bounded by corpus cardinality, not stream
  *    length — ~16 bytes/hash in the state store; at 10^10 distinct docs
  *    shard the state by running one query per hash-prefix partition).
  *  - [[exactDedupWatermarked]]: `dropDuplicatesWithinWatermark` over an
  *    event-time column — state expires past the watermark, so memory is
  *    bounded by the dedup horizon (duplicates separated by more than
  *    the delay may both survive; that is the standard trade at scale).
  */
object StreamingDedup {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming scan of the documents table (one parquet file = one
    * micro-batch in tests; a directory of arriving files in production). */
  def docsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** First-arrival exact dedup by content hash (exact, unbounded state). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.withColumn("h", md5(col("text")))
      .dropDuplicates("h")
      .select("h", "doc_id", "lang")

  /** Watermarked dedup: duplicates arriving within `delay` of each other
    * (by event time `tsCol`) are collapsed; state expires past the
    * watermark. `tsCol` must be a TIMESTAMP column on `docs`. */
  def exactDedupWatermarked(docs: DataFrame, tsCol: String,
      delay: String): DataFrame =
    docs.withColumn("h", md5(col("text")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("h")
      .select("h", "doc_id", "lang")

  /** Static corpus dedup state for [[nearDupNew]] — derived by the SAME
    * builder as batch q73 (graft.queries.Dedup.dedupState; the parity
    * guarantee depends on one source) and PERSISTED here: the streaming
    * query references the hash set once and the band set in four probe
    * branches, every micro-batch — unpersisted, the full corpus scan +
    * shingle + hash pipeline would re-execute five times per batch.
    * Computed lazily on the first batch, reused after; callers that
    * finish with the stream may unpersist both frames. In production
    * these are incrementally-maintained tables bucketed on their join
    * keys (operators/Bucketing), so the probes co-locate without
    * reshuffling the corpus at all. */
  def corpusState(corpus: DataFrame): (DataFrame, DataFrame) = {
    val (h, bands) = graft.queries.Dedup.dedupState(corpus)
    (h.persist(), bands.persist())
  }

  /** Streaming NEAR-duplicate dedup of an incoming document stream
    * against a static corpus — the streaming twin of batch
    * q73_incremental_dedup, with identical per-document decisions:
    * drop exact dupes (content-hash anti-join), then drop docs any of
    * whose minhash band fingerprints appears in the corpus band table.
    *
    * The whole plan is STATELESS streaming: fingerprints are map-side
    * array expressions (Dedup.withBandFingerprints — no aggregation),
    * and each band is one stream-static probe against the distinct
    * corpus band set, so there is no watermark, no state store, and
    * nothing grows with stream length. The corpus side is never
    * broadcast and never re-shuffled per batch when bucketed — the
    * direction that holds when the corpus is 100 TB and each
    * micro-batch is MBs. corpusBands must be distinct on (band, mh)
    * (corpusState guarantees it) so the outer probes cannot multiply
    * rows. */
  /** Static corpus prefix index for [[prefixJaccardNew]] — the
    * streaming counterpart of batch q103's docsets: per corpus document
    * its distinct 3-shingle hash set sorted ASCENDING BY HASH VALUE
    * (not by document frequency — see below), plus the exploded
    * (shk, b_id) postings the prefix probe joins against. PERSISTED for
    * the same reason as [[corpusState]]; in production both are
    * incrementally-maintained tables, postings bucketed on shk
    * (operators/Bucketing) so the per-batch probe never reshuffles the
    * corpus.
    *
    * Why hash order: the PPJoin prefix bound is LOSSLESS under ANY
    * consistent total order on the shingle universe (a qualifying pair
    * overlaps in >= ceil(t·n) shingles while the suffix holds only
    * ceil(t·n) - 1, so a common shingle must land in the prefix —
    * nothing in that argument uses frequency). Batch q103 orders
    * rarest-first purely as a selectivity heuristic, but computing a
    * df-rank for an ARRIVING document would need an explode + re-group
    * per micro-batch — a stateful aggregation. Hash order is computable
    * MAP-SIDE from the document alone, keeping the stream stateless;
    * the price is more candidates per probe (every candidate still
    * verifies exactly), not missed pairs. */
  def prefixIndex(corpus: DataFrame): (DataFrame, DataFrame) = {
    val dd = graft.queries.Dedup
    val docsets = dd.shingledOf(dd.withTok(corpus))
      .select(col("doc_id"), xxhash64(col("sh")).as("shk"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("shk"))).as("os"))
      .persist()
    val postings = docsets
      .select(col("doc_id").as("b_id"), explode(col("os")).as("shk"))
      .persist()
    (docsets, postings)
  }

  /** Streaming twin of batch q103: exact-Jaccard (>= t) matches of each
    * ARRIVING document against a static corpus, via the same lossless
    * prefix filter — entirely STATELESS streaming: shingle hashing,
    * sorting and prefix slicing are map-side array expressions on the
    * arriving row; candidate generation is a stream-static equi-join on
    * shk; verification is an array_intersect against the candidate's
    * corpus shingle set. Emits (a_id = arriving doc, b_id = corpus doc,
    * inter, jac) — identical inter/jac values to batch q103 on the same
    * pair (StreamingSpec pins it).
    *
    * Candidate DEDUP is also stateless: a pair sharing k prefix
    * shingles surfaces k times from the join, and an unbounded stream
    * cannot `distinct()` — instead each joined row carries the arriving
    * doc's prefix array and the corpus doc's full set, so the filter
    * keeps only the row whose join key IS the canonical witness (the
    * smallest common shingle hash): exactly one row per pair survives,
    * decided map-side. */
  def prefixJaccardNew(stream: DataFrame, docsets: DataFrame,
      postings: DataFrame, t: Double = 0.5): DataFrame = {
    val dd = graft.queries.Dedup
    val withOs = dd.withTok(stream)
      .withColumn("os",
        expr("sort_array(transform(shingles3(tok), x -> xxhash64(x)))"))
      .filter(size(col("os")) > 0)
    val probes = withOs
      .withColumn("pa", expr(
        s"slice(os, 1, cast(size(os) - ceil(size(os) * $t) + 1 as int))"))
      .select(col("doc_id").as("a_id"), col("os"), col("pa"),
        explode(col("pa")).as("shk"))
    probes
      .join(postings, Seq("shk"))
      .filter(col("a_id") =!= col("b_id"))
      .join(docsets.select(col("doc_id").as("b_id"), col("os").as("lb")),
        Seq("b_id"))
      .filter(col("shk") ===
        array_min(array_intersect(col("pa"), col("lb"))))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("os"), col("lb"))).cast("long")
          .as("inter"),
        size(col("os")).as("na"), size(col("lb")).as("nb"))
      .withColumn("jac_raw",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac_raw") >= t)
      // Det.dratio presentation, IDENTICAL to batch q103's (the parity
      // pin compares jac values bit-for-bit)
      .select(col("a_id"), col("b_id"), col("inter"),
        graft.Det.dratio(col("inter"),
          col("na") + col("nb") - col("inter"), 4).as("jac"))
  }

  /** Streaming twin of batch q124: CONTAINMENT (>= t) of each ARRIVING
    * document in a static corpus document — near-subset screening of a
    * stream against a reference corpus (catches a corpus doc pasted
    * into an arriving one padded with boilerplate, which Jaccard
    * misses). Same stateless shape as [[prefixJaccardNew]], and the
    * SAME [[prefixIndex]] state: the postings are already the corpus's
    * FULL shingle sets, which is exactly what the containing side of
    * the asymmetric measure requires (it can never be pruned). The
    * prefix slice on the arriving doc stays lossless under hash order
    * for the same reason as Jaccard's: C(A,B) >= t needs
    * inter >= ceil(t·|A|) while the suffix holds only ceil(t·|A|) - 1.
    * Emits (a_id = arriving/contained, b_id = corpus/containing,
    * inter, cont) — the arriving-inside-corpus direction (the
    * screening one; the reverse would need corpus-side prefixes).
    * Witness dedup is the prefixJaccardNew trick: only the row whose
    * join key is the smallest common shingle hash survives, map-side. */
  def containmentNew(stream: DataFrame, docsets: DataFrame,
      postings: DataFrame, t: Double = 0.75): DataFrame = {
    val dd = graft.queries.Dedup
    val withOs = dd.withTok(stream)
      .withColumn("os",
        expr("sort_array(transform(shingles3(tok), x -> xxhash64(x)))"))
      .filter(size(col("os")) > 0)
    val probes = withOs
      .withColumn("pa", expr(
        s"slice(os, 1, cast(size(os) - ceil(size(os) * $t) + 1 as int))"))
      .select(col("doc_id").as("a_id"), col("os"), col("pa"),
        explode(col("pa")).as("shk"))
    probes
      .join(postings, Seq("shk"))
      .filter(col("a_id") =!= col("b_id"))
      .join(docsets.select(col("doc_id").as("b_id"), col("os").as("lb")),
        Seq("b_id"))
      .filter(col("shk") ===
        array_min(array_intersect(col("pa"), col("lb"))))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("os"), col("lb"))).cast("long")
          .as("inter"),
        size(col("os")).as("na"))
      .withColumn("cont_raw", col("inter") / col("na"))
      .filter(col("cont_raw") >= t)
      // Det.dratio presentation, IDENTICAL to batch q124's (parity pin)
      .select(col("a_id"), col("b_id"), col("inter"),
        graft.Det.dratio(col("inter"), col("na"), 4).as("cont"))
  }

  /** Static boilerplate dictionary for [[boilerplateStripNew]] — built
    * by batch q114's OWN builder (queries.TextOps.boilerDict; one
    * source for the parity guarantee) and persisted: bounded by
    * construction at total_chunks/k rows, it is the small static side
    * of every micro-batch's probe. In production an incrementally-
    * maintained table bucketed on (ck, clen). */
  def boilerState(corpus: DataFrame, k: Int = 3): DataFrame =
    graft.queries.TextOps.boilerDict(
      graft.queries.Dedup.withTok(corpus), k).persist()

  /** Streaming twin of batch q114: boilerplate-span removal of ARRIVING
    * documents against the static corpus-frequency dictionary.
    * Entirely STATELESS: chunking is a map-side explode
    * (TextOps.chunkedOf — the same builder as batch) and the
    * dictionary probe is a stream-static LEFT ANTI join against the
    * bounded dict — no watermark, no state store, nothing grows with
    * stream length. Emits the chunk-level SURVIVOR stream
    * (doc_id, p, chunk); per-document reassembly is the sink
    * compaction's job on an unbounded stream (StreamingSpec reassembles
    * and pins parity with batch q114's clean_text). */
  def boilerplateStripNew(stream: DataFrame, dict: DataFrame): DataFrame =
    graft.queries.TextOps.chunkedOf(graft.queries.Dedup.withTok(stream))
      .join(dict, Seq("ck", "clen"), "left_anti")
      .select("doc_id", "p", "chunk")

  /** Frozen learned-tokenizer serve state for [[bpeEncodeNew]]: q141's
    * trained per-word symbol counts (queries.TextOps.bpeVocab — the
    * SAME builder batch q142 joins against), persisted. Training runs
    * ONCE, batch-side; the stream only reads the result — the
    * vocabulary a production tokenizer ships is exactly this frozen
    * table, refreshed by retraining, never updated by the stream. No
    * broadcast hint here either (the table is training-corpus-derived,
    * Heaps' law — Spark picks the stream-static join strategy from its
    * measured size). */
  def bpeState(corpus: DataFrame, rounds: Int = 3): DataFrame =
    graft.queries.TextOps.bpeVocab(corpus, rounds).persist()

  /** Streaming twin of batch q142: tokenize ARRIVING documents under
    * the frozen learned vocabulary. Entirely STATELESS — tokens
    * explode map-side, the stream-static LEFT join prices each token
    * (in-vocab = learned symbol count, OOV = character split; the ONE
    * bpeSymCost definition shared with batch), no watermark, no state
    * store. Emits the token-level cost stream (doc_id, syms); per-doc
    * aggregation is the sink's job on an unbounded stream (the q114
    * chunk-survivor precedent — StreamingSpec reassembles per-doc
    * totals and pins exact parity with batch q142). */
  def bpeEncodeNew(stream: DataFrame, vocab: DataFrame): DataFrame =
    graft.queries.TextOps.bpeTokenCosts(stream, vocab)

  /** One-row BM25 serve state: the deterministic query terms
    * (queries.Dedup.bm25Terms — the SAME builder batch q118 uses) with
    * their document frequencies as an array of structs, plus corpus
    * size and average doc length. Bounded by construction (|terms| =
    * 3), persisted: it is the tiny static side every micro-batch
    * crosses with. In production this is the periodically-refreshed
    * index-statistics table of a serving tier. */
  def bm25State(corpus: DataFrame): DataFrame = {
    val dd = graft.queries.Dedup.withTok(corpus)
    val dl = dd.select(col("doc_id"), col("tok"),
      size(col("tok")).cast("bigint").as("dl"))
    val terms = graft.queries.Dedup.bm25Terms(dd)
    val dft = dl.select(col("doc_id"), explode(col("tok")).as("term"))
      .join(broadcast(terms), Seq("term"))
      .groupBy("term").agg(count_distinct(col("doc_id")).as("df"))
    val stats = dl.agg(count(lit(1)).as("n"),
      expr("cast(sum(dl) as double) / count(1)").as("avgdl"))
    dft.agg(collect_list(struct(col("term"), col("df"))).as("terms"))
      .crossJoin(stats)
      .persist()
  }

  /** Streaming twin of batch q118: BM25-score ARRIVING documents
    * against the static index statistics. Entirely STATELESS — per-doc
    * term frequencies come from array HOFs over the row's own token
    * array (no explode-and-aggregate, no state store), the one-row
    * state arrives via a constant-key stream-static equi-join, and the
    * per-term contributions are the IDENTICAL IEEE expression tree as
    * batch q118 cast to the same DECIMAL(28,12) before an exact
    * decimal fold — so a doc's streaming score EQUALS its batch score
    * bit-for-bit. Emits the scored match stream (doc_id, sc exact);
    * global top-k ranking is the sink's job on an unbounded stream
    * (StreamingSpec ranks the collected sink and pins parity with
    * q118's top-10). */
  def bm25ScoreNew(stream: DataFrame, state: DataFrame): DataFrame =
    graft.queries.Dedup.withTok(stream)
      .withColumn("dl", size(col("tok")).cast("bigint"))
      .withColumn("__k", lit(1))
      .join(state.withColumn("__k", lit(1)), Seq("__k"))
      .withColumn("sc", expr(
        """aggregate(
             transform(terms, t -> struct(
               size(filter(tok, x -> x = t.term)) AS tf, t.df AS df)),
             cast(0 as decimal(38,12)),
             (acc, p) -> cast(acc + CASE WHEN p.tf > 0 THEN
                 cast(ln(1e0 + (n - p.df + 5e-1) / (p.df + 5e-1))
                   * ((p.tf * 22e-1)
                      / (p.tf + 12e-1 * (25e-2 + 75e-2 * dl / avgdl)))
                   as decimal(28,12))
               ELSE cast(0 as decimal(28,12)) END as decimal(38,12)))"""))
      .filter(col("sc") > 0)
      .select(col("doc_id"), col("sc"))

  def nearDupNew(stream: DataFrame, corpusHash: DataFrame,
      corpusBands: DataFrame): DataFrame = {
    val dd = graft.queries.Dedup
    val exactNew = stream.withColumn("h", md5(col("text")))
      .join(corpusHash, Seq("h"), "left_anti")
    val sig = dd.withBandFingerprints(dd.withTok(exactNew))
    val probed = (0 until dd.numBands).foldLeft(sig) { (df, b) =>
      df.join(
        corpusBands.filter(col("band") === b).select(col("mh").as(s"__c$b")),
        col(s"mh$b") === col(s"__c$b"), "left_outer")
    }
    probed
      .filter((0 until dd.numBands).map(b => col(s"__c$b").isNull)
        .reduce(_ && _))
      .select("doc_id", "lang")
  }
}
