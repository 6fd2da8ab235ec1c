package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for LLM-data pipelines (SURVEY.md §2-B q32/q33
  * plus the training-data extensions): exact dedup, corpus stats, top
  * terms, language-ID heuristic, quality scoring, token counting, and
  * document fingerprinting. Everything is built-in Catalyst expressions
  * (codegen'd, no UDFs) and aggregates/explodes shuffle on doc-level keys,
  * so each op scales linearly with corpus size.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) =
    Dedup.withTok(Tables.load(s, d, "documents"))

  /** The two cross-engine character classes (ordinary Scala strings →
    * single-backslash escapes, which is both the Java-regex form AND
    * the exact bytes a DuckDB literal passes to RE2). ONE definition
    * per class: the Spark side passes them to regexp_replace/
    * regexp_count, the oracle s-strings interpolate them, so the
    * Spark/oracle pairing is structural, not six hand-synced copies.
    * Whitespace is spelled out because RE2's \s lacks U+000B
    * (see Dedup.TokExpr). */
  private val PunctKeepClass = "[\\w \\t\\n\\x0B\\f\\r]"
  private val BpeTokenRegex = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"

  /** The three PII surface patterns (q152), ONE definition each feeding
    * both engines (the PunctKeepClass discipline: ordinary Scala
    * strings → single-backslash escapes, which is simultaneously the
    * Java-regex form Spark compiles and the exact bytes a DuckDB
    * single-quoted literal hands RE2). Only the portable subset is
    * used — character classes, bounded quantifiers, grouping — no
    * lookaround/backrefs (RE2 has neither), no \d/\b (dialect-
    * divergent width/word semantics), so leftmost-first greedy
    * matching is bit-identical across engines. */
  private[graft] val EmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  private[graft] val IpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII detection + redaction (the CCNet/RefinedWeb-class scrub every
    * release-grade training pipeline runs before anything else sees
    * the text): adds `email_n`/`phone_n`/`ip_n` — match counts over
    * the RAW text — and `clean`, the text with every match replaced by
    * a typed placeholder. All four columns are built-in codegen'd
    * regexp expressions over one row at a time: the operator is a pure
    * map, adds zero shuffles to whatever plan it lands in, and streams
    * as-is (stateless — no twin needed).
    *
    * Semantics, pinned deliberately:
    *  - counts come from the raw text, not the partially-redacted
    *    intermediate — they are detector output, independent of
    *    replacement order;
    *  - replacement applies email → ip → phone, so a digit-host
    *    address like `a@1.2.3.4` (NOT an email under the alpha-TLD
    *    class) still loses its IP: `a@<IP>` — recall over precision;
    *  - matching is syntactic by design: `999.999.999.999` redacts as
    *    an IP even though no such address exists. A scrubber that
    *    second-guesses octet ranges trades recall for nothing — the
    *    placeholder is cheap, a leaked identifier is not;
    *  - placeholders contain no digits or `@`, so one pattern's
    *    rewrite can never manufacture a later pattern's match. */
  def piiScrub(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("email_n", regexp_count(col(textCol), lit(EmailRe)))
      .withColumn("phone_n", regexp_count(col(textCol), lit(PhoneRe)))
      .withColumn("ip_n", regexp_count(col(textCol), lit(IpRe)))
      .withColumn("clean",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
            IpRe, "<IP>"),
          PhoneRe, "<PHONE>"))

  /** (doc_id, w1, w2): the document's consecutive token bigrams —
    * shared by the LM scorer, q85's dice ranking and q127's
    * importance weighting. */
  private def bigramsOf(dd: DataFrame): DataFrame =
    dd.filter(size(col("tok")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(tok) - 2),
             i -> struct(tok[i] AS w1, tok[i+1] AS w2))""")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** (doc_id, n_bigrams, avg_logp): the q97 KenLM-style bigram LM score
    * — add-one-smoothed token-bigram probabilities trained ON the
    * corpus, each doc scored by its mean log-prob. The bigram-count
    * model joins on the bigram key and STAYS on the shuffle (at 100 TB
    * it is corpus-sized — never broadcast); the unigram table carries
    * NO broadcast hint — it grows by Heaps' law with the corpus
    * (~1e8–1e9 rows at 100 TB web text), so the join strategy must be
    * AQE's runtime-stats call: broadcast while it measures small, a
    * shuffle join on `w1` once it doesn't, never a forced-broadcast
    * driver OOM (a hint would force it at ANY size). V is one row and
    * broadcasts by right. Per-doc log-prob sums go through
    * DECIMAL(28,12) — exact, order-independent — and ln() ulp drift is
    * invisible at round(·,4). Shared by q97 and q126's perplexity
    * bucketing. */
  private def bigramLogProb(s: SparkSession, d: String): DataFrame = {
    // NOT widened (r15 measurement): the three consumers (bigram
    // stream, model counts, scoring join) column-prune this head
    // differently, so a spread exchange is NOT reused across them —
    // the scan + tokenize + token-array shuffle ran once per consumer
    // and q97 went 1.5 → 3.9 s at sf0.1/local[32]. The single-task
    // explode passes are the cheaper evil here; at scale the scan has
    // real splits and the question is moot.
    val bg = bigramsOf(docs(s, d))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("nb"))
    val uni = docs(s, d).select(explode(col("tok")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("nw"))
    val v = uni.agg(count(lit(1)).as("vsz"))
    bg.join(bc, Seq("w1", "w2"))
      .join(uni.select(col("w").as("w1"), col("nw").as("n1")),
        Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr(
          "cast(ln((nb + 1) / cast(n1 + vsz as double)) as decimal(28,12))"))
          .as("lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(expr("cast(lp as double) / n_bigrams"), 4).as("avg_logp"))
  }

  /** (doc_id, hits_*, pred): the q40 stopword-profile language-ID
    * heuristic — map-only; shared by q40 and q134's confusion matrix. */
  private def langidOf(s: SparkSession, d: String): DataFrame = {
    val withHits = profiles.foldLeft(docs(s, d)) { case (df, (l, ws)) =>
      df.withColumn(s"hits_$l", expr(hitsExpr(ws)))
    }
    // `lang` (the labeled truth) rides along so q134's confusion
    // matrix needs no second corpus scan + doc-keyed join to recover
    // it; q40 projects it away
    withHits.select(col("doc_id"), col("lang"), col("hits_en"),
      col("hits_es"), col("hits_de"), col("hits_fr"),
      expr("""CASE
        WHEN hits_en >= hits_es AND hits_en >= hits_de
          AND hits_en >= hits_fr AND hits_en > 0 THEN 'en'
        WHEN hits_es >= hits_de AND hits_es >= hits_fr
          AND hits_es > 0 THEN 'es'
        WHEN hits_de >= hits_fr AND hits_de > 0 THEN 'de'
        WHEN hits_fr > 0 THEN 'fr' ELSE 'und' END""").as("pred"))
  }

  // per-language stopword profiles for the langid heuristic
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "es" -> Seq("el", "la", "de", "los", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  private def hitsExpr(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString(", ")
    s"cast(size(filter(tok, x -> array_contains(array($arr), x))) as bigint)"
  }

  /** Non-overlapping `width`-token chunk instances of a tokenized
    * documents frame — one row per (doc_id, p, chunk) plus the
    * (xxhash64, length) probe key (q77's hash convention). Pure
    * map-side explode, so it runs unchanged on an unbounded stream;
    * the ONE chunking definition SHARED by batch q114 and its
    * streaming twin (width 3 — dictionary and rewrite must agree) and
    * q77's chunk dedup (width 10), so a change to the explode shape
    * cannot fork the chunk universes. */
  def chunkedOf(docsDf: DataFrame, width: Int = 3): DataFrame =
    docsDf
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(tok) / $width.0) as int) - 1),
             i -> concat_ws(' ', slice(tok, i * $width + 1, $width)))"""))
        .as(Seq("p", "chunk")))
      .withColumn("ck", xxhash64(col("chunk")))
      .withColumn("clen", length(col("chunk")))

  /** Chunks reaching corpus frequency k — the boilerplate dictionary.
    * BOUNDED BY CONSTRUCTION (at most total_chunks/k rows can reach
    * frequency k), so it broadcasts batch-side and persists as small
    * static state stream-side. */
  def boilerDict(docsDf: DataFrame, k: Int = 3): DataFrame =
    chunkedOf(docsDf).groupBy("ck", "clen").agg(count(lit(1)).as("n"))
      .filter(col("n") >= k)
      .select(col("ck"), col("clen"), lit(true).as("boiler"))

  /** q141's trainer, factored so the greedy-merge semantics (the a=a
    * run parity rule in particular) can be pinned on hand-computable
    * corpora: `rounds` exact BPE merge rounds over the word-frequency
    * table of `documentsDf`, one output row per applied merge
    * (round, a, b, cnt, n_syms_after). A round whose vocabulary has no
    * pairs left emits no row. */
  private[graft] def bpeMerges(documentsDf: DataFrame,
      rounds: Int): DataFrame =
    bpeTrain(documentsDf, rounds)._1

  /** The trainer core: returns (merge report, final symbol table).
    * The symbol table — (w, wf, p, sym) after all merges, materialized
    * — is q142's input: per-word symbol counts under the learned
    * merges ARE the corpus tokenization (encoding distributes by the
    * same vocab trick as training: count symbols once per DISTINCT
    * word, join the corpus token stream against that). */
  private[graft] def bpeTrain(documentsDf: DataFrame,
      rounds: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // FULL raw token universe — no domain regex, no case folding.
    // Verbatim tokens are deliberate: engine Unicode case maps differ
    // (Java toLowerCase vs utf8proc — 'İ' is the classic divergence),
    // and real byte-level trainers (Sennrich/GPT-2 family) don't fold
    // either. The character unit is the CODE POINT on both engines
    // (Spark substring/length = UTF8String numChars; DuckDB w[i]/
    // length — verified on 2-, 3- and 4-byte UTF-8), and the greedy
    // tie-break's string order is binary UTF-8 = code-point order on
    // both. Only EMPTY tokens are excluded: a whitespace-only doc
    // tokenizes to [''] and Spark's sequence(1, 0) DESCENDS ([1,0] —
    // two phantom symbols) where DuckDB's range(1,1) is empty.
    val words = documentsDf
      .select(explode(expr(Dedup.TokExpr)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wf"))
    // NOT widened (r15 measurement): spreading the symbol stream to
    // session parallelism made every per-round window stage a 32-task
    // stage over ~10k rows/task, and the trainer's 9+ serial stages
    // paid fixed per-task overhead that exceeded the single-task
    // compute (q142 1.92 → 3.19 s, q143 2.99 → 3.99 s at sf0.1 —
    // reverted; the trainer's cost is its serial round structure, not
    // map parallelism, at fixture scale)
    var syms = graft.operators.Materialize.truncate(
      words.select(col("w"), col("wf"),
        posexplode(expr(
          "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
          .as(Seq("p", "sym"))))
    val byP = Window.partitionBy("w").orderBy("p")
    var out: DataFrame = null
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // wn feeds the pair count AND the merge application — one
      // narrow job instead of recomputing the lead() window twice
      val wn = graft.operators.Materialize.truncate(
        syms.withColumn("nxt", lead("sym", 1).over(byP)))
      val best = graft.operators.Materialize.truncate(
        wn.filter(col("nxt").isNotNull)
          .groupBy("sym", "nxt").agg(sum("wf").as("cnt"))
          .orderBy(col("cnt").desc, col("sym"), col("nxt")).limit(1)
          .select(col("sym").as("ba"), col("nxt").as("bb"), col("cnt")))
      if (best.isEmpty) {
        // a pairless round (every word already a single symbol): STOP
        // with syms unchanged. The old fall-through happened to stay
        // correct only via an unstated invariant — wn.crossJoin(empty
        // best) EMPTIES the symbol table, and bpeEncode's COALESCE
        // fallback then priced every word as OOV, exact only because
        // pairless ⟹ all words are single-symbol ⟹ … ⟹ fragile.
        // The explicit break makes the invariant structural: merge
        // rounds beyond vocabulary exhaustion are no-ops, the report
        // simply has fewer rows (its documented contract). isEmpty on
        // the materialized 1-row-max table is a limit-1 read, not a
        // corpus pass.
        exhausted = true
      } else {
        val flagged = wn.crossJoin(broadcast(best))
          .withColumn("matched", coalesce(
            col("sym") === col("ba") && col("nxt") === col("bb"),
            lit(false)))
          // islands of consecutive `ba` symbols: p minus the running
          // ba-count is constant inside a run, breaks outside it
          .withColumn("g", col("p") -
            sum(when(col("sym") === col("ba"), 1).otherwise(0))
              .over(byP.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("off", row_number().over(
            Window.partitionBy(col("w"), col("g"),
              col("sym") === col("ba")).orderBy("p")) - 1)
          .withColumn("take", col("matched") &&
            (col("ba") =!= col("bb") || col("off") % 2 === 0))
        syms = graft.operators.Materialize.truncate(flagged
          .withColumn("prevtake",
            coalesce(lag(col("take"), 1).over(byP), lit(false)))
          .filter(!col("prevtake"))
          .select(col("w"), col("wf"),
            (row_number().over(byP) - 1).as("p"),
            when(col("take"), concat(col("ba"), col("bb")))
              .otherwise(col("sym")).as("sym")))
        val nAfter = syms.agg(sum(col("wf")).cast("long")
          .as("n_syms_after"))
        val row = best.select(lit(r).cast("long").as("round"),
            col("ba").as("a"), col("bb").as("b"),
            col("cnt").cast("long").as("cnt"))
          .crossJoin(broadcast(nAfter))
        out = if (out == null) row else out.union(row)
      }
      r += 1
    }
    if (out == null) {
      // round 1 itself was pairless — an all-single-letter corpus.
      // Report schema must still hold (empty, not null).
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("round", LongType), StructField("a", StringType),
        StructField("b", StringType), StructField("cnt", LongType),
        StructField("n_syms_after", LongType)))
      val s = documentsDf.sparkSession
      (s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), syms)
    } else (out.orderBy("round"), syms)
  }

  /** Per-DISTINCT-word symbol counts under `rounds` learned merges —
    * q142's join side and the streaming twin's frozen serve state
    * (graft.streaming.StreamingDedup.bpeState). Grows by Heaps' law
    * with the training corpus, so it carries NO broadcast hint (see
    * [[bpeSymCost]]). */
  private[graft] def bpeVocab(documentsDf: DataFrame,
      rounds: Int): DataFrame =
    bpeTrain(documentsDf, rounds)._2
      .groupBy("w").agg(count(lit(1)).as("nsym"))

  /** Symbol cost of one token after the LEFT join against [[bpeVocab]]:
    * in-vocabulary words spend their learned symbol count; tokens the
    * trainer never saw (the training corpus covers the full raw token
    * universe, so at serve time that means genuinely UNSEEN words — a
    * different corpus, or the streaming twin's live traffic; plus the
    * zero-cost empty token) fall back to a CHARACTER
    * split — length(w) symbols, the real tokenizer's OOV behavior (a
    * flat 1 would undercount exactly the long/noisy tokens a billing
    * or packing pipeline cares most about). The ONE cost definition
    * shared by batch q142, the q143 packing composition, and the
    * streaming twin; the oracle mirrors it as
    * COALESCE(nsym, length(w)). */
  private[graft] def bpeSymCost: org.apache.spark.sql.Column =
    coalesce(col("nsym"), length(col("w")).cast("long"))

  /** q142's encoder: per-document (n_tokens, bpe_syms) under the
    * merges [[bpeTrain]] learns from the same corpus. The vocab join
    * is deliberately UN-hinted: the per-word symbol table is
    * corpus-derived (Heaps' law — several GB of distinct words at
    * 100 TB web text), so AQE must pick the strategy from measured
    * size — broadcast at fixture scale, a shuffle join on the word at
    * a scale where forcing the broadcast would OOM the driver. Still
    * never a per-token re-merge either way. */
  private[graft] def bpeEncode(documentsDf: DataFrame,
      rounds: Int): DataFrame =
    bpeTokenCosts(documentsDf, bpeVocab(documentsDf, rounds))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("syms")).as("bpe_syms"))
      .orderBy("doc_id")

  /** q146: per-LANGUAGE fertility/compression audit of the learned
    * tokenizer — the multilingual-tokenizer evaluation a data team
    * runs before committing a vocab: `syms_per_token` (fertility —
    * how many learned symbols the average whitespace token costs;
    * high fertility means the language is being fragmented and will
    * pay more context budget per word) and `chars_per_sym`
    * (compression rate — code points covered per symbol). Exact
    * integer tallies + [[graft.Det.dratio]] half-up quotients (the
    * q33 cross-engine mean discipline). Same plan class as q142: the
    * trained per-word table joins the corpus token stream un-hinted
    * (Heaps-law side — AQE chooses), one explode pass, then a
    * languages-bounded groupBy. */
  private[graft] def bpeFertility(docsDf: DataFrame,
      rounds: Int): DataFrame =
    docsDf.select(col("lang"), explode(expr(Dedup.TokExpr)).as("w"))
      // training excludes empty tokens, so fertility's denominator
      // must too: a whitespace-only doc otherwise contributes phantom
      // zero-cost tokens that deflate its language's syms_per_token
      // (r13 ADVICE; the oracle's toks CTE carries the same filter)
      .filter(length(col("w")) > 0)
      .join(bpeVocab(docsDf, rounds), Seq("w"), "left")
      .select(col("lang"), bpeSymCost.as("syms"),
        length(col("w")).cast("long").as("chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("syms")).as("n_syms"),
        sum(col("chars")).as("n_chars"),
        graft.Det.dratio(sum(col("syms")), count(lit(1)), 4)
          .as("syms_per_token"),
        graft.Det.dratio(sum(col("chars")), sum(col("syms")), 4)
          .as("chars_per_sym"))
      .orderBy("lang")

  /** (doc_id, syms): the token-level symbol-cost stream of `docsDf`
    * under a trained [[bpeVocab]] table — map-side explode + one
    * LEFT join, no state, so it runs unchanged on an unbounded stream
    * (the streaming twin's whole body; per-doc aggregation is the
    * sink's job there, q114-boilerplate precedent). */
  private[graft] def bpeTokenCosts(docsDf: DataFrame,
      vocab: DataFrame): DataFrame =
    docsDf.select(col("doc_id"), explode(expr(Dedup.TokExpr)).as("w"))
      .join(vocab, Seq("w"), "left")
      .select(col("doc_id"), bpeSymCost.as("syms"))

  val queries: Map[String, Q] = Map(
    // q32: exact dedup by content hash, keep min doc_id
    "q32_exact_dedup" -> ((s, d) =>
      Tables.load(s, d, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
        .orderBy("h")),

    // q33: per-language corpus stats. Means via Det.davg (exact
    // scaled-integer half-up quotient) — round(avg(int),4) is the q13
    // tie-bomb class: safe on today's fixture (n_docs divides 10^4)
    // but one regeneration away from a 5th-decimal half-tie where the
    // engines round opposite ways.
    "q33_text_stats" -> ((s, d) =>
      docs(s, d)
        .select(col("lang"), size(col("tok")).as("ntok"), col("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          graft.Det.davg(col("ntok"), 0).as("avg_tokens"),
          graft.Det.davg(col("n_chars"), 0).as("avg_chars"))
        .orderBy("lang")),

    // q33t: top-20 terms by frequency
    "q33_top_terms" -> ((s, d) =>
      docs(s, d)
        .select(explode(col("tok")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
        .limit(20)),

    // q40: language-ID via stopword-profile hit counts (deterministic
    // n-gram-style heuristic; ties broken in profile order)
    "q40_langid" -> ((s, d) =>
      langidOf(s, d).drop("lang").orderBy("doc_id")),

    // q134: langid confusion matrix — the EVAL op for q40's heuristic
    // (every classifier in a curation pipeline needs its quality
    // measured on labeled data): predicted-vs-actual cell counts with
    // per-actual recall share in integer bp. langidOf carries the
    // labeled lang through, so this is ONE corpus scan feeding a
    // language-bounded aggregate — no second scan, no doc-keyed join;
    // the per-actual totals table is tiny and broadcasts.
    "q134_langid_confusion" -> ((s, d) => {
      val m = langidOf(s, d)
        .groupBy(col("lang").as("actual"), col("pred"))
        .agg(count(lit(1)).as("n"))
      val tot = m.groupBy("actual").agg(sum("n").as("tot"))
      m.join(broadcast(tot), Seq("actual"))
        .select(col("actual"), col("pred"), col("n"),
          expr("(n * 10000) div tot").as("row_bp"))
        .orderBy("actual", "pred")
    }),

    // q41: document quality scoring (length / punctuation / stopword
    // ratios). Per-row rationals via Det.dratio (exact long-arithmetic
    // half-up quotient) — same tie-bomb class as q13/q33's means, but
    // PER ROW, so one regenerated doc whose n/m shortest-repr ends in
    // a half-tie would flip the whole hash. dratio also pins den = 0
    // to NULL on both engines (empty doc: Spark double 0/0 is NaN,
    // DuckDB's differs — neither is a contract).
    "q41_quality" -> ((s, d) =>
      docs(s, d)
        .withColumn("hits_en", expr(hitsExpr(profiles.head._2)))
        .select(col("doc_id"),
          size(col("tok")).cast("long").as("n_tokens"),
          // sum of token lengths == length of the zero-separator join —
          // a codegen'd builtin; the aggregate/transform HOF chain this
          // replaces was CodegenFallback (interpreted per token)
          graft.Det.dratio(length(array_join(col("tok"), "")),
            size(col("tok")), 4).as("avg_tok_len"),
          graft.Det.dratio(
            length(regexp_replace(col("text"), PunctKeepClass, "")),
            length(col("text")), 6).as("punct_ratio"),
          graft.Det.dratio(col("hits_en"), size(col("tok")), 6)
            .as("stop_ratio"))
        .orderBy("doc_id")),

    // q42: token counting — whitespace and a BPE-ish regex tokenizer
    "q42_token_count" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        size(col("tok")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit(BpeTokenRegex))
          .cast("long").as("bpe_tokens"),
        col("n_chars"))
        .orderBy("doc_id")),

    // q141: distributed BPE MERGE TRAINING — the tokenizer-training
    // inner loop no other entry covers: 3 exact merge rounds over the
    // WORD-FREQUENCY table (the classic trainer's working set — pair
    // statistics are identical on the frequency table and on the raw
    // token stream, so the only corpus-scale pass is the one token
    // count; everything after is vocab-bounded, the q50 Lloyd-rounds
    // pattern applied to text). Each round: (1) adjacent-symbol pair
    // counts weighted by word frequency — one window + one shuffle on
    // the pair key; (2) the argmax pair by (count desc, pair asc), a
    // deterministic TakeOrdered; (3) GREEDY left-to-right merge
    // application, relationally: for a≠b pairs adjacent matches cannot
    // overlap, and for a=a runs a gaps-and-islands parity rule keeps
    // matches at even offsets — exactly the sequential greedy result,
    // with no recursion and no UDF. Per-round tables are materialized
    // (two consumers each: the next round + the merge report).
    // Training covers the FULL raw token universe (no domain regex,
    // no case fold — a real byte-level trainer's behavior); character
    // indexing stays engine-portable because both engines split and
    // measure by CODE POINT and tie-break in binary UTF-8 order (the
    // bpeTrain scaladoc pins this, TextSimilaritySpec exercises
    // mixed-case/punctuated/accented corpora). Output: one row per
    // round — the merge pair, its weighted count, and the post-merge
    // corpus symbol total (the compression trajectory a trainer
    // reports).
    "q141_bpe_merges" -> ((s, d) =>
      bpeMerges(Tables.load(s, d, "documents"), 3)),

    // q142: BPE ENCODE under the learned merges — the other half of the
    // tokenizer story (q141 trains, this tokenizes): per-document token
    // counts under the 3-merge vocabulary, which is what a pipeline
    // actually bills against (q42's bpe_tokens is a regex PROXY; this
    // is the exact count under the real learned tokenizer). Encoding
    // distributes by the same vocab trick as training: symbols are
    // counted once per DISTINCT word (the trained symbol table is
    // already exactly that), and the corpus token stream joins against
    // the per-word counts with NO broadcast hint — the table is
    // Heaps-law corpus-derived, so AQE picks broadcast at fixture
    // scale and a shuffle join on the word at a scale where the
    // forced broadcast would OOM; either way never a per-token
    // re-merge. Tokens the trainer never saw (here: only the empty
    // token, since training spans the full raw token universe of the
    // same corpus) fall back to a CHARACTER split — length(w)
    // symbols, the real tokenizer's OOV behavior (bpeSymCost;
    // mirrored in the oracle's COALESCE).
    "q142_bpe_encode" -> ((s, d) =>
      bpeEncode(Tables.load(s, d, "documents"), 3)),

    // q143: the chunk→tokenize→pack COMPOSITION a pretraining pipeline
    // actually runs — q75's GPT-style pack-then-chunk shape driven by
    // q142's EXACT learned-tokenizer counts instead of q42's regex
    // proxy (the counts a packer must bill against are the ones the
    // trained tokenizer will produce). bpeEncode's per-doc totals feed
    // operators/PrefixAgg's two-phase blocked prefix sum (exclusive:
    // symbols BEFORE the doc), each doc lands in the 1024-symbol
    // context window where it STARTS. The totals table is MATERIALIZED
    // first: PrefixAgg reads it twice (block aggregate + row join) and
    // as lazy lineage each consumer would replay the whole
    // train-and-encode pipeline — a second corpus-scale pass, the
    // exact q50/q126 class of leak (the pre-fix digest showed Scan
    // parquet x2 / Generate x2). Checkpointed, the packing side costs
    // one prefix-sum over the doc-count-sized totals.
    // q146: tokenizer fertility/compression by language — see
    // bpeFertility. The number a multilingual curation pipeline reads
    // before mixing: a language with outsized syms_per_token is being
    // fragmented by the learned vocab and will burn context budget.
    "q146_bpe_fertility" -> ((s, d) =>
      bpeFertility(Tables.load(s, d, "documents"), 3)),

    "q143_bpe_packing" -> ((s, d) =>
      graft.operators.PrefixAgg
        .runningSum(
          graft.operators.Materialize.truncate(
            bpeEncode(Tables.load(s, d, "documents"), 3)
              .select(col("doc_id"), col("bpe_syms").as("n_sym"))),
          "doc_id", "n_sym", "before", blockSize = 1024,
          inclusive = false)
        .withColumn("bin", expr("before div 1024L"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_sym").as("syms"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("bin")),

    // q62: exact dedup, window formulation (the alternative shape from
    // SURVEY §2-B q32: keep rank-1 per content hash instead of group-min)
    "q62_dedup_window" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("h").orderBy("doc_id")
      Tables.load(s, d, "documents")
        .withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("h"))
        .orderBy("doc_id")
    }),

    // q64: ordered group concatenation (string_agg / listagg)
    "q64_string_agg" -> ((s, d) =>
      Tables.load(s, d, "customer")
        .filter(col("c_custkey") < 100)
        .groupBy("c_mktsegment")
        .agg(concat_ws(",", expr(
          // numeric sort BEFORE casting to string, matching the oracle's
          // ORDER BY c_custkey ("10" < "2" lexically would diverge)
          "transform(sort_array(collect_list(c_custkey)), x -> cast(x as string))"))
          .as("keys"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")),

    // q65: conditional + boolean aggregates (count_if / every / any)
    "q65_bool_agg" -> ((s, d) =>
      Tables.load(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("count_if(o_totalprice > 200000)").as("n_big"),
          expr("every(o_totalprice > 0)").as("all_pos"),
          expr("any(o_orderstatus = 'P')").as("has_pending"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // q45: flagship training-data curation — the LLM-pipeline ops
    // composed end to end: quality filter (length + punctuation ratio)
    // -> exact dedup (md5, keep min doc_id) -> near-dup removal (3-gram
    // jaccard >= 0.5, keep the lowest doc_id of each pair). Every stage
    // is SQL-expressible, so the whole composition has a DuckDB oracle.
    "q45_curation" -> ((s, d) => {
      // NOT widened (r15 measurement): fd's two consumers prune this
      // head differently (the documented right trade), so a spread
      // exchange duplicates the text+tok shuffle under each — measured
      // dead flat (4.46 → 4.30 s, within host noise) for +2 Exchange;
      // the shingle side already spreads inside jaccardPairsOf
      val q = docs(s, d)
        .withColumn("nt", size(col("tok")))
        .withColumn("pr",
          length(regexp_replace(col("text"), PunctKeepClass, ""))
          / length(col("text")))
      val f = q.filter(col("nt") >= 30 && col("pr") <= 0.1)
      // exact dedup via rank-1-per-hash (the q62 shape) instead of
      // agg-then-semi-join: the agg+join formulation cost three scans of
      // documents; this costs two (the shingle pipeline and the final
      // anti-join left re-derive fd with DIFFERENT pruned schemas, which
      // is the right trade — forcing one shared subtree would read the
      // union of columns in both). The expensive shingle-group exchange
      // is still executed once via AQE stage reuse (PlanSpec).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("h").orderBy("doc_id")
      val fd = f.withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("h", "rn")
      val nearDupDrop = graft.queries.Dedup.jaccardPairsOf(fd, 0.5)
        .select(col("b_id").as("doc_id")).distinct()
      fd.join(nearDupDrop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("nt").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // q70: intra-document repetition (Gopher-style quality signal) —
    // the fraction of 3-grams that are duplicates WITHIN the doc. Pure
    // map-side; emitted as floored basis points (integer arithmetic)
    // because (n3-d3)/n3 is a small-denominator rational that can land
    // exactly on a rounding tie where Spark and DuckDB disagree.
    "q70_repetition" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"),
          greatest(size(col("tok")) - 2, lit(0)).cast("long").as("n3"),
          // total 3-grams minus DISTINCT 3-grams (native Shingles3 —
          // the count doesn't need the non-distinct list materialized)
          size(expr("shingles3(tok)")).cast("long").as("d3"))
        .withColumn("dup_bp",
          when(col("n3") > 0,
            expr("((n3 - d3) * 10000) div n3")).otherwise(lit(0L)))
        .orderBy("doc_id")
    }),

    // q74: heavy hitters via Misra–Gries sketch + exact re-count of the
    // candidate set. At 100 TB the exact q33-style top-terms shuffles
    // the whole term universe; here the MG aggregator keeps O(k)
    // mergeable counters per partition, and the exact re-count pass is
    // semi-join-restricted to <= k candidate terms, so the second
    // shuffle is tiny. Output is the exact top-10 — deterministic and
    // hash-oracled because every term with true frequency > n/(k+1) is
    // guaranteed in the candidate set (the fixture vocabulary is far
    // below k = 50, so candidates cover every term).
    "q74_heavy_hitters" -> ((s, d) => {
      val mg = udaf(new graft.functions.MisraGries(50),
        org.apache.spark.sql.Encoders.STRING)
      val terms = docs(s, d).select(explode(col("tok")).as("term"))
      val cand = terms.agg(mg(col("term")).as("sketch"))
        .select(explode(col("sketch")).as(Seq("term", "est")))
        .select("term")
      terms.join(broadcast(cand), Seq("term"), "left_semi")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
        .limit(10)
    }),

    // q75: sequence packing — documents concatenated in doc_id order
    // and cut into fixed 1024-token context windows; each doc is
    // assigned to the window where it STARTS (bin = tokens-before-doc
    // div budget), the GPT-style pack-then-chunk shape. The global
    // running total comes from operators/PrefixAgg — the two-phase
    // blocked prefix sum (exclusive: tokens BEFORE the doc) — because
    // the naive global-order window is a single task (the 100 TB
    // killer). blockSize 1024 is in doc_id units: ids are dense, so
    // each block carries ~1024 docs. size(tok) >= 1 always (split of a
    // trimmed string yields at least one element), so the cumulative
    // sum is total.
    "q75_token_packing" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        size(col("tok")).cast("long").as("n_tok"))
      graft.operators.PrefixAgg
        .runningSum(toks, "doc_id", "n_tok", "before",
          blockSize = 1024, inclusive = false)
        .withColumn("bin", expr("before div 1024L"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("bin")
    }),

    // q77: corpus-level chunk dedup — the line/paragraph-dedup stage of
    // web-corpus curation, on fixed 10-token chunks (the synthetic text
    // has no line structure): a chunk instance survives iff it is the
    // corpus-wide FIRST occurrence (min (doc_id, position)), then docs
    // are reconstructed from their surviving chunks in order.
    //
    // Keep-first is min(struct(doc_id, p, chunk)) per chunk — an
    // AGGREGATE, not a row_number window: partial aggregation collapses
    // a billion-way repeated boilerplate chunk to one row per map
    // partition before the exchange, where the window formulation would
    // shuffle + sort every instance into a single reducer task (the
    // q17-argmax-vs-window lesson). The shuffle key is
    // (xxhash64(chunk), length(chunk)) (~24 B/row, not the ~40-byte
    // string — jaccardPairsOf's convention; the length component means a
    // collision needs BOTH a 64-bit hash collision AND equal lengths,
    // pushing the corpus-wide false-merge odds well below the bare
    // ~n²/2^65 — the DuckDB twin groups by the string itself).
    // (doc_id, p) is unique per instance,
    // so the struct min is total-order deterministic and the winning
    // chunk string rides along. One shuffle on the chunk hash + one on
    // doc_id (reconstruction) — both linear in corpus size. Docs whose
    // every chunk appeared earlier elsewhere vanish, like
    // boilerplate-only pages. sequence(0, ceil(size/10) - 1) is safe:
    // size(tok) >= 1.
    "q77_chunk_dedup" -> ((s, d) =>
      chunkedOf(docs(s, d), width = 10)
        .groupBy(col("ck"), col("clen"))
        .agg(min(struct(col("doc_id"), col("p"), col("chunk"))).as("f"))
        .select(col("f.doc_id").as("doc_id"), col("f.p").as("p"),
          col("f.chunk").as("chunk"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(p, chunk))), x -> x.chunk)"))
            .as("clean_text"))
        .orderBy("doc_id")),

    // q80: deterministic mixture sampling — the train-mix construction
    // step: each language is downsampled at its own rate, with the
    // keep/drop decision a pure function of the CONTENT hash (hash60 %
    // 100 < rate), so the sample is reproducible across runs, engines
    // and repartitions — no RNG, no seed plumbing, and exact duplicates
    // always land on the same side. Map-only + one tiny per-lang agg.
    "q80_mixture_sample" -> ((s, d) => {
      Tables.load(s, d, "documents")
        .withColumn("keep", expr(
          """hash60(text) % 100 < CASE lang
               WHEN 'en' THEN 100 WHEN 'es' THEN 50
               WHEN 'de' THEN 25 ELSE 10 END"""))
        .groupBy("lang")
        .agg(count(lit(1)).as("total"),
          expr("count_if(keep)").as("kept"))
        .withColumn("kept_bp", expr("(kept * 10000) div total"))
        .orderBy("lang")
    }),

    // q43: order-sensitive document fingerprint (rolling polynomial hash
    // over per-token codes — a map-only, shuffle-free fold)
    "q43_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        expr("""aggregate(
            transform(tok, t -> cast(length(t) * 17 + ascii(substring(t, 1, 1)) as bigint)),
            cast(0 as bigint),
            (a, x) -> (a * 31 + x) % 1000000007)""").as("fp"),
        size(col("tok")).cast("long").as("ntok"))
        .orderBy("doc_id")),

    // q85: bigram collocation strength (Dice coefficient) — the
    // PMI-family collocation measure, in INTEGER arithmetic only:
    // dice_bp = 20000*n(w1,w2) div (n(w1)+n(w2)) ranks the same pairs
    // PMI would surface without any cross-engine log()/double drift.
    // Bigram and unigram counts are both two-phase hash aggregates
    // (map-side combine collapses repeats before the exchange), and the
    // unigram table grows by Heaps' law with the corpus, so its joins
    // carry NO broadcast hint — AQE broadcasts while it measures small
    // and falls back to a shuffle join on the word once it doesn't (a
    // hint would force the broadcast at ANY size; several GB of
    // distinct words at 100 TB web text = a driver OOM).
    "q85_bigram_dice" -> ((s, d) => {
      // the ONE bigram definition (bigramsOf) shared with the q97 LM
      // and q127's DSIR weights — a window/indexing fix there cannot
      // silently diverge from this ranking
      val big = bigramsOf(docs(s, d))
        .groupBy("w1", "w2").agg(count(lit(1)).as("nb"))
      val uni = docs(s, d).select(explode(col("tok")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nw"))
      big
        .join(uni.select(col("w").as("w1"), col("nw").as("n1")),
          Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("nw").as("n2")),
          Seq("w2"))
        .filter(col("nb") >= 5)
        .select(col("w1"), col("w2"), col("nb"),
          expr("(20000 * nb) div (n1 + n2)").as("dice_bp"))
        .orderBy(col("dice_bp").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // q86: per-language vocabulary statistics — vocab size, hapax count
    // (terms seen exactly once: the OOV/noise signal curation dashboards
    // watch), total tokens, and type-token ratio in basis points. Two
    // stacked hash aggregates; intermediate state is vocabulary-bounded
    // per language, never corpus-sized.
    "q86_vocab_stats" -> ((s, d) =>
      docs(s, d).select(col("lang"), explode(col("tok")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("vocab"),
          expr("count_if(cnt = 1)").as("hapax"),
          sum("cnt").as("tokens"))
        .withColumn("ttr_bp", expr("(vocab * 10000) div tokens"))
        .orderBy("lang")),

    // q92: deterministic per-stratum k-sample — reproducible corpus
    // subsampling: within each language keep the k=20 docs with the
    // smallest content-hash prefix, a uniform draw that every engine,
    // run, and partitioning reproduces bit-for-bit and that stays
    // stable under corpus append (a doc's key never changes). The sort
    // key is the first 13 hex chars of md5(text) = 52 bits — EXACT in
    // a double, so TopKAgg (O(k) state, map-side partials — no
    // per-stratum full sort) ranks identically to the oracle's
    // fixed-width hex string order; a 52-bit prefix tie (~n²/2^53 per
    // stratum) would break on doc_id in both engines alike.
    "q92_strata_sample" -> ((s, d) => {
      val topk = udaf(new graft.functions.TopKAgg(20),
        org.apache.spark.sql.Encoders.product[graft.functions.TopKEntry])
      Tables.load(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          expr("-cast(conv(substr(md5(text), 1, 13), 16, 10) as double)")
            .as("v"))
        .groupBy("lang")
        .agg(topk(col("v"), col("doc_id")).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rn"),
          col("col.id").as("doc_id"))
        .orderBy("lang", "rn")
    }),

    // q121: WEIGHTED sampling without replacement — importance sampling
    // by a quality proxy (weight = n_chars), the knob between q92's
    // uniform strata samples and q80's fixed per-lang rates. The
    // Efraimidis–Spirakis key ln(u)/w (order-equivalent to the textbook
    // u^(1/w), minus the cross-engine pow() risk) makes "keep the
    // top-k keys" EXACTLY a weighted draw; u is the q92 52-bit md5
    // prefix (+1 so ln never sees 0), so the sample is a pure content
    // function — reproducible across runs/engines/partitionings and
    // stable under append, and the scan stays map-side feeding ONE
    // TakeOrdered (no shuffle, no global sort, no RNG state). Ranked
    // on the exact double key (identical expression tree both
    // engines), doc_id tie-break; rounded only for display.
    "q121_weighted_sample" -> ((s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("""ln((cast(conv(substr(md5(text), 1, 13), 16, 10)
                    as double) + 1e0) / 4503599627370496e0)
                  / greatest(n_chars, 1)""").as("skey"))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(25)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("skey"), 8).as("skey"))),

    // q95: per-language unigram (token) entropy — the corpus-diversity
    // signal next to q86's type-token ratio: H = ln(N) − (Σ c·ln c)/N
    // nats over the language's token distribution. Two stacked hash
    // aggregates (vocabulary-bounded state). Each Σ term is cast to
    // DECIMAL(28,12) so the cross-partition sum is exact and
    // order-independent (a raw double sum re-associates run to run),
    // and the engines' ≤1-ulp ln() drift is ~1e-12 per term —
    // invisible at round(·,4).
    "q95_token_entropy" -> ((s, d) =>
      docs(s, d).select(col("lang"), explode(col("tok")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(count(lit(1)).as("vocab"), sum("c").as("n"),
          sum(expr("cast(c * ln(c) as decimal(28,12))")).as("clc"))
        .select(col("lang"), col("vocab"), col("n"),
          round(expr("ln(n) - cast(clc as double) / n"), 4).as("entropy"))
        .orderBy("lang")),

    // q97: bigram language-model quality score — the KenLM-style
    // perplexity filter: train add-one-smoothed token-bigram
    // probabilities ON the corpus, then score every document by its
    // mean log-probability, avg over doc bigrams of
    // ln((C(w1,w2)+1)/(C(w1)+V)). The bigram-count model is joined on
    // the bigram key and STAYS on the shuffle (at 100 TB it is
    // corpus-sized — never broadcast); the unigram table is
    // vocabulary-bounded and broadcasts; V is one row. Per-doc log-prob
    // sums go through DECIMAL(28,12) — exact, order-independent — and
    // ln() ulp drift is invisible at round(·,4).
    "q97_bigram_lm" -> ((s, d) => bigramLogProb(s, d).orderBy("doc_id")),

    // q126: CCNet-style perplexity buckets — the corpus-curation step
    // downstream of q97's LM score: split docs into head/middle/tail
    // LM-quality tertiles (head = highest avg log-prob = lowest
    // perplexity; CCNet trains on head+middle and drops tail). The
    // tertile cutpoints come from the q88 value-domain-bounded cume
    // trick: scores are 4-decimal-quantized, so the distinct-score
    // table is DOMAIN-bounded (~1e5 rows whatever the corpus size) and
    // the single-task cume window runs over THAT, never over docs.
    // Cut selection is pure integer arithmetic (3·run >= tot /
    // 3·run >= 2·tot — no FP ratio to disagree on); cutpoints are
    // ACTUAL data values broadcast as ONE row; binning is a map-side
    // exact-double compare.
    "q126_perplexity_buckets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // TWO consumers (the cutpoint derivation and the final binning)
      // read the doc-level score table — materialize it once or the
      // whole bigram-LM pipeline runs twice (measured 2.6 s -> 1.7 s)
      val lp = graft.operators.Materialize.truncate(bigramLogProb(s, d))
      val vc = lp.groupBy("avg_logp").agg(count(lit(1)).as("cnt"))
      val cume = vc
        .withColumn("run", sum(col("cnt")).over(Window.orderBy("avg_logp")
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("tot", sum(col("cnt")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      val cut = cume.agg(
        min(when(col("run") * 3 >= col("tot"), col("avg_logp"))).as("c1"),
        min(when(col("run") * 3 >= col("tot") * 2, col("avg_logp")))
          .as("c2"))
      lp.crossJoin(broadcast(cut))
        .select(col("avg_logp"), expr(
          """CASE WHEN avg_logp <= c1 THEN 'tail'
                  WHEN avg_logp <= c2 THEN 'middle'
                  ELSE 'head' END""").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("avg_logp").as("min_lp"), max("avg_logp").as("max_lp"))
        .orderBy("bucket")
    }),

    // q127: DSIR-style importance weights — domain-targeted data
    // selection (Xie et al.'s Data Selection via Importance Resampling,
    // simplified to bigram LMs): train a TARGET model on the target
    // domain (lang = 'en' here) and a RAW model on the whole corpus,
    // weight every doc by its mean per-bigram log-likelihood RATIO
    // log p_t − p_raw, and keep the top-50 most target-like docs (the
    // resampling candidate pool q121-style samplers draw from). The
    // raw model joins stay on the shuffle (corpus-sized at 100 TB);
    // the unigram tables are Heaps-law corpus-derived and carry NO
    // broadcast hint (AQE's call — see q85); both V scalars broadcast
    // (1-row). Target-model misses smooth to the add-one floor via LEFT
    // join + coalesce(·, 0) — the same ln((0+1)/(0+V)) both engines.
    // Per-doc sums in DECIMAL(28,12); ranking on the rounded mean with
    // doc_id tie-break (the q34 convention).
    "q127_dsir_weights" -> ((s, d) => {
      // NOT widened (r15): the bigramLogProb differently-pruned-
      // consumers measurement applies verbatim (1.7 → 2.5 s widened)
      val all = docs(s, d)
      val bg = bigramsOf(all)
      val bcR = bg.groupBy("w1", "w2").agg(count(lit(1)).as("nbr"))
      val uniR = all.select(explode(col("tok")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nwr"))
      val vR = uniR.agg(count(lit(1)).as("vr"))
      val tgt = all.filter(col("lang") === "en")
      val bcT = bigramsOf(tgt).groupBy("w1", "w2")
        .agg(count(lit(1)).as("nbt"))
      val uniT = tgt.select(explode(col("tok")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nwt"))
      val vT = uniT.agg(count(lit(1)).as("vt"))
      bg.join(bcR, Seq("w1", "w2"))
        .join(uniR.select(col("w").as("w1"), col("nwr")),
          Seq("w1"))
        .join(bcT, Seq("w1", "w2"), "left")
        .join(uniT.select(col("w").as("w1"), col("nwt")),
          Seq("w1"), "left")
        .crossJoin(broadcast(vR)).crossJoin(broadcast(vT))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr(
            """cast(ln((coalesce(nbt, 0) + 1)
                     / cast(coalesce(nwt, 0) + vt as double))
                 - ln((nbr + 1) / cast(nwr + vr as double))
               as decimal(28,12))""")).as("lw"))
        .select(col("doc_id"), col("n_bigrams"),
          round(expr("cast(lw as double) / n_bigrams"), 4).as("logw"))
        .orderBy(col("logw").desc, col("doc_id"))
        .limit(50)
    }),

    // q128: PMI collocations — the classic phrase-mining signal
    // (Church & Hanks): pmi(w1,w2) = ln(P(w1,w2) / (P(w1)·P(w2))) over
    // consecutive-token bigrams, min support 5, top-20. Computed as a
    // SUM OF LOGS (ln nb + 2·ln NT − ln NB − ln n1 − ln n2) — the
    // integer-product form overflows BIGINT at corpus scale (NT² alone
    // at 1e14 tokens). Same identical-IEEE-tree + rounded-ranking
    // discipline as q95/q34: each ln drifts <= 1 ulp, invisible at
    // round(·,4), and the (w1, w2) tie-break pins the cut. Counts
    // shuffle once; the unigram tables are Heaps-law corpus-derived
    // and carry NO broadcast hint (AQE's call — see q85); totals
    // are 1-row crosses.
    "q128_pmi_collocations" -> ((s, d) => {
      val all = docs(s, d)
      val bc = bigramsOf(all).groupBy("w1", "w2")
        .agg(count(lit(1)).as("nb"))
      val nbTot = bc.agg(sum("nb").as("nbt"))
      val uni = all.select(explode(col("tok")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nw"))
      val ntTot = uni.agg(sum("nw").as("ntt"))
      bc.filter(col("nb") >= 5)
        .join(uni.select(col("w").as("w1"), col("nw").as("n1")),
          Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("nw").as("n2")),
          Seq("w2"))
        .crossJoin(broadcast(nbTot)).crossJoin(broadcast(ntTot))
        .select(col("w1"), col("w2"), col("nb"),
          round(expr(
            """ln(cast(nb as double)) + 2 * ln(cast(ntt as double))
               - ln(cast(nbt as double)) - ln(cast(n1 as double))
               - ln(cast(n2 as double))"""), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // q98: normalization-aware exact dedup — the practical first pass
    // of web-corpus cleaning: case, punctuation, and whitespace-run
    // differences should not defeat exact dedup. normalize = strip
    // non-alphanumerics (keeping spaces), collapse space runs, trim,
    // lowercase; then the q32 keep-min-doc_id grouping on
    // md5(normalized). Map-only projection + one hash aggregate; the
    // character classes used behave identically in Java regex and RE2
    // (DuckDB needs the 'g' flag — its regexp_replace is first-match
    // by default where Spark's is global).
    "q98_normalized_dedup" -> ((s, d) =>
      Tables.load(s, d, "documents")
        .withColumn("norm", expr(
          """lower(trim(regexp_replace(
               regexp_replace(text, '[^A-Za-z0-9 ]', ''), ' +', ' ')))"""))
        .groupBy(md5(col("norm")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
        .orderBy("h")),

    // q100: the dataset card — the one-row corpus summary a corpus
    // release ships (and the cheap first look at any new 100 TB drop):
    // doc / exact-dup / language / source counts, token volume, and
    // length stats, from ONE scan and one global aggregate. The only
    // Expand-widened aggregates are the distincts; everything else is
    // map-side partial. avg length is floored integer division —
    // tie-free across engines by construction.
    "q100_data_card" -> ((s, d) =>
      docs(s, d).agg(
        count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct(md5(col("text"))))
          .as("n_exact_dup"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(size(col("tok"))).cast("long").as("total_tokens"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        expr("sum(n_chars) div count(1)").as("avg_chars_floor"))),

    // q101: RAG-style overlapping chunking — 128-token windows on a
    // 96-token stride (32-token overlap, so no retrieval boundary cuts
    // a fact in half), each chunk addressed by (doc, index, start) and
    // content-hashed for downstream dedup/indexing. Entirely map-side:
    // one transform+posexplode per document, no shuffle until the
    // caller aggregates (which is also why the same builder runs
    // unchanged on an unbounded stream — StreamingSpec pins parity).
    // Spark slice() takes (start, LENGTH) while DuckDB list_slice
    // takes an INCLUSIVE end index — the oracle's +128 end is the same
    // 128-element window.
    "q101_rag_chunks" -> ((s, d) =>
      ragChunksOf(docs(s, d)).orderBy("doc_id", "chunk_idx")),

    // q114: C4/RefinedWeb-style boilerplate-SPAN removal — the corpus-
    // frequency twin of q77's keep-first dedup: a chunk whose corpus-
    // wide frequency reaches k is boilerplate (nav bars, cookie
    // banners, license headers) and is removed from EVERY document,
    // not kept once. The scale contract is the dictionary bound: at
    // most total_chunks/k chunks can reach frequency k, so the
    // frequent-chunk dictionary is BOUNDED BY CONSTRUCTION and ships
    // as a broadcast — the rewrite pass probes it map-side and chunk
    // instances shuffle exactly twice corpus-wide (once to count, with
    // map-side partial aggregation collapsing the very repeats we're
    // hunting; once on doc_id to reassemble survivors in order). Probe
    // keys are (xxhash64, length) — q77's convention: a false removal
    // needs a 64-bit collision AND equal lengths; the DuckDB twin
    // groups by the chunk string itself. 3-token chunks and k=3 keep
    // the fixture non-degenerate; production would raise both.
    // Builders are shared with the STATELESS streaming twin
    // (streaming/StreamingDedup.boilerplateStripNew).
    "q114_boilerplate_strip" -> ((s, d) => {
      // one docs() binding for both sides: probe and dictionary must
      // tokenize/chunk identically, and a one-sided edit would fork
      // the chunk universes silently
      val dd = docs(s, d)
      val ch = chunkedOf(dd)
      ch.join(broadcast(boilerDict(dd)), Seq("ck", "clen"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          count(col("boiler")).as("n_removed"),
          concat_ws(" ", expr(
            """transform(
                 array_sort(collect_list(
                   CASE WHEN boiler IS NULL THEN struct(p, chunk) END)),
                 x -> x.chunk)""")).as("clean_text"))
        .orderBy("doc_id")
    }),

    // q152: PII scrub over the deterministic injected corpus (the q147
    // formula-corpus discipline: the fixture text carries zero '@' and
    // zero digits, so injected spans are the ONLY signal and every raw
    // document doubles as a false-positive control). Injection is pure
    // integer/CASE arithmetic on doc_id — email with rotating TLD and
    // a trailing-dot boundary case every 4th doc, phone on odd ids, IP
    // on multiples of 7, position alternating prefix/suffix, and every
    // 5th doc left untouched — replayed verbatim by the oracle. The
    // scrub itself ([[piiScrub]]) is one codegen'd map pass; the only
    // exchange is the presentation sort (PlanSpec pin).
    "q152_pii_scrub" -> ((s, d) =>
      piiScrubbed(Tables.load(s, d, "documents")).orderBy("doc_id"))
  )

  /** q152's whole body minus the presentation sort, factored so the
    * streaming parity test runs the IDENTICAL builder on an unbounded
    * docs stream (the ragChunksOf precedent — map-only, so the batch
    * code IS the twin). */
  private[graft] def piiScrubbed(documents: DataFrame): DataFrame = {
    // widen (r15): the three-detector regexp pass is evaluated TWICE
    // over the corpus (the presentation orderBy's range-bounds sampling
    // pass + the real pass), both previously on the single-row-group
    // scan's one task (2 × ~0.5 s single-core of the 1.3 s wall).
    // Streaming frames pass through widen untouched, so the builder
    // stays the streaming twin verbatim; at scale widen no-ops and the
    // plan is the pinned map-pass + sort.
    val inj = graft.operators.Parallelism
      .widen(documents, col("doc_id")).select(col("doc_id"),
      when(col("doc_id") % 5 === 0, col("text"))
        .when(col("doc_id") % 2 === 0,
          concat(piiSpan, lit(" "), col("text")))
        .otherwise(concat(col("text"), lit(" "), piiSpan)).as("txt"))
    piiScrub(inj, "txt")
      .select(col("doc_id"), col("email_n").cast("long"),
        col("phone_n").cast("long"), col("ip_n").cast("long"),
        md5(col("clean")).as("clean_md5"),
        length(col("clean")).cast("long").as("clean_len"))
  }

  /** The q152 injected-PII span: concat_ws drops the NULL-valued CASE
    * branches in BOTH engines, so absent pieces vanish instead of
    * nulling the whole span. Kept as a Column so the query reads like
    * its oracle. */
  private def piiSpan =
    concat_ws(" ",
      concat(lit("reach user"), col("doc_id").cast("string"),
        lit("@example."),
        expr("CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' " +
          "ELSE 'net' END"),
        expr("CASE WHEN doc_id % 4 = 1 THEN '.' ELSE '' END")),
      expr("CASE WHEN doc_id % 2 = 1 THEN concat('tel +1-', " +
        "cast(200 + doc_id % 700 AS string), '-', " +
        "lpad(cast(doc_id % 10000 AS string), 4, '0')) END"),
      expr("CASE WHEN doc_id % 7 = 0 THEN concat('host 10.', " +
        "cast(doc_id % 256 AS string), '.', " +
        "cast((doc_id * 7) % 256 AS string), '.', " +
        "cast((doc_id * 13) % 256 AS string)) END"))

  /** Mixture construction and corpus forensics (q106–q108) — a second
    * map only because `queries` is already defined above; SparkEntry
    * merges both. */
  val mixQueries: Map[String, Q] = Map(
    // q106: temperature-scaled mixture rates (the UniMax/multilingual
    // training-mix recipe): per-language keep rates proportional to
    // count^alpha with alpha = 0.5, which up-samples tail languages
    // relative to raw proportions. The weights go through
    // round(sqrt(c)*1e6) -> BIGINT so the rate computation is PURE
    // INTEGER — (10000*w) div tot — with no cross-engine FP division
    // or floor knife-edges; the keep decision is the q80 content-hash
    // rule (reproducible across runs/engines/partitionings). One tiny
    // per-lang aggregate + a 1-row total broadcast (BNLJ allowlisted),
    // then map-side keeps.
    "q106_temperature_mix" -> ((s, d) => {
      val cnt = Tables.load(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("c"))
        .withColumn("w", expr("cast(round(sqrt(c) * 1000000) as bigint)"))
      val tot = cnt.agg(sum("w").as("tw"))
      val rates = cnt.crossJoin(broadcast(tot))
        .select(col("lang"), col("c"), expr("(10000 * w) div tw").as("bp"))
      Tables.load(s, d, "documents")
        .join(broadcast(rates), Seq("lang"))
        .withColumn("keep", expr("hash60(text) % 10000") < col("bp"))
        .groupBy("lang")
        .agg(min("c").as("n_docs"), min("bp").as("rate_bp"),
          expr("count_if(keep)").as("kept"))
        .orderBy("lang")
    }),

    // q108: KS-style drift statistic between two sources' length
    // distributions, in PURE INTEGER arithmetic: equi-width bins
    // (n_chars div 50), cumulative shares in basis points via integer
    // division, ks_bp = max |cum0 - cum1|. The cumulative window runs
    // over the BIN DOMAIN (bounded: ~a dozen rows no matter the corpus
    // size), so the unpartitioned window is explicitly fine — the same
    // domain-not-data argument as q88's cutpoints. 1-row totals
    // broadcast (BNLJ allowlisted).
    "q108_source_drift" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("bin").rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wide = Tables.load(s, d, "documents")
        .filter(col("source").isin("src0", "src1"))
        .groupBy(expr("n_chars div 50").as("bin"), col("source"))
        .agg(count(lit(1)).as("n"))
        .groupBy("bin")
        .agg(sum(when(col("source") === "src0", col("n")).otherwise(0L))
            .as("n0"),
          sum(when(col("source") === "src1", col("n")).otherwise(0L))
            .as("n1"))
      val tot = wide.agg(sum("n0").as("t0"), sum("n1").as("t1"))
      wide
        .withColumn("c0", sum(col("n0")).over(w))
        .withColumn("c1", sum(col("n1")).over(w))
        .crossJoin(broadcast(tot))
        .select(abs(expr("(10000 * c0) div t0 - (10000 * c1) div t1"))
          .as("d"))
        .agg(max(col("d")).as("ks_bp"), count(lit(1)).as("n_bins"))
    }))

  /** The q101 chunk projection over a (doc_id, tok) frame — map-only
    * (no aggregation, no watermark), so it applies to batch and
    * streaming inputs identically. */
  def ragChunksOf(docsTok: DataFrame): DataFrame =
    docsTok
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, (size(tok) - 1) div 96),
             i -> slice(tok, i * 96 + 1, 128))""")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        (col("pos") * 96).cast("long").as("start_tok"),
        size(col("col")).cast("long").as("n_toks"),
        md5(concat_ws(" ", col("col"))).as("h"))

  // the one shared DuckDB tokenizer (see Dedup.DuckTokExpr)
  private val duckTok = Dedup.DuckTokExpr

  /** DuckDB CTE chain to the per-doc bigram-LM score table `lp`
    * (doc_id, n_bigrams, avg_logp) — the oracle twin of
    * [[bigramLogProb]], shared by the q97/q126 oracles. */
  private lazy val bigramLpCtes: String =
    s"""t AS (SELECT doc_id, $duckTok AS tk FROM documents),
        bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
               FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
               WHERE len(tk) >= 2),
        bc AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY w1, w2),
        uc AS (SELECT w, count(*) AS nw
               FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
        v AS (SELECT count(*) AS vsz FROM uc),
        lp AS (SELECT b.doc_id, count(*) AS n_bigrams,
                 round(CAST(sum(CAST(ln((c.nb + 1)
                     / CAST(u.nw + v.vsz AS DOUBLE)) AS DECIMAL(28,12)))
                   AS DOUBLE) / count(*), 4) AS avg_logp
               FROM bg b JOIN bc c ON b.w1 = c.w1 AND b.w2 = c.w2
               JOIN uc u ON b.w1 = u.w CROSS JOIN v
               GROUP BY b.doc_id)"""
  private def duckHits(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(tok, x -> list_contains([$arr], x))) AS BIGINT)"
  }

  /** One unrolled BPE merge round for the q141 oracle: pair counts via
    * lead(), the argmax merge, and the SAME relational greedy
    * application as the Spark side (gaps-and-islands parity for a=a
    * runs, lag-based consume of the merged position) — so the replay is
    * structural, CTE for DataFrame op. */
  private def bpeRoundSql(r: Int): String = {
    val prev = s"s${r - 1}"
    s"""n$r AS (SELECT w, wf, p, sym,
           lead(sym) OVER (PARTITION BY w ORDER BY p) AS nxt
         FROM $prev),
       b$r AS (SELECT sym AS ba, nxt AS bb, CAST(sum(wf) AS BIGINT) AS cnt
         FROM n$r WHERE nxt IS NOT NULL GROUP BY sym, nxt
         ORDER BY cnt DESC, ba, bb LIMIT 1),
       t$r AS (SELECT n.w, n.wf, n.p, n.sym, b.ba, b.bb,
           COALESCE(n.sym = b.ba AND n.nxt = b.bb, FALSE) AS matched,
           n.p - sum(CASE WHEN n.sym = b.ba THEN 1 ELSE 0 END)
             OVER (PARTITION BY n.w ORDER BY n.p
                   ROWS UNBOUNDED PRECEDING) AS g
         FROM n$r n CROSS JOIN b$r b),
       u$r AS (SELECT *, row_number()
             OVER (PARTITION BY w, g, sym = ba ORDER BY p) - 1 AS off
         FROM t$r),
       v$r AS (SELECT *, matched AND (ba <> bb OR off % 2 = 0) AS take
         FROM u$r),
       s$r AS (SELECT w, wf,
           row_number() OVER (PARTITION BY w ORDER BY p) - 1 AS p,
           CASE WHEN take THEN ba || bb ELSE sym END AS sym
         FROM (SELECT *, COALESCE(lag(take)
                 OVER (PARTITION BY w ORDER BY p), FALSE) AS prevtake
               FROM v$r)
         WHERE NOT prevtake)"""
  }

  /** The q141/q142 training prefix: word-frequency table, char symbol
    * table, and the 3 unrolled merge rounds (ending at CTE `s3`). */
  private lazy val bpeTrainCtes: String =
    s"""w0 AS (SELECT unnest($duckTok) AS w FROM documents),
        wv AS (SELECT w, CAST(count(*) AS BIGINT) AS wf FROM w0
               WHERE length(w) > 0 GROUP BY w),
        s0 AS (SELECT w, wf, generate_subscripts(cs, 1) - 1 AS p,
                 unnest(cs) AS sym
               FROM (SELECT w, wf, list_transform(
                       range(1, length(w) + 1), i -> w[i]) AS cs
                     FROM wv)),
        ${bpeRoundSql(1)},
        ${bpeRoundSql(2)},
        ${bpeRoundSql(3)}"""

  val oracle: Map[String, String] = Map(
    "q32_exact_dedup" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS cnt
         FROM documents GROUP BY 1 ORDER BY h""",

    // the Spark-side regex constants interpolate UNCHANGED into the
    // DuckDB literals (single-backslash bytes are the RE2 form too);
    // counts replay via len(regexp_extract_all(...)) — DuckDB's
    // non-overlapping leftmost scan, the regexp_count semantics — and
    // replacement needs the explicit 'g' flag (DuckDB defaults to
    // first-match-only where Spark replaces all)
    "q152_pii_scrub" ->
      s"""WITH inj AS (
            SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN text
                   WHEN doc_id % 2 = 0 THEN pii || ' ' || text
                   ELSE text || ' ' || pii END AS txt
            FROM (
              SELECT doc_id, text,
                concat_ws(' ',
                  'reach user' || CAST(doc_id AS VARCHAR) || '@example.' ||
                    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                      ELSE 'net' END ||
                    CASE WHEN doc_id % 4 = 1 THEN '.' ELSE '' END,
                  CASE WHEN doc_id % 2 = 1 THEN
                    'tel +1-' || CAST(200 + doc_id % 700 AS VARCHAR) || '-' ||
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END,
                  CASE WHEN doc_id % 7 = 0 THEN
                    'host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
                    CAST((doc_id * 7) % 256 AS VARCHAR) || '.' ||
                    CAST((doc_id * 13) % 256 AS VARCHAR) END) AS pii
              FROM documents)),
          scrub AS (
            SELECT doc_id,
              len(regexp_extract_all(txt, '$EmailRe')) AS email_n,
              len(regexp_extract_all(txt, '$PhoneRe')) AS phone_n,
              len(regexp_extract_all(txt, '$IpRe')) AS ip_n,
              regexp_replace(
                regexp_replace(
                  regexp_replace(txt, '$EmailRe', '<EMAIL>', 'g'),
                  '$IpRe', '<IP>', 'g'),
                '$PhoneRe', '<PHONE>', 'g') AS clean
            FROM inj)
          SELECT doc_id, CAST(email_n AS BIGINT) AS email_n,
            CAST(phone_n AS BIGINT) AS phone_n,
            CAST(ip_n AS BIGINT) AS ip_n,
            md5(clean) AS clean_md5,
            CAST(length(clean) AS BIGINT) AS clean_len
          FROM scrub ORDER BY doc_id""",

    // word-frequency table -> char symbols -> 3 unrolled merge rounds;
    // the greedy application is pairwise-relational on both engines,
    // so the replay proves merge CHOICE and merge APPLICATION together
    "q141_bpe_merges" ->
      s"""WITH $bpeTrainCtes
          SELECT * FROM (
            SELECT CAST(1 AS BIGINT) AS round, ba AS a, bb AS b, cnt,
              (SELECT CAST(sum(wf) AS BIGINT) FROM s1) AS n_syms_after
            FROM b1
            UNION ALL
            SELECT CAST(2 AS BIGINT), ba, bb, cnt,
              (SELECT CAST(sum(wf) AS BIGINT) FROM s2) FROM b2
            UNION ALL
            SELECT CAST(3 AS BIGINT), ba, bb, cnt,
              (SELECT CAST(sum(wf) AS BIGINT) FROM s3) FROM b3)
          ORDER BY round""",

    // encode = per-word symbol counts from the trained table s3 joined
    // against the corpus token stream; out-of-domain tokens COALESCE
    // to a CHARACTER split — length(w) symbols (the Spark side's
    // bpeSymCost fallback; both engines count code points)
    "q142_bpe_encode" ->
      s"""WITH $bpeTrainCtes,
          wl AS (SELECT w, CAST(count(*) AS BIGINT) AS nsym
                 FROM s3 GROUP BY w),
          toks AS (SELECT doc_id, unnest($duckTok) AS w FROM documents)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(COALESCE(nsym, length(w))) AS BIGINT) AS bpe_syms
          FROM toks LEFT JOIN wl USING (w)
          GROUP BY doc_id ORDER BY doc_id""",

    // fertility = the same trained table joined to a lang-carrying
    // token stream; ratios via the shared sqlDratio half-up quotient
    "q146_bpe_fertility" ->
      s"""WITH $bpeTrainCtes,
          wl AS (SELECT w, CAST(count(*) AS BIGINT) AS nsym
                 FROM s3 GROUP BY w),
          toks AS (SELECT lang, w FROM (SELECT lang, unnest($duckTok)
                     AS w FROM documents) WHERE length(w) > 0)
          SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(COALESCE(nsym, length(w))) AS BIGINT) AS n_syms,
            CAST(sum(length(w)) AS BIGINT) AS n_chars,
            ${graft.Det.sqlDratio(
              "sum(COALESCE(nsym, length(w)))", "count(*)", 4)}
              AS syms_per_token,
            ${graft.Det.sqlDratio(
              "sum(length(w))", "sum(COALESCE(nsym, length(w)))", 4)}
              AS chars_per_sym
          FROM toks LEFT JOIN wl USING (w)
          GROUP BY lang ORDER BY lang""",

    // packing over the SAME encode (the q75 cumulative-window shape on
    // bpe_syms instead of the regex token proxy)
    "q143_bpe_packing" ->
      s"""WITH $bpeTrainCtes,
          wl AS (SELECT w, CAST(count(*) AS BIGINT) AS nsym
                 FROM s3 GROUP BY w),
          toks AS (SELECT doc_id, unnest($duckTok) AS w FROM documents),
          enc AS (SELECT doc_id,
                    CAST(sum(COALESCE(nsym, length(w))) AS BIGINT) AS n_sym
                  FROM toks LEFT JOIN wl USING (w) GROUP BY doc_id),
          c AS (SELECT doc_id, n_sym,
                  sum(n_sym) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
                FROM enc)
          SELECT CAST((cum - n_sym) // 1024 AS BIGINT) AS bin,
            count(*) AS n_docs, CAST(sum(n_sym) AS BIGINT) AS syms,
            min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM c GROUP BY 1 ORDER BY bin""",

    "q33_text_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
            ${graft.Det.sqlDavg(s"len($duckTok)", 0)} AS avg_tokens,
            ${graft.Det.sqlDavg("n_chars", 0)} AS avg_chars
          FROM documents GROUP BY lang ORDER BY lang""",

    "q33_top_terms" ->
      s"""SELECT term, count(*) AS cnt
          FROM (SELECT unnest($duckTok) AS term FROM documents) t
          GROUP BY term ORDER BY cnt DESC, term LIMIT 20""",

    "q40_langid" -> {
      val hits = profiles.map { case (l, ws) =>
        s"${duckHits(ws)} AS hits_$l" }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, $duckTok AS tok FROM documents),
          h AS (SELECT doc_id, $hits FROM t)
          SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,
            CASE
              WHEN hits_en >= hits_es AND hits_en >= hits_de
                AND hits_en >= hits_fr AND hits_en > 0 THEN 'en'
              WHEN hits_es >= hits_de AND hits_es >= hits_fr
                AND hits_es > 0 THEN 'es'
              WHEN hits_de >= hits_fr AND hits_de > 0 THEN 'de'
              WHEN hits_fr > 0 THEN 'fr' ELSE 'und' END AS pred
          FROM h ORDER BY doc_id"""
    },

    "q134_langid_confusion" -> {
      val hits = profiles.map { case (l, ws) =>
        s"${duckHits(ws)} AS hits_$l" }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, $duckTok AS tok FROM documents),
          h AS (SELECT doc_id, $hits FROM t),
          p AS (SELECT doc_id, CASE
              WHEN hits_en >= hits_es AND hits_en >= hits_de
                AND hits_en >= hits_fr AND hits_en > 0 THEN 'en'
              WHEN hits_es >= hits_de AND hits_es >= hits_fr
                AND hits_es > 0 THEN 'es'
              WHEN hits_de >= hits_fr AND hits_de > 0 THEN 'de'
              WHEN hits_fr > 0 THEN 'fr' ELSE 'und' END AS pred
            FROM h),
          m AS (SELECT d.lang AS actual, p.pred, count(*) AS n
                FROM documents d JOIN p USING (doc_id) GROUP BY 1, 2),
          tt AS (SELECT actual, CAST(sum(n) AS BIGINT) AS tot
                 FROM m GROUP BY actual)
          SELECT m.actual, m.pred, m.n,
            CAST((m.n * 10000) // tt.tot AS BIGINT) AS row_bp
          FROM m JOIN tt USING (actual) ORDER BY actual, pred"""
    },

    "q41_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $duckTok AS tok FROM documents)
          SELECT doc_id,
            CAST(len(tok) AS BIGINT) AS n_tokens,
            ${graft.Det.sqlDratio(
              "list_sum(list_transform(tok, t -> CAST(length(t) AS BIGINT)))",
              "len(tok)", 4)} AS avg_tok_len,
            ${graft.Det.sqlDratio(
              s"length(regexp_replace(text, '$PunctKeepClass', '', 'g'))",
              "length(text)", 6)} AS punct_ratio,
            ${graft.Det.sqlDratio(duckHits(profiles.head._2),
              "len(tok)", 6)} AS stop_ratio
          FROM t ORDER BY doc_id""",

    "q42_token_count" ->
      s"""SELECT doc_id, CAST(len($duckTok) AS BIGINT) AS ws_tokens,
            CAST(len(regexp_extract_all(text, '$BpeTokenRegex'))
              AS BIGINT) AS bpe_tokens,
            n_chars
          FROM documents ORDER BY doc_id""",

    "q62_dedup_window" ->
      """SELECT doc_id, h FROM (
           SELECT doc_id, md5(text) AS h,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM documents) t
         WHERE rn = 1 ORDER BY doc_id""",

    "q64_string_agg" ->
      """SELECT c_mktsegment,
           string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS keys,
           count(*) AS n
         FROM customer WHERE c_custkey < 100
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q65_bool_agg" ->
      """SELECT o_orderpriority,
           count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           bool_and(o_totalprice > 0) AS all_pos,
           bool_or(o_orderstatus = 'P') AS has_pending,
           count(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q45_curation" ->
      s"""WITH t AS (SELECT doc_id, text, lang, $duckTok AS tok FROM documents),
          q AS (SELECT doc_id, text, lang, tok, len(tok) AS nt,
                  length(regexp_replace(text, '$PunctKeepClass', '', 'g'))
                    / length(text) AS pr
                FROM t),
          f AS (SELECT * FROM q WHERE nt >= 30 AND pr <= 0.1),
          d AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
          fd AS (SELECT f.* FROM f JOIN d USING (doc_id)),
          ${Dedup.duckPairCtes("fd")},
          drop_ids AS (SELECT DISTINCT b_id AS doc_id FROM p
                       WHERE inter / (na + nb - inter) >= 0.5)
          SELECT fd.doc_id, fd.lang, CAST(fd.nt AS BIGINT) AS n_tokens
          FROM fd
          WHERE fd.doc_id NOT IN (SELECT doc_id FROM drop_ids)
          ORDER BY fd.doc_id""",

    "q74_heavy_hitters" ->
      s"""SELECT term, count(*) AS cnt
          FROM (SELECT unnest($duckTok) AS term FROM documents) t
          GROUP BY term ORDER BY cnt DESC, term LIMIT 10""",

    "q70_repetition" ->
      s"""WITH t AS (SELECT doc_id, $duckTok AS tok FROM documents),
          g AS (SELECT doc_id,
                  CASE WHEN len(tok) < 3 THEN CAST([] AS VARCHAR[])
                       ELSE list_transform(range(1, len(tok) - 1),
                         i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
                  END AS sh3,
                  GREATEST(len(tok) - 2, 0) AS n3
                FROM t)
          SELECT doc_id, CAST(n3 AS BIGINT) AS n3,
            CAST(len(list_distinct(sh3)) AS BIGINT) AS d3,
            CAST(CASE WHEN n3 > 0
              THEN ((n3 - len(list_distinct(sh3))) * 10000) // n3
              ELSE 0 END AS BIGINT) AS dup_bp
          FROM g ORDER BY doc_id""",

    "q75_token_packing" ->
      s"""WITH t AS (SELECT doc_id,
              CAST(len($duckTok) AS BIGINT) AS n_tok FROM documents),
          c AS (SELECT doc_id, n_tok,
                  sum(n_tok) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
                FROM t)
          SELECT CAST((cum - n_tok) // 1024 AS BIGINT) AS bin,
            count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens,
            min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM c GROUP BY 1 ORDER BY bin""",

    "q77_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, $duckTok AS tok FROM documents),
          ch0 AS (SELECT doc_id,
                    list_transform(range(CAST(ceil(len(tok) / 10.0) AS BIGINT)),
                      i -> array_to_string(list_slice(tok,
                        i * 10 + 1, i * 10 + 10), ' ')) AS chunks
                  FROM t),
          ch AS (SELECT doc_id,
                   CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS p,
                   unnest(chunks) AS chunk
                 FROM ch0),
          k AS (SELECT doc_id, p, chunk,
                  row_number() OVER (PARTITION BY chunk
                    ORDER BY doc_id, p) AS rn
                FROM ch)
          SELECT doc_id, count(*) AS n_chunks,
            string_agg(chunk, ' ' ORDER BY p) AS clean_text
          FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",

    "q114_boilerplate_strip" ->
      s"""WITH t AS (SELECT doc_id, $duckTok AS tok FROM documents),
          ch0 AS (SELECT doc_id,
                    list_transform(range(CAST(ceil(len(tok) / 3.0) AS BIGINT)),
                      i -> array_to_string(list_slice(tok,
                        i * 3 + 1, i * 3 + 3), ' ')) AS chunks
                  FROM t),
          ch AS (SELECT doc_id,
                   CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS p,
                   unnest(chunks) AS chunk
                 FROM ch0),
          freq AS (SELECT chunk, count(*) AS n FROM ch GROUP BY chunk),
          fl AS (SELECT c.doc_id, c.p, c.chunk, f.n >= 3 AS boiler
                 FROM ch c JOIN freq f USING (chunk))
          SELECT doc_id, count(*) AS n_chunks,
            count(*) FILTER (WHERE boiler) AS n_removed,
            coalesce(string_agg(chunk, ' ' ORDER BY p)
              FILTER (WHERE NOT boiler), '') AS clean_text
          FROM fl GROUP BY doc_id ORDER BY doc_id""",

    "q80_mixture_sample" ->
      """WITH t AS (SELECT lang,
              CAST(CAST('0x' || substr(md5(text), 1, 15) AS UBIGINT)
                AS BIGINT) % 100 <
              CASE lang WHEN 'en' THEN 100 WHEN 'es' THEN 50
                WHEN 'de' THEN 25 ELSE 10 END AS keep
            FROM documents)
          SELECT lang, count(*) AS total,
            count(*) FILTER (WHERE keep) AS kept,
            (count(*) FILTER (WHERE keep) * 10000) // count(*) AS kept_bp
          FROM t GROUP BY lang ORDER BY lang""",

    "q43_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $duckTok AS tok FROM documents)
          SELECT doc_id,
            list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(tok,
                  t -> CAST(length(t) * 17 + ascii(t[1]) AS BIGINT))),
              (a, x) -> (a * 31 + x) % 1000000007) AS fp,
            CAST(len(tok) AS BIGINT) AS ntok
          FROM t ORDER BY doc_id""",

    "q85_bigram_dice" ->
      s"""WITH tok AS (SELECT $duckTok AS t FROM documents),
          big AS (SELECT t[i] AS w1, t[i+1] AS w2
                  FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
                  WHERE len(t) >= 2),
          bc AS (SELECT w1, w2, count(*) AS nb FROM big GROUP BY w1, w2),
          uc AS (SELECT w, count(*) AS nw
                 FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w)
          SELECT b.w1, b.w2, b.nb,
            (20000 * b.nb) // (u1.nw + u2.nw) AS dice_bp
          FROM bc b JOIN uc u1 ON b.w1 = u1.w JOIN uc u2 ON b.w2 = u2.w
          WHERE b.nb >= 5
          ORDER BY dice_bp DESC, w1, w2 LIMIT 20""",

    "q86_vocab_stats" ->
      s"""WITH wc AS (SELECT lang, w, count(*) AS cnt
                 FROM (SELECT lang, unnest($duckTok) AS w FROM documents)
                 GROUP BY lang, w)
          SELECT lang, count(*) AS vocab,
            count(*) FILTER (WHERE cnt = 1) AS hapax,
            CAST(sum(cnt) AS BIGINT) AS tokens,
            CAST((count(*) * 10000) // sum(cnt) AS BIGINT) AS ttr_bp
          FROM wc GROUP BY lang ORDER BY lang""",

    // the same Efraimidis–Spirakis key, identical IEEE expression tree
    // outer ORDER BY re-pins the row order on the raw key: the driver
    // compare is row-order-sensitive and an inner-only ORDER BY leans
    // on DuckDB's non-contractual insertion-order preservation
    "q121_weighted_sample" ->
      """SELECT doc_id, lang, n_chars, round(skey_raw, 8) AS skey
         FROM (SELECT doc_id, lang, n_chars,
                 ln((CAST(CAST('0x' || substr(md5(text), 1, 13) AS UBIGINT)
                      AS DOUBLE) + 1e0) / 4503599627370496e0)
                   / greatest(n_chars, 1) AS skey_raw
               FROM documents
               ORDER BY skey_raw DESC, doc_id LIMIT 25) t
         ORDER BY skey_raw DESC, doc_id""",

    // fixed-width lowercase hex: string order == numeric order of the
    // 52-bit prefix the Spark side ranks on
    "q92_strata_sample" ->
      """SELECT lang, rn, doc_id FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY substr(md5(text), 1, 13), doc_id) AS rn
           FROM documents) t
         WHERE rn <= 20 ORDER BY lang, rn""",

    "q95_token_entropy" ->
      s"""WITH wc AS (SELECT lang, w, count(*) AS c
                 FROM (SELECT lang, unnest($duckTok) AS w FROM documents)
                 GROUP BY lang, w)
          SELECT lang, count(*) AS vocab, CAST(sum(c) AS BIGINT) AS n,
            round(ln(sum(c)) -
              CAST(sum(CAST(c * ln(c) AS DECIMAL(28,12))) AS DOUBLE)
                / sum(c), 4) AS entropy
          FROM wc GROUP BY lang ORDER BY lang""",

    "q97_bigram_lm" ->
      s"""WITH $bigramLpCtes
          SELECT doc_id, n_bigrams, avg_logp FROM lp ORDER BY doc_id""",

    // the same integer cut selection (3·run >= tot) over the
    // 4-decimal-quantized score domain — no FP ratio in the cutpoints
    "q126_perplexity_buckets" ->
      s"""WITH $bigramLpCtes,
          vc AS (SELECT avg_logp, count(*) AS cnt FROM lp
                 GROUP BY avg_logp),
          cume AS (SELECT avg_logp AS x,
                     sum(cnt) OVER (ORDER BY avg_logp
                       ROWS UNBOUNDED PRECEDING) AS run,
                     sum(cnt) OVER () AS tot
                   FROM vc),
          cut AS (SELECT min(CASE WHEN 3 * run >= tot THEN x END) AS c1,
                    min(CASE WHEN 3 * run >= 2 * tot THEN x END) AS c2
                  FROM cume)
          SELECT CASE WHEN avg_logp <= c1 THEN 'tail'
                      WHEN avg_logp <= c2 THEN 'middle'
                      ELSE 'head' END AS bucket,
            count(*) AS n_docs, min(avg_logp) AS min_lp,
            max(avg_logp) AS max_lp
          FROM lp CROSS JOIN cut
          GROUP BY 1 ORDER BY bucket""",

    // LEFT joins + coalesce mirror the target model's add-one floor;
    // ranking happens on the rounded mean (the q34 convention)
    "q127_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, $duckTok AS tk FROM documents),
          bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
                 FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
                 WHERE len(tk) >= 2),
          bcr AS (SELECT w1, w2, count(*) AS nbr FROM bg GROUP BY 1, 2),
          ucr AS (SELECT w, count(*) AS nwr
                  FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
          v1 AS (SELECT count(*) AS vr FROM ucr),
          t2 AS (SELECT doc_id, tk FROM
                   (SELECT doc_id, lang, $duckTok AS tk FROM documents)
                 WHERE lang = 'en'),
          bgt AS (SELECT tk[i] AS w1, tk[i+1] AS w2
                  FROM t2, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
                  WHERE len(tk) >= 2),
          bct AS (SELECT w1, w2, count(*) AS nbt FROM bgt GROUP BY 1, 2),
          uct AS (SELECT w, count(*) AS nwt
                  FROM (SELECT unnest(tk) AS w FROM t2) GROUP BY w),
          v2 AS (SELECT count(*) AS vt FROM uct),
          sc AS (SELECT b.doc_id, count(*) AS n_bigrams,
                   round(CAST(sum(CAST(
                       ln((coalesce(ct.nbt, 0) + 1)
                          / CAST(coalesce(ut.nwt, 0) + v2.vt AS DOUBLE))
                       - ln((cr.nbr + 1)
                            / CAST(ur.nwr + v1.vr AS DOUBLE))
                     AS DECIMAL(28,12))) AS DOUBLE) / count(*), 4)
                     AS logw
                 FROM bg b
                 JOIN bcr cr ON b.w1 = cr.w1 AND b.w2 = cr.w2
                 JOIN ucr ur ON b.w1 = ur.w
                 LEFT JOIN bct ct ON b.w1 = ct.w1 AND b.w2 = ct.w2
                 LEFT JOIN uct ut ON b.w1 = ut.w
                 CROSS JOIN v1 CROSS JOIN v2
                 GROUP BY b.doc_id)
          SELECT doc_id, n_bigrams, logw
          FROM (SELECT * FROM sc ORDER BY logw DESC, doc_id LIMIT 50) f
          ORDER BY logw DESC, doc_id""",

    // the identical sum-of-logs tree; totals cast from HUGEINT sums
    "q128_pmi_collocations" ->
      s"""WITH t AS (SELECT doc_id, $duckTok AS tk FROM documents),
          bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2
                 FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
                 WHERE len(tk) >= 2),
          bc AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY 1, 2),
          nbt AS (SELECT sum(nb) AS nbt FROM bc),
          uni AS (SELECT w, count(*) AS nw
                  FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
          ntt AS (SELECT sum(nw) AS ntt FROM uni),
          p AS (SELECT bc.w1, bc.w2, bc.nb,
                  round(ln(CAST(nb AS DOUBLE))
                      + 2 * ln(CAST(ntt AS DOUBLE))
                      - ln(CAST(nbt AS DOUBLE))
                      - ln(CAST(u1.nw AS DOUBLE))
                      - ln(CAST(u2.nw AS DOUBLE)), 4) AS pmi
                FROM bc JOIN uni u1 ON bc.w1 = u1.w
                JOIN uni u2 ON bc.w2 = u2.w
                CROSS JOIN nbt CROSS JOIN ntt
                WHERE nb >= 5)
          SELECT w1, w2, nb, pmi
          FROM (SELECT * FROM p ORDER BY pmi DESC, w1, w2 LIMIT 20) f
          ORDER BY pmi DESC, w1, w2""",

    "q98_normalized_dedup" ->
      """WITH n AS (SELECT doc_id,
             lower(trim(regexp_replace(
               regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS norm
           FROM documents)
         SELECT md5(norm) AS h, min(doc_id) AS keep_id, count(*) AS cnt
         FROM n GROUP BY 1 ORDER BY h""",

    "q100_data_card" ->
      s"""SELECT count(*) AS n_docs,
            count(*) - count(DISTINCT md5(text)) AS n_exact_dup,
            count(DISTINCT lang) AS n_langs,
            count(DISTINCT source) AS n_sources,
            CAST(sum(len($duckTok)) AS BIGINT) AS total_tokens,
            min(n_chars) AS min_chars,
            max(n_chars) AS max_chars,
            CAST(sum(n_chars) // count(*) AS BIGINT) AS avg_chars_floor
          FROM documents""",

    "q101_rag_chunks" ->
      s"""WITH t AS (SELECT doc_id, $duckTok AS tok FROM documents),
          c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                  list_slice(tok, i * 96 + 1, i * 96 + 128) AS chunk
                FROM t,
                  UNNEST(generate_series(0, (len(tok) - 1) // 96)) AS u(i))
          SELECT doc_id, chunk_idx, chunk_idx * 96 AS start_tok,
            CAST(len(chunk) AS BIGINT) AS n_toks,
            md5(array_to_string(chunk, ' ')) AS h
          FROM c ORDER BY doc_id, chunk_idx""",

    "q106_temperature_mix" ->
      """WITH cnt AS (SELECT lang, count(*) AS c FROM documents
                      GROUP BY lang),
          w AS (SELECT lang, c,
                  CAST(round(sqrt(c) * 1000000) AS BIGINT) AS w FROM cnt),
          t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
          r AS (SELECT lang, c, (10000 * w) // tw AS bp
                FROM w CROSS JOIN t)
          SELECT d.lang, min(r.c) AS n_docs, min(r.bp) AS rate_bp,
            count(*) FILTER (WHERE
              CAST(CAST('0x' || substr(md5(d.text), 1, 15) AS UBIGINT)
                AS BIGINT) % 10000 < r.bp) AS kept
          FROM documents d JOIN r USING (lang)
          GROUP BY d.lang ORDER BY d.lang""",

    "q108_source_drift" ->
      """WITH b AS (SELECT n_chars // 50 AS bin, source, count(*) AS n
                    FROM documents WHERE source IN ('src0', 'src1')
                    GROUP BY 1, 2),
          wide AS (SELECT bin,
                     CAST(sum(CASE WHEN source = 'src0' THEN n ELSE 0 END)
                       AS BIGINT) AS n0,
                     CAST(sum(CASE WHEN source = 'src1' THEN n ELSE 0 END)
                       AS BIGINT) AS n1
                   FROM b GROUP BY bin),
          c AS (SELECT bin,
                  sum(n0) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                    AS c0,
                  sum(n1) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                    AS c1
                FROM wide),
          t AS (SELECT CAST(sum(n0) AS BIGINT) AS t0,
                  CAST(sum(n1) AS BIGINT) AS t1 FROM wide)
          SELECT CAST(max(abs((10000 * c0) // t0 - (10000 * c1) // t1))
                   AS BIGINT) AS ks_bp,
            count(*) AS n_bins
          FROM c CROSS JOIN t"""
  )
}
