package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Invariant checks for text-analysis and similarity queries over the
  * smoke-SF tables (ratios bounded, determinism, top-k consistency).
  */
class TextSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("quality ratios are bounded in [0, 1]") {
    val q = SparkEntry.queries("q41_quality")(spark, sf)
    val bad = q.filter($"punct_ratio" < 0 || $"punct_ratio" > 1 ||
      $"stop_ratio" < 0 || $"stop_ratio" > 1)
    assert(bad.count() == 0)
  }

  test("langid prediction is a known label") {
    val preds = SparkEntry.queries("q40_langid")(spark, sf)
      .select("pred").distinct().as[String].collect().toSet
    assert(preds.subsetOf(Set("en", "es", "de", "fr", "und")))
  }

  test("fingerprint is deterministic across runs") {
    val a = SparkEntry.queries("q43_fingerprint")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = SparkEntry.queries("q43_fingerprint")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("BPE merges: weighted argmax choice and greedy application " +
      "on a hand-computed corpus") {
    // banana×3 + bana×1. Round 1: an=7, na=7, ba=4 — the (count desc,
    // pair asc) tie-break must pick (a,n). Round 2: b|an=4, an|a=4,
    // an|an=3 — tie again, (an,a) wins. Round 3: b|an=3, an|ana=3,
    // b|ana=1 — (an,ana) wins. Symbol totals shrink 22→15→11→8.
    val docs = Seq((0L, "banana banana banana bana"))
      .toDF("doc_id", "text")
    val got = graft.queries.TextOps.bpeMerges(docs, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "a", "n", 7L, 15L),
      (2L, "an", "a", 4L, 11L),
      (3L, "an", "ana", 3L, 8L)), s"got ${got.toSeq}")
  }

  test("BPE merges: a=a runs pair greedily left-to-right (parity), " +
      "and a pairless round emits no row") {
    // aaaa×1 + aa×2. Round 1 merges (a,a) with count 3+2=5; GREEDY
    // application must give aaaa -> (aa)(aa) — offsets 0 and 2 of the
    // run, never the overlapping middle match — and aa -> (aa), so
    // totals are 8→4. Round 2 merges (aa,aa) once (1), 4→3. Round 3
    // has no adjacent pairs anywhere: no third row.
    val docs = Seq((0L, "aaaa aa"), (1L, "aa")).toDF("doc_id", "text")
    val got = graft.queries.TextOps.bpeMerges(docs, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "a", "a", 5L, 4L),
      (2L, "aa", "aa", 1L, 3L)), s"got ${got.toSeq}")
  }

  test("BPE encode: training spans the FULL raw token universe — " +
      "mixed-case and digit tokens train real merges, not OOV prices") {
    // Hand-computed under full-universe training (no ^[a-z]+$ pin, no
    // case fold). Round 1: (a,n) and (n,a) tie at 9 (banana×3 ×2 +
    // bana + Banana×2 each) — binary order picks (a,n). Round 2:
    // (an,a) wins at 5. Round 3: (an,ana) at 4. So banana = b+anana
    // (2 symbols), bana = b+ana (2), and "Banana" — formerly priced
    // as a 6-char OOV split — now ENCODES under the same merges:
    // B+anana (2 symbols). "123" (3), "b" (1) and doc 2's long tokens
    // gain no merges at these counts, so they price at their
    // code-point lengths through the LEARNED table — every token is
    // in-vocab now; the char-split COALESCE arm is for genuinely
    // unseen serve-time tokens (the streaming OOV test and the
    // foreign-vocab case below). Doc 2: 20+9+12 = 41 — long noise
    // stays expensive.
    val docs = Seq((0L, "banana banana banana bana"),
      (1L, "Banana 123 b"),
      (2L, "Supercalifragilistic 123456789 MIXED-case99"))
      .toDF("doc_id", "text")
    val got = graft.queries.TextOps.bpeEncode(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 4L, 8L), (1L, 3L, 6L), (2L, 3L, 41L)),
      s"got ${got.toSeq}")
  }

  test("BPE: code-point unit and binary tie-break pinned on an " +
      "accented, mixed-case, punctuated, emoji corpus") {
    // Née×1 née×2 casa×2 ¡hola!×1 42×1 👍👍×1 — 2-, 3- and 4-byte
    // UTF-8 in both trained positions and tie-breaks. Hand-computed:
    // symbols split by CODE POINT (é and 👍 are one symbol each, so
    // the corpus starts at 27 symbols, not its byte count); round 1
    // merges (é,e) at 3 — case-sensitivity keeps N/n distinct, yet
    // Née and née share the merge through their common (é,e) pair;
    // round 2 has a four-way tie at 2 between (a,s),(c,a),(n,ée),
    // (s,a) and binary UTF-8 order must pick (a,s); round 3 ties
    // (as,a),(c,as),(n,ée) and picks (as,a). A whitespace-only doc
    // tokenizes to the EMPTY token: excluded from training (Spark's
    // sequence(1,0) would DESCEND into phantom symbols where DuckDB's
    // range(1,1) is empty) and priced at 0 by the fallback.
    val docs = Seq((0L, "Née née née casa"),
      (1L, "¡hola! casa 42 👍👍"), (2L, "   ")).toDF("doc_id", "text")
    val merges = graft.queries.TextOps.bpeMerges(docs, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(merges.toSeq == Seq(
      (1L, "é", "e", 3L, 24L),
      (2L, "a", "s", 2L, 22L),
      (3L, "as", "a", 2L, 20L)), s"got ${merges.toSeq}")
    // encode: Née/née = 2 (N|n + ée), casa = 2 (c + asa), ¡hola! = 6,
    // 42 = 2, 👍👍 = 2 — all through the learned table
    val got = graft.queries.TextOps.bpeEncode(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 4L, 8L), (1L, 4L, 12L), (2L, 1L, 0L)),
      s"got ${got.toSeq}")
    // foreign-vocab serve: the SAME accented doc priced against a
    // vocab trained elsewhere — accented unseen tokens take the
    // code-point char-split arm (Née = 3 symbols, NOT its 4 UTF-8
    // bytes)
    val vocab = graft.queries.TextOps.bpeVocab(
      Seq((9L, "banana banana banana bana")).toDF("doc_id", "text"), 3)
    val oov = graft.queries.TextOps.bpeTokenCosts(
        docs.filter($"doc_id" === 0L), vocab)
      .groupBy("doc_id").agg(sum($"syms").as("syms")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(oov.toSeq == Seq((0L, 3L + 3L + 3L + 4L)), s"got ${oov.toSeq}")
  }

  test("BPE fertility: per-language symbol/char ratios hand-computed " +
      "under the shared trained vocab") {
    // ONE vocab trains across both languages (banana:3 bana:1 zz:2
    // q:1): rounds merge (a,n) at 7, (an,a) at 4 — the (b,an) tie
    // breaks to 'an' — then (an,ana) at 3 over (b,an) by the same
    // binary order. Final costs: banana/bana/zz = 2 symbols, q = 1.
    // lang xx: 4 tokens, 8 syms, 22 chars -> fertility 2.0,
    // compression 22/8 = 2.75. lang yy: 3 tokens, 5 syms, 5 chars ->
    // 5/3 half-up = 1.6667, 1.0. Exact integers + the shared dratio
    // quotient — no float averaging.
    // doc 2 is whitespace-only: trim+split yields ONE empty token,
    // which training already excludes — fertility must exclude it from
    // n_tokens too (r13 ADVICE: phantom zero-cost tokens deflated
    // syms_per_token), so lang xx still counts 4 tokens, not 5
    val docs = Seq((0L, "banana banana banana bana", "xx"),
      (1L, "zz zz q", "yy"), (2L, "  \t \n ", "xx"))
      .toDF("doc_id", "text", "lang")
    val got = graft.queries.TextOps.bpeFertility(docs, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      ("xx", 4L, 8L, 22L, 2.0, 2.75),
      ("yy", 3L, 5L, 5L, 1.6667, 1.0)), s"got ${got.toSeq}")
  }

  test("BPE encode: a vocabulary-exhausted trainer (pairless rounds) " +
      "still prices words by their learned symbol table") {
    // all words are single code points: round 1 finds no adjacent
    // pair, the trainer short-circuits with the char symbol table
    // intact, and the encoder must price each word at 1 learned
    // symbol — NOT via the OOV fallback (the regression the explicit
    // pairless break guards: an emptied symbol table would leave
    // every word priced as OOV and only *happen* to agree while the
    // fallback is length-based). "!" trains too under the
    // full-universe domain.
    val docs = Seq((0L, "a b c a"), (1L, "z !")).toDF("doc_id", "text")
    val merges = graft.queries.TextOps.bpeMerges(docs, 3)
    assert(merges.collect().isEmpty, "no pairs -> no merge rows")
    val got = graft.queries.TextOps.bpeEncode(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 4L, 4L), (1L, 2L, 2L)), s"got ${got.toSeq}")
  }

  test("cosine top-k: sims within [-1, 1] and non-increasing") {
    val sims = SparkEntry.queries("q34_cosine_topk")(spark, sf)
      .select("sim").as[Double].collect().toSeq
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
    assert(sims == sims.sortBy(-_), "top-k must be sorted desc")
  }

  test("JL filter-then-refine: exact-ordered output, hit rows agree " +
      "with q34, and candidate recall holds the floor") {
    val rows = SparkEntry.queries("q144_jl_projection")(spark, sf).collect()
    assert(rows.length == 10)
    val sims = rows.map(_.getDouble(2)).toSeq
    assert(sims == sims.sortBy(-_), "refine must rank by exact cosine")
    // a hit row claims membership in the brute top-10 — q34 IS that
    // top-10 for the same probe, so the claim is checkable against it
    val q34 = SparkEntry.queries("q34_cosine_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val hits = rows.filter(_.getBoolean(3)).map(_.getLong(1)).toSet
    assert(hits.subsetOf(q34), s"hit rows outside q34's top-10: $hits")
    // recall floor: 8/10 measured on both current fixtures; >= 6 keeps
    // the test robust to a fixture regeneration while still failing on
    // any degenerate-projection regression (the rank-1 sign bug gave 0)
    assert(hits.size >= 6, s"candidate recall collapsed: ${hits.size}/10")
  }

  test("JL kNN join: candidate stage ranks on projections, refine is " +
      "exact, hits agree with q47, recall holds the floor") {
    val df = SparkEntry.queries("q145_jl_knn")(spark, sf)
    val rows = df.collect()
    // the candidate stage must run on jl_project'ed vectors — the
    // optimized plan carries the projection on BOTH sides of the
    // bucket self-join (the narrow 16-dim table a 100 TB pipeline
    // would pre-materialize; a refactor that ranks candidates on raw
    // embeddings drops these nodes and fails here)
    val plan = df.queryExecution.optimizedPlan.toString
    assert("jl_project".r.findAllIn(plan).size >= 2,
      "candidate generation lost its JL projection")
    // refine output: <= 3 per probe, exact-cosine ordered
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.values.forall(_.length <= 3))
    byProbe.values.foreach { rs =>
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(sims == sims.sortBy(-(_: Double)),
        "refine must rank by exact cosine")
    }
    // every hit row claims membership in the full-dim in-bucket top-3
    // — q47 IS that answer set for the same probes
    val q47 = SparkEntry.queries("q47_knn_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = rows.filter(_.getBoolean(4))
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(hits.subsetOf(q47), s"hit rows outside q47: ${hits -- q47}")
    // recall floor vs the full-dim answer set: 62.7% measured at
    // sf0.01 on pure-noise fixtures (JL's worst case); >= 0.35 stays
    // robust to regeneration while failing any degenerate-projection
    // regression (random pool picks from a ~60-vector bucket would
    // land near 3/60 = 5%)
    val recall = hits.size.toDouble / q47.size
    assert(recall >= 0.35, f"candidate recall collapsed: $recall%.3f")
  }

  test("IVF ANN results are a subset of brute-force candidates") {
    val brute = SparkEntry.queries("q34_cosine_topk")(spark, sf)
    val ivf = SparkEntry.queries("q39_ann_ivf")(spark, sf)
    // every IVF sim must also be achievable by brute force over all vecs:
    // the IVF top-1 sim can never exceed the brute-force top-1 sim
    val bMax = brute.agg(max($"sim")).head().getDouble(0)
    val iMax = ivf.agg(max($"sim")).head().getDouble(0)
    assert(iMax <= bMax + 1e-9)
  }

  test("learned IVF: Lloyd rounds improve the clustering objective; " +
      "nprobe=1 recall stays high") {
    // The reason q50 iterates (and the honest measurement of what
    // iterating buys): the spherical k-means objective — summed cosine
    // of every vector to its assigned centroid direction — improves
    // monotonically with rounds, which is Lloyd's actual guarantee.
    // Measured at sf0.01: 151.3 (1 round) -> 164.4 (3 rounds) of 500.
    // Probe recall under nprobe=1 is NOT monotone in training quality
    // (a tighter cluster can exclude a true neighbor; measured 45 vs
    // 42 of 50 over probes 1..10 on this fixture), so recall gets a
    // floor, not an ordering: both arms must stay >= 80%.
    val d = "/root/testdata/sf0.01"
    val e = Tables.load(spark, d, "embeddings")
      .select($"vec_id", $"embedding")
    val el = e.select($"vec_id", posexplode($"embedding"))
      .select($"vec_id", $"pos", expr("cast(col as double)").as("v"))
    def objective(asg: org.apache.spark.sql.DataFrame): Double = {
      val cent = el.join(asg, Seq("vec_id")).groupBy($"c_id", $"pos")
        .agg(sum($"v").as("s"))
      val cn2 = cent.groupBy($"c_id").agg(sum($"s" * $"s").as("cn2"))
      el.join(asg, Seq("vec_id")).join(cent, Seq("c_id", "pos"))
        .groupBy($"vec_id", $"c_id")
        .agg(sum($"v" * $"s").as("dot"), sum($"v" * $"v").as("vn2"))
        .join(cn2, Seq("c_id"))
        .select(($"dot" / (sqrt($"vn2") * sqrt($"cn2"))).as("cos"))
        .agg(sum($"cos")).head().getDouble(0)
    }
    val probes = e.filter($"vec_id".between(1, 10))
      .select($"vec_id".as("p_id"), $"embedding".as("pe"))
    val scored = e.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"p_id")
      .withColumn("sim", expr("cosine_sim(embedding, pe)"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy($"sim".desc, $"vec_id")
    val brute = scored.withColumn("rn", row_number().over(wp))
      .filter($"rn" <= 5).select("p_id", "vec_id")
    def recall(asg: org.apache.spark.sql.DataFrame): Long = {
      val ivf = scored
        .join(asg, Seq("vec_id"))
        .join(asg.select($"vec_id".as("p_id"), $"c_id".as("p_c")),
          Seq("p_id"))
        .filter($"c_id" === $"p_c")
        .withColumn("rn", row_number().over(wp))
        .filter($"rn" <= 5).select("p_id", "vec_id")
      brute.join(ivf, Seq("p_id", "vec_id")).count()
    }
    val a1 = graft.queries.Similarity.lloydAssignments(spark, d, 1)
    val a3 = graft.queries.Similarity.lloydAssignments(spark, d, 3)
    val (o1, o3) = (objective(a1), objective(a3))
    val (r1, r3) = (recall(a1), recall(a3))
    info(f"objective: 1 round = $o1%.1f, 3 rounds = $o3%.1f (of 500)")
    info(s"recall@5 over 10 probes: 1 round = $r1, 3 rounds = $r3 (of 50)")
    assert(o3 > o1 + 1.0,
      s"3-round objective $o3 must measurably beat 1-round $o1")
    assert(r1 >= 40 && r3 >= 40,
      s"nprobe=1 recall floor (40/50 = 80%) violated: $r1, $r3")
  }

  test("IVF-PQ ADC: distances non-decreasing, bounded below by PQ error") {
    val rows = SparkEntry.queries("q116_ivf_pq")(spark, sf).collect()
    assert(rows.length == 5, "the probe's inverted list must hold >= 5 vecs")
    val ds = rows.map(_.getDouble(1)).toSeq
    assert(ds.forall(_ >= 0.0), "ADC distances are sums of squares")
    assert(ds == ds.sorted, "top-k must be sorted by approx distance")
    // codebook members (vec_id < 8) quantize to themselves: if one is
    // in the probe's list, its ADC distance equals the PROBE's table
    // entry sum — which for the probe itself (vec 0, also a codebook
    // entry) is 0; vec 0 is excluded, so no result may be exactly the
    // probe. All ids must be positive and distinct.
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids.forall(_ > 0) && ids.distinct.length == ids.length)
  }

  test("semantic dedup: keepers are smaller, never themselves dropped") {
    val rows = SparkEntry.queries("q117_semantic_dedup")(spark, sf).collect()
    assert(rows.nonEmpty, "fixture near-dup graph must drop something")
    val dropped = rows.map(_.getLong(0)).toSet
    rows.foreach { r =>
      assert(r.getLong(1) < r.getLong(0), "keeper is the component min")
      assert(!dropped.contains(r.getLong(1)),
        "a keeper must survive the dedup it anchors")
    }
  }

  test("multi-probe IVF: recall >= single-probe, cost stays partial") {
    val mp = SparkEntry.queries("q120_multiprobe_ivf")(spark, sf).head()
    val sp = SparkEntry.queries("q89_ann_recall")(spark, sf).head()
    assert(mp.getLong(0) >= sp.getLong(0),
      "probing 5 lists must never find fewer true neighbors than 1 list")
    assert(mp.getLong(2) > 0)
    // 5 of 16 sign buckets: the scan must stay well under the corpus
    val total = Tables.load(spark, sf, "embeddings").count()
    assert(mp.getLong(2) < total,
      "multi-probe must still scan a strict subset of the corpus")
  }

  test("sampled-training IVF: trains on a strict subset, scans one " +
      "list, and the sampled codebook still retains recall signal") {
    val r = SparkEntry.queries("q139_ivf_sampled")(spark, sf).head()
    val total = Tables.load(spark, sf, "embeddings").count()
    val (hits, recallBp, nScanned, nTrain) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nTrain < total, "training must read a strict subset")
    assert(nTrain > total / 2,
      "the 75% keep rule should keep more than half the corpus")
    assert(nScanned < total / 4,
      "single-list probe must scan a small fraction of the corpus")
    assert(recallBp == hits * 2000, "recall_bp is exact integer bp")
    // floor: a codebook trained on the sample must route the probe to
    // a list holding at least one true neighbor (measured 2/5 at
    // sf0.001, 4/5 at sf0.01 — 0/5 means the sampling broke training)
    assert(hits >= 1, s"sampled-training recall floor violated: $hits/5")
  }

  test("multi-probe over the LEARNED codebook: at least the static " +
      "single-probe's recall at a scan cost below the static 5-list") {
    val lp = SparkEntry.queries("q140_multiprobe_learned")(spark, sf).head()
    val sp = SparkEntry.queries("q89_ann_recall")(spark, sf).head()
    val mp = SparkEntry.queries("q120_multiprobe_ivf")(spark, sf).head()
    val total = Tables.load(spark, sf, "embeddings").count()
    assert(lp.getLong(0) >= sp.getLong(0),
      "2 learned lists must never recall less than 1 static bucket")
    assert(lp.getLong(2) > 0 && lp.getLong(2) < total,
      "learned multi-probe must scan a strict subset of the corpus")
    // 2 of 16 learned lists vs 5 of 16 sign buckets: the learned
    // router buys its recall with a strictly smaller candidate set
    // (measured 61 vs 156 at sf0.001 at EQUAL 4/5 recall)
    assert(lp.getLong(2) < mp.getLong(2),
      s"learned 2-list scan (${lp.getLong(2)}) should undercut the " +
        s"static 5-bucket scan (${mp.getLong(2)})")
    info(s"recall: learned-2 ${lp.getLong(0)}/5 @ ${lp.getLong(2)} " +
      s"scanned; static-5 ${mp.getLong(0)}/5 @ ${mp.getLong(2)}; " +
      s"static-1 ${sp.getLong(0)}/5")
  }

  test("q140 probe ranking: an empty or NULL probe embedding ranks no " +
      "list, so the candidate set is empty") {
    // a 2-dim codebook of 3 centroids in q50's long (c_id, pos, si) form
    val cent = Seq((0L, 0, 5L), (0L, 1, 3L), (1L, 0, -2L), (1L, 1, 7L),
      (2L, 0, 1L), (2L, 1, 1L)).toDF("c_id", "pos", "si")
    val lists = Seq((3L, 0L), (4L, 1L), (5L, 2L)).toDF("vec_id", "c_id")
    def probed(probe: Seq[Long]): DataFrame = {
      val ev = Seq((0L, probe), (1L, Seq(1L, 2L))).toDF("vec_id", "varr")
      val pr = graft.queries.Similarity.probeLists(ev, cent, 2)
      lists.join(pr, "c_id")
    }
    // control: a real probe picks 2 lists by the exact ranking
    // (r = dot^2/cn2: c2 -> 9/2, c0 -> 121/34, c1 -> 144/53)
    assert(probed(Seq(1L, 2L)).select("c_id").as[Long].collect().toSet ==
      Set(0L, 2L))
    assert(probed(Seq.empty).isEmpty,
      "an empty probe must rank no list (the relational form had no row)")
    assert(probed(null).isEmpty, "a NULL probe must rank no list")
  }

  test("q74's exact-top-10 precondition holds on the fixture " +
      "(Misra-Gries covers every term with freq > n/(k+1))") {
    // q74's hash-oracle parity silently depends on the true top-10
    // living inside the MG candidate set, guaranteed only for terms
    // with frequency > n/(k+1) at k = 50. A fixture regeneration with
    // a flatter tail would fail the driver gate with no hint why —
    // pin the precondition loudly here instead (the Det.davg
    // fail-at-construction philosophy, test-side).
    val terms = graft.queries.Dedup.withTok(
        Tables.load(spark, sf, "documents"))
      .select(explode($"tok").as("term"))
    val top10 = terms.groupBy("term").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"term").limit(10).collect()
    val n = terms.count()
    val tenth = top10.last.getLong(1)
    assert(tenth > n / 51,
      s"10th term freq $tenth <= n/(k+1) = ${n / 51}: the MG candidate " +
        "set no longer provably covers q74's top-10 — raise k in q74")
  }

  test("token counts: bpe tokenization never undercounts ws tokens") {
    val q = SparkEntry.queries("q42_token_count")(spark, sf)
    assert(q.filter($"bpe_tokens" < $"ws_tokens").count() == 0)
  }

  test("perplexity buckets: tertiles partition the score line in order") {
    val rows = SparkEntry.queries("q126_perplexity_buckets")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.keySet.subsetOf(Set("head", "middle", "tail")))
    assert(rows.nonEmpty)
    // buckets are value intervals: ordering must be strict between them
    for {
      (lo, hi) <- Seq("tail" -> "middle", "middle" -> "head")
      l <- rows.get(lo); h <- rows.get(hi)
    } assert(l._3 < h._2, s"$lo max must sit below $hi min")
    // the tertile split covers every scored doc
    val scored = SparkEntry.queries("q97_bigram_lm")(spark, sf).count()
    assert(rows.values.map(_._1).sum == scored)
  }

  test("dsir weights: ranked desc and the target domain dominates") {
    val q = SparkEntry.queries("q127_dsir_weights")(spark, sf)
    val rows = q.collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val ws = rows.map(_.getDouble(2)).toSeq
    assert(ws == ws.sorted.reverse, "importance-ranked descending")
    // the en-trained target model must prefer its own domain: en docs
    // hold the majority of the top-weight pool
    val langOf = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val enShare = rows.count(r => langOf(r.getLong(0)) == "en")
    assert(enShare * 2 > rows.length,
      s"en docs must dominate the pool: $enShare/${rows.length}")
  }

  test("repetition: dup_bp is exact integer basis points, bounded") {
    val q = SparkEntry.queries("q70_repetition")(spark, sf)
    assert(q.filter($"dup_bp" < 0 || $"dup_bp" > 10000).count() == 0)
    assert(q.filter($"d3" > $"n3").count() == 0)
    // invariant: dup_bp == floor((n3 - d3) * 10000 / n3) for n3 > 0
    assert(q.filter($"n3" > 0 &&
      $"dup_bp" =!= expr("((n3 - d3) * 10000) div n3")).count() == 0)
    // the fixture corpus has a 31-word vocab, so repetition must exist
    assert(q.filter($"dup_bp" > 0).count() > 0)
  }

  test("int8 quantization: values in [-127, 127], max magnitude hit") {
    // q_csv is the driver-sortable CSV form; reparse it for the checks
    val q = SparkEntry.queries("q71_embed_quantize")(spark, sf)
      .withColumn("qv",
        expr("transform(split(q_csv, ','), s -> cast(s as int))"))
    val bad = q.filter(expr(
      "exists(qv, v -> v IS NULL OR v < -127 OR v > 127)")).count()
    assert(bad == 0, "quantized values must fit int8 symmetric range")
    // the element at max |v| must quantize to exactly +-127
    val noPeak = q.filter($"maxabs" > 0)
      .filter(!expr("exists(qv, v -> abs(v) = 127)")).count()
    assert(noPeak == 0, "every nonzero vector must reach the scale peak")
  }
}
