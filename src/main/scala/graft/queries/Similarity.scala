package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Embedding similarity search (SURVEY.md §2-B q34 + training-data
  * extensions): brute-force cosine top-k as correctness baseline, a
  * sign-bit LSH bucketing for near-duplicate candidate pairs, and an
  * IVF-style bucketed ANN probe as the scale path.
  *
  * All vector math is higher-order Catalyst functions over
  * ARRAY<FLOAT> cast to double — no UDFs, map-side only; the LSH/IVF
  * variants turn the O(n²) pair space into per-bucket joins that shuffle
  * on the bucket key, which is the pattern that survives 100 TB (bucket
  * count scales with corpus; brute force is kept only as the oracle).
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** Cosine similarity between two ARRAY<FLOAT> columns via the native
    * codegen'd expression (graft.functions.CosineSimilarity) — one fused
    * loop, accumulation order identical to the HOF/oracle formulation. */
  private def cosine(a: String, b: String) = expr(s"cosine_sim($a, $b)")

  /** 4-bit sign-bucket of the first 4 dimensions (16 LSH buckets). */
  private val bucketExpr = expr(
    """cast((case when element_at(embedding, 1) > 0 then 1 else 0 end)
          + (case when element_at(embedding, 2) > 0 then 2 else 0 end)
          + (case when element_at(embedding, 3) > 0 then 4 else 0 end)
          + (case when element_at(embedding, 4) > 0 then 8 else 0 end) as bigint)""")

  private def emb(s: SparkSession, d: String) =
    Tables.load(s, d, "embeddings")

  /** Sign-bucket LSH near-duplicate candidate edges over an
    * (vec_id, embedding) frame: pairs with a_id < b_id in the same
    * sign bucket and cosine >= tau, carrying the raw similarity. The
    * ONE definition behind q38 (which reports the pairs) and q117
    * (which clusters them), so "q117's candidate edges are exactly
    * q38's sub-quadratic set" holds by construction — a threshold or
    * bucketing change cannot silently decouple the two. */
  private def embedNearDupEdges(e0: DataFrame, tau: Double): DataFrame = {
    val e = e0.select(col("vec_id"), bucketExpr.as("bucket"),
      col("embedding").as("emb"))
    val a = e.select(col("vec_id").as("a_id"), col("bucket"),
      col("emb").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("bucket"),
      col("emb").as("b_emb"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim_raw", cosine("a_emb", "b_emb"))
      .filter(col("sim_raw") >= tau)
      .select("a_id", "b_id", "sim_raw")
  }

  /** PQ distance terms (vec_id, sub, c_id, d2): every vector's exact
    * DECIMAL(38,20) squared distance to each of the K=8 codebook
    * centroids in each of the M=4 16-dim subspaces (init = the first 8
    * vectors' subvectors, broadcast). Shared by q99 (code assignment)
    * and q116 (the assembled IVF-PQ search, where the probe's rows ARE
    * its ADC table). The vec_id repartition ahead of the broadcast
    * join is the ONLY exchange the whole PQ pipeline needs: hash
    * (vec_id) co-partitions every downstream grouping — (vec_id, sub,
    * c_id), (vec_id, sub), (vec_id) — so the per-subspace argmin and
    * the final per-vector fold all run exchange-free on top of it.
    * At 10⁹ vectors this is one all-to-all of the exploded dims and
    * nothing else; the serial AQE stage chain of the naive form (an
    * exchange per grouping) was also the local-latency killer.
    *
    * The repartition is NUMBERED (r15; it was keyless-numbered-free
    * through r14): AQE's byte-based coalescing saw the ~MB exploded
    * stream and folded it to ONE post-shuffle partition, so the
    * decimal-heavy join+aggregate chain above it — the most expensive
    * per-row arithmetic in the whole inventory, 512 DECIMAL(38,20)
    * terms per vector — ran single-task at every core count
    * (measured: the two consumer stages each ~2.0 s on one core of 32
    * at sf0.1). The jaccardPairsOf/docsetsOf precedent applies
    * verbatim: a user-numbered hash repartition is exempt from AQE
    * coalescing, and the work above it is CPU-bound row expansion,
    * not byte movement, so partition count must track cores, not
    * bytes. At scale numShufflePartitions is the cluster-sized knob
    * (2-3x total cores — GraftSession's documented contract), which
    * is exactly the parallelism this stage wants.
    *
    * `wide` is per-consumer: q99 aggregates the FULL corpus fan-out
    * above this exchange (CPU-bound — wants cores), while q116
    * semi-join-restricts to the probe's inverted list first, so its
    * post-exchange work is list-sized at any corpus size and AQE's
    * byte-based sizing is the right call there (measured: the
    * numbered form cost q116 +0.4 s of empty-task overhead at
    * sf0.1/local[32] while saving q99 3.4 s). */
  private def pqDistanceTerms(s: SparkSession, d: String,
      wide: Boolean): DataFrame = {
    val lf = emb(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), expr("pos div 16").as("sub"), col("pos"),
        col("col").cast("double").as("v"))
    val init = lf.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("sub"), col("pos"),
        col("v").as("cv"))
    (if (wide) lf.repartition(s.sessionState.conf.numShufflePartitions,
        col("vec_id"))
     else lf.repartition(col("vec_id")))
      .join(broadcast(init), Seq("sub", "pos"))
      .groupBy("vec_id", "sub", "c_id")
      .agg(sum(expr("cast((v - cv) * (v - cv) as decimal(38,20))"))
        .as("d2"))
  }

  /** Micro-unit ARRAY format (vec_id, varr): the exact-BIGINT
    * quantization every Lloyd consumer shares — vi = floor(v·1e6 + 0.5)
    * per element (bit-identical to the pre-r16 long form's
    * posexplode+cast: transform applies the same expression), kept as
    * one array row per vector. This is the ASSIGNMENT-side
    * representation (r16):
    * ranking a vector against k broadcast centroids is a per-vector
    * decision, so it wants the whole vector in one row — the long
    * format exists for the centroid RECOMPUTE, whose (c_id, pos) sums
    * genuinely aggregate across vectors, and is derived from this
    * array form map-side ([[longOf]]) wherever both are needed. */
  private def microArr(e: DataFrame): DataFrame =
    e.select(col("vec_id"), expr(
      """transform(embedding,
           v -> cast(floor(cast(v as double) * 1000000 + 0.5) as bigint))""")
      .as("varr"))

  /** The micro-unit LONG format (vec_id, pos, vi), derived map-side
    * from a (vec_id, varr) array frame — posexplode of an
    * already-quantized array, so checkpointing the array form once
    * serves both representations without a second scan or shuffle.
    * Used where the work genuinely aggregates ACROSS vectors (the
    * (c_id, pos) centroid recompute); assignment stays on the array
    * form. */
  private def longOf(ev: DataFrame): DataFrame =
    ev.select(col("vec_id"), posexplode(col("varr")))
      .select(col("vec_id"), col("pos"), col("col").as("vi"))

  /** Broadcastable array form of a centroid SUM table: (c_id, sarr)
    * with sarr[p] = si at pos p (positions are dense 0..dims-1 by
    * construction — posexplode emits every index, and a (c_id, pos)
    * sum over members preserves exactly that index set). k rows. */
  private def centArrOf(cent: DataFrame): DataFrame =
    cent.groupBy("c_id")
      .agg(expr(
        "transform(sort_array(collect_list(struct(pos, si))), x -> x.si)")
        .as("sarr"))

  /** Exact squared norms of the centroid sum vectors; an (impossible in
    * practice, but guarded identically in the oracle) all-zero sum
    * vector drops out rather than dividing by zero. */
  private def centNorms(cent: DataFrame): DataFrame =
    cent.groupBy("c_id")
      .agg(sum(expr("cast(si as decimal(38,0)) * cast(si as decimal(38,0))"))
        .as("cn2"))
      .filter(col("cn2") > 0)

  /** One exact assignment pass: every vector (array form, [[microArr]])
    * to its nearest centroid by the scale-invariant ranking
    * r = sign(dot)·dot²/cn2. Argmax per vector via max(struct(r,
    * -c_id)) — the q17 trick: identical semantics to a (r DESC, c_id
    * ASC) ranking window (ties on the exact double r break to the
    * LOWEST c_id) but it fuses into the aggregate chain with no
    * per-round sort.
    *
    * r16: the dot is ONE fused native pass per (vector, centroid) pair
    * — dot128(varr, sarr), the exact int128 twin of the former
    * relational form (explode to (pos, vi), k-way broadcast-join fanout
    * on pos, sum(cast(vi as decimal(38,0)) * si) per pair in a hash
    * aggregate). Bit-identical dots by construction (graft.functions.
    * Dot128's scaladoc carries the per-case parity argument; the
    * nv-guard below reproduces the join's empty-vector absence), but
    * the per-round corpus·k-row exchange-to-aggregate machinery — the
    * heaviest stages of every Lloyd consumer, and mostly DECIMAL buffer
    * churn — collapses into a map pass over |corpus| rows. Map-side
    * assignment against a broadcast codebook is also the production IVF
    * shape at any scale: the corpus never shuffles to be assigned.
    * Centroids broadcast (k·dims rows, domain-bounded). */
  private def assignTo(ev: DataFrame, cent: DataFrame): DataFrame = {
    ev.crossJoin(broadcast(centArrOf(cent)))
      .select(col("vec_id"), col("c_id"),
        expr("dot128(varr, sarr)").as("dot"), size(col("varr")).as("nv"))
      // dot IS NULL with nv = 0 ⟺ the relational join on pos produced
      // no (vec, centroid) row at all (empty vector) — drop, matching
      // the group's absence. dot IS NULL with nv > 0 (all-NULL
      // elements) kept: the relational sum yielded a NULL dot row.
      .filter(col("dot").isNotNull || col("nv") > 0)
      .join(broadcast(centNorms(cent)), Seq("c_id"))
      .withColumn("r", expr(
        """(case when dot >= 0 then 1.0d else -1.0d end)
           * cast(dot as double) * cast(dot as double)
           / cast(cn2 as double)"""))
      .groupBy("vec_id")
      .agg(max(struct(col("r"), (-col("c_id")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("c_id"))
  }

  /** The `n` lists nearest the probe (`vec_id` 0 of a [[microArr]]
    * frame), ranked exactly like [[assignTo]]: the fused dot128 against
    * the broadcast codebook (one row per (probe, centroid), not the
    * k·dims join fanout), r descending, ties to the lowest c_id.
    * assignTo's empty-vector guard runs BEFORE the dot here: an empty or
    * NULL probe embedding ranks no list — the relational form produced
    * no (probe, centroid) row for it — so the candidate set is empty,
    * and dot128's length check never sees the empty array. */
  private[graft] def probeLists(ev: DataFrame, cent: DataFrame, n: Int): DataFrame = {
    ev.filter(col("vec_id") === 0 && size(col("varr")) > 0)
      .crossJoin(broadcast(centArrOf(cent)))
      .select(col("c_id"), expr("dot128(varr, sarr)").as("dot"))
      .join(broadcast(centNorms(cent)), Seq("c_id"))
      .withColumn("r", expr(
        """(case when dot >= 0 then 1.0d else -1.0d end)
           * cast(dot as double) * cast(dot as double)
           / cast(cn2 as double)"""))
      .orderBy(col("r").desc, col("c_id")).limit(n)
      .select("c_id")
  }

  /** q50's Lloyd loop (k = 16 seeded from the first 16 vectors):
    * `iters` assign/recompute rounds over a micro-unit long format,
    * returning the final (vec_id, c_id) assignment.
    *
    * Each round's centroid table IS materialized (k·dims rows — 16
    * centroids, one row per dimension — through the durable-checkpoint
    * knob like every other multi-consumer state in the library).
    * Measured reason: cent has TWO consumers per round (the norm agg
    * and the assignment join), so as a pure lazy lineage the prior
    * rounds' subtree is duplicated under each consumer and the work
    * doubles per round — 3 unrolled lazy rounds benched 4.5 s at sf0.1
    * vs 0.6 s for one round (≈ the 1+2+4 geometric sum), and exchange
    * reuse does NOT collapse the copies because each appears under a
    * differently-keyed broadcast. Truncating the k·dims-row table per
    * round makes training time linear in `iters` for the cost of one
    * tiny per-round job — the same trade ConnectedComponents makes for
    * its pointer-doubling rounds.
    *
    * Exactness by construction, so the DuckDB oracle replays every
    * round bit-identically: vi = floor(v·1e6 + 0.5) are exact BIGINTs;
    * centroid state is the per-dim SUM vector (never the mean — cosine
    * is scale-invariant so argmax against S ≡ argmax against S/n, and
    * no cross-engine decimal-division scale rules are ever exercised);
    * dots and norms are exact DECIMAL(38,0) sums of integer products;
    * the only doubles are the final ranking values r = sign(dot)·dot²
    * /cn2, derived from identical exact integers by identical IEEE ops
    * in both engines. Ties break on c_id. Scale shape per round: one
    * broadcast join on pos (centroids are k·dims rows), one partial
    * agg to (vec_id, c_id), one per-vector max(struct) argmax agg, one
    * (c_id, pos) agg — the corpus shuffles on vec_id once per round,
    * centroids never shuffle. */
  private[graft] def lloydAssignments(s: SparkSession, d: String,
      iters: Int): DataFrame = {
    // Parallelism.widen BEFORE the checkpoint (r15): the micro-unit
    // stream inherits the scan's partition count, and a single-row-
    // group fixture file plans as ONE partition — a local checkpoint
    // PRESERVES that layout, so every downstream Lloyd round (the
    // heaviest stages of the whole query) ran serially on one core
    // however many the session had. Hash(vec_id) is the one
    // partitioning every consumer wants: it satisfies the (c_id, pos)
    // recompute's input spread and the per-vector argmax without
    // further exchanges. At scale the scan has thousands of splits and
    // widen is a no-op. Measured (sf0.1, local[32]): q50 3.9 s → see
    // OPTIMIZATION_r15.md.
    //
    // r16: the checkpoint holds the ARRAY form (one row per vector) —
    // assignment consumes it directly (assignTo's fused dot128 pass)
    // and the recompute derives the (vec_id, pos, vi) long rows
    // map-side (longOf), so one materialization serves both without
    // the explode ever being re-planned from the scan.
    val ev = graft.operators.Materialize.truncate(
      graft.operators.Parallelism.widen(microArr(emb(s, d)), col("vec_id")))
    val el = longOf(ev)
    var cent = graft.operators.Materialize.truncate(
      el.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("pos"), col("vi").as("si")))
    var asg: DataFrame = ev.sparkSession.emptyDataFrame
    for (i <- 1 to iters) {
      asg = assignTo(ev, cent)
      // the final round's recomputed centroids have no consumer — an
      // eager materialization there would be a pure waste job
      if (i < iters) cent = graft.operators.Materialize.truncate(
        el.join(asg, Seq("vec_id"))
          .groupBy("c_id", "pos").agg(sum("vi").as("si")))
    }
    // the final ASSIGNMENT does have two consumers in q50 (the probe's
    // cluster pick and the inverted-list join), and as a lazy lineage
    // the whole last assign round would compute once under each — the
    // same double-consumer trap the per-round centroid truncation
    // exists for, just one level up. It is |corpus| rows but only two
    // longs wide, so pinning it costs one narrow job and halves the
    // most expensive round.
    graft.operators.Materialize.truncate(asg)
  }

  /** q139's keep rule: a deterministic 75% content-hash sample — md5
    * of the exact micro-unit CSV (BIGINT formatting only, never float
    * repr), first hex char outside {c,d,e,f}. */
  private[graft] val sampleKeep = expr(
    """substr(md5(array_join(transform(embedding,
         v -> cast(cast(floor(cast(v as double) * 1000000 + 0.5)
                   as bigint) as string)), ',')), 1, 1)
       NOT IN ('c', 'd', 'e', 'f')""")

  /** q139's TRAINING input before materialization — the sampled
    * micro-unit ARRAY format ([[microArr]]; the long rows derive from
    * it map-side where the recompute needs them). Exposed so PlanSpec
    * can assert the sample filter sits on the training scan (the
    * materialized query hides training behind its checkpoints). */
  private[graft] def sampledTrainingInput(s: SparkSession,
      d: String): DataFrame =
    microArr(emb(s, d).select(col("vec_id"), col("embedding"))
      .filter(sampleKeep))

  /** iters full Lloyd rounds (assign + recompute, INCLUDING the final
    * recompute) over an already-materialized micro-unit array frame
    * `ev`, seeded from its 16 lowest vec_ids; returns the final
    * centroid SUM-vector table (k·dims rows, materialized). This is
    * the TRAINING half used when training input ≠ assignment input
    * (q139 trains on a sample, q140 routes probes against the final
    * codebook): unlike lloydAssignments, the post-final-assignment
    * centroids DO have consumers here, so the extra recompute is paid
    * deliberately. */
  private[graft] def lloydCentroids(ev: DataFrame, iters: Int): DataFrame = {
    val el = longOf(ev)
    val seeds = ev.select("vec_id").distinct()
      .orderBy("vec_id").limit(16)
      .select(col("vec_id").as("c_id"))
    var cent = graft.operators.Materialize.truncate(
      el.join(broadcast(seeds), col("vec_id") === col("c_id"))
        .select(col("c_id"), col("pos"), col("vi").as("si")))
    for (_ <- 1 to iters) {
      val asg = assignTo(ev, cent)
      cent = graft.operators.Materialize.truncate(
        el.join(asg, Seq("vec_id"))
          .groupBy("c_id", "pos").agg(sum("vi").as("si")))
    }
    cent
  }

  /** The q50 oracle's unrolled Lloyd rounds: CTEs n_i (norms), s_i
    * (dots), a_i (assignments), c_i (recomputed sum vectors) replaying
    * lloydAssignments round by round with identical exact arithmetic.
    * `src` is the training-input CTE name — "el" for full-corpus
    * training (q50/q140), the sampled CTE for q139. */
  private def lloydRoundsSql(iters: Int, src: String = "el"): String =
    (1 to iters).map { i =>
      s"""n$i AS (SELECT c_id,
               sum(CAST(si AS DECIMAL(38,0)) * CAST(si AS DECIMAL(38,0)))
                 AS cn2
             FROM c${i - 1} GROUP BY c_id HAVING cn2 > 0),
          s$i AS (SELECT $src.vec_id, c.c_id,
               sum(CAST($src.vi AS DECIMAL(38,0)) * c.si) AS dot
             FROM $src JOIN c${i - 1} c USING (pos)
             GROUP BY $src.vec_id, c.c_id),
          a$i AS (SELECT vec_id, c_id FROM (
               SELECT s.vec_id, s.c_id, row_number() OVER (
                 PARTITION BY s.vec_id ORDER BY
                   (CASE WHEN s.dot >= 0 THEN 1.0 ELSE -1.0 END)
                     * CAST(s.dot AS DOUBLE) * CAST(s.dot AS DOUBLE)
                     / CAST(n.cn2 AS DOUBLE) DESC,
                   s.c_id) AS rn
               FROM s$i s JOIN n$i n USING (c_id)) t WHERE rn = 1),
          c$i AS (SELECT a.c_id, $src.pos, sum($src.vi) AS si
             FROM $src JOIN a$i a USING (vec_id) GROUP BY a.c_id, $src.pos)"""
    }.mkString(",\n")

  /** The oracle's final-codebook CTEs shared by q139/q140: nf = exact
    * norms of the trained sum vectors (c`iters`), sf/af = one full
    * assignment pass of `el` against them — the SQL replay of
    * assignTo(el, lloydCentroids(...)). */
  private def assignVsFinalSql(iters: Int): String =
    s"""nf AS (SELECT c_id,
            sum(CAST(si AS DECIMAL(38,0)) * CAST(si AS DECIMAL(38,0)))
              AS cn2
          FROM c$iters GROUP BY c_id HAVING cn2 > 0),
        sf AS (SELECT el.vec_id, c.c_id,
            sum(CAST(el.vi AS DECIMAL(38,0)) * c.si) AS dot
          FROM el JOIN c$iters c USING (pos)
          GROUP BY el.vec_id, c.c_id),
        af AS (SELECT vec_id, c_id FROM (
            SELECT s.vec_id, s.c_id, row_number() OVER (
              PARTITION BY s.vec_id ORDER BY
                (CASE WHEN s.dot >= 0 THEN 1.0 ELSE -1.0 END)
                  * CAST(s.dot AS DOUBLE) * CAST(s.dot AS DOUBLE)
                  / CAST(n.cn2 AS DOUBLE) DESC,
                s.c_id) AS rn
            FROM sf s JOIN nf n USING (c_id)) t WHERE rn = 1)"""

  val queries: Map[String, Q] = Map(
    // q34: brute-force cosine top-10 vs probe vec_id = 0
    "q34_cosine_topk" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding").as("emb"))
      val probe = e.filter(col("vec_id") === 0).select(col("emb").as("pe"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), round(cosine("emb", "pe"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // q144: JL RANDOM PROJECTION, filter-then-refine + recall audit —
    // the dimensionality-reduction pipeline a real ANN system runs:
    // (1) PROJECT every vector 64 → 32 dims map-side (jl_project, a
    // native codegen'd expression whose DETERMINISTIC ±1 sign matrix
    // is pure integer arithmetic — no RNG, no broadcast matrix,
    // reproducible across engines/runs/partitionings, the md5-
    // keep-rule family; the 1/sqrt(k) JL scale is dropped because
    // cosine is invariant under it); (2) FILTER: rank the probe's
    // neighbors by projected cosine and keep a 50-vector candidate
    // pool — at scale this pass touches only the half-width
    // projections (4× less vector I/O than 64-dim floats); (3)
    // REFINE: rank the pool by exact cosine. In the AUDIT-FREE
    // deployment shape that refine step fetches full vectors for the
    // pool only (a semi join — 10% of this corpus); in THIS query the
    // brute-force audit arm below already needs the corpus-wide exact
    // pass, so refine deliberately semi-joins that MATERIALIZED table
    // instead of recomputing pool cosines — the exact pass is
    // audit-funded and shared, not an extra cost of refine (computing
    // the pool's cosines separately here would add work). The q89-style
    // audit arm computes the true brute-force top-10 and each output
    // row carries whether refine found it: 8/10 on this fixture —
    // measured, not assumed, and an honest one: these synthetic
    // embeddings are pure noise (true top sims ≈ 0.37), the WORST
    // case for JL distance preservation; clustered real embeddings
    // only do better. Rank window runs over a TakeOrdered-capped
    // 10-row input (the q122 pattern).
    "q144_jl_projection" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = emb(s, d)
      // materialized: BOTH the brute-force audit arm and the refine
      // arm consume this subtree, and Spark reuses only the broadcast
      // exchange across them — unchecked, the corpus-wide exact-cosine
      // pass (the dominant cost, the thing the JL filter exists to
      // avoid rerunning) would execute twice per collect (the
      // q103/q143 lineage-replay class)
      val exactSims = graft.operators.Materialize.truncate {
        val e = base.select(col("vec_id"), col("embedding").as("emb"))
        val probe = e.filter(col("vec_id") === 0)
          .select(col("emb").as("pe"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), round(cosine("emb", "pe"), 4).as("sim"))
      }
      val brute10 = exactSims
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
      val candidates = {
        val e = base.select(col("vec_id"),
          expr("jl_project(embedding, 32)").as("pj"))
        val probe = e.filter(col("vec_id") === 0)
          .select(col("pj").as("ppj"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), round(cosine("pj", "ppj"), 4).as("psim"))
          .orderBy(col("psim").desc, col("vec_id")).limit(50)
      }
      val refined = exactSims
        .join(candidates.select("vec_id"), Seq("vec_id"), "left_semi")
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
      refined
        .withColumn("rk", row_number().over(
          Window.orderBy(col("sim").desc, col("vec_id"))))
        .join(brute10.select(col("vec_id"), lit(true).as("hit")),
          Seq("vec_id"), "left")
        .select(col("rk"), col("vec_id"), col("sim"),
          coalesce(col("hit"), lit(false)).as("in_exact_top10"))
        .orderBy("rk")
    }),

    // q145: the JL projection's PRODUCTION consumer — q47's kNN join
    // with candidate generation re-based on jl_project'ed vectors
    // (64 → 16 dims, 4× less vector I/O and cosine arithmetic for
    // every candidate pair). Unlike q144 — where the brute-force
    // audit arm funds a corpus-wide exact pass that refine then
    // shares — HERE the refine arm is genuinely POOL-ONLY end to end:
    // (1) CANDIDATES: the bucket equi-join and per-probe ranking run
    // entirely on the 16-dim projections (the narrow table a 100 TB
    // pipeline would pre-materialize next to its index) — top-10 pool
    // per probe by projected cosine; (2) REFINE: full 64-dim vectors
    // are fetched ONLY for pool members (two id equi-joins, ≤ 10
    // rows per probe) and reranked by exact cosine to top-3;
    // (3) AUDIT: the full-dim in-bucket top-3 (exactly q47's answer
    // set) marks each refined row in_full_top3 — recall measured per
    // row, q89-style, not assumed. The audit arm is probe-bounded
    // (100 probes × one bucket each), not corpus-wide. The pool needs
    // NO Materialize: its consumers form a single linear chain
    // (pool ⋈ full-vectors-for-a ⋈ full-vectors-for-b), so the
    // projected bucket join + rank runs exactly once per collect —
    // unlike q143/q144, where a genuinely shared subtree had to be
    // truncated to stop a second corpus-scale lineage replay.
    "q145_jl_knn" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = emb(s, d)
      val proj = base.select(col("vec_id"), bucketExpr.as("bucket"),
        expr("jl_project(embedding, 16)").as("pj"))
      val pPool = Window.partitionBy("a_id")
        .orderBy(col("psim").desc, col("b_id"))
      val pool =
        proj.filter(col("vec_id") < 100)
          .select(col("vec_id").as("a_id"), col("bucket"),
            col("pj").as("a_pj"))
          .join(proj.select(col("vec_id").as("b_id"), col("bucket"),
            col("pj").as("b_pj")), Seq("bucket"))
          .filter(col("a_id") =!= col("b_id"))
          .select(col("a_id"), col("b_id"),
            round(cosine("a_pj", "b_pj"), 4).as("psim"))
          .withColumn("prn", row_number().over(pPool))
          .filter(col("prn") <= 10)
          .select("a_id", "b_id")
      val full = base.select(col("vec_id"), col("embedding"))
      val exact = pool
        .join(full.select(col("vec_id").as("a_id"),
          col("embedding").as("a_emb")), Seq("a_id"))
        .join(full.select(col("vec_id").as("b_id"),
          col("embedding").as("b_emb")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          round(cosine("a_emb", "b_emb"), 4).as("sim"))
      val wE = Window.partitionBy("a_id")
        .orderBy(col("sim").desc, col("b_id"))
      val refined = exact.withColumn("rk", row_number().over(wE))
        .filter(col("rk") <= 3)
      val wF = Window.partitionBy("a_id")
        .orderBy(col("fsim").desc, col("b_id"))
      val eFull = base.select(col("vec_id"), bucketExpr.as("bucket"),
        col("embedding").as("emb"))
      val fullTop = eFull.filter(col("vec_id") < 100)
        .select(col("vec_id").as("a_id"), col("bucket"),
          col("emb").as("a_emb"))
        .join(eFull.select(col("vec_id").as("b_id"), col("bucket"),
          col("emb").as("b_emb")), Seq("bucket"))
        .filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(cosine("a_emb", "b_emb"), 4).as("fsim"))
        .withColumn("rn", row_number().over(wF))
        .filter(col("rn") <= 3)
        .select(col("a_id"), col("b_id"), lit(true).as("hit"))
      refined
        .join(fullTop, Seq("a_id", "b_id"), "left")
        .select(col("a_id"), col("rk"), col("b_id"), col("sim"),
          coalesce(col("hit"), lit(false)).as("in_full_top3"))
        .orderBy("a_id", "rk")
    }),

    // q38: LSH-bucketed near-duplicate candidate pairs (cosine >= 0.3
    // within a sign bucket) — the pair space shrinks ~16x vs brute force
    "q38_embed_neardup" -> ((s, d) =>
      embedNearDupEdges(emb(s, d), 0.3)
        .select(col("a_id"), col("b_id"), round(col("sim_raw"), 4).as("sim"))
        .orderBy("a_id", "b_id")),

    // q47: distributed kNN join — top-3 neighbors per probe (first 100
    // vectors) within the probe's LSH bucket: candidate generation is a
    // bucket equi-join, ranking is a per-probe window. The pattern that
    // replaces an O(n²) all-pairs kNN at corpus scale.
    "q47_knn_join" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), bucketExpr.as("bucket"),
        col("embedding").as("emb"))
      val probes = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("a_id"), col("bucket"),
          col("emb").as("a_emb"))
      val cands = e.select(col("vec_id").as("b_id"), col("bucket"),
        col("emb").as("b_emb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("a_id").orderBy(col("sim").desc, col("b_id"))
      probes.join(cands, Seq("bucket"))
        .filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(cosine("a_emb", "b_emb"), 4).as("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("a_id"), col("b_id"), col("sim"))
        .orderBy(col("a_id"), col("sim").desc, col("b_id"))
    }),

    // q48: per-label centroids (classification prototypes) — per-dim
    // decimal-exact means via posexplode, reported as the centroid's L2
    // norm. The vector-aggregation shape used for prototype/clustering
    // steps in training pipelines.
    "q48_centroids" -> ((s, d) =>
      emb(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy("label", "pos")
        .agg((sum(col("col").cast(
            org.apache.spark.sql.types.DecimalType(18, 8))).cast("double")
          / count(lit(1))).as("mean"),
          count(lit(1)).as("n"))
        .groupBy("label")
        .agg(round(sqrt(sum(col("mean") * col("mean"))), 4)
          .as("centroid_norm"),
          max(col("n")).as("n_vecs"))
        .orderBy("label")),

    // q50: IVF with LEARNED centroids — THREE deterministic Lloyd
    // rounds (lloydAssignments below), entirely relational: quantize
    // every embedding to exact micro-unit integers, assign each vector
    // to its nearest centroid by an EXACT ranking (cosine is
    // scale-invariant, so ranking against the centroid's unnormalized
    // SUM vector ≡ ranking against its mean — the mean division, and
    // its engine-specific decimal scale rules, never happen), recompute
    // the sum vectors, repeat. The probe (vec 0) routes to the cluster
    // the final round assigned it to, and only that inverted list is
    // scanned for the top-5. Production ANN shape: train on a sample,
    // assign map-side (centroids broadcast), probe touches ~1/k of the
    // corpus; more Lloyd rounds = tighter clusters = higher recall at
    // the same probe cost (TextSimilaritySpec measures 1-round vs
    // 3-round recall on the fixture).
    "q50_ivf_kmeans" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val asg = lloydAssignments(s, d, 3)
      val bestC = asg.filter(col("vec_id") === 0).select("c_id")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe"))
      e.join(asg, Seq("vec_id"))
        .join(broadcast(bestC), Seq("c_id"))
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), round(cosine("embedding", "pe"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(5)
    }),

    // q39: IVF-style ANN — probe only scans its own inverted list (bucket)
    "q39_ann_ivf" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), bucketExpr.as("bucket"),
        col("embedding").as("emb"))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("bucket").as("p_bucket"), col("emb").as("pe"))
      e.join(broadcast(probe), col("bucket") === col("p_bucket"))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), round(cosine("emb", "pe"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(5)
    }),

    // q76: embedding normalization + matryoshka truncation — the
    // dimension-reduction step before indexing: per-vector L2 norm and
    // the fraction of that norm retained by the first 8 dimensions
    // (the metric that decides how far a matryoshka-style index can
    // truncate). Map-only; zero vectors report zero retained mass
    // instead of dividing by zero.
    "q76_embed_normalize" -> ((s, d) =>
      emb(s, d)
        .select(col("vec_id"),
          expr("""sqrt(aggregate(embedding, cast(0.0 as double),
                    (a, x) -> a + cast(x as double) * cast(x as double)))""")
            .as("norm"),
          expr("""sqrt(aggregate(slice(embedding, 1, 8), cast(0.0 as double),
                    (a, x) -> a + cast(x as double) * cast(x as double)))""")
            .as("tnorm"))
        .select(col("vec_id"), round(col("norm"), 4).as("norm"),
          when(col("norm") > 0, round(col("tnorm") / col("norm"), 4))
            .otherwise(lit(0.0)).as("mass8"))
        .orderBy("vec_id")),

    // q71: int8 symmetric quantization of embedding vectors — the
    // storage/bandwidth step before shipping vectors to an ANN index.
    // Map-only; all math is double with a floor(x + 0.5) round so both
    // engines hit identical IEEE results (no round-half tie exposure),
    // zero vectors quantize to zeros instead of dividing by zero.
    // The quantized vector is emitted as a CSV string (q_csv), not an
    // ARRAY<INT>: the driver's pandas compare lexsorts every output
    // column, and numpy arrays are unhashable there — oracled outputs
    // must be scalar-typed (ContractSpec pins this inventory-wide).
    "q71_embed_quantize" -> ((s, d) =>
      emb(s, d)
        .withColumn("maxabs",
          array_max(expr("transform(embedding, v -> abs(v))")))
        .select(col("vec_id"), col("maxabs").cast("double").as("maxabs"),
          expr("""array_join(case when maxabs = cast(0 as float)
              then transform(embedding, v -> '0')
              else transform(embedding, v -> cast(cast(floor(
                cast(v as double) * (cast(127 as double) / cast(maxabs as double))
                + 0.5d) as int) as string)) end, ',')""").as("q_csv"))
        .orderBy("vec_id")),

    // q89: ANN quality metric — recall@5 of the IVF probe (q39) against
    // the brute-force top-5 (q34 shape). "Measure, don't guess": the
    // recall a bucketed index actually delivers is the number that sets
    // the bucket/nprobe knobs at scale, so the engine computes it as a
    // query. Both top-5 sides are TakeOrdered over one broadcast-probe
    // pass; the intersection is a 5-row semi join; output is a single
    // integer-basis-points row (no FP in the result).
    "q89_ann_recall" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), bucketExpr.as("bucket"),
        col("embedding").as("emb"))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("bucket").as("p_bucket"), col("emb").as("pe"))
      val brute = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), round(cosine("emb", "pe"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      val ivf = e.join(broadcast(probe), col("bucket") === col("p_bucket"))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), round(cosine("emb", "pe"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      brute.join(ivf.select("vec_id"), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(col("hits"), (col("hits") * 2000).as("recall_bp"))
    }),

    // q99: product-quantization code assignment — the vector-COMPRESSION
    // half of ANN (q50 is the routing half): split each 64-dim vector
    // into M=4 subspaces of 16 dims, assign each subvector to its
    // nearest of K=8 codebook centroids (init = the first 8 vectors'
    // subvectors — one deterministic Lloyd assignment step, like q50),
    // emit the 4 codes + the exact quantization error per vector. A PQ
    // code is 4 bytes standing in for 256 float bytes — the memory
    // ratio that makes billion-vector indexes fit RAM. Shapes: the
    // codebook is TINY (K·M·16 rows) and broadcasts; distances
    // accumulate per (vec, sub, centroid) as DECIMAL(38,20) terms —
    // exact, order-independent, so the argmin (min-struct, no window)
    // picks the same code in every engine/run; everything else is
    // map-side + vec-keyed partial aggs.
    "q99_pq_codes" -> ((s, d) => {
      pqDistanceTerms(s, d, wide = true)
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("d2"), col("c_id"))).as("m"))
        .groupBy("vec_id")
        .agg(
          min(when(col("sub") === 0, col("m.c_id"))).as("c0"),
          min(when(col("sub") === 1, col("m.c_id"))).as("c1"),
          min(when(col("sub") === 2, col("m.c_id"))).as("c2"),
          min(when(col("sub") === 3, col("m.c_id"))).as("c3"),
          round(sum(col("m.d2")).cast("double"), 6).as("qerr"))
        .orderBy("vec_id")
    }),

    // q116: the ASSEMBLED billion-scale ANN read path — IVF coarse
    // routing (q39's sign-bucket quantizer picks the probe's inverted
    // list) + PQ compression (q99's codes stand in for the vectors) +
    // ADC: the probe precomputes ONE distance table dt(sub, c_id) =
    // ||probe_sub − centroid||² (M·K = 32 rows, broadcast), and each
    // list member's approximate distance is just Σ_sub dt(code) — a
    // 4-key lookup-sum per vector, never touching the original floats.
    // This is why PQ indexes fit RAM at 10⁹ vectors: the scan reads
    // 4-byte codes + a broadcast table. Distance terms accumulate as
    // DECIMAL(38,20) (q99's exactness argument), so the code
    // assignment, the table, and the final ranking are engine-exact;
    // ties break on vec_id. Top-5 is TakeOrdered — no global sort.
    // The probe is vec 0, a corpus member, so its ADC table is just its
    // OWN rows of the shared distance-term pipeline — one filter on the
    // same exchange, not a second scan→explode→join chain.
    "q116_ivf_pq" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), bucketExpr.as("bucket"))
      val d2t = pqDistanceTerms(s, d, wide = false)
      // index build = q99's code assignment (exact decimal argmin),
      // restricted to the probe's inverted list up front: everything
      // below the semi join stays on the one vec_id exchange
      val pb = e.filter(col("vec_id") === 0)
        .select(col("bucket").as("p_bucket"))
      val members = e.join(broadcast(pb), col("bucket") === col("p_bucket"))
        .filter(col("vec_id") =!= 0)
        .select("vec_id")
      val dt = d2t.filter(col("vec_id") === 0)
        .select(col("sub"), col("c_id"), col("d2").as("pd2"))
      d2t.join(broadcast(members), Seq("vec_id"), "left_semi")
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("d2"), col("c_id"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.c_id").as("c_id"))
        .join(broadcast(dt), Seq("sub", "c_id"))
        .groupBy("vec_id")
        .agg(round(sum(col("pd2")).cast("double"), 6).as("adist"))
        .orderBy(col("adist"), col("vec_id"))
        .limit(5)
    }),

    // q120: MULTI-PROBE IVF — the recall/cost knob every production ANN
    // index exposes (probe > 1 inverted lists): the probe scans its own
    // sign bucket PLUS the four Hamming-1 neighbors (one flipped sign
    // bit each — the buckets a borderline vector most likely fell
    // into), and the summary row reports hits + recall_bp against the
    // exact brute-force top-5 (the q89 audit) NEXT TO n_scanned, the
    // price paid: recall rises with list count, scan cost rises
    // linearly, and this query measures both sides of that trade
    // instead of asserting it. The 5 probe buckets are ONE broadcast
    // row exploded; the corpus side still prunes map-side on the
    // bucket equi-join — never a full-corpus distance pass (that is
    // the brute arm, which exists here only as the audit's ground
    // truth).
    "q120_multiprobe_ivf" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), bucketExpr.as("bucket"),
        col("embedding").as("emb"))
      val pr = e.filter(col("vec_id") === 0)
      val pb = pr.select(explode(expr(
          "array(bucket, bucket ^ 1, bucket ^ 2, bucket ^ 4, bucket ^ 8)"))
          .as("p_bucket"), col("emb").as("pe"))
      val cand = e.join(broadcast(pb), col("bucket") === col("p_bucket"))
        .filter(col("vec_id") =!= 0)
      val scanned = cand.agg(count(lit(1)).as("n_scanned"))
      val top = cand
        .select(col("vec_id"), round(cosine("emb", "pe"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      val probe = pr.select(col("emb").as("pe2"))
      val brute = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          round(expr("cosine_sim(emb, pe2)"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      brute.join(top.select("vec_id"), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(col("hits"), (col("hits") * 2000).as("recall_bp"))
        .crossJoin(broadcast(scanned))
    }),

    // q139: SAMPLED-TRAINING IVF — the 100 TB training story
    // (SCALE.md's q50 paragraph) as an executable, oracled query
    // instead of prose: the Lloyd loop trains the codebook on a
    // deterministic CONTENT-HASH sample (the q80/q92 keep-rule
    // family — md5 of the exact micro-unit CSV, a pure content
    // function: reproducible across runs/engines/partitionings, no
    // RNG, and never float formatting), then the FULL corpus is
    // assigned map-side against the broadcast codebook — the shape
    // that makes billion-vector IVF trainable: codebook quality
    // saturates long before corpus size, so training cost is sample-
    // sized while assignment stays one map-side pass. The rate here is
    // 75% (12 of 16 leading md5 hex chars) because the fixture IS
    // sample-sized — 500 near-uniform vectors for k=16 means the
    // probe's neighborhood must be represented in training at all
    // (measured: a 25% sample recalls 0/5, 50% recalls 1/5, 75%
    // matches the full-train 4/5 while scanning 33 of 500); at corpus
    // scale the rate drops as far as cluster structure allows and the
    // keep rule is the same one-character compare. The summary row
    // reports the honest price: recall_bp of the sampled-codebook
    // probe against the exact brute-force top-5, next to n_scanned
    // (probe cost) and n_train (training cost).
    "q139_ivf_sampled" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      // elS is a SECOND scan+explode of the filtered corpus rather
      // than a semi-join of the materialized `el` below (the oracle's
      // `els AS el JOIN samp` form): the rescan is map-only and
      // shuffle-free, while the join form must either broadcast the
      // sampled id set (impossible at corpus scale — it is 75% of all
      // ids) or shuffle `el` against it. Scan twice, shuffle never;
      // quantization cannot drift between the two passes because both
      // are the same deterministic microEl expression.
      // both micro-unit streams widen before their checkpoints (the
      // lloydAssignments rationale: a single-row-group scan pins every
      // training/assignment round to one core otherwise)
      val evS = graft.operators.Materialize.truncate(
        graft.operators.Parallelism.widen(
          sampledTrainingInput(s, d), col("vec_id")))
      val cent = lloydCentroids(evS, 3)
      val ev = graft.operators.Materialize.truncate(
        graft.operators.Parallelism.widen(microArr(e), col("vec_id")))
      val lists = graft.operators.Materialize.truncate(assignTo(ev, cent))
      val bestC = lists.filter(col("vec_id") === 0).select("c_id")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe"))
      val cand = e.join(lists, Seq("vec_id"))
        .join(broadcast(bestC), Seq("c_id"))
        .filter(col("vec_id") =!= 0)
      val scanned = cand.agg(count(lit(1)).as("n_scanned"))
      val ntrain = evS.select("vec_id").distinct()
        .agg(count(lit(1)).as("n_train"))
      val top = cand.crossJoin(broadcast(probe))
        .select(col("vec_id"), round(cosine("embedding", "pe"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      val brute = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), round(cosine("embedding", "pe"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      brute.join(top.select("vec_id"), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(col("hits"), (col("hits") * 2000).as("recall_bp"))
        .crossJoin(broadcast(scanned))
        .crossJoin(broadcast(ntrain))
    }),

    // q140: MULTI-PROBE over the LEARNED codebook — q120's recall/cost
    // knob composed with q50's trained centroids (the r9 verdict's
    // "two halves exist, not composed"): inverted lists are one full
    // assignment pass against the final 3-round codebook, and the
    // probe ranks ALL k centroids by the same exact integer ranking
    // the assignment uses, then scans its 2 nearest lists. Production
    // IVF multi-probe exactly: probe cost ∝ the probed lists' sizes,
    // never the corpus; the 2nd list buys back the recall a borderline
    // probe loses when its true neighbors sit across a Voronoi face.
    // Summary row: hits + recall_bp vs the exact brute arm, n_scanned
    // the price.
    "q140_multiprobe_learned" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      // widen before the checkpoint (the lloydAssignments rationale)
      val ev = graft.operators.Materialize.truncate(
        graft.operators.Parallelism.widen(microArr(e), col("vec_id")))
      val cent = lloydCentroids(ev, 3)
      val lists = graft.operators.Materialize.truncate(assignTo(ev, cent))
      val pr = probeLists(ev, cent, 2)
      val cand = e.join(lists, Seq("vec_id"))
        .join(broadcast(pr), Seq("c_id"))
        .filter(col("vec_id") =!= 0)
      val scanned = cand.agg(count(lit(1)).as("n_scanned"))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe"))
      val top = cand.crossJoin(broadcast(probe))
        .select(col("vec_id"), round(cosine("embedding", "pe"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      val brute = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), round(cosine("embedding", "pe"), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      brute.join(top.select("vec_id"), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(col("hits"), (col("hits") * 2000).as("recall_bp"))
        .crossJoin(broadcast(scanned))
    }),

    // q117: SemDeDup-style SEMANTIC dedup — the embedding-space twin of
    // the text dedup chain (q35 LSH candidates -> q67 clusters -> q102
    // canon): near-duplicate MEANING, not near-duplicate bytes, is what
    // survives paraphrase and templating at web scale. Candidate edges
    // are exactly q38's sub-quadratic set (cosine >= tau inside a
    // sign-bit LSH bucket — never all-pairs), the transitive grouping is
    // the shared ConnectedComponents operator (O(log diameter) BSP,
    // durable-checkpoint knob), and each group keeps its minimum vec_id.
    // Output is the dedup DECISION: one row per DROPPED vector with the
    // keeper it lost to — the table a 100 TB curation job anti-joins
    // against the corpus (the q73 pattern). Oracle: DuckDB recursive-CTE
    // closure over the same edge predicate.
    "q117_semantic_dedup" -> ((s, d) => {
      val edges = embedNearDupEdges(emb(s, d), 0.3).select("a_id", "b_id")
      graft.operators.ConnectedComponents.run(edges, "a_id", "b_id")
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("vec_id"), col("cluster_id").as("kept_by"))
        .orderBy("vec_id")
    })
  )

  private val duckBucket =
    """CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
          + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
          + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS BIGINT)"""

  val oracle: Map[String, String] = Map(
    "q34_cosine_topk" ->
      """SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             CAST(p.pe AS DOUBLE[])), 4) AS sim
         FROM embeddings e,
              (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0) p
         WHERE e.vec_id <> 0
         ORDER BY sim DESC, vec_id LIMIT 10""",

    // the projection replays as pure SQL: the SAME middle-square
    // integer sign expression (mod-2^20 bound keeps h² < 2^40 —
    // DuckDB throws on BIGINT overflow), each projected dim a
    // left-fold (list_reduce) over the signed float-widened terms —
    // bit-identical to the native expression's accumulation; cosine
    // via list_cosine_similarity on the DOUBLE[] projections (the q34
    // convention); then the same filter(50) → exact refine(10) → hit
    // flag against the brute top-10
    "q144_jl_projection" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
              list_transform(range(0, 32), j ->
                list_reduce(list_transform(range(0, 64), i ->
                  (CASE WHEN (((((i * 1000003 + j * 7919 + 12345)
                                 % 1048576)
                                * ((i * 1000003 + j * 7919 + 12345)
                                   % 1048576)) // 128) % 2) = 0
                        THEN 1.0 ELSE -1.0 END)
                    * CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)),
                  (a, b) -> a + b)) AS pj
            FROM embeddings),
          p AS (SELECT emb AS pe, pj AS ppj FROM e WHERE vec_id = 0),
          sims AS (SELECT e.vec_id,
                     round(list_cosine_similarity(e.emb, p.pe), 4) AS sim
                   FROM e, p WHERE e.vec_id <> 0),
          brute AS (SELECT vec_id FROM sims
                    ORDER BY sim DESC, vec_id LIMIT 10),
          cand AS (SELECT e.vec_id,
                     round(list_cosine_similarity(e.pj, p.ppj), 4) AS psim
                   FROM e, p WHERE e.vec_id <> 0
                   ORDER BY psim DESC, vec_id LIMIT 50),
          ref AS (SELECT s.vec_id, s.sim FROM sims s
                  JOIN cand c USING (vec_id)
                  ORDER BY s.sim DESC, s.vec_id LIMIT 10),
          r AS (SELECT vec_id, sim, CAST(row_number() OVER (
                  ORDER BY sim DESC, vec_id) AS INT) AS rk FROM ref)
          SELECT r.rk, r.vec_id, r.sim,
            b.vec_id IS NOT NULL AS in_exact_top10
          FROM r LEFT JOIN brute b USING (vec_id) ORDER BY rk""",

    "q145_jl_knn" ->
      s"""WITH e AS (SELECT vec_id, $duckBucket AS bucket,
              CAST(embedding AS DOUBLE[]) AS emb,
              list_transform(range(0, 16), j ->
                list_reduce(list_transform(range(0, 64), i ->
                  (CASE WHEN (((((i * 1000003 + j * 7919 + 12345)
                                 % 1048576)
                                * ((i * 1000003 + j * 7919 + 12345)
                                   % 1048576)) // 128) % 2) = 0
                        THEN 1.0 ELSE -1.0 END)
                    * CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)),
                  (a, b) -> a + b)) AS pj
            FROM embeddings),
          pool0 AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              round(list_cosine_similarity(a.pj, b.pj), 4) AS psim
            FROM e a JOIN e b
              ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
            WHERE a.vec_id < 100),
          pool AS (SELECT a_id, b_id FROM (
              SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
                ORDER BY psim DESC, b_id) AS prn FROM pool0)
            WHERE prn <= 10),
          ex AS (SELECT p.a_id, p.b_id,
              round(list_cosine_similarity(ea.emb, eb.emb), 4) AS sim
            FROM pool p JOIN e ea ON ea.vec_id = p.a_id
                        JOIN e eb ON eb.vec_id = p.b_id),
          r AS (SELECT a_id, b_id, sim,
              CAST(row_number() OVER (PARTITION BY a_id
                ORDER BY sim DESC, b_id) AS INT) AS rk FROM ex),
          ftop AS (SELECT a_id, b_id FROM (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                row_number() OVER (PARTITION BY a.vec_id
                  ORDER BY round(list_cosine_similarity(a.emb, b.emb), 4)
                    DESC, b.vec_id) AS rn
              FROM e a JOIN e b
                ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
              WHERE a.vec_id < 100)
            WHERE rn <= 3)
          SELECT r.a_id, r.rk, r.b_id, r.sim,
            f.b_id IS NOT NULL AS in_full_top3
          FROM r LEFT JOIN ftop f
            ON f.a_id = r.a_id AND f.b_id = r.b_id
          WHERE r.rk <= 3
          ORDER BY r.a_id, r.rk""",

    "q38_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, $duckBucket AS bucket,
              CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            round(list_cosine_similarity(a.emb, b.emb), 4) AS sim
          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3
          ORDER BY a_id, b_id""",

    "q47_knn_join" ->
      s"""WITH e AS (SELECT vec_id, $duckBucket AS bucket,
              CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                  round(list_cosine_similarity(a.emb, b.emb), 4) AS sim
                FROM e a JOIN e b
                  ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
                WHERE a.vec_id < 100),
          r AS (SELECT a_id, b_id, sim,
                  row_number() OVER (PARTITION BY a_id
                    ORDER BY sim DESC, b_id) AS rn
                FROM p)
          SELECT a_id, b_id, sim FROM r WHERE rn <= 3
          ORDER BY a_id, sim DESC, b_id""",

    "q48_centroids" ->
      """WITH x AS (SELECT label,
              generate_subscripts(embedding, 1) - 1 AS pos,
              unnest(embedding) AS v
            FROM embeddings),
          m AS (SELECT label, pos,
                  CAST(sum(CAST(v AS DECIMAL(18,8))) AS DOUBLE)
                    / count(*) AS mean,
                  count(*) AS n
                FROM x GROUP BY label, pos)
          SELECT label, round(sqrt(sum(mean * mean)), 4) AS centroid_norm,
                 CAST(max(n) AS BIGINT) AS n_vecs
          FROM m GROUP BY label ORDER BY label""",

    "q50_ivf_kmeans" ->
      s"""WITH e AS (SELECT vec_id, embedding,
              CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          el AS (SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000
                     + 0.5) AS BIGINT) AS vi
                 FROM embeddings),
          c0 AS (SELECT vec_id AS c_id, pos, vi AS si FROM el
                 WHERE vec_id < 16),
          ${lloydRoundsSql(3)}
          SELECT e.vec_id,
            round(list_cosine_similarity(e.emb, p.pe), 4) AS sim
          FROM e
          JOIN a3 USING (vec_id)
          CROSS JOIN (SELECT emb AS pe FROM e WHERE vec_id = 0) p
          WHERE a3.c_id = (SELECT c_id FROM a3 WHERE vec_id = 0)
            AND e.vec_id <> 0
          ORDER BY sim DESC, vec_id LIMIT 5""",

    "q39_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, $duckBucket AS bucket,
              CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          p AS (SELECT bucket AS p_bucket, emb AS pe FROM e WHERE vec_id = 0)
          SELECT e.vec_id,
            round(list_cosine_similarity(e.emb, p.pe), 4) AS sim
          FROM e JOIN p ON e.bucket = p.p_bucket
          WHERE e.vec_id <> 0
          ORDER BY sim DESC, vec_id LIMIT 5""",

    "q76_embed_normalize" ->
      """WITH t AS (SELECT vec_id,
              sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm,
              sqrt(list_sum(list_transform(list_slice(embedding, 1, 8),
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS tnorm
            FROM embeddings)
          SELECT vec_id, round(norm, 4) AS norm,
            CASE WHEN norm > 0 THEN round(tnorm / norm, 4)
                 ELSE 0.0 END AS mass8
          FROM t ORDER BY vec_id""",

    "q71_embed_quantize" ->
      """WITH t AS (SELECT vec_id, embedding,
              list_max(list_transform(embedding, v -> abs(v))) AS maxabs
            FROM embeddings)
          SELECT vec_id, CAST(maxabs AS DOUBLE) AS maxabs,
            array_to_string(
              CASE WHEN maxabs = 0 THEN list_transform(embedding, v -> 0)
                   ELSE list_transform(embedding, v -> CAST(floor(
                     CAST(v AS DOUBLE) * (127 / CAST(maxabs AS DOUBLE))
                     + 0.5) AS INTEGER)) END, ',') AS q_csv
          FROM t ORDER BY vec_id""",

    "q89_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, $duckBucket AS bucket,
              CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          p AS (SELECT bucket AS p_bucket, emb AS pe FROM e
                WHERE vec_id = 0),
          brute AS (SELECT e.vec_id FROM e, p WHERE e.vec_id <> 0
                    ORDER BY round(list_cosine_similarity(e.emb, p.pe), 4)
                      DESC, e.vec_id LIMIT 5),
          ivf AS (SELECT e.vec_id FROM e JOIN p ON e.bucket = p.p_bucket
                  WHERE e.vec_id <> 0
                  ORDER BY round(list_cosine_similarity(e.emb, p.pe), 4)
                    DESC, e.vec_id LIMIT 5)
          SELECT count(*) AS hits, count(*) * 2000 AS recall_bp
          FROM brute JOIN ivf USING (vec_id)""",

    "q99_pq_codes" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
          lf AS (SELECT vec_id, (i - 1) // 16 AS sub,
                   CAST(i - 1 AS BIGINT) AS pos, emb[i] AS v
                 FROM e, UNNEST(generate_series(1, 64)) AS u(i)),
          init AS (SELECT vec_id AS c_id, sub, pos, v AS cv
                   FROM lf WHERE vec_id < 8),
          d AS (SELECT l.vec_id, l.sub, i.c_id,
                  sum(CAST((l.v - i.cv) * (l.v - i.cv)
                    AS DECIMAL(38,20))) AS d2
                FROM lf l JOIN init i ON l.sub = i.sub AND l.pos = i.pos
                GROUP BY 1, 2, 3),
          best AS (SELECT vec_id, sub, c_id, d2 FROM (
                     SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                       ORDER BY d2, c_id) AS rn FROM d) t
                   WHERE rn = 1)
          SELECT vec_id,
            min(c_id) FILTER (WHERE sub = 0) AS c0,
            min(c_id) FILTER (WHERE sub = 1) AS c1,
            min(c_id) FILTER (WHERE sub = 2) AS c2,
            min(c_id) FILTER (WHERE sub = 3) AS c3,
            round(CAST(sum(d2) AS DOUBLE), 6) AS qerr
          FROM best GROUP BY vec_id ORDER BY vec_id""",

    // q99's code assignment + a probe-side ADC table; the coarse list
    // filter is q39's bucket predicate
    "q116_ivf_pq" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                       $duckBucket AS bucket
                     FROM embeddings),
          lf AS (SELECT vec_id, (i - 1) // 16 AS sub,
                   CAST(i - 1 AS BIGINT) AS pos, emb[i] AS v
                 FROM e, UNNEST(generate_series(1, 64)) AS u(i)),
          init AS (SELECT vec_id AS c_id, sub, pos, v AS cv
                   FROM lf WHERE vec_id < 8),
          d AS (SELECT l.vec_id, l.sub, i.c_id,
                  sum(CAST((l.v - i.cv) * (l.v - i.cv)
                    AS DECIMAL(38,20))) AS d2
                FROM lf l JOIN init i ON l.sub = i.sub AND l.pos = i.pos
                GROUP BY 1, 2, 3),
          codes AS (SELECT vec_id, sub, c_id FROM (
                      SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY d2, c_id) AS rn FROM d) t
                    WHERE rn = 1),
          dt AS (SELECT l.sub, i.c_id,
                   sum(CAST((l.v - i.cv) * (l.v - i.cv)
                     AS DECIMAL(38,20))) AS pd2
                 FROM lf l JOIN init i ON l.sub = i.sub AND l.pos = i.pos
                 WHERE l.vec_id = 0 GROUP BY 1, 2),
          m AS (SELECT vec_id FROM e WHERE vec_id <> 0 AND bucket =
                  (SELECT bucket FROM e WHERE vec_id = 0))
          SELECT c.vec_id, round(CAST(sum(dt.pd2) AS DOUBLE), 6) AS adist
          FROM codes c JOIN m USING (vec_id)
          JOIN dt ON dt.sub = c.sub AND dt.c_id = c.c_id
          GROUP BY 1 ORDER BY adist, vec_id LIMIT 5""",

    // the probe's own bucket + 4 Hamming-1 neighbors via xor; brute arm
    // is q89's ground truth, n_scanned is the candidate-list price
    "q120_multiprobe_ivf" ->
      s"""WITH e AS (SELECT vec_id, $duckBucket AS bucket,
              CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          p AS (SELECT bucket, emb AS pe FROM e WHERE vec_id = 0),
          pb AS (SELECT unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                          xor(bucket, 4), xor(bucket, 8)]) AS p_bucket, pe
                 FROM p),
          cand AS (SELECT e.vec_id, e.emb, pb.pe FROM e
                   JOIN pb ON e.bucket = pb.p_bucket WHERE e.vec_id <> 0),
          sc AS (SELECT count(*) AS n_scanned FROM cand),
          top5 AS (SELECT vec_id FROM (
                     SELECT vec_id,
                       round(list_cosine_similarity(emb, pe), 4) AS sim
                     FROM cand ORDER BY sim DESC, vec_id LIMIT 5) t),
          brute AS (SELECT vec_id FROM (
                     SELECT e.vec_id,
                       round(list_cosine_similarity(e.emb, p.pe), 4) AS sim
                     FROM e, p WHERE e.vec_id <> 0
                     ORDER BY sim DESC, vec_id LIMIT 5) t),
          h AS (SELECT count(*) AS hits FROM brute
                WHERE vec_id IN (SELECT vec_id FROM top5))
          SELECT hits, hits * 2000 AS recall_bp,
            (SELECT n_scanned FROM sc) AS n_scanned FROM h""",

    // sampled training: els is the 75% md5-of-content sample, the
    // Lloyd CTEs replay over els only, then ONE full assignment pass
    // (assignVsFinalSql) routes the whole corpus against the trained
    // codebook — the exact SQL mirror of lloydCentroids(elS, 3) +
    // assignTo(el, cent)
    "q139_ivf_sampled" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                     FROM embeddings),
          el AS (SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000
                     + 0.5) AS BIGINT) AS vi
                 FROM embeddings),
          samp AS (SELECT vec_id FROM (
                 SELECT vec_id, substr(md5(array_to_string(
                     list_transform(embedding,
                       v -> CAST(CAST(floor(CAST(v AS DOUBLE) * 1000000
                         + 0.5) AS BIGINT) AS VARCHAR)), ',')), 1, 1) AS hk
                 FROM embeddings) t
               WHERE hk NOT IN ('c', 'd', 'e', 'f')),
          els AS (SELECT el.* FROM el JOIN samp USING (vec_id)),
          -- seeds and n_train read from els' DISTINCT vec_ids, not from
          -- samp: the Scala side derives both from the EXPLODED sample
          -- (lloydCentroids seeds / the elS distinct count), where an
          -- empty-embedding doc contributes zero rows. Deriving from
          -- samp agreed only by md5-accident (md5('') starts with 'd',
          -- so an empty doc can never pass the keep rule today) —
          -- structural equality must not lean on that (ADVICE r10).
          c0 AS (SELECT vec_id AS c_id, pos, vi AS si FROM els
                 WHERE vec_id IN (SELECT DISTINCT vec_id FROM els
                                  ORDER BY vec_id LIMIT 16)),
          ${lloydRoundsSql(3, "els")},
          ${assignVsFinalSql(3)},
          p AS (SELECT emb AS pe FROM e WHERE vec_id = 0),
          cand AS (SELECT e.vec_id, e.emb FROM e JOIN af USING (vec_id)
                   WHERE af.c_id = (SELECT c_id FROM af WHERE vec_id = 0)
                     AND e.vec_id <> 0),
          top5 AS (SELECT vec_id FROM (
                 SELECT c.vec_id,
                   round(list_cosine_similarity(c.emb, p.pe), 4) AS sim
                 FROM cand c, p ORDER BY sim DESC, vec_id LIMIT 5) t),
          brute AS (SELECT vec_id FROM (
                 SELECT e.vec_id,
                   round(list_cosine_similarity(e.emb, p.pe), 4) AS sim
                 FROM e, p WHERE e.vec_id <> 0
                 ORDER BY sim DESC, vec_id LIMIT 5) t),
          h AS (SELECT count(*) AS hits FROM brute
                WHERE vec_id IN (SELECT vec_id FROM top5))
          SELECT hits, hits * 2000 AS recall_bp,
            (SELECT count(*) FROM cand) AS n_scanned,
            (SELECT count(DISTINCT vec_id) FROM els) AS n_train
          FROM h""",

    // full-corpus training seeded from the 16 LOWEST vec_ids — the
    // ORDER BY/LIMIT form, not `vec_id < 16`, because lloydCentroids
    // seeds by rank: the two are equal only while the fixture's ids
    // are contiguous from 0, and the oracle must not lean on that
    // invariant (q50 pins `< 16` on BOTH sides, so it stays exempt).
    // One assignment pass against the FINAL codebook c3 builds the
    // inverted lists; the probe ranks all centroids, scans 2 lists.
    "q140_multiprobe_learned" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                     FROM embeddings),
          el AS (SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000
                     + 0.5) AS BIGINT) AS vi
                 FROM embeddings),
          c0 AS (SELECT vec_id AS c_id, pos, vi AS si FROM el
                 WHERE vec_id IN (SELECT DISTINCT vec_id FROM el
                                  ORDER BY vec_id LIMIT 16)),
          ${lloydRoundsSql(3)},
          ${assignVsFinalSql(3)},
          pr AS (SELECT c_id FROM (
                 SELECT s.c_id, row_number() OVER (ORDER BY
                     (CASE WHEN s.dot >= 0 THEN 1.0 ELSE -1.0 END)
                       * CAST(s.dot AS DOUBLE) * CAST(s.dot AS DOUBLE)
                       / CAST(n.cn2 AS DOUBLE) DESC,
                     s.c_id) AS rn
                 FROM (SELECT c.c_id,
                         sum(CAST(el.vi AS DECIMAL(38,0)) * c.si) AS dot
                       FROM el JOIN c3 c USING (pos)
                       WHERE el.vec_id = 0 GROUP BY c.c_id) s
                 JOIN nf n USING (c_id)) t WHERE rn <= 2),
          p AS (SELECT emb AS pe FROM e WHERE vec_id = 0),
          cand AS (SELECT e.vec_id, e.emb FROM e
                   JOIN af USING (vec_id) JOIN pr ON af.c_id = pr.c_id
                   WHERE e.vec_id <> 0),
          top5 AS (SELECT vec_id FROM (
                 SELECT c.vec_id,
                   round(list_cosine_similarity(c.emb, p.pe), 4) AS sim
                 FROM cand c, p ORDER BY sim DESC, vec_id LIMIT 5) t),
          brute AS (SELECT vec_id FROM (
                 SELECT e.vec_id,
                   round(list_cosine_similarity(e.emb, p.pe), 4) AS sim
                 FROM e, p WHERE e.vec_id <> 0
                 ORDER BY sim DESC, vec_id LIMIT 5) t),
          h AS (SELECT count(*) AS hits FROM brute
                WHERE vec_id IN (SELECT vec_id FROM top5))
          SELECT hits, hits * 2000 AS recall_bp,
            (SELECT count(*) FROM cand) AS n_scanned
          FROM h""",

    // q38's edge predicate + q67's recursive-CTE transitive closure;
    // dropped = every node whose component holds a smaller id
    "q117_semantic_dedup" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, $duckBucket AS bucket,
              CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          edges AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
                    FROM e a JOIN e b
                      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                    WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3),
          sym AS (SELECT a_id AS src, b_id AS dst FROM edges
                  UNION SELECT b_id, a_id FROM edges),
          reach(src, dst) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src)
          SELECT src AS vec_id, min(dst) AS kept_by
          FROM reach GROUP BY src HAVING min(dst) < src ORDER BY vec_id"""
  )
}
