package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Native-expression checks: the codegen'd cosine_sim must agree exactly
  * with the higher-order-function formulation (same fold order), handle
  * nulls, and produce known values.
  */
class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  private val hof =
    """aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)),
         cast(0.0 as double), (s, v) -> s + v)
       / (sqrt(aggregate(a, cast(0.0 as double),
           (s, v) -> s + cast(v as double) * cast(v as double)))
        * sqrt(aggregate(b, cast(0.0 as double),
           (s, v) -> s + cast(v as double) * cast(v as double))))"""

  test("cosine_sim: known values") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),   // identical -> 1
      (Array(1f, 0f), Array(0f, 1f)),   // orthogonal -> 0
      (Array(1f, 0f), Array(-1f, 0f))   // opposite -> -1
    ).toDF("a", "b")
    val got = df.select(expr("cosine_sim(a, b)")).as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0, -1.0))
  }

  test("cosine_sim: zero vectors yield 0.0, never NaN (codegen + " +
      "interpreted)") {
    // A zero-norm side is 0/0 in raw IEEE — and Spark orders NaN above
    // every real number, so a NaN would outrank every genuine neighbor
    // in a top-k and pass every sim >= t filter. The pinned contract is
    // 0.0 (orthogonal to everything): zero vectors sort LAST and fail
    // thresholds. Padding rows / failed encodes make zero vectors
    // common in real embedding dumps.
    val df = Seq(
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f)),  // zero left
      (Array(1f, 2f, 3f), Array(0f, 0f, 0f)),  // zero right
      (Array(0f, 0f, 0f), Array(0f, 0f, 0f))   // both zero
    ).toDF("a", "b")
    val got = df.select(expr("cosine_sim(a, b)")).as[Double].collect().toSeq
    assert(got == Seq(0.0, 0.0, 0.0), s"zero-norm cosine must pin 0.0: $got")
    // same through the interpreted path (constant folding at optimize
    // time evaluates nullSafeEval, not doGenCode)
    val lit = spark.sql(
      "SELECT cosine_sim(array(cast(0 as float)), array(cast(5 as float)))")
      .collect()(0).getDouble(0)
    assert(lit == 0.0, s"interpreted zero-norm cosine must pin 0.0: $lit")
  }

  test("cosine_sim: NaN/Inf components pin 0.0 too (the result-finiteness " +
      "guard, codegen + interpreted)") {
    // A poisoned COMPONENT (fp overflow in an encoder) propagates NaN
    // through the accumulators exactly like a zero norm propagates 0/0 —
    // same downstream poison (NaN sorts above every real), same pin.
    val df = Seq(
      (Array(Float.NaN, 1f), Array(1f, 2f)),
      (Array(1f, 2f), Array(Float.PositiveInfinity, 1f)),
      (Array(Float.NegativeInfinity, Float.NaN), Array(3f, 4f)),
      (Array(Float.MaxValue, Float.MaxValue),       // finite inputs whose
        Array(Float.MaxValue, -Float.MaxValue))     // dot overflows first
    ).toDF("a", "b")
    val got = df.select(expr("cosine_sim(a, b)")).as[Double].collect().toSeq
    assert(got.forall(_ == 0.0), s"non-finite cosine must pin 0.0: $got")
    val lit = spark.sql(
      "SELECT cosine_sim(array(cast('NaN' as float)), array(cast(1 as float)))")
      .collect()(0).getDouble(0)
    assert(lit == 0.0, s"interpreted NaN-component cosine must pin 0.0: $lit")
  }

  test("cosine_sim: bit-identical to the HOF formulation on real data") {
    val e = Tables.load(spark, sf, "embeddings")
    val probe = e.filter($"vec_id" === 0)
      .select($"embedding".as("b")).crossJoin(e.select($"vec_id", $"embedding".as("a")))
    val diff = probe
      .select(expr("cosine_sim(a, b)").as("native"), expr(hof).as("ref"))
      .filter($"native" =!= $"ref")
    assert(diff.count() == 0, "native and HOF cosine must agree bit-for-bit")
  }

  test("cosine_sim: length mismatch fails loudly through the SQL/codegen path") {
    val df = Seq((Array(1f, 0f), Array(1f))).toDF("a", "b")
    val ex = intercept[Throwable] {
      df.select(expr("cosine_sim(a, b)")).collect()
    }
    val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(e => e.getClass.getName + ": " + String.valueOf(e.getMessage))
      .toSeq
    assert(chain.exists(m => m.contains("IllegalArgumentException") &&
      m.contains("vector length mismatch")),
      s"expected requireSameLength to throw; got:\n${chain.mkString("\n")}")
  }

  test("jl_project: equals the companion reference per cell, and the " +
      "sign matrix is NOT rank-1 (the i+j-parity regression)") {
    // per-cell: out[j] = Σ_i sign(i,j)·x_i — pin the SQL path against
    // a driver-side fold over JlProject.sign (the single source)
    val x = Array(0.25f, -1.5f, 3f, 0.125f, -2f)
    val got = Seq(Tuple1(x)).toDF("a")
      .selectExpr("jl_project(a, 6)").as[Seq[Double]].collect().head
    val want = (0 until 6).map(j =>
      x.indices.foldLeft(0.0)((s, i) =>
        s + graft.functions.JlProject.sign(i, j) * x(i).toDouble))
    assert(got == want, s"$got vs $want")
    // rank-1 guard: the first formulation's sign was parity of
    // (i·odd + j·odd) = parity of i+j, a rank-1 matrix — EVERY
    // projection was exactly (anti-)parallel and projected cosine
    // collapsed to ±1. Two orthogonal inputs must stay non-parallel.
    val e0 = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    val e1 = Array.tabulate(64)(i => if (i == 1) 1f else 0f)
    val cos = Seq((e0, e1)).toDF("a", "b")
      .selectExpr("cosine_sim(jl_project(a, 32), jl_project(b, 32))")
      .as[Double].collect().head
    assert(math.abs(cos) < 0.999,
      s"sign matrix degenerated to rank 1 (|cos| = $cos)")
  }

  test("jl_project: k is validated at ANALYSIS time, not per row") {
    // k <= 0 and absurd k must fail analysis (a 2e9 k would otherwise
    // attempt a ~16 GB per-row allocation at execution — executor OOM,
    // not a clean error), and a non-foldable k is rejected outright
    val df = Seq(Tuple1(Array(1f, 2f))).toDF("a")
    for (bad <- Seq("0", "-3", "70000", "2000000000"))
      assertThrows[org.apache.spark.sql.AnalysisException] {
        df.selectExpr(s"jl_project(a, $bad)").queryExecution.analyzed
      }
    assertThrows[org.apache.spark.sql.AnalysisException] {
      Seq((Array(1f, 2f), 3)).toDF("a", "k")
        .selectExpr("jl_project(a, k)").queryExecution.analyzed
    }
    // a NULL literal k keeps the nullIntolerant semantics it always
    // had: analyzes fine, yields a null column — the value check must
    // not narrow that into an analysis failure
    val nullOut = df.selectExpr("jl_project(a, cast(null as int))")
      .collect().head
    assert(nullOut.isNullAt(0), "null k must yield a null projection")
  }

  test("cosine_sim: double and mixed float/double sides (the jl_project " +
      "output type), float path unchanged") {
    val got = spark.sql(
      """SELECT
           cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS dd,
           cosine_sim(array(cast(1 as float), cast(0 as float)),
                      array(0.0D, 1.0D)) AS fd,
           cosine_sim(array(3.0D, 4.0D), array(-3.0D, -4.0D)) AS opp""")
      .collect().head
    assert(got.getDouble(0) == 1.0 && got.getDouble(1) == 0.0
      && got.getDouble(2) == -1.0, s"$got")
  }

  test("mix61: exact residues mod M61 under ANSI mode (BigInt reference)") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "this test must run under ANSI mode — the whole point of mix61")
    val M61 = graft.functions.Mix61.M61
    // h and a both ~2^60: the raw SQL h*a would throw ARITHMETIC_OVERFLOW
    val rows = Seq(
      (0x0FEDCBA987654321L, 0x0123456789ABCDEFL, 0x0ABCDEF012345678L),
      (M61 - 1, M61 - 1, M61 - 1),
      (0L, 5L, 7L), (1L, 1L, 0L), (M61 - 1, 2L, 3L))
    val df = rows.toDF("h", "a", "b")
    val got = df.select(expr("mix61(h, a, b)")).as[Long].collect().toSeq
    val want = rows.map { case (h, a, b) =>
      ((BigInt(h) * BigInt(a) + BigInt(b)).mod(BigInt(M61))).toLong
    }
    assert(got == want)
  }

  test("mix61: companion matches BigInt on random 61-bit inputs") {
    val M61 = graft.functions.Mix61.M61
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val h = rnd.nextLong().abs % M61
      val a = rnd.nextLong().abs % M61
      val b = rnd.nextLong().abs % M61
      val want = ((BigInt(h) * BigInt(a) + BigInt(b)) mod BigInt(M61)).toLong
      assert(graft.functions.Mix61.mix(h, a, b) == want,
        s"mix61($h, $a, $b)")
    }
  }

  test("mix61: null propagation and type check") {
    val df = Seq((Some(1L), None: Option[Long])).toDF("h", "a")
    assert(df.select(expr("mix61(h, a, 3L)")).head().isNullAt(0))
    val err = intercept[Exception] {
      Seq(("x", 1L)).toDF("s", "a").select(expr("mix61(s, a, 0L)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("mix61"))
  }

  test("shingles3: bit-identical to the HOF formulation on real data") {
    val docs = graft.queries.Dedup.withTok(
      Tables.load(spark, sf, "documents"))
    val hof =
      """case when size(tok) < 3 then array()
         else array_distinct(transform(sequence(1, size(tok) - 2),
           i -> concat_ws(' ', element_at(tok, i), element_at(tok, i + 1),
                          element_at(tok, i + 2)))) end"""
    val diff = docs
      .select(expr("shingles3(tok)").as("a"), expr(hof).as("b"))
      .filter($"a" =!= $"b")
    assert(diff.count() == 0, "native shingles must equal the HOF chain")
  }

  test("shingles3 + simhash_md5 + hash60: unicode/multibyte parity") {
    // multibyte tokens (accents, CJK, emoji) must hash/shingle exactly
    // like the SQL formulations — both paths operate on UTF-8 bytes
    val docs = Seq(
      (1L, "café naïve 東京 こんにちは café über 東京 emoji🎉 mix"),
      (2L, "ASCII only words here for contrast with the rest of them")
    ).toDF("doc_id", "text")
    val tokked = graft.queries.Dedup.withTok(docs)
    val hofShingles =
      """case when size(tok) < 3 then array()
         else array_distinct(transform(sequence(1, size(tok) - 2),
           i -> concat_ws(' ', element_at(tok, i), element_at(tok, i + 1),
                          element_at(tok, i + 2)))) end"""
    assert(tokked.select(expr("shingles3(tok)").as("a"),
        expr(hofShingles).as("b"))
      .filter($"a" =!= $"b").count() == 0)
    val sqlHash60 =
      "cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint)"
    assert(docs.select(expr("hash60(text)").as("a"),
        expr(sqlHash60).as("b"))
      .filter($"a" =!= $"b").count() == 0)
    // simhash must be deterministic + content-sensitive on unicode
    val sh = tokked.select(expr("simhash_md5(tok)")).as[Long].collect()
    assert(sh(0) != sh(1) && sh.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("pair_combos: equals the nested-transform formulation + edge cases") {
    val df = Seq(Seq(1L, 2L, 3L), Seq(7L, 9L), Seq(4L), Seq.empty[Long])
      .toDF("ids")
    val hof =
      """flatten(transform(sequence(0, size(ids) - 2),
           i -> transform(sequence(i + 1, size(ids) - 1),
             j -> struct(ids[i] AS a_id, ids[j] AS b_id))))"""
    // HOF yields NULL for size < 2 (sequence(0, -1) errors are avoided
    // by flatten of empty); compare only where both defined, and pin
    // the native behavior on tiny arrays explicitly
    val both = df.filter(size($"ids") >= 2)
      .select(expr("pair_combos(ids)").as("a"), expr(hof).as("b"))
      .filter($"a" =!= $"b")
    assert(both.count() == 0)
    val tiny = df.filter(size($"ids") < 2)
      .select(size(expr("pair_combos(ids)")).as("n")).as[Int].collect()
    assert(tiny.toSeq == Seq(0, 0), "singleton/empty arrays yield no pairs")
  }

  test("every native scalar expression executes under CODEGEN_ONLY — " +
      "no silent interpreted fallback") {
    // an Expression whose doGenCode breaks doesn't fail by default: the
    // projection silently falls back to interpreted mode and the whole
    // stage drops out of codegen — exactly the regression that turns a
    // hot 100 TB pipeline cold. CODEGEN_ONLY removes the safety net, so
    // a broken doGenCode fails HERE instead
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val row = Seq((Seq(1f, 2f, 0.5f), Seq(0.5f, 1f, 2f),
          Seq("alpha", "beta", "gamma", "delta"),
          Seq(1L, 4L, 9L), Seq(4L, 9L, 12L),
          Array.tabulate[Byte](72)(p => (p % 9 * 10).toByte),
          Seq.tabulate(130)(i => (i % 7) / 32768.0)))
        .toDF("a", "b", "tok", "xs", "ys", "img", "smp")
        .selectExpr(
          "cosine_sim(a, b) AS c1",
          "simhash_md5(tok) AS c3",
          "hash60(tok[0]) AS c4",
          "mix61(42L, 7L, 9L) AS c5",
          "size(shingles3(tok)) AS c6",
          "size(minhash_bands(tok)) AS c7",
          "size(pair_combos(xs)) AS c8",
          "sorted_intersect_count(xs, ys) AS c9",
          "size(jl_project(a, 4)) AS c10",
          "dhash64(img, 9, 8, 1) AS c11",
          "audiofp64(smp) AS c12",
          "dot128(xs, ys) AS c13")
        .collect().head
      assert(!row.anyNull && row.getAs[Long]("c9") == 2L) // {4, 9}
      // 1·4 + 4·9 + 9·12 = 148, exact
      assert(row.getAs[java.math.BigDecimal]("c13").longValueExact == 148L)
      assert(row.getAs[Int]("c6") == 2 && row.getAs[Int]("c8") == 3)
      assert(row.getAs[Int]("c10") == 4)
      // increasing 9x8 rows -> all 64 gradient bits (ImagePipelineSpec's
      // hand computation, here under CODEGEN_ONLY)
      assert(row.getAs[Long]("c11") == -1L)
      // the bloom probe expression, against real aggregate-built bytes
      spark.range(0, 50).createOrReplaceTempView("cg_keys")
      val hits = spark.sql(
        """WITH bf AS (SELECT bloom_agg_1m(xxhash64(id)) AS b
                       FROM cg_keys)
           SELECT count(*) FROM cg_keys
           WHERE bloom_might_contain((SELECT b FROM bf), xxhash64(id))""")
        .collect().head.getLong(0)
      assert(hits == 50L, "bloom must have no false negatives")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("interpreted eval agrees with codegen for every native scalar " +
      "expression (NO_CODEGEN twin)") {
    // the interpreted path is not dead code: constant folding calls
    // eval() at OPTIMIZE time, and a CodegenFallback parent forces the
    // whole subtree interpreted — a doGenCode/eval divergence would
    // produce different ANSWERS depending on where the expression sits
    // in the plan. Run the same probe row under both factory modes and
    // require identical results.
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    def probe(): org.apache.spark.sql.Row = {
      Seq((Seq(1f, 2f, 0.5f), Seq(0.5f, 1f, 2f),
          Seq("alpha", "beta", "gamma", "delta"),
          Seq(1L, 4L, 9L), Seq(4L, 9L, 12L),
          Array.tabulate[Byte](72)(p => (71 - p).toByte),
          Seq.tabulate(131)(i => (i % 11) / 32768.0)))
        .toDF("a", "b", "tok", "xs", "ys", "img", "smp")
        .selectExpr(
          "cosine_sim(a, b) AS c1",
          "simhash_md5(tok) AS c3",
          "hash60(tok[0]) AS c4",
          "mix61(42L, 7L, 9L) AS c5",
          "shingles3(tok) AS c6",
          "minhash_bands(tok) AS c7",
          "pair_combos(xs) AS c8",
          "sorted_intersect_count(xs, ys) AS c9",
          "jl_project(a, 4) AS c10",
          "cosine_sim(jl_project(a, 4), jl_project(b, 4)) AS c11",
          "dhash64(img, 9, 8, 1) AS c12",
          "audiofp64(smp) AS c13",
          "dot128(xs, ys) AS c14")
        .collect().head
    }
    try {
      spark.conf.set(key, "CODEGEN_ONLY")
      val gen = probe()
      spark.conf.set(key, "NO_CODEGEN")
      val interp = probe()
      assert(gen == interp,
        s"codegen and interpreted paths disagree:\n  $gen\n  $interp")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("dot128: bit-identical to the relational decimal-sum formulation " +
      "on real embeddings (the Lloyd assignment parity claim)") {
    // the EXACT shape dot128 replaced (r16): explode to (pos, vi) rows,
    // broadcast-join centroids on pos, sum(cast(vi as decimal(38,0)) *
    // si) per (vector, centroid). Any divergence here means the Lloyd
    // assignments — and every IVF query's oracle hash — drift.
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val el = e.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        expr("cast(floor(cast(col as double) * 1000000 + 0.5) as bigint)")
          .as("vi"))
    val ev = e.select(col("vec_id"), expr(
      """transform(embedding,
           v -> cast(floor(cast(v as double) * 1000000 + 0.5) as bigint))""")
      .as("varr"))
    val cent = el.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("pos"), col("vi").as("si"))
    val centArr = cent.groupBy("c_id")
      .agg(expr(
        "transform(sort_array(collect_list(struct(pos, si))), x -> x.si)")
        .as("sarr"))
    val legacy = el.join(broadcast(cent), Seq("pos"))
      .groupBy("vec_id", "c_id")
      .agg(sum(expr("cast(vi as decimal(38,0)) * si")).as("dot"))
    val fused = ev.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("c_id"),
        expr("dot128(varr, sarr)").as("dot2"))
      .filter(col("dot2").isNotNull || size(col("varr")) > 0)
    val bad = legacy.join(fused, Seq("vec_id", "c_id"), "full")
      .filter(not(col("dot") <=> col("dot2")))
    assert(bad.isEmpty, s"dot mismatch rows:\n${bad.take(3).mkString("\n")}")
  }

  test("dot128: null/empty semantics, range check, length mismatch") {
    import org.apache.spark.sql.functions._
    def one(sql: String): org.apache.spark.sql.Row =
      spark.sql(s"SELECT $sql AS v").collect().head
    // empty arrays -> NULL (the relational group never existed)
    assert(one("dot128(cast(array() as array<bigint>), " +
      "cast(array() as array<bigint>))").isNullAt(0))
    // a NULL element pair contributes nothing; all-NULL -> NULL
    assert(one(
      "dot128(array(2L, cast(null as bigint)), array(3L, 5L))")
      .getDecimal(0).longValueExact == 6L)
    assert(one(
      "dot128(array(cast(null as bigint)), array(3L))").isNullAt(0))
    // NULL array -> NULL (null-intolerant)
    assert(one("dot128(cast(null as array<bigint>), array(1L))").isNullAt(0))
    // exact above-Long magnitudes round-trip (6 x 1.6e37 = 9.6e37 fits)
    assert(one(
      """dot128(array_repeat(4000000000000000000L, 6),
               array_repeat(4000000000000000000L, 6))""")
      .getDecimal(0).toBigInteger ==
      new java.math.BigInteger("4000000000000000000").pow(2)
        .multiply(java.math.BigInteger.valueOf(6)))
    // 7 x 1.6e37 = 1.12e38 >= 10^38: out of DECIMAL(38,0) range, throws
    // (exactly where the relational decimal sum's ANSI check throws)
    val over = intercept[Exception] {
      one("""dot128(array_repeat(4000000000000000000L, 7),
                    array_repeat(4000000000000000000L, 7))""")
    }
    assert(over.getMessage != null)
    // length mismatch is corrupted input: loud failure (cosine_sim rule)
    val mm = intercept[Exception] {
      one("dot128(array(1L, 2L), array(1L))")
    }
    assert(mm.getMessage.contains("length mismatch") ||
      mm.getCause != null)
  }

  test("GraftExtensions installs into SparkSessionExtensions") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e)  // must register without throwing
    // pin the full set GraftExtensions injects, so adding a function
    // without listing it fails a test
    assert(GraftFunctions.all.map(_._1).toSet == Set("cosine_sim",
      "simhash_md5", "hash60", "mix61", "shingles3",
      "minhash_bands", "pair_combos", "bloom_might_contain",
      "sorted_intersect_count", "jl_project", "dhash64", "audiofp64",
      "dot128", "bloom_agg_1m", "img_resize", "img_flip", "img_rotate",
      "img_jitter", "img_jpeg", "img_tensor_chw"))
  }

  test("sorted_intersect_count: equals size(array_intersect) on sorted sets") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(60))(rnd.nextInt(80).toLong)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(60))(rnd.nextInt(80).toLong)
        .distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq(-5L, 0L, 3L), Seq(-5L, 3L)))
    val df = rows.toDF("a", "b")
    val bad = df.select(expr("sorted_intersect_count(a, b)").as("m"),
        size(array_intersect($"a", $"b")).cast("long").as("e"))
      .filter($"m" =!= $"e")
    assert(bad.count() == 0)
    // null intolerance: NULL on either side yields NULL, like the builtin
    val n = Seq((Some(Seq(1L)), None: Option[Seq[Long]])).toDF("a", "b")
    assert(n.select(expr("sorted_intersect_count(a, b)")).head().isNullAt(0))
  }

  test("bloom filter: no false negatives, bounded false positives") {
    val agg = new graft.functions.BloomFilterAgg(1 << 14)
    val bits = (0 until 1000).map(i => graft.functions.Mix61.mix(i, 7, 13))
      .foldLeft(agg.zero)(agg.reduce)
    // every inserted hash must probe true — a single false negative
    // would silently drop matching rows from a pruned join
    (0 until 1000).foreach { i =>
      assert(graft.functions.BloomFilter.mightContain(bits,
        graft.functions.Mix61.mix(i, 7, 13)), s"false negative at $i")
    }
    // absent keys: with 2^14 bits / 1000 keys / k=6 the analytic FP
    // rate is ~0.5%; 2% leaves noise headroom without hiding a broken
    // hash mix
    val fp = (10000 until 30000)
      .count(i => graft.functions.BloomFilter.mightContain(bits,
        graft.functions.Mix61.mix(i, 7, 13)))
    assert(fp < 400, s"false-positive count $fp / 20000 is out of bounds")
  }

  test("bloom filter: merge(a,b) equals the filter of the union") {
    val agg = new graft.functions.BloomFilterAgg(1 << 12)
    def build(r: Range) = r.map(_.toLong * 0x9E3779B97F4A7C15L)
      .foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(build(0 until 500), build(500 until 1000))
    assert(java.util.Arrays.equals(merged, build(0 until 1000)),
      "bitwise-OR merge must equal single-pass construction")
  }

  test("bloom_might_contain rejects wrong-typed arguments at analysis") {
    // an INT hash must fail analysis, not CCE at runtime (and not
    // silently widen on the codegen path)
    val err = intercept[Exception] {
      Seq((Array[Byte](0, 0), 1)).toDF("bf", "h")
        .select(expr("bloom_might_contain(bf, h)")).collect()
    }
    assert(err.getMessage.contains("bloom_might_contain"),
      s"expected the type-check message, got: ${err.getMessage}")
  }

  test("bloom_might_contain agrees with the JVM probe through SQL/codegen") {
    val agg = new graft.functions.BloomFilterAgg(1 << 12)
    val bits = (0L until 200L).foldLeft(agg.zero)(agg.reduce)
    val df = (0L until 400L).toDF("h").withColumn("bf", lit(bits))
    val got = df.select($"h", expr("bloom_might_contain(bf, h)").as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0L until 400L).foreach { h =>
      assert(got(h) == graft.functions.BloomFilter.mightContain(bits, h),
        s"SQL/codegen probe diverges from the JVM probe at h=$h")
    }
    assert((0L until 200L).forall(got(_)), "inserted keys must all hit")
  }

  test("cosine_sim: null propagation") {
    val df = Seq((Some(Array(1f, 2f)), None: Option[Array[Float]]))
      .toDF("a", "b")
    assert(df.select(expr("cosine_sim(a, b)")).head().isNullAt(0))
  }
}
