package graft

import graft.queries.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** ScalaCheck property tests (SURVEY.md §5.2-3): algebraic invariants
  * over generated inputs — dedup idempotence, sketch merge laws,
  * session-window equivalence with the islands formulation, window-frame
  * sums equal explicit slices.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  // plain-scalacheck sampling (the scalatestplus bridge is not in the
  // offline dependency set): draw n samples from a Gen with a FIXED
  // seed chain, so a failure reproduces on rerun instead of flaking
  private def forSamples[T](g: Gen[T], n: Int)(body: T => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(0xA11CE5EEDL)
    var checked = 0
    while (checked < n) {
      g.apply(Gen.Parameters.default, seed).foreach { v =>
        body(v); checked += 1
      }
      seed = seed.next
    }
  }

  private val vocab = Gen.oneOf("spark", "scan", "join", "sort", "the",
    "row", "data", "fast", "key", "hash")
  private val textGen: Gen[String] =
    Gen.listOfN(12, vocab).map(_.mkString(" "))

  test("BPE invariants on generated small-alphabet corpora: symbols " +
      "respell every word; weighted totals never grow") {
    // a 4-letter alphabet forces a=a runs and multi-char merged
    // symbols — the stress case for the relational greedy application.
    // Two algebraic invariants hold for ANY corpus: (1) each word's
    // symbols, concatenated in position order, must respell the word
    // exactly (merges rewrite segmentation, never content); (2) every
    // applied merge strictly consumes pairs, so the wf-weighted symbol
    // total is non-increasing round over round.
    val wordGen = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val corpusGen = Gen.listOfN(40, wordGen).map(_.mkString(" "))
    forSamples(corpusGen, 3) { text =>
      val docs = Seq((0L, text)).toDF("doc_id", "text")
      val (merges, syms) = graft.queries.TextOps.bpeTrain(docs, 3)
      val respellBad = syms.groupBy("w")
        .agg(concat_ws("", expr(
          "transform(sort_array(collect_list(struct(p, sym))), x -> x.sym)"))
          .as("re"))
        .filter(col("re") =!= col("w")).count()
      assert(respellBad == 0, s"merged symbols must respell the word")
      val t0 = docs.select(explode(split(trim(col("text")), " ")).as("w"))
        .agg(sum(length(col("w")))).head().getLong(0)
      val totals = t0 +: merges.orderBy("round")
        .collect().map(_.getLong(4)).toSeq
      assert(totals.sliding(2).forall(p => p(1) <= p(0)),
        s"weighted symbol totals must be non-increasing: $totals")
    }
  }

  test("property: relational BPE train+encode equals an independent " +
      "imperative reference on generated corpora") {
    // The strongest check the tokenizer has: the DuckDB oracle replays
    // the SAME relational formulation, so both engines could agree on
    // a wrong greedy semantics and every hash would still match. This
    // reference is a from-scratch imperative classic-BPE trainer (pair
    // counts over the word-frequency map, (count desc, pair asc)
    // argmax, left-to-right greedy scan per word — the textbook
    // sequential algorithm the relational gaps-and-islands form claims
    // to equal), plus the encoder's vocab-or-char-split pricing. Any
    // divergence in merge CHOICE, merge APPLICATION (a=a run parity
    // included), or OOV pricing fails here with no engine in the loop.
    def refTrain(words: Map[String, Long], rounds: Int)
        : (Seq[((String, String), Long)], Map[String, Int]) = {
      var syms: Map[String, Vector[String]] =
        words.keys.map(w => w -> w.map(_.toString).toVector).toMap
      val merges = Seq.newBuilder[((String, String), Long)]
      var r = 0
      var exhausted = false
      while (r < rounds && !exhausted) {
        val counts = scala.collection.mutable.Map
          .empty[(String, String), Long]
        for ((w, ss) <- syms; i <- 0 until ss.length - 1)
          counts.updateWith((ss(i), ss(i + 1)))(
            c => Some(c.getOrElse(0L) + words(w)))
        if (counts.isEmpty) exhausted = true
        else {
          val (pair, cnt) = counts.toSeq
            .minBy { case ((a, b), c) => (-c, a, b) }
          merges += pair -> cnt
          syms = syms.map { case (w, ss) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < ss.length) {
              if (i + 1 < ss.length && ss(i) == pair._1
                  && ss(i + 1) == pair._2) {
                out += pair._1 + pair._2; i += 2
              } else { out += ss(i); i += 1 }
            }
            w -> out.result()
          }
        }
        r += 1
      }
      (merges.result(), syms.map { case (w, ss) => w -> ss.length })
    }
    // small alphabet for merge collisions + interleaved OOV tokens
    // (digits/uppercase) to exercise the char-split fallback pricing
    val wordGen = Gen.choose(1, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val oovGen = Gen.oneOf("X9", "42", "Mixed7", "1234567", "!!")
    val tokGen = Gen.frequency(4 -> wordGen, 1 -> oovGen)
    val docGen = Gen.choose(3, 15).flatMap(n =>
      Gen.listOfN(n, tokGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, docGen))
    forSamples(Gen.zip(corpusGen, Gen.choose(1, 4)), 4) {
      case (texts, rounds) =>
        val docs = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        // reference trains on the same ^[a-z]+$ word-frequency table
        val words = texts.flatMap(_.split(" "))
          .filter(_.matches("^[a-z]+$"))
          .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
        val (refMerges, refNsym) = refTrain(words, rounds)
        val gotMerges = graft.queries.TextOps.bpeMerges(docs, rounds)
          .collect()
          .map(r => ((r.getString(1), r.getString(2)), r.getLong(3)))
          .toSeq
        assert(gotMerges == refMerges,
          s"merge choice/count diverged: $gotMerges vs $refMerges " +
            s"(corpus $texts, $rounds rounds)")
        val gotEnc = graft.queries.TextOps.bpeEncode(docs, rounds)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val refEnc = texts.zipWithIndex.map { case (t, i) =>
          val toks = t.split(" ")
          (i.toLong, toks.length.toLong,
            toks.map(w => refNsym.getOrElse(w, w.length)).map(_.toLong).sum)
        }
        assert(gotEnc.toSeq == refEnc,
          s"encode diverged: ${gotEnc.toSeq} vs $refEnc (corpus $texts)")
    }
  }

  test("weighted sample: biased toward heavy docs, fully deterministic") {
    val rows = SparkEntry.queries("q121_weighted_sample")(spark, sf)
      .collect()
    assert(rows.length == 25)
    val sampleMean = rows.map(_.getLong(2)).sum.toDouble / rows.length
    val corpusMean = Tables.load(spark, sf, "documents")
      .agg(org.apache.spark.sql.functions.avg("n_chars")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"length-weighted draw must skew long: $sampleMean vs $corpusMean")
    // pure content function: a rerun draws the identical sample
    val again = SparkEntry.queries("q121_weighted_sample")(spark, sf)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("content-hash keep rules are PARTITIONING-invariant (the " +
      "reproducibility claim, tested)") {
    // SCALE.md/IMPLEMENTATION.md claim these sampling/argmax/curation
    // results are "reproducible across runs and partitionings" because
    // every keep decision is a pure content function, never rand() or
    // arrival order. Changing shuffle parallelism is the cheapest way
    // to actually perturb partitioning — a claim like this without a
    // test rots the first time someone reaches for rand(seed)
    val names = Seq("q45_curation", "q54_hash_split",
      "q80_mixture_sample", "q92_strata_sample", "q121_weighted_sample",
      "q17_argmax")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try names.foreach { n =>
      spark.conf.set(key, "4")
      val a = SparkEntry.queries(n)(spark, sf).collect().map(_.toString)
      spark.conf.set(key, "7")
      val b = SparkEntry.queries(n)(spark, sf).collect().map(_.toString)
      assert(a.toSeq == b.toSeq,
        s"$n drifted under a different shuffle partitioning")
    } finally spark.conf.set(key, prev)
  }

  test("property: exact dedup is idempotent on generated corpora") {
    forSamples(Gen.listOfN(12, textGen), 5) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def dedup(in: org.apache.spark.sql.DataFrame) = in
        .groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("doc_id"))
      val once = dedup(df).collect().toSet
      val twice = dedup(df).groupBy($"h").agg(min($"doc_id").as("doc_id"))
        .collect().toSet
      assert(once == twice)
    }
  }

  test("property: media decoders total on arbitrary bytes (None, " +
      "never a throw)") {
    // the drop-undecodable policy only works if every decoder is TOTAL:
    // a malformed blob in a 100 TB corpus must become a dropped row,
    // not a task-killing exception. Fuzz three byte shapes — pure
    // noise, noise behind the magic prefix each decoder trusts most,
    // and truncated valid-ish headers — through every pure-JVM decoder.
    import graft.pipeline.{AviMjpeg, Flac, GifFrames, ImaAdpcm,
      Mp4Mjpeg, MsAdpcm}
    val prefixes = Seq(
      Array.empty[Byte],
      "RIFFxxxxWAVE".getBytes("ISO-8859-1"),
      "fLaC".getBytes("ISO-8859-1"),
      "GIF89a".getBytes("ISO-8859-1"),
      // a plausible box-tree head so the walker gets past the magic
      (Array[Byte](0, 0, 0, 16) ++ "ftypqt  ".getBytes("ISO-8859-1")))
    val bytesGen = for {
      p <- Gen.oneOf(prefixes)
      n <- Gen.choose(0, 96)
      tail <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield p ++ tail.toArray
    forSamples(bytesGen, 60) { b =>
      ImaAdpcm.decode(b)
      MsAdpcm.decode(b)
      Flac.decode(b)
      GifFrames.sample(b, 40, 4)
      AviMjpeg.sample(b, 40, 4)
      Mp4Mjpeg.sample(b, 40, 4)
    }
  }

  test("property: minhash bands collide for identical texts (any corpus)") {
    forSamples(textGen, 10) { t =>
      val df = Dedup.withTok(
        Seq((1L, t), (2L, t)).toDF("doc_id", "text"))
      val sig = Dedup.signaturesOf(df).collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSet).toMap
      // docs with >= 3 tokens have shingles; both share every band
      if (sig.nonEmpty) assert(sig(1L) == sig(2L))
    }
  }

  test("property: CappedIdList partial-buffer merges around the cap boundary") {
    // Split a random id list into random partials, reduce each, merge in
    // a random fold order: finish must equal the unsplit result — sorted
    // ids when total <= cap, null when total > cap — regardless of how
    // partial aggregation slices the group.
    val agg = new graft.functions.CappedIdList(8)
    def runPartials(ids: List[Long], cuts: List[Int]): Array[Long] = {
      val bounds = (List(0) ++ cuts ++ List(ids.size)).distinct.sorted
      val parts = if (bounds.size < 2) List(ids)
        else bounds.zip(bounds.tail).map { case (a, b) => ids.slice(a, b) }
      val bufs = parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
      agg.finish(bufs.foldLeft(agg.zero)(agg.merge))
    }
    val gen = for {
      n <- Gen.choose(0, 20) // spans under, at, and over cap = 8
      ids <- Gen.listOfN(n, Gen.choose(-100L, 100L))
      cuts <- Gen.listOfN(3, Gen.choose(0, math.max(n, 1)))
    } yield (ids, cuts)
    forSamples(gen, 40) { case (ids, cuts) =>
      val direct = agg.finish(ids.foldLeft(agg.zero)(agg.reduce))
      val split = runPartials(ids, cuts)
      if (ids.size > 8) {
        assert(direct == null && split == null,
          s"over-cap group must finish null (n=${ids.size})")
      } else {
        assert(direct != null && split != null)
        assert(direct.toSeq == ids.sorted && split.toSeq == ids.sorted)
      }
    }
  }

  test("property: Misra-Gries guarantee holds under random partitioning") {
    // vocab DELIBERATELY larger than k so decrements actually happen:
    // every term with true freq > n/(k+1) must survive, and every
    // reported estimate must be within n/(k+1) of (and never above)
    // the true count — regardless of how the stream is split.
    val k = 8
    val agg = new graft.functions.MisraGries(k)
    val gen = for {
      n <- Gen.choose(50, 400)
      terms <- Gen.listOfN(n,
        Gen.frequency(6 -> Gen.oneOf("hot1", "hot2"),
          4 -> Gen.oneOf((1 to 40).map(i => s"t$i"))))
      cuts <- Gen.listOfN(4, Gen.choose(0, n))
    } yield (terms, cuts)
    forSamples(gen, 25) { case (terms, cuts) =>
      val bounds = (List(0) ++ cuts ++ List(terms.size)).distinct.sorted
      val parts = bounds.zip(bounds.tail).map { case (a, b) =>
        terms.slice(a, b) }
      val partials = parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
      // the amortized-offset buffer must keep <= k live counters and
      // purge dead entries before the map doubles past k
      partials.foreach { b =>
        assert(b.live <= k && b.counts.size <= 2 * k,
          s"buffer bounds violated: live=${b.live} size=${b.counts.size}")
      }
      val sketch = agg.finish(partials.foldLeft(agg.zero)(agg.merge))
      val truth = terms.groupBy(identity).view.mapValues(_.size.toLong)
      val slack = terms.size.toLong / (k + 1)
      truth.foreach { case (t, c) =>
        if (c > slack)
          assert(sketch.contains(t), s"$t freq=$c > n/(k+1)=$slack missing")
      }
      sketch.foreach { case (t, est) =>
        val c = truth.getOrElse(t, 0L)
        assert(est <= c && est >= c - slack,
          s"$t est=$est not in [${c - slack}, $c]")
      }
    }
  }

  test("property: bounded top-k equals full sort-take under any split") {
    val k = 3
    val agg = new graft.functions.TopKAgg(k)
    val gen = for {
      n <- Gen.choose(0, 60)
      vs <- Gen.listOfN(n, Gen.chooseNum(-50, 50))
      cuts <- Gen.listOfN(3, Gen.choose(0, n))
    } yield (vs.zipWithIndex.map { case (v, i) =>
      graft.functions.TopKEntry(v.toDouble, i.toLong) }, cuts)
    forSamples(gen, 25) { case (entries, cuts) =>
      val bounds = (List(0) ++ cuts ++ List(entries.size)).distinct.sorted
      val parts = bounds.zip(bounds.tail).map { case (a, b) =>
        entries.slice(a, b) }
      val got = agg.finish(parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge))
      val expect = entries.sortBy(e => (-e.v, e.id)).take(k)
      assert(got == expect, s"got $got expect $expect")
    }
  }

  test("property: session_window equals gaps-and-islands on random gaps") {
    val gapGen = Gen.listOfN(20, Gen.chooseNum(1L, 70L)) // minutes
    forSamples(gapGen, 5) { gaps =>
      val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
      val times = gaps.scanLeft(t0) { (t, g) => t.plusSeconds(g * 60) }
      val df = times.map(t => (1L, java.sql.Timestamp.from(t)))
        .toDF("user_id", "ts")
      val spark_sessions = df
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .count().count()
      // islands: new session when the gap is strictly > 30 minutes
      val islands = 1 + gaps.count(_ > 30)
      assert(spark_sessions == islands)
    }
  }

  test("property: moving window sum equals explicit slice sums") {
    val valsGen = Gen.listOfN(15, Gen.chooseNum(-100, 100))
    forSamples(valsGen, 5) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i, v.toLong) }
        .toDF("i", "v")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("i").rowsBetween(-2, 0)
      val got = df.withColumn("m", sum($"v").over(w))
        .orderBy("i").select("m").as[Long].collect().toSeq
      val expect = vs.indices.map(i =>
        vs.slice(math.max(0, i - 2), i + 1).map(_.toLong).sum)
      assert(got == expect)
    }
  }

  test("property: scalar natives equal independent driver-side " +
      "references on random inputs") {
    // the ExpressionSpec equivalence tests pin each native against its
    // SQL formulation on FIXTURE data; this pins them against plain
    // Scala reimplementations on RANDOM inputs, so a bug shared by the
    // native and its SQL twin (or a fixture blind spot — empty arrays,
    // negatives, all-equal values) still gets caught. One DataFrame per
    // family keeps it at four Spark jobs total.

    // sorted_intersect_count: |a ∩ b| over sorted-distinct ARRAY<BIGINT>
    val pairGen = for {
      a <- Gen.listOfN(25, Gen.choose(-40L, 40L))
      b <- Gen.listOfN(25, Gen.choose(-40L, 40L))
      ca <- Gen.choose(0, 25); cb <- Gen.choose(0, 25)
    } yield (a.take(ca).distinct.sorted, b.take(cb).distinct.sorted)
    val sicIn = Seq.newBuilder[(Seq[Long], Seq[Long])]
    forSamples(pairGen, 40)(sicIn += _)
    val sicRows = sicIn.result()
    val sicGot = sicRows.toDF("a", "b")
      .selectExpr("sorted_intersect_count(a, b)").as[Long].collect()
    sicRows.zip(sicGot).foreach { case ((a, b), got) =>
      assert(got == (a.toSet & b.toSet).size.toLong,
        s"sorted_intersect_count($a, $b) = $got")
    }

    // pair_combos: ordered i<j index pairs of an ARRAY<BIGINT>
    val idsGen = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-9L, 9L)))
    val pcIn = Seq.newBuilder[Seq[Long]]
    forSamples(idsGen, 30)(pcIn += _)
    val pcRows = pcIn.result()
    val pcGot = pcRows.toDF("ids")
      .selectExpr("pair_combos(ids)")
      .as[Seq[(Long, Long)]].collect()
    pcRows.zip(pcGot).foreach { case (ids, got) =>
      val expect = for {
        i <- ids.indices; j <- (i + 1) until ids.size
      } yield (ids(i), ids(j))
      assert(got == expect, s"pair_combos($ids) = $got")
    }

    // shingles3: distinct space-joined 3-grams, first-occurrence order
    val tokGen = Gen.choose(0, 9).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("a", "b", "東京", "x🎉", "c")))
    val shIn = Seq.newBuilder[Seq[String]]
    forSamples(tokGen, 30)(shIn += _)
    val shRows = shIn.result()
    val shGot = shRows.toDF("tok")
      .selectExpr("shingles3(tok)").as[Seq[String]].collect()
    shRows.zip(shGot).foreach { case (tok, got) =>
      val expect =
        if (tok.size < 3) Seq.empty[String]
        else tok.sliding(3).map(_.mkString(" ")).toSeq.distinct
      assert(got == expect, s"shingles3($tok) = $got")
    }

    // cosine_sim: left-to-right double accumulation — bit-exact vs the
    // same loop in Scala (NaN for zero vectors compares via java bits)
    val vecGen = for {
      n <- Gen.choose(1, 12)
      a <- Gen.listOfN(n, Gen.choose(-8, 8).map(_.toFloat / 4f))
      b <- Gen.listOfN(n, Gen.choose(-8, 8).map(_.toFloat / 4f))
    } yield (a, b)
    val csIn = Seq.newBuilder[(Seq[Float], Seq[Float])]
    forSamples(vecGen, 40)(csIn += _)
    val csRows = csIn.result()
    val csGot = csRows.toDF("a", "b")
      .selectExpr("cosine_sim(a, b)").as[Double].collect()
    csRows.zip(csGot).foreach { case ((a, b), got) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val xi = a(i).toDouble; val yi = b(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi
      }
      val expect = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(java.lang.Double.doubleToLongBits(got) ==
          java.lang.Double.doubleToLongBits(expect),
        s"cosine_sim($a, $b) = $got, expected $expect")
    }
  }

  test("property: set-op algebra on generated multisets") {
    val ints = Gen.listOfN(30, Gen.chooseNum(0, 8))
    forSamples(ints, 5) { xs =>
      val a = xs.toDF("v")
      assert(a.union(a).distinct().count() == xs.distinct.size.toLong)
      assert(a.except(a).count() == 0)
      assert(a.intersect(a).count() == xs.distinct.size.toLong)
    }
  }

  test("property: Det.davg / Det.dratio equal the BigDecimal HALF_UP " +
      "reference (including exact half-ties)") {
    // The whole point of the scaled-integer quotient is agreeing with
    // decimal HALF_UP on inputs where round(double, d) does NOT — so
    // the reference here is java.math.BigDecimal, not doubles. The
    // generator forces the half-tie denominators (2^a·5^b) that make
    // n/m terminate one digit past the rounding point.
    def ref(num: Long, den: Long, digits: Int): Double =
      new java.math.BigDecimal(num)
        .divide(new java.math.BigDecimal(den), digits,
          java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val tieDen = Gen.oneOf(8L, 16L, 32L, 160L, 2500L, 7L, 12L, 100L)
    val cases = for {
      den <- tieDen
      num <- Gen.chooseNum(0L, 2000000L)
    } yield (num, den)
    forSamples(cases, 40) { case (num, den) =>
      // dratio: one row, direct quotient
      val got = Seq((num, den)).toDF("n", "d")
        .select(Det.dratio(col("n"), col("d"), 4).as("q"))
        .head().getDouble(0)
      assert(java.lang.Double.doubleToLongBits(got) ==
          java.lang.Double.doubleToLongBits(ref(num, den, 4)),
        s"dratio($num/$den) = $got, expected ${ref(num, den, 4)}")
      // davg: den rows of scale-0 values summing to num (spread so the
      // per-row values differ), same quotient
      val vals = (0L until den).map(i => num / den +
        (if (i < num % den) 1L else 0L))
      assert(vals.sum == num)
      val gotAvg = vals.toDF("v").agg(Det.davg(col("v"), 0).as("q"))
        .head().getDouble(0)
      assert(java.lang.Double.doubleToLongBits(gotAvg) ==
          java.lang.Double.doubleToLongBits(ref(num, den, 4)),
        s"davg over $den rows summing $num = $gotAvg, " +
          s"expected ${ref(num, den, 4)}")
    }
    // the measured q13 tie case: eight 2-decimal rows summing 591.31,
    // mean 73.91375 — davg must HALF_UP to 73.9138 (round(double, 4)
    // gave DuckDB 73.9137)
    val money = (Seq.fill(7)("73.91") :+ "73.94").toDF("s")
      .select(col("s").cast("decimal(18,2)").as("v"))
    val m = money.agg(Det.davg(col("v")).as("q")).head().getDouble(0)
    assert(m == 73.9138, s"half-tie mean must round up: $m")
    // dratio den = 0 contract: NULL, not NaN/Inf/throw
    val z = Seq((5L, 0L)).toDF("n", "d")
      .select(Det.dratio(col("n"), col("d"), 4).as("q")).head()
    assert(z.isNullAt(0), "den = 0 must yield NULL")
  }

  test("property: q46/q87 value-domain percentiles equal the buffering " +
      "percentile_cont/disc aggregates bit-for-bit") {
    // The round-9 rewrite replaced the single-reducer percentile
    // aggregates with the q88 domain-counts formulation; its
    // bit-exactness is pinned against today's fixture by the oracle,
    // and HERE against the aggregates themselves on generated corpora
    // — duplicates, n = 1 groups, odd/even counts, every interpolation
    // fraction the group sizes produce.
    val rowsGen = for {
      nGroups <- Gen.chooseNum(1, 3)
      rows <- Gen.listOfN(60, for {
        g <- Gen.chooseNum(0, nGroups - 1).map(i => s"g$i")
        // a 2-decimal money value on a SMALL domain so duplicates are
        // guaranteed (the counts formulation's cnt > 1 path)
        cents <- Gen.chooseNum(100L, 5000L)
      } yield (g, cents / 100.0))
    } yield rows
    val dir = tempDir("graft-pct").toFile
    forSamples(rowsGen, 8) { rows =>
      val df = rows.toDF("l_returnflag", "l_extendedprice")
      df.write.mode("overwrite")
        .parquet(s"${dir.getAbsolutePath}/lineitem.parquet")
      def bits(r: org.apache.spark.sql.Row): Seq[Any] =
        r.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case v => v
        }
      val got46 = SparkEntry.queries("q46_percentiles")(
        spark, dir.getAbsolutePath).collect().toSeq.map(bits)
      val ref46 = df.groupBy("l_returnflag")
        .agg(round(expr(
          "percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"),
          4).as("p50"),
          round(expr(
            "percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"),
            4).as("p90"))
        .orderBy("l_returnflag").collect().toSeq.map(bits)
      assert(got46 == ref46,
        s"q46 domain-counts != percentile_cont:\n$got46\n$ref46")
      val got87 = SparkEntry.queries("q87_winsorize")(
        spark, dir.getAbsolutePath)
        .select("l_returnflag", "p05", "p95").collect().toSeq.map(bits)
      val ref87 = df.groupBy("l_returnflag")
        .agg(expr(
          "percentile_disc(0.05) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("p05"),
          expr(
            "percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice)")
            .as("p95"))
        .orderBy("l_returnflag").collect().toSeq.map(bits)
      assert(got87 == ref87,
        s"q87 cutpoints != percentile_disc:\n$got87\n$ref87")
    }
  }

  test("cappedBandPairs equals the stop-bucket reference on random " +
      "64-bit corpora (negative hashes, band boundaries, hot cluster)") {
    // the fixture corpora (ImagePipelineSpec / AudioDedupSpec) exercise
    // the planned classes; this drives the SAME reference over random
    // hashes so sign bits in the top band, accidental band collisions,
    // and flip-cancellation edge cases get coverage too. Fixed seeds —
    // a failure reproduces, never flakes.
    val cap = graft.operators.HashBands.BandBucketCap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (seed <- Seq(0xA11CE5EEDL, 20260816L)) {
      val rnd = new scala.util.Random(seed)
      val base = Seq.fill(60)(rnd.nextLong())
      // planted near-dups: <= 3 random bit flips of the first 20 bases
      // (repeated flips may cancel — hamming is <= 3 either way, so
      // banding must find every planted pair: pigeonhole recall 1)
      val nears = base.take(20).map { h =>
        (0 until 1 + rnd.nextInt(3)).foldLeft(h)((x, _) =>
          x ^ (1L << rnd.nextInt(64)))
      }
      // hot cluster: cap + 4 IDENTICAL hashes — every band bucket
      // over-cap, the whole cluster must vanish from the pair set.
      // One fixed NEGATIVE value (sign bit set — the arithmetic-shift
      // band edge), not derived from base so the planted pairs'
      // buckets stay independent of the cluster
      val hot = Seq.fill(cap + 4)(0x8000DEAD0000BEEFL)
      val all = (base ++ nears ++ hot).zipWithIndex
        .map { case (h, i) => (i.toLong, h) }
      val hs = all.toMap
      val bucketDf = all
        .flatMap { case (_, h) =>
          (0 until 4).map(bk => (bk, (h >> (bk * 16)) & 0xffffL)) }
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val ids = all.map(_._1)
      val expected = (for {
        a <- ids; b <- ids if a < b && ham(hs(a), hs(b)) <= 3
        if (0 until 4).exists { bk =>
          val (ba, bb) = ((hs(a) >> (bk * 16)) & 0xffffL,
            (hs(b) >> (bk * 16)) & 0xffffL)
          ba == bb && bucketDf((bk, ba)) <= cap
        }
      } yield (a, b, ham(hs(a), hs(b)).toLong)).toSet
      val got = graft.operators.HashBands
        .cappedBandPairs(all.toDF("id", "h"), "id", "h")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length == got.toSet.size, s"seed $seed: duplicate pair")
      assert(got.toSet == expected,
        s"seed $seed: ${got.length} vs ${expected.size}")
      // every planted pair found (the hot cluster can't cap them out:
      // its hash is distinct from every base with probability 1 at
      // these sizes, verified by the reference equality above); no
      // hot-cluster member appears anywhere
      val hotIds = (all.size - (cap + 4)).toLong until all.size.toLong
      assert(got.forall { case (a, b, _) =>
        !hotIds.contains(a) && !hotIds.contains(b) },
        s"seed $seed: a hot-cluster pair leaked")
      (0 until 20).foreach { i =>
        val (a, b) = (i.toLong, (60 + i).toLong)
        assert(expected.exists(p => p._1 == a && p._2 == b),
          s"seed $seed: planted pair $i missing from the reference")
      }
    }
  }

  test("property: media natives (dhash64, audiofp64) equal " +
      "independent driver-side references on random inputs") {
    // the fixture corpora exercise hand-planned shapes; this drives
    // the two media hash natives over RANDOM dimensions/lengths —
    // non-divisible grid partitions, c=1 vs c=3, shape-invalid rows,
    // sub-minimum lengths — against references written in a different
    // style (per-cell filtering, index groupBy), so a formula bug
    // shared with a fixture constant still gets caught. Also pins the
    // two laws the near-dup families lean on: positive-INTEGER-gain
    // invariance of audiofp64 on grid-exact samples, and NULL (never
    // throw) degradation for every invalid shape.

    // dhash64: random (w, h, c) with random bytes; ~1 in 5 rows get a
    // deliberately wrong buffer length and must return NULL
    val imgGen = for {
      w <- Gen.choose(1, 20); h <- Gen.choose(1, 16)
      c <- Gen.oneOf(1, 3); bad <- Gen.choose(0, 4)
      data <- Gen.listOfN(w * h * c + (if (bad == 0) 1 else 0),
        Gen.choose(-128, 127).map(_.toByte))
    } yield (w, h, c, data.toArray)
    val imgIn = Seq.newBuilder[(Int, Int, Int, Array[Byte])]
    forSamples(imgGen, 40)(imgIn += _)
    val imgRows = imgIn.result()
    val imgGot = imgRows.toDF("w", "h", "c", "data")
      .selectExpr("dhash64(data, w, h, c)")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    imgRows.zip(imgGot).foreach { case ((w, h, c, data), got) =>
      val expect: Option[Long] =
        if (w < 9 || h < 8 || w.toLong * h * c != data.length) None
        else {
          // reference in a different style: per-pixel grayscale table,
          // then per-cell mean via coordinate filtering
          val gray = for (y <- 0 until h; x <- 0 until w) yield {
            val base = (y * w + x) * c
            if (c >= 3) ((data(base) & 0xff) + (data(base + 1) & 0xff) +
              (data(base + 2) & 0xff)) / 3
            else data(base) & 0xff
          }
          def cellMean(tx: Int, ty: Int): Long = {
            val vs = for {
              y <- 0 until h if y * 8 / h == ty
              x <- 0 until w if x * 9 / w == tx
            } yield gray(y * w + x).toLong
            vs.sum / vs.size
          }
          Some((for {
            ty <- 0 until 8; tx <- 0 until 8
            if cellMean(tx + 1, ty) > cellMean(tx, ty)
          } yield 1L << (ty * 8 + tx)).foldLeft(0L)(_ | _))
        }
      assert(got == expect, s"dhash64(w=$w,h=$h,c=$c) = $got")
    }

    // audiofp64: random lengths spanning the 65-sample minimum, values
    // on the exact PCM16 grid (k/32768 — what decodeWav emits)
    val sndGen = for {
      n <- Gen.choose(0, 180)
      ks <- Gen.listOfN(n, Gen.choose(-8192, 8191))
    } yield ks
    val sndIn = Seq.newBuilder[List[Int]]
    forSamples(sndGen, 40)(sndIn += _)
    val sndRows = sndIn.result()
    val sndDf = sndRows.map(ks => Tuple1(ks.map(_ / 32768.0)))
      .toDF("s")
    val sndGot = sndDf
      .selectExpr("audiofp64(s)", "audiofp64(transform(s, x -> x * 3))")
      .collect().map(r => (
        if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
    sndRows.zip(sndGot).foreach { case (ks, (got, gained)) =>
      val expect: Option[Long] =
        if (ks.size < 65) None
        else {
          // reference via index groupBy instead of the running loop
          val energy = ks.indices.groupBy(i => i.toLong * 65 / ks.size)
            .map { case (wi, is) =>
              wi -> is.map(i => math.abs(ks(i).toLong)).sum }
          Some((0 until 64)
            .filter(w => energy(w + 1L) > energy(w.toLong))
            .foldLeft(0L)((h, w) => h | (1L << w)))
        }
      assert(got == expect, s"audiofp64(n=${ks.size}) = $got")
      // integer gain x3 keeps every energy-delta sign: k/32768 * 3
      // round-trips exactly through round(v * 32768) = 3k
      assert(gained == expect,
        s"audiofp64 not invariant under x3 gain (n=${ks.size})")
    }
  }
}
