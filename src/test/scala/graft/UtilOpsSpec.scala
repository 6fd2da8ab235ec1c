package graft

import graft.operators.Skew
import graft.pipeline.{ImageOps, ImagePipeline, ImageRecord}
import org.apache.spark.sql.functions._

/** Specs for the auxiliary operators: image-format source, quantile
  * sketch aggregator, salted aggregation.
  */
class UtilOpsSpec extends SparkSpec {
  import spark.implicits._

  test("image source: reads a dir of PNGs, drops invalid (A1 parity)") {
    val dir = tempDir("imgsrc")
    def png(name: String, w: Int, h: Int): Unit = {
      val rec = ImageRecord(name, h, w, 3,
        16, Array.fill(h * w * 3)(100.toByte))
      javax.imageio.ImageIO.write(ImageOps.toBufferedImage(rec), "png",
        dir.resolve(name).toFile)
    }
    png("a.png", 4, 4)
    png("b.png", 6, 2)
    java.nio.file.Files.write(dir.resolve("bad.png"),
      Array[Byte](1, 2, 3, 4))
    val df = ImagePipeline.readImageDir(spark, dir.toString)
    assert(df.count() == 2, "dropInvalid must drop the garbage file")
    val recs = ImagePipeline.toImageRecords(df).collect()
    assert(recs.map(r => (r.width, r.height)).toSet == Set((4, 4), (6, 2)))
    // pixel content survives the source roundtrip (solid 100s)
    assert(recs.forall(_.data.forall(b => (b & 0xff) == 100)))
  }

  test("image source: rows equal Spark's image source on every layout, " +
      "name and root form (A1 differential)") {
    import java.awt.color.ColorSpace
    import java.awt.image.BufferedImage._
    import java.nio.charset.Charset
    import java.nio.file.Files
    val root = tempDir("imgdiff")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    val layouts = graft.ImageLayouts.encoded(20261018L)
    // the layouts reach every decode path: both raster copies, the gray
    // samples (8-bit, 16-bit, with alpha) and the row-wise getRGB
    // fallback with and without alpha
    val kinds = layouts.map { case (_, b) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      (img.getType, img.getColorModel.getColorSpace.getType, img.getColorModel.hasAlpha)
    }.toSet
    val (rgb, gray) = (ColorSpace.TYPE_RGB, ColorSpace.TYPE_GRAY)
    for (k <- Seq((TYPE_3BYTE_BGR, rgb, false), (TYPE_4BYTE_ABGR, rgb, true),
        (TYPE_BYTE_GRAY, gray, false), (TYPE_USHORT_GRAY, gray, false),
        (TYPE_CUSTOM, gray, true), (TYPE_CUSTOM, rgb, false),
        (TYPE_BYTE_INDEXED, rgb, false), (TYPE_BYTE_INDEXED, rgb, true)))
      assert(kinds(k), s"no fixture decodes to (type, color space, alpha) $k")
    // every layout under a plain directory, nested, and under names that
    // need percent-encoding in a URI; a non-ASCII name only when the JVM
    // can encode file names in it (sun.jnu.encoding; POSIX locale cannot)
    val jnu = Charset.forName(System.getProperty("sun.jnu.encoding", "UTF-8"))
    val nonAscii = "n\u00fcn/\u00e7od\u00e9 \u65e5"
    val dirs = Seq("plain", "n1/n2/n3", "with space", "pct%20dir",
      "hash#dir") ++ Seq(nonAscii).filter(jnu.newEncoder().canEncode(_))
    for (d <- dirs; (name, bytes) <- layouts) put(s"$d/$name", bytes)
    put("with space/a b%20c#d.png", layouts.head._2)
    // undecodable: garbage bytes, a truncated PNG, an empty file, text
    put("plain/corrupt.png", Array.tabulate(64)(i => (i * 37 + 11).toByte))
    put("plain/truncated.png", layouts.head._2.take(40))
    put("n1/empty.png", Array.emptyByteArray)
    put("notes.txt", "not an image".getBytes("UTF-8"))
    val decodable = dirs.size * layouts.size + 1

    def fields(df: org.apache.spark.sql.DataFrame) =
      df.select("image.*").collect().map(r => (r.getString(0), r.getInt(1),
        r.getInt(2), r.getInt(3), r.getInt(4), r.getAs[Array[Byte]](5).toSeq))
        .sortBy(_._1).toSeq
    for (at <- Seq(root.toString, "file:" + root, root.toUri.toString)) {
      val ours = ImagePipeline.readImageDir(spark, at)
      val spark0 = spark.read.format("image").option("dropInvalid", "true")
        .option("recursiveFileLookup", "true").load(at)
      assert(ours.schema == spark0.schema)
      assert(ImagePipeline.readImageDir(spark, at).queryExecution.analyzed
        .sameResult(ours.queryExecution.analyzed), "equal reads, equal plans")
      assert(ours.count() == decodable && spark0.count() == decodable, at)
      val (got, want) = (fields(ours), fields(spark0))
      assert(got.size == want.size, at)
      got.zip(want).foreach { case (g, w) =>
        assert(g == w, s"$at: ${g._1} differs from Spark's ${w._1}") }
    }
  }

  test("quantile sketch: BIT-EXACT merge laws (commutative, " +
      "associative, partition-invariant) and the gamma guarantee") {
    val agg = new graft.functions.QuantileSketch(0.01, Seq(0.1, 0.5, 0.9))
    val rnd = new scala.util.Random(42)
    // lognormal-ish positive values + zeros + negatives + non-finite
    val xs = Vector.fill(5000)(math.exp(rnd.nextGaussian() * 2)) ++
      Vector.fill(37)(0.0) ++ Vector.fill(23)(-rnd.nextDouble() * 50) ++
      Vector(Double.NaN, Double.PositiveInfinity)
    def sketch(v: Seq[Double]) =
      v.foldLeft(agg.zero)((b, x) => agg.reduce(b, x))
    def fin(b: graft.functions.QSketchBuf) = agg.finish(b)
    // commutativity + associativity, BIT-exact (bin-count sums — the
    // property no compaction sketch offers): any split, any order,
    // identical estimates
    val whole = fin(sketch(xs))
    for (seed <- 1 to 5) {
      val r2 = new scala.util.Random(seed)
      val shuffled = r2.shuffle(xs)
      val k = 1 + r2.nextInt(xs.size - 1)
      val (l, r) = shuffled.splitAt(k)
      assert(fin(agg.merge(sketch(l), sketch(r))) == whole,
        s"seed $seed: merged != whole")
      assert(fin(agg.merge(sketch(r), sketch(l))) == whole,
        s"seed $seed: merge not commutative")
      val thirds = shuffled.grouped((xs.size + 2) / 3).toSeq
      val ab_c = agg.merge(agg.merge(sketch(thirds(0)), sketch(thirds(1))),
        sketch(thirds(2)))
      val a_bc = agg.merge(sketch(thirds(0)),
        agg.merge(sketch(thirds(1)), sketch(thirds(2))))
      assert(fin(ab_c) == fin(a_bc), s"seed $seed: merge not associative")
    }
    // relative-error guarantee vs the exact type-1 quantiles over the
    // finite inputs (non-finite rows are tallied in nonFinite for
    // reconciliation but excluded from n, so ranks align exactly)
    val finite = xs.filter(x => !x.isNaN && !x.isInfinite).sorted
    val est = whole
    Seq(0.1, 0.5, 0.9).zip(est).foreach { case (q, e) =>
      val ex = finite((q * (finite.size - 1)).floor.toInt)
      assert(math.abs(e - ex) <= 0.0101 * math.abs(ex) + 1e-9,
        s"q=$q: est $e vs exact $ex")
    }
    // empty input -> NaN markers, zero-only input -> exact 0.0
    assert(fin(agg.zero).forall(_.isNaN))
    assert(fin(sketch(Seq(0.0, 0.0))) == Seq(0.0, 0.0, 0.0))
    // all-negative input: mirrored buckets order most-negative first
    val negs = fin(sketch(Seq(-100.0, -10.0, -1.0)))
    assert(negs(0) < negs(2) && negs(0) < -90,
      s"negative ordering broken: $negs")
    // structural state bound: bucket indices are ceil(ln|x|/ln b), and
    // finite doubles live in e^±745, so even an ADVERSARIAL value
    // range (min subnormal to max double, both signs) cannot exceed
    // ~2*745/ln(b) buckets — no collapsing logic needed for the bound,
    // which keeps the merge laws bit-exact
    val extreme = sketch(Seq(Double.MinPositiveValue, Double.MaxValue,
      1e-300, 1e300, -1e-300, -1e300, 4.9e-324, 1.7976931348623157e308))
    val maxBuckets = (2 * 745 / math.log(1.01 / 0.99)).toInt + 4
    assert(extreme.pos.size + extreme.neg.size <= maxBuckets,
      s"state exceeded the structural bound: ${extreme.pos.size} + " +
        s"${extreme.neg.size} > $maxBuckets")
    // and the estimates at the extremes still honor the guarantee
    val ext = fin(extreme)
    assert(ext.last <= 1.7976931348623157e308 * 1.0101 &&
      ext.last >= 1.7976931348623157e308 * 0.98,
      s"extreme-range p90 broke the bound: ${ext.last}")
  }

  test("salted aggregation equals direct aggregation") {
    val li = Tables.load(spark, sf, "lineitem")
    val direct = li.groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.count(lit(1L)).as("cnt"),
        org.apache.spark.sql.functions.sum($"l_quantity").as("qty"),
        org.apache.spark.sql.functions.min($"l_extendedprice").as("mn"),
        org.apache.spark.sql.functions.max($"l_extendedprice").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val salted = Skew.saltedAgg(li, Seq("l_returnflag"), saltBuckets = 8,
      Seq(Skew.count("cnt"), Skew.sum("qty", $"l_quantity"),
        Skew.min("mn", $"l_extendedprice"), Skew.max("mx", $"l_extendedprice")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (c, q, mn, mx)) =>
      val (dc, dq, dmn, dmx) = direct(k)
      assert(c == dc && mn == dmn && mx == dmx)
      assert(math.abs(q - dq) < 1e-6)  // double sum order differs by salt
    }
  }

  test("saltedAgg: count-only specs SPREAD a hot key (payload-content " +
      "salt, not keys+constant), and MapType payloads don't crash") {
    import org.apache.spark.sql.functions.{lit, map, col}
    // ONE hot key, payload varying per row, plus a map column the salt
    // must skip (hashing MapType is banned): phase 1 must land the hot
    // key on MULTIPLE salts — the r13 fix; keys+lit(1) hashed to ONE
    // salt per key and the mitigation silently no-opped for count
    val hot = spark.range(0, 1000)
      .select(lit("viral").as("k"), col("id").as("payload"),
        map(lit("a"), col("id")).as("props"))
    val out = Skew.saltedAgg(hot, Seq("k"), saltBuckets = 8,
      Seq(Skew.count("cnt"))).collect()
    assert(out.length == 1 && out.head.getLong(1) == 1000L)
    // observable spread: the operator's own phase 1 must carry the hot
    // key on MULTIPLE (key, salt) partials — keys+lit(1) salting gave 1
    val spread = Skew.saltedPhase1(
      hot.withColumn("__salt", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          col("k"), col("payload"), lit(42L)), lit(8))),
      Seq("k"), Seq(Skew.count("cnt"))).count()
    assert(spread > 1, s"hot key still landed on $spread salt bucket(s)")
  }

  test("saltedAgg salt source: keys+inputs when any input is live, " +
      "all-hashable-columns only for the count-only degenerate case") {
    import org.apache.spark.sql.functions.{lit, map, col}
    // wide row: a large binary payload the salt must NOT hash when a
    // live aggregate input exists (the r14 ADVICE CPU regression), and
    // a map column that is never hashable either way
    val df = spark.range(0, 10).select(
      lit("k").as("k"), col("id").as("v"),
      lit(Array.fill[Byte](64)(7)).as("blob"),
      map(lit("a"), col("id")).as("props"))
    val live = Skew.saltSource(df, Seq("k"), Seq(Skew.sum("s", col("v"))))
    assert(live.map(_.toString) == Seq(col("k"), col("v")).map(_.toString),
      s"live-input salt must be keys+inputs, got $live")
    val degenerate = Skew.saltSource(df, Seq("k"), Seq(Skew.count("c")))
    assert(degenerate.map(_.toString) ==
      Seq(col("k"), col("v"), col("blob")).map(_.toString),
      s"count-only salt must fall back to all hashable columns " +
        s"(map excluded), got $degenerate")
    // a live but UNHASHABLE input (count over the map column) must not
    // crash the salt — it falls back to the all-columns path
    val mapCount = Skew.saltSource(df, Seq("k"),
      Seq(Skew.AggSpec("c", col("props"), "count")))
    assert(mapCount.map(_.toString) ==
      Seq(col("k"), col("v"), col("blob")).map(_.toString))
  }

  test("saltedAgg salt admissibility (r15, the r14 ADVICE findings): " +
      "key-subsumed and non-deterministic live inputs fall back") {
    import org.apache.spark.sql.functions.{col, lit, rand}
    val df = spark.range(0, 100).select(
      lit("k").as("k"), col("id").as("v"),
      lit(Array.fill[Byte](8)(7)).as("blob"))
    val all = Seq(col("k"), col("v"), col("blob")).map(_.toString)
    // min over a KEY column is live but constant WITHIN a hot key —
    // hashing it would yield one salt per key (silent no-op)
    assert(Skew.saltSource(df, Seq("k"), Seq(Skew.min("m", col("k"))))
      .map(_.toString) == all, "key-subsumed input must fall back")
    // ...including expressions over key columns only
    assert(Skew.saltSource(df, Seq("k"),
        Seq(Skew.max("m", org.apache.spark.sql.functions.upper(col("k")))))
      .map(_.toString) == all, "key-derived expression must fall back")
    // a non-deterministic column-bearing input must never reach the
    // salt (SPARK-23207 retry agreement)
    assert(Skew.saltSource(df, Seq("k"),
        Seq(Skew.sum("s", col("v") + rand(7))))
      .map(_.toString) == all, "non-deterministic input must fall back")
    // mixed: the inadmissible input is dropped, the admissible one
    // still carries the salt (no blob hashing)
    assert(Skew.saltSource(df, Seq("k"),
        Seq(Skew.sum("s", col("v") + rand(7)), Skew.max("m", col("v"))))
      .map(_.toString) == Seq(col("k"), col("v")).map(_.toString))
    // the explicit saltCols escape hatch replaces inference and stays
    // result-identical to the direct aggregation
    val out = Skew.saltedAgg(df, Seq("k"), saltBuckets = 8,
      Seq(Skew.min("m", col("k")), Skew.count("n")),
      saltCols = Seq(col("v"))).collect()
    assert(out.length == 1 && out.head.getString(1) == "k" &&
      out.head.getLong(2) == 100L)
  }

  test("quantile sketch skips NULL inputs (boxed encoder) and " +
      "quantileMonitor names collide-free columns") {
    import org.apache.spark.sql.functions.{col, when}
    import graft.streaming.StreamingSketches.quantileColName
    // name derivation: full-value percent, never whole-percent rounding
    assert(quantileColName(0.5) == "p50")
    assert(quantileColName(0.995) == "p99_5")
    assert(quantileColName(1.0) == "p100")
    assert(quantileColName(0.5499) == "p54_99")
    assert(quantileColName(0.0) == "p0")
    // with full-value names only a literal duplicate can collide —
    // and that is rejected up front (0.995 vs 0.9951 used to BOTH
    // round to p100/p99 silently; now they get distinct names)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingSketches.quantileMonitor(
        spark.range(1).selectExpr("'a' AS k", "1.0 AS v"), "k", "v",
        quantiles = Seq(0.995, 0.995))
    }
    // NULL metric values are ABSENT, not 0.0: estimates and the
    // requested 0.995/1.0 pair both survive
    val vals = spark.range(0, 1000).select(
      org.apache.spark.sql.functions.lit("g").as("k"),
      when(col("id") % 10 === 0, null)
        .otherwise(col("id").cast("double") + 1000).as("v"))
    val row = graft.streaming.StreamingSketches.quantileMonitor(
      vals, "k", "v", quantiles = Seq(0.5, 0.995, 1.0)).collect().head
    val (p50, p99_5, p100) = (row.getAs[Double]("p50"),
      row.getAs[Double]("p99_5"), row.getAs[Double]("p100"))
    // with nulls-as-0.0 the low tail would sit at ~0; all estimates
    // must stay within gamma of the non-null value range
    assert(p50 > 1400 && p50 < 1600, s"p50 $p50 poisoned by nulls?")
    assert(p99_5 > 1960 && p99_5 <= p100 * 1.0001,
      s"p99_5 $p99_5 vs p100 $p100")
    assert(p100 > 1970 && p100 < 2020, s"p100 $p100")
    // and the direct reduce contract: null leaves the buffer untouched
    val agg = new graft.functions.QuantileSketch(0.01, Seq(0.5))
    val b = agg.reduce(agg.reduce(agg.zero, 5.0), null)
    assert(b.n == 1L)
  }
  test("sidecar canon pins the cross-language value contract") {
    // these strings are the CONTRACT with scripts/check.py's canon():
    // a change on either side makes every sidecar read as drift, so
    // the Scala side is pinned here value-for-value (the Python side
    // is pinned by the zero-drift assertion every check.py run makes)
    import graft.Verify.canon
    assert(canon(null) == "\u2205")
    assert(canon(true) == "true" && canon(false) == "false")
    assert(canon(42L) == "42" && canon(7) == "7")
    assert(canon(-0.0d) == "8000000000000000")
    assert(canon(0.0d) == "0000000000000000")
    assert(canon(1.5d) == "3ff8000000000000")
    assert(canon(Double.NaN) == "NaN")
    assert(canon(Double.PositiveInfinity) == "7ff0000000000000")
    assert(canon(1.5f) == canon(1.5d), "float widens exactly")
    assert(canon(new java.math.BigDecimal("1.50")) == "1.50")
    assert(canon(new java.math.BigDecimal("1E-20"))
      == "0.00000000000000000001", "plain string, never exponent")
    assert(canon(java.sql.Date.valueOf("2026-08-15")) == "2026-08-15")
    assert(canon(java.time.Instant.ofEpochSecond(1, 2000)) == "1000002")
    assert(canon(java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1, 2000))) == "1000002")
    assert(canon(java.time.LocalDateTime.ofEpochSecond(1, 2000,
      java.time.ZoneOffset.UTC)) == "1000002", "NTZ treated as UTC")
    assert(canon(Array[Byte](0, -1, 16)) == "00ff10")
    assert(canon(Seq(1L, null, 2.5d)) == "[1,\u2205,4004000000000000]")
    assert(canon(Map("b" -> 2, "a" -> 1)) == "<a=1,b=2>", "maps sort")
  }

}
