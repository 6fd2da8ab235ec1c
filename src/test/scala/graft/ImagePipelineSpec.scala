package graft

import graft.pipeline.{ImaAdpcm, ImageOps, ImagePipeline, ImageRecord, MediaCodec, Multimodal}
import org.apache.spark.sql.functions._

/** Typed/image pipeline tests on <=8x8 synthetic fixtures (FIXTURES.md
  * §2): decode fast path + encoded fallback, INTER_AREA-analog resize,
  * seeded flip determinism, rotate, jitter clamping, JPEG q95 roundtrip,
  * tensor + ImageNet normalize, seeded shuffle, positional split, folder
  * read, batching, accuracy/argmax, image UDFs and the multimodal stubs.
  */
class ImagePipelineSpec extends SparkSpec {
  import spark.implicits._

  private def solid(w: Int, h: Int, bgr: (Int, Int, Int)): ImageRecord = {
    val data = new Array[Byte](w * h * 3)
    var i = 0
    while (i < data.length) {
      data(i) = bgr._1.toByte; data(i + 1) = bgr._2.toByte
      data(i + 2) = bgr._3.toByte; i += 3
    }
    ImageRecord("mem://solid", h, w, 3, 16, data)
  }

  private def gradient(w: Int, h: Int): ImageRecord = {
    val data = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      data((y * w + x) * 3 + c) = ((x * 255) / (w - 1)).toByte
    ImageRecord("mem://grad", h, w, 3, 16, data)
  }

  test("decode: fast path for raw shape, None for garbage (dropInvalid)") {
    val ok = solid(4, 4, (1, 2, 3))
    assert(ImageOps.decode(ok).contains(ok))
    assert(ImageOps.decode(ok.copy(data = Array[Byte]())).isEmpty)
    assert(ImageOps.decode(ok.copy(data = Array[Byte](1, 2, 3, 4, 5))).isEmpty)
  }

  test("resize area: 8x8 block downscale to 4x4 averages blocks exactly") {
    val g = gradient(8, 8)
    val r = ImageOps.resizeArea(g, 4, 4)
    assert(r.width == 4 && r.height == 4)
    // columns 0,1 of the gradient are (0,36) -> mean 18
    assert((r.data(0) & 0xff) == 18)
    // solid image stays solid under any resize
    val s = ImageOps.resizeArea(solid(8, 6, (50, 100, 150)), 3, 5)
    assert(s.data.grouped(3).forall(p =>
      (p(0) & 0xff) == 50 && (p(1) & 0xff) == 100 && (p(2) & 0xff) == 150))
  }

  test("flip: seeded determinism and involution") {
    val g = gradient(6, 4)
    val f1 = ImageOps.flipSeeded(g, seed = 42)
    val f2 = ImageOps.flipSeeded(g, seed = 42)
    assert(f1.data.sameElements(f2.data), "same seed -> same flip")
    val h = ImageOps.flip(g, horizontal = true, vertical = false)
    assert(ImageOps.flip(h, horizontal = true, vertical = false)
      .data.sameElements(g.data), "double flip = identity")
    // horizontal flip reverses the gradient row
    assert((h.data(0) & 0xff) == 255)
    // the per-record seed mix must give DIFFERENT records different
    // flips — a run-seed-only RNG degenerates to one corpus-wide flip
    val variants = (0 until 8).map { i =>
      ImageOps.flipSeeded(g.copy(origin = s"img$i"), seed = 42).data.toSeq
    }
    assert(variants.distinct.size >= 2, "per-record flips must vary")
  }

  test("rotate: 0 deg = identity; 15 deg keeps solid interior solid") {
    val g = gradient(8, 8)
    assert(ImageOps.rotate(g, 0.0).data.sameElements(g.data))
    val s = ImageOps.rotate(solid(8, 8, (77, 77, 77)), 15.0)
    // center pixel untouched by rotation of a solid image
    val center = (4 * 8 + 4) * 3
    assert((s.data(center) & 0xff) == 77)
  }

  test("color jitter: alpha=1.2 beta=10 with saturation") {
    val s = ImageOps.colorJitter(solid(2, 2, (100, 200, 250)))
    assert((s.data(0) & 0xff) == 130)  // 1.2*100+10
    assert((s.data(1) & 0xff) == 250)  // 1.2*200+10 -> 250
    assert((s.data(2) & 0xff) == 255)  // clamp
  }

  test("contrast about midpoint 128 (A18 semantics)") {
    val r = ImageOps.contrastBrightness(solid(1, 1, (128, 28, 228)), 2.0, 0.0)
    assert((r.data(0) & 0xff) == 128)  // midpoint fixed
    assert((r.data(1) & 0xff) == 0)    // (28-128)*2+128 = -72 -> clamp
    assert((r.data(2) & 0xff) == 255)  // (228-128)*2+128 = 328 -> clamp
  }

  test("jpeg q95 encode -> ImageIO decode roundtrip approximates input") {
    val g = gradient(8, 8)
    val bytes = ImageOps.jpegEncode(g)
    assert(bytes.length > 2 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8, "JPEG SOI marker")
    val back = ImageOps.decodeEncoded("mem://rt", bytes).get
    assert(back.width == 8 && back.height == 8 && back.nChannels == 3)
    val maxErr = g.data.zip(back.data).map { case (a, b) =>
      math.abs((a & 0xff) - (b & 0xff)) }.max
    assert(maxErr <= 24, s"q95 roundtrip error too large: $maxErr")
  }

  test("kernels are bit-exact against the per-pixel reference bodies") {
    import ImageOpsReference._
    val rnd = new scala.util.Random(20260418L)
    def img(h: Int, w: Int, c: Int): ImageRecord =
      ImageRecord(s"mem://r${h}x${w}x$c", h, w, c, 16,
        Array.fill(h * w * c)(rnd.nextInt(256).toByte))
    val shapes = Seq.fill(30)((1 + rnd.nextInt(64), 1 + rnd.nextInt(64))) ++
      Seq((1, 1), (1, 64), (64, 1), (452, 480))
    val images = for ((h, w) <- shapes; c <- Seq(1, 3, 4)) yield img(h, w, c)
    def same(what: String, r: ImageRecord, a: Array[Byte], b: Array[Byte]) =
      assert(a.sameElements(b),
        s"$what differs on ${r.height}x${r.width}x${r.nChannels}")
    for (r <- images) {
      // upscale (x2 + 3), downscale (/2 floor), non-integer ratio, 1x1,
      // the empty sizes, and a negative size, which must throw
      val targets = Seq((r.width * 2 + 3, r.height * 2 + 3),
        (math.max(1, r.width / 2), math.max(1, r.height / 2)),
        (17, 31), (224, 224), (1, 1), (0, 3), (3, 0), (-2, -3))
      for ((tw, th) <- targets) {
        if (tw < 0 || th < 0) {
          val e = intercept[IllegalArgumentException](ImageOps.resizeArea(r, tw, th))
          assert(e.getMessage.contains(r.origin))
        } else {
          val got = ImageOps.resizeArea(r, tw, th)
          assert(got.width == tw && got.height == th)
          same(s"resizeArea($tw, $th)", r, got.data, resizeArea(r, tw, th).data)
        }
      }
      for (deg <- Seq(15.0, -33.0, 90.0))
        same(s"rotate($deg)", r, ImageOps.rotate(r, deg).data,
          rotate(r, deg).data)
      same("colorJitter()", r, ImageOps.colorJitter(r).data,
        colorJitter(r).data)
      same("colorJitter(1.0, 20.0)", r,
        ImageOps.colorJitter(r, 1.0, 20.0).data, colorJitter(r, 1.0, 20.0).data)
      val (ours, ref) = (ImageOps.toBufferedImage(r), toBufferedImage(r))
      assert(ours.getRGB(0, 0, r.width, r.height, null, 0, r.width)
        .sameElements(ref.getRGB(0, 0, r.width, r.height, null, 0, r.width)))
      same("jpegEncode", r, ImageOps.jpegEncode(r), jpegEncode(r))
      same("pngEncode", r, ImageOps.pngEncode(r), pngEncode(r))
    }
  }

  test("decodeEncoded is bit-exact against the per-pixel getRGB reference") {
    val layouts = ImageLayouts.encoded(20260419L) ++
      ImageLayouts.encoded(7L, w = 64, h = 33)
    for ((name, bytes) <- layouts) {
      val got = ImageOps.decodeEncoded(s"mem://$name", bytes).get
      val want = ImageOpsReference.decodeEncoded(s"mem://$name", bytes).get
      assert(got.copy(data = null) == want.copy(data = null), name)
      assert(got.nChannels == 3 && got.data.sameElements(want.data), name)
    }
    assert(ImageOps.decodeEncoded("mem://junk", Array[Byte](1, 2, 3)).isEmpty)
  }

  test("img_resize rejects a negative target size, naming the row") {
    val g = gradient(8, 8)
    Seq((g.data, g.height, g.width, g.nChannels)).toDF("d", "h", "w", "c")
      .createOrReplaceTempView("imgs_neg")
    val e = intercept[Exception](spark.sql(
      "SELECT img_resize(d, h, w, c, -2, -3) FROM imgs_neg").collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage == "resizeArea: negative target size (width -3, height -2) " +
        "for origin udf"), e)
    assert(spark.sql("SELECT img_resize(d, h, w, c, 0, 3) FROM imgs_neg")
      .head().getAs[Array[Byte]](0).isEmpty, "zero sizes stay allowed")
  }

  // ------------------------------------------------ dHash (q147/q148)

  test("dhash64: hand-computed grids, channel paths, null degradation") {
    import graft.functions.DHash64
    // 9x8 single-channel image, one pixel per cell: increasing rows
    // make every horizontal comparison true -> all 64 bits -> -1L;
    // decreasing rows -> 0L
    val inc = Array.tabulate[Byte](72)(p => (p % 9 * 10).toByte)
    assert(DHash64.hash(inc, 9, 8, 1) == -1L)
    val dec = Array.tabulate[Byte](72)(p => (80 - p % 9 * 10).toByte)
    assert(DHash64.hash(dec, 9, 8, 1) == 0L)
    // 3-channel gray mean: replicate inc into BGR -> same hash; and a
    // 4-channel image ignores the extra channel
    val inc3 = inc.flatMap(b => Array(b, b, b))
    assert(DHash64.hash(inc3, 9, 8, 3) == -1L)
    val inc4 = inc.flatMap(b => Array(b, b, b, 99.toByte))
    assert(DHash64.hash(inc4, 9, 8, 4) == -1L)
    // shape degradation: null, undersized grid, byte-count mismatch
    assert(DHash64.hash(null, 9, 8, 1) == null)
    assert(DHash64.hash(inc, 8, 9, 1) == null)  // w < 9
    assert(DHash64.hash(inc, 9, 7, 1) == null)  // h < 8
    assert(DHash64.hash(inc, 9, 8, 3) == null)  // 72 != 9*8*3
    // the SQL surface agrees with the direct call and yields NULL (not
    // a task kill) on the invalid row
    val out = Seq((inc, 9, 8, 1), (inc, 9, 7, 1))
      .toDF("d", "w", "h", "c")
      .selectExpr("dhash64(d, w, h, c) AS hsh").collect()
    assert(out(0).getLong(0) == -1L && out(1).isNullAt(0))
  }

  test("dhash robustness: jpeg-q95 re-encode and area-resize keep the " +
      "hash within a small Hamming distance; brightness shift exact") {
    import graft.functions.DHash64
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    def hashOf(r: ImageRecord): Long =
      DHash64.hash(r.data, r.width, r.height, r.nChannels).longValue()
    // smooth low-frequency fixtures (the realistic photo class): a
    // diagonal gradient + per-image phase, 32x32x3
    def smooth(seed: Int): ImageRecord = {
      val w = 32; val h = 32
      val data = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; ch <- 0 until 3)
        data((y * w + x) * 3 + ch) =
          ((math.sin((x + 2 * y) * 0.21 + seed) * 100 + 120).toInt &
            0xff).toByte
      ImageRecord(s"mem://smooth/$seed", h, w, 3, 16, data)
    }
    for (seed <- 0 until 8) {
      val img = smooth(seed)
      val h0 = hashOf(img)
      // jpeg q95 re-encode (the crawl's most common duplicate source)
      val re = ImageOps.decodeEncoded("mem://re",
        ImageOps.jpegEncode(img)).get
      assert(ham(h0, hashOf(re)) <= 3,
        s"seed $seed: jpeg re-encode moved the hash ${ham(h0, hashOf(re))} bits")
      // 2x upscale and 2x downscale copies (area interpolation)
      val up = ImageOps.resizeArea(img, 64, 64)
      assert(ham(h0, hashOf(up)) <= 3,
        s"seed $seed: 2x upscale moved the hash ${ham(h0, hashOf(up))} bits")
      val down = ImageOps.resizeArea(img, 16, 16)
      assert(ham(h0, hashOf(down)) <= 6,
        s"seed $seed: 2x downscale moved the hash ${ham(h0, hashOf(down))} bits")
      // global brightness shift leaves gradient SIGNS untouched where
      // no clamp saturates: +20 on a mid-range image is hash-EXACT
      val bright = ImageOps.colorJitter(img, alpha = 1.0, beta = 20.0)
      assert(hashOf(bright) == h0, s"seed $seed: brightness changed the hash")
    }
  }

  test("q147/q148 fixture: planted near-dups found, capped banded plan " +
      "equals the stop-bucket reference, hot flat cluster dropped") {
    import graft.queries.ImageDedup
    val rows = ImageDedup.hashesOf(spark, sf).collect()
    assert(rows.length == 140 && rows.forall(!_.isNullAt(1)),
      "every fixture image (120 formula + 20 flat) must decode and hash")
    val hs = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the planted flat cluster all dHashes to exactly 0 — the
    // degenerate class whose band buckets the cap must drop
    assert((120L until 140L).forall(hs(_) == 0L),
      "flat images must hash to 0")
    // every planted pair (i-1, i) for i % 3 == 2 is within Hamming 2
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val planted = (0L until 120L).filter(_ % 3 == 2).map(i => (i - 1, i))
    assert(planted.forall { case (a, b) => ham(hs(a), hs(b)) <= 2 },
      "a planted near-dup drifted past Hamming 2")
    // pure-Scala reference of the CAPPED banded semantics (what the
    // DuckDB oracle also mirrors): a pair is reported iff Hamming <= 3
    // AND some shared 16-bit band's bucket is under the cap
    val cap = graft.operators.HashBands.BandBucketCap
    val bucket = hs.toSeq
      .flatMap { case (i, h) =>
        (0 until 4).map(bk => (bk, (h >> (bk * 16)) & 0xffffL) -> i) }
      .groupMap(_._1)(_._2)
    val okBuckets = bucket.filter(_._2.size <= cap).keySet
    val ids = hs.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b && ham(hs(a), hs(b)) <= 3
      if (0 until 4).exists { bk =>
        val (ba, bb) = ((hs(a) >> (bk * 16)) & 0xffffL,
          (hs(b) >> (bk * 16)) & 0xffffL)
        ba == bb && okBuckets((bk, ba))
      }
    } yield (a, b, ham(hs(a), hs(b)).toLong)).toSet
    val banded = SparkEntry.queries("q148_image_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == expected,
      s"capped banded pairs != reference: ${banded.size} vs ${expected.size}")
    assert(expected.size == 40,
      s"fixture should keep the 40 formula pairs, got ${expected.size}")
    // the cap is EXERCISED, not just present: uncapped banding would
    // have emitted the flat cluster's 190 quadratic exact-dup pairs
    assert(banded.forall { case (a, b, _) => a < 120 && b < 120 },
      "a flat-cluster pair leaked past the bucket cap")
    val uncappedFlatPairs = (for {
      a <- 120L until 140L; b <- (a + 1) until 140L
    } yield (a, b)).size
    assert(uncappedFlatPairs == 190)
  }

  test("cross-CODEC video near-dup: the same content as GIF and " +
      "AVI/MJPEG matches frame-by-frame within the q148 band threshold") {
    // q149 composes EXACT frame-hash keys (lossless GIF twins); this
    // pins the documented fuzzy path for cross-codec copies: the same
    // smooth frames muxed as grayscale GIF and as JPEG-compressed
    // AVI/MJPEG must hash within Hamming 3 per frame — i.e. banding
    // each frame hash (q148's 4x16 bands, pigeonhole recall 1 at <= 3)
    // would bucket the two codecs' frames together with zero extra
    // machinery
    import graft.functions.DHash64
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    def smoothFrame(f: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 32) {
        val v = (math.sin((x + 2 * y) * 0.21 + f * 1.7) * 100 + 120).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val frames = (0 until 3).map(smoothFrame)
    val gifClip = graft.pipeline.MediaFixtures.animatedGif(frames, 10)
    val aviClip = aviMjpeg(frames, scale = 1, rate = 10)
    def frameHashes(bytes: Array[Byte]): Seq[(Long, Long)] = {
      val media = Multimodal.asMediaFrame(
        Seq((1L, bytes)).toDF("id", "b"), "id", "video", "b")
      Multimodal.sampleVideoFrames(spark, media, everyMs = 100,
          maxFrames = 4)
        .orderBy("frame_ts_ms").collect().toSeq.map { r =>
          val d = ImageOps.decodeEncoded("f",
            r.getAs[Array[Byte]](2)).get
          (r.getLong(1),
            DHash64.hash(d.data, d.width, d.height, d.nChannels)
              .longValue())
        }
    }
    val g = frameHashes(gifClip)
    val a = frameHashes(aviClip)
    assert(g.length == 3 && a.length == 3,
      s"frame sampling: gif ${g.length}, avi ${a.length}")
    g.zip(a).foreach { case ((ts, hg), (_, ha)) =>
      assert(ham(hg, ha) <= 3,
        s"frame at ${ts}ms drifted ${ham(hg, ha)} bits across codecs")
    }
  }

  test("q149 video near-dup: trimmed+brightness-shifted GIF copies " +
      "found by frame-signature containment, shared black frame capped") {
    // planted: clip c % 4 == 1 is clip c-1 with +15 brightness and the
    // last frame trimmed -> every FORMULA signature of the copy appears
    // in the original (brightness shift is hash-exact, GIF grayscale
    // roundtrip lossless) -> containment 10000 bp, shared = the copy's
    // formula frame count. The black OPENING frame every clip shares
    // (sig 0, df 24 > SigDfCap) must be dropped by the cap — without
    // it every clip pair would share a signature (276 quadratic
    // candidates at fixture scale, the near-universal-frame blowup).
    val rows = SparkEntry.queries("q149_video_neardup")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    val expected = (0L until 24L).filter(_ % 4 == 1).map { c =>
      val nFrames = (4 + (c - 1) % 3) - 1 // trimmed copy's frame count
      (c - 1, c) -> (nFrames, 10000L)
    }.toMap
    assert(rows == expected,
      s"got ${rows.toSeq.sortBy(_._1)}; expected ${expected.toSeq.sortBy(_._1)}")
    // sanity: the corpus really decodes all frames (the trimmed copy
    // has one fewer signature than its source)
    val sigs = graft.queries.ImageDedup.clipCorpus(spark, sf)
    assert(sigs.count() == 24)
  }

  test("tensor CHW conversion + ImageNet normalize") {
    val s = solid(2, 2, (255, 0, 128))
    val t = ImageOps.toTensorCHW(s)
    assert(t.length == 12)
    assert(t(0) == 1.0f && t(4) == 0.0f)          // B plane, G plane
    assert(math.abs(t(8) - 128 / 255.0f) < 1e-6)  // R plane
    val n = ImageOps.normalizeCHW(t, 3)
    assert(math.abs(n(0) - (1.0f - 0.485f) / 0.229f) < 1e-5)
  }

  test("gaussian noise and random erase are seed-deterministic") {
    val g = gradient(8, 8)
    assert(ImageOps.gaussianNoise(g, 7).data
      .sameElements(ImageOps.gaussianNoise(g, 7).data))
    assert(ImageOps.randomErase(g, 7).data
      .sameElements(ImageOps.randomErase(g, 7).data))
    // erase with mean fill on a solid image is a no-op (fill == content)
    val s = solid(8, 8, (9, 9, 9))
    assert(ImageOps.randomErase(s, 1).data.sameElements(s.data))
    // origin-mixed seed: one run seed yields per-record diversity — over
    // a spread of origins, not every noise mask can be identical (prob
    // 0.5 alone makes all-same astronomically unlikely over 16 records)
    val masks = (1 to 16).map { i =>
      ImageOps.gaussianNoise(g.copy(origin = s"img$i"), seed = 7).data.toSeq
    }
    assert(masks.distinct.size > 1,
      "corpus-wide noise must differ per record under one run seed")
  }

  test("augment chain: typed Dataset end-to-end, invalid rows dropped") {
    val good = gradient(8, 8)
    val bad = ImageRecord("mem://bad", 8, 8, 3, 16, Array[Byte](1, 2))
    val ds = spark.createDataset(Seq(good, bad))
    val out = ImagePipeline.augmentChain(ds, 4, 4, seed = 42).collect()
    assert(out.length == 1, "invalid record must be dropped")
    assert(out.head._1 == "mem://grad")
    assert(ImageOps.decodeEncoded("rt", out.head._2).get.width == 4)
  }

  test("positional split: 0.8/0.2 by seeded order, >= 1 per side") {
    val df = (1 to 10).toDF("id")
    val (tr, va) = ImagePipeline.positionalSplit(df, "id", seed = 42)
    assert(tr.count() == 8 && va.count() == 2)
    assert(tr.intersect(va).count() == 0)
    // clamp: 2 rows always split 1/1
    val (t2, v2) = ImagePipeline.positionalSplit((1 to 2).toDF("id"), "id", 1)
    assert(t2.count() == 1 && v2.count() == 1)
    // determinism
    val (tr2, _) = ImagePipeline.positionalSplit(df, "id", seed = 42)
    assert(tr.collect().toSet == tr2.collect().toSet)
  }

  test("positional split runs no unpartitioned window (single-task killer)") {
    // positions must come from zipWithIndex over the range-partitioned
    // sort, never from Window.orderBy-without-partitionBy: that plan
    // funnels the whole dataset through one task at scale
    val (tr, va) = ImagePipeline.positionalSplit(
      (1 to 100).toDF("id"), "id", seed = 7)
    Seq(tr, va).foreach { d =>
      assert(!d.queryExecution.executedPlan.toString.contains("Window"),
        "positionalSplit must not use a window operator")
    }
    assert(tr.count() == 80 && va.count() == 20)
  }

  test("seeded shuffle: a permutation, fixed per seed, different across seeds") {
    val df = (1 to 50).toDF("id")
    def order(seed: Long) =
      ImagePipeline.seededShuffle(df, "id", seed).as[Int].collect().toSeq
    val s42 = order(42)
    assert(s42.sorted == (1 to 50), "rows must be permuted, not changed")
    assert(s42 != (1 to 50), "the order must not be the input order")
    assert(order(42) == s42, "the same seed must give the same order")
    assert(order(7) != s42, "another seed must give another order")
  }

  test("image folder read (A1/A5): parent-dir label, image globs only, " +
      "recursive") {
    val root = tempDir("graft_folder")
    val kept = Seq("catA/a.jpg", "catA/b.jpeg", "catB/c.png", "catB/d.bmp",
      "catC/deep/e.gif")
    (kept ++ Seq("catA/notes.txt", "catB/f.tiff", "catC/g.jpg.bak")).foreach {
      rel => val f = root.resolve(rel)
        java.nio.file.Files.createDirectories(f.getParent)
        java.nio.file.Files.write(f, rel.getBytes("UTF-8"))
    }
    // (path under root, label, content): the label is the file's parent
    // directory, however deep the file sits
    val got = ImagePipeline.readImageFolder(spark, root.toString).collect()
      .map(r => (r.getString(0).stripPrefix(s"file:$root/"),
        r.getString(1), new String(r.getAs[Array[Byte]](2), "UTF-8"))).toSet
    assert(got == kept.map(rel =>
      (rel, rel.split('/').init.last, rel)).toSet)
  }

  test("batching groups per partition without shuffle") {
    val ds = spark.range(0, 20).repartition(2).as[Long]
    val batches = ImagePipeline.batched(ds, 4).collect()
    assert(batches.map(_.size).forall(_ <= 4))
    assert(batches.map(_.size).sum == 20)
  }

  test("accuracy and argmax prediction (A31/A33)") {
    val df = Seq(
      (Array(0.1, 0.7, 0.2), 1),
      (Array(0.9, 0.05, 0.05), 0),
      (Array(0.2, 0.3, 0.5), 1)  // wrong
    ).toDF("scores", "label")
    val acc = ImagePipeline.accuracy(df, "scores", "label")
      .head().getDouble(0)
    assert(math.abs(acc - 200.0 / 3) < 1e-9)
    val preds = ImagePipeline.argmaxPrediction(df, "scores")
      .select("prediction").as[Int].collect().toSeq
    assert(preds == Seq(1, 0, 2))
  }

  test("relative path projection mirrors tree under output dir (A14)") {
    val df = Seq("file:/data/raw/catA/img1.jpg", "/data/raw/catB/img2.png")
      .toDF("path")
    val got = df.select(
      ImagePipeline.relativePathCol("/data/raw", "/data/out").as("p"))
      .as[String].collect().toSeq
    assert(got == Seq("/data/out/catA/img1.jpg", "/data/out/catB/img2.png"))
  }

  test("image UDFs compose in SQL and match the direct ops") {
    val g = gradient(8, 8)
    Seq((g.data, g.height, g.width, g.nChannels)).toDF("d", "h", "w", "c")
      .createOrReplaceTempView("imgs")
    val sqlBytes = spark.sql(
      """SELECT img_jitter(img_resize(d, h, w, c, 4, 4), 4, 4, c, 1.2, 10.0)
         AS out FROM imgs""").head().getAs[Array[Byte]](0)
    val direct = ImageOps.colorJitter(ImageOps.resizeArea(g, 4, 4)).data
    assert(sqlBytes.sameElements(direct))
    val tensor = spark.sql("SELECT img_tensor_chw(d, h, w, c) FROM imgs")
      .head().getSeq[Float](0)
    assert(tensor.length == 8 * 8 * 3)
  }

  test("multimodal: image features real, audio/video stubs deterministic") {
    val jpeg = ImageOps.jpegEncode(gradient(8, 8))
    val img = Multimodal.asMediaFrame(
      Seq((1L, jpeg)).toDF("id", "bytes"), "id", "image", "bytes")
    val feats = Multimodal.imageFeatures(spark, img)
    val row = feats.head()
    assert(row.getLong(0) == 1L)
    assert(row.getSeq[Float](1).length == 3 * 8 * 8)

    // the stub surface (explicit now that the DEFAULT codec is the real
    // Jvm one, which rightly DROPS these undecodable bytes)
    val audio = Multimodal.asMediaFrame(
      Seq((2L, Array.tabulate(64)(_.toByte))).toDF("id", "bytes"),
      "id", "audio", "bytes")
    val a1 = Multimodal.compressedAudioFeatures(
      spark, audio, codec = MediaCodec.Stub).head().getSeq[Float](1)
    val a2 = Multimodal.compressedAudioFeatures(
      spark, audio, codec = MediaCodec.Stub).head().getSeq[Float](1)
    assert(a1 == a2 && a1.length == 16)
    assert(Multimodal.compressedAudioFeatures(spark, audio).count() == 0,
      "the real default codec must drop undecodable bytes")

    val video = Multimodal.asMediaFrame(
      Seq((3L, Array.tabulate(64)(_.toByte))).toDF("id", "bytes"),
      "id", "video", "bytes")
    assert(Multimodal.sampleVideoFrames(spark, video).count() == 0,
      "the real default codec must drop undecodable containers")
    assert(Multimodal.sampleVideoFrames(
      spark, video, codec = MediaCodec.Stub).count() == 4)
  }

  /** Animated GIF with per-frame delays, written via the JDK's own GIF
    * sequence writer — a genuine timed multi-frame container. */
  private def animatedGif(
      frames: Seq[(java.awt.image.BufferedImage, Int)]): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { case (img, delayCs) =>
      val meta = writer.getDefaultImageMetadata(
        ImageTypeSpecifier.createFromRenderedImage(img),
        writer.getDefaultWriteParam)
      val fmt = meta.getNativeMetadataFormatName
      val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val gce = new IIOMetadataNode("GraphicControlExtension")
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", delayCs.toString)
      gce.setAttribute("transparentColorIndex", "0")
      root.appendChild(gce)
      meta.setFromTree(fmt, root)
      writer.writeToSequence(new IIOImage(img, null, meta), null)
    }
    writer.endWriteSequence()
    ios.close()
    baos.toByteArray
  }

  test("video: animated-GIF frame sampling decodes real pixels") {
    import java.awt.image.BufferedImage
    def frame(rgb: Int): BufferedImage = {
      val img = new BufferedImage(10, 8, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb))
      g.fillRect(0, 0, 10, 8)
      g.dispose()
      img
    }
    val colors = Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff)
    // 4 frames x 500 ms => timeline [0, 2000); samples at 0 and 1000
    val gif = animatedGif(colors.map(c => (frame(c), 50)))
    val media = Multimodal.asMediaFrame(
      Seq((7L, gif)).toDF("id", "bytes"), "id", "video", "bytes")
    val rows = Multimodal.sampleVideoFrames(
        spark, media, everyMs = 1000, maxFrames = 8)
      .orderBy("frame_ts_ms").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 1000L),
      "samples must stop at the clip's total duration")
    // sample 0 shows frame 0 (red), sample 1000ms shows frame 2 (blue)
    val expected = Seq(0xff0000, 0x0000ff)
    rows.zip(expected).foreach { case (r, rgb) =>
      val png = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      assert(png.getWidth == 10 && png.getHeight == 8)
      assert((png.getRGB(5, 4) & 0xffffff) == rgb,
        s"frame at ${r.getLong(1)}ms must be ${rgb.toHexString}")
    }
    // determinism across runs: identical bytes for identical input
    val again = Multimodal.sampleVideoFrames(
        spark, media, everyMs = 1000, maxFrames = 8)
      .orderBy("frame_ts_ms").collect()
    rows.zip(again).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(
        a.getAs[Array[Byte]](2), b.getAs[Array[Byte]](2)))
    }
    // maxFrames caps the sample count
    assert(Multimodal.sampleVideoFrames(
      spark, media, everyMs = 300, maxFrames = 3).count() == 3)
  }

  /** Minimal RIFF AVI/MJPEG writer twin: avih + vids strh clock, one
    * `00dc` chunk per ImageIO-encoded JPEG frame (tables included —
    * i.e. the well-formed variant of MJPEG). Exercises even-padding
    * and the nested `rec ` grouping some muxers emit. */
  private def aviMjpeg(frames: Seq[java.awt.image.BufferedImage],
      scale: Int, rate: Int): Array[Byte] = {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(kind: String, typ: String, body: Array[Byte]): Array[Byte] =
      kind.getBytes("US-ASCII") ++ le32(body.length + 4) ++
        typ.getBytes("US-ASCII") ++ body
    val jpegs = frames.map { img =>
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", baos)
      baos.toByteArray
    }
    val avih = le32(1000000L * scale / rate) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(frames.head.getWidth) ++ le32(frames.head.getHeight) ++
      Array.fill(16)(0.toByte)
    val strh = "vids".getBytes("US-ASCII") ++ "MJPG".getBytes("US-ASCII") ++
      le32(0) ++ le32(0) ++ // flags, priority+language
      le32(0) ++ le32(scale) ++ le32(rate) ++ le32(0) ++
      le32(frames.length) ++ Array.fill(20)(0.toByte)
    val strf = le32(40) ++ le32(frames.head.getWidth) ++
      le32(frames.head.getHeight) ++ Array.fill(28)(0.toByte)
    val strl = list("LIST", "strl",
      chunk("strh", strh) ++ chunk("strf", strf))
    val hdrl = list("LIST", "hdrl", chunk("avih", avih) ++ strl)
    // first frame nested in a rec  group, rest top-level in movi
    val movi = list("LIST", "movi",
      list("LIST", "rec ", chunk("00dc", jpegs.head)) ++
        jpegs.tail.flatMap(j => chunk("00dc", j)).toArray)
    list("RIFF", "AVI ", hdrl ++ movi)
  }

  /** Minimal QuickTime/mp4 Motion-JPEG: ftyp + mdat carrying the
    * ImageIO-encoded JPEG samples back to back, then a moov whose
    * 'jpeg' video trak ships the full stts/stsz/stsc/stco tables with
    * TRUE absolute file offsets (two chunks via a two-run stsc, so the
    * chunk-resolution path is exercised, not just trivial 1:1). */
  private def movMjpeg(frames: Seq[java.awt.image.BufferedImage],
      timescale: Int, deltas: Seq[Int],
      entry: String = "jpeg", enc: String = "jpeg"): Array[Byte] = {
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
    val jpegs = frames.map { img =>
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, enc, baos)
      baos.toByteArray
    }
    val ftyp = box("ftyp", "qt  ".getBytes("US-ASCII") ++ be32(0) ++
      "qt  ".getBytes("US-ASCII"))
    val mdatPayload = jpegs.flatten.toArray
    val mdat = box("mdat", mdatPayload)
    val dataStart = ftyp.length + 8L // first sample's absolute offset
    // chunk 1 = first 2 samples, chunk 2 = the rest (stsc runs)
    val chunk2Start = dataStart + jpegs.take(2).map(_.length).sum
    val n = jpegs.length
    val mdhd = box("mdhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(timescale.toLong) ++ be32(deltas.map(_.toLong).sum) ++ be32(0))
    val hdlr = box("hdlr", be32(0) ++ be32(0) ++
      "vide".getBytes("US-ASCII") ++ Array.fill(13)(0.toByte))
    val stsd = box("stsd", be32(0) ++ be32(1) ++
      (be32(86) ++ entry.getBytes("US-ASCII") ++ Array.fill(78)(0.toByte)))
    val stts = box("stts", be32(0) ++ be32(deltas.length.toLong) ++
      deltas.flatMap(d => be32(1) ++ be32(d.toLong)).toArray)
    val stsz = box("stsz", be32(0) ++ be32(0) ++ be32(n.toLong) ++
      jpegs.flatMap(j => be32(j.length.toLong)).toArray)
    val stsc = box("stsc", be32(0) ++ be32(2) ++
      be32(1) ++ be32(2) ++ be32(1) ++   // chunks 1.. : 2 samples each
      be32(2) ++ be32(n - 2L) ++ be32(1)) // from chunk 2: the rest
    val stco = box("stco", be32(0) ++ be32(2) ++
      be32(dataStart) ++ be32(chunk2Start))
    val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val moov = box("moov", box("trak",
      box("mdia", mdhd ++ hdlr ++ box("minf", stbl))))
    ftyp ++ mdat ++ moov
  }

  test("video: QuickTime/mp4 MJPEG sampling decodes real pixels " +
      "through the full sample tables") {
    import java.awt.image.BufferedImage
    def frame(rgb: Int): BufferedImage = {
      val img = new BufferedImage(16, 12, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb))
      g.fillRect(0, 0, 16, 12)
      g.dispose()
      img
    }
    // 4 frames, VARIABLE durations (700+300+500+500 ms at timescale
    // 1000) => timeline [0, 2000): t=0 -> frame 0 (red), t=1000 ->
    // frame 2 (blue, starts at 1000) — stts-resolved, which the AVI
    // path's single clock could not express
    val colors = Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff)
    val mov = movMjpeg(colors.map(frame), timescale = 1000,
      deltas = Seq(700, 300, 500, 500))
    val media = Multimodal.asMediaFrame(
      Seq((11L, mov)).toDF("id", "bytes"), "id", "video", "bytes")
    val rows = Multimodal.sampleVideoFrames(
        spark, media, everyMs = 1000, maxFrames = 8)
      .orderBy("frame_ts_ms").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 1000L),
      "samples must stop at the track's total duration")
    val expected = Seq((true, false), (false, true)) // (red, blue)
    rows.zip(expected).foreach { case (r, (isRed, isBlue)) =>
      val png = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      assert(png.getWidth == 16 && png.getHeight == 12)
      val p = png.getRGB(8, 6)
      val (red, blue) = ((p >> 16) & 0xff, p & 0xff)
      if (isRed) assert(red > 200 && blue < 80, f"not red: $p%08x")
      if (isBlue) assert(blue > 200 && red < 80, f"not blue: $p%08x")
    }
    // determinism + the drop-undecodable policy on mangled inputs
    val again = Multimodal.sampleVideoFrames(
        spark, media, everyMs = 1000, maxFrames = 8)
      .orderBy("frame_ts_ms").collect()
    rows.zip(again).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(
        a.getAs[Array[Byte]](2), b.getAs[Array[Byte]](2)))
    }
    val junk = Multimodal.asMediaFrame(
      Seq((1L, mov.take(60)), (2L, mov.map(b => (b ^ 0x55).toByte)))
        .toDF("id", "bytes"), "id", "video", "bytes")
    assert(Multimodal.sampleVideoFrames(spark, junk).count() == 0)
    // an avc1 (inter-frame) mp4 still DROPS: the 'jpeg' entry gate
    val avc = graft.pipeline.MediaFixtures.synth(3)._2 // mp4/avc1 fixture
    val avcMedia = Multimodal.asMediaFrame(
      Seq((3L, avc)).toDF("id", "bytes"), "id", "video", "bytes")
    assert(Multimodal.sampleVideoFrames(spark, avcMedia).count() == 0)
    // the 'png ' sibling entry (QuickTime PNG animation) decodes via
    // the same tables — and PNG is lossless, so pixels are EXACT
    val png = movMjpeg(colors.map(frame), timescale = 1000,
      deltas = Seq(700, 300, 500, 500), entry = "png ", enc = "png")
    val pngRows = Multimodal.sampleVideoFrames(spark,
        Multimodal.asMediaFrame(Seq((12L, png)).toDF("id", "bytes"),
          "id", "video", "bytes"), everyMs = 1000, maxFrames = 8)
      .orderBy("frame_ts_ms").collect()
    assert(pngRows.map(_.getLong(1)).toSeq == Seq(0L, 1000L))
    val p0 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      pngRows(0).getAs[Array[Byte]](2))).getRGB(8, 6) & 0xffffff
    val p1 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      pngRows(1).getAs[Array[Byte]](2))).getRGB(8, 6) & 0xffffff
    assert(p0 == 0xff0000 && p1 == 0x0000ff,
      f"png samples not bit-exact: $p0%06x $p1%06x")
    // co64 (64-bit chunk offsets): rewrite the stco box in place as a
    // co64 carrying the same two offsets widened to 8 bytes — the
    // sampler must resolve identically through the wide-offset path
    val stcoIdx = {
      var i = -1; var j = 0
      while (i < 0 && j + 4 <= mov.length) {
        if (mov(j) == 's' && mov(j + 1) == 't' && mov(j + 2) == 'c' &&
          mov(j + 3) == 'o') i = j - 4
        j += 1
      }
      i
    }
    assert(stcoIdx > 0, "fixture lost its stco box")
    val nOff = 2
    val offs = (0 until nOff).map(k =>
      java.nio.ByteBuffer.wrap(mov, stcoIdx + 16 + 4 * k, 4).getInt.toLong)
    def b32(v: Long) = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val co64Box = b32(16L + 8 * nOff) ++ "co64".getBytes("US-ASCII") ++
      b32(0) ++ b32(nOff.toLong) ++
      offs.flatMap(o => b32(o >>> 32) ++ b32(o & 0xffffffffL)).toArray
    // splice: grow the stbl/minf/mdia/trak/moov sizes by the 8 extra
    // bytes co64 adds over stco (4 ancestors + the box itself live
    // AFTER mdat, so no sample offset moves)
    val before = mov.take(stcoIdx); val after = mov.drop(stcoIdx + 8 + 16)
    val grown = new Array[Byte](before.length)
    System.arraycopy(before, 0, grown, 0, before.length)
    for (anc <- Seq("stbl", "minf", "mdia", "trak", "moov")) {
      var i = -1; var j = 0
      while (i < 0 && j + 4 <= grown.length) {
        if (grown(j) == anc(0) && grown(j + 1) == anc(1) &&
          grown(j + 2) == anc(2) && grown(j + 3) == anc(3)) i = j - 4
        j += 1
      }
      assert(i >= 0, s"ancestor $anc not found")
      val sz = java.nio.ByteBuffer.wrap(grown, i, 4).getInt + 8
      grown(i) = ((sz >> 24) & 0xff).toByte
      grown(i + 1) = ((sz >> 16) & 0xff).toByte
      grown(i + 2) = ((sz >> 8) & 0xff).toByte
      grown(i + 3) = (sz & 0xff).toByte
    }
    val movCo64 = grown ++ co64Box ++ after
    val wide = Multimodal.sampleVideoFrames(spark,
        Multimodal.asMediaFrame(Seq((13L, movCo64)).toDF("id", "bytes"),
          "id", "video", "bytes"), everyMs = 1000, maxFrames = 8)
      .orderBy("frame_ts_ms").collect()
    assert(wide.map(_.getLong(1)).toSeq == Seq(0L, 1000L),
      "co64 offsets must resolve like stco")
    rows.zip(wide).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(
        a.getAs[Array[Byte]](2), b.getAs[Array[Byte]](2)),
        "co64 sample bytes diverge from the stco run")
    }
    // co64 offset overflow: set the SECOND chunk offset's high word to
    // 0x7FFFFFFF while keeping the low word = the real offset. A naive
    // `off + sz > fileLen` bounds check wraps negative and PASSES, the
    // bogus sample enters the resolved prefix keeping the horizon at
    // 2000 ticks, and the decoder's `off.toInt` truncation then reads
    // the REAL frame bytes — silently serving frame pixels at an
    // offset the file's tables never pointed at. The overflow-safe
    // check must instead drop the chunk, shrink the horizon to the
    // coherent prefix (1000 ms), and sample only t=0.
    val movOvf = movCo64.clone()
    val e1 = grown.length + 24 // co64 box: 8 hdr + 4 ver + 4 cnt + 8
    movOvf(e1) = 0x7f.toByte; movOvf(e1 + 1) = 0xff.toByte
    movOvf(e1 + 2) = 0xff.toByte; movOvf(e1 + 3) = 0xff.toByte
    val ovf = Multimodal.sampleVideoFrames(spark,
        Multimodal.asMediaFrame(Seq((14L, movOvf)).toDF("id", "bytes"),
          "id", "video", "bytes"), everyMs = 1000, maxFrames = 8)
      .orderBy("frame_ts_ms").collect()
    assert(ovf.map(_.getLong(1)).toSeq == Seq(0L),
      "overflowing co64 offset must shrink the horizon, not serve " +
        "truncated-offset pixels")
    // lying stco (declares 1 chunk while stts/stsz declare 4 samples):
    // only the coherent prefix (samples 0-1, display span [0, 1000))
    // resolves, and the sampling HORIZON shrinks with it — t=1000 must
    // be skipped, not served frame 1's pixels at a timestamp outside
    // its display interval
    val lying = mov.clone()
    lying(stcoIdx + 12) = 0; lying(stcoIdx + 13) = 0
    lying(stcoIdx + 14) = 0; lying(stcoIdx + 15) = 1
    val prefix = Multimodal.sampleVideoFrames(spark,
        Multimodal.asMediaFrame(Seq((14L, lying)).toDF("id", "bytes"),
          "id", "video", "bytes"), everyMs = 1000, maxFrames = 8)
      .collect()
    assert(prefix.map(_.getLong(1)).toSeq == Seq(0L),
      s"truncated-table horizon leaked: ${prefix.map(_.getLong(1)).toSeq}")
  }

  test("video: AVI/MJPEG frame sampling decodes real pixels") {
    import java.awt.image.BufferedImage
    def frame(rgb: Int): BufferedImage = {
      val img = new BufferedImage(16, 12, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb))
      g.fillRect(0, 0, 16, 12)
      g.dispose()
      img
    }
    // 4 frames at scale/rate = 1/2 (500 ms each) => timeline [0, 2000)
    val colors = Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff)
    val avi = aviMjpeg(colors.map(frame), scale = 1, rate = 2)
    val media = Multimodal.asMediaFrame(
      Seq((9L, avi)).toDF("id", "bytes"), "id", "video", "bytes")
    val rows = Multimodal.sampleVideoFrames(
        spark, media, everyMs = 1000, maxFrames = 8)
      .orderBy("frame_ts_ms").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 1000L),
      "samples must stop at the clip's total duration")
    // JPEG is lossy: assert channel dominance of the DECODED pixels,
    // not exact values — sample 0 = frame 0 (red), 1000ms = frame 2
    // (blue; frame 0 arrives inside a rec  group, so this also proves
    // the nested walk)
    val expected = Seq((true, false), (false, true)) // (redDominant, blue)
    rows.zip(expected).foreach { case (r, (isRed, isBlue)) =>
      val png = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      assert(png.getWidth == 16 && png.getHeight == 12)
      val p = png.getRGB(8, 6)
      val (red, blue) = ((p >> 16) & 0xff, p & 0xff)
      if (isRed) assert(red > 200 && blue < 80, f"not red: $p%08x")
      if (isBlue) assert(blue > 200 && red < 80, f"not blue: $p%08x")
    }
    // determinism: identical bytes for identical input
    val again = Multimodal.sampleVideoFrames(
        spark, media, everyMs = 1000, maxFrames = 8)
      .orderBy("frame_ts_ms").collect()
    rows.zip(again).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(
        a.getAs[Array[Byte]](2), b.getAs[Array[Byte]](2)))
    }
    // maxFrames caps; truncated/garbage RIFF is dropped, not thrown
    assert(Multimodal.sampleVideoFrames(
      spark, media, everyMs = 300, maxFrames = 3).count() == 3)
    val junk = Multimodal.asMediaFrame(
      Seq((1L, avi.take(40)), (2L, Array.fill(64)(7.toByte)))
        .toDF("id", "bytes"), "id", "video", "bytes")
    assert(Multimodal.sampleVideoFrames(spark, junk).count() == 0)
  }

  test("multimodal: a custom MediaCodec swaps in without pipeline changes") {
    // the production swap point: one injectable value, everything else
    // (schema, drop policy, frame shape) unchanged
    object FixedCodec extends MediaCodec {
      override def audioFeatures(bytes: Array[Byte], nMel: Int) =
        if (bytes.isEmpty) None else Some(Array.fill(nMel)(0.5f))
      override def sampleFrames(bytes: Array[Byte], everyMs: Long,
          maxFrames: Int) = Seq((0L, bytes.take(4)), (everyMs, bytes.take(4)))
    }
    val audio = Multimodal.asMediaFrame(
      Seq((1L, Array[Byte](1, 2, 3)), (2L, Array.empty[Byte]))
        .toDF("id", "bytes"), "id", "audio", "bytes")
    val feats = Multimodal.compressedAudioFeatures(
      spark, audio, nMel = 4, codec = FixedCodec).collect()
    assert(feats.map(_.getLong(0)).toSeq == Seq(1L),
      "undecodable (None) rows must be dropped")
    assert(feats.head.getSeq[Float](1) == Seq(0.5f, 0.5f, 0.5f, 0.5f))

    val video = Multimodal.asMediaFrame(
      Seq((3L, Array.tabulate(8)(_.toByte))).toDF("id", "bytes"),
      "id", "video", "bytes")
    val frames = Multimodal.sampleVideoFrames(
      spark, video, everyMs = 40, codec = FixedCodec).collect()
    assert(frames.map(_.getLong(1)).toSeq == Seq(0L, 40L))
  }

  private def wavBytes(samples: Array[Double], rate: Float): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val data = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      val v = math.max(-32768L, math.min(32767L, math.round(s * 32767))).toInt
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** IMA-ADPCM encoder twin: quantizes each sample by exhaustively
    * picking the 4-bit code whose reconstruction (via the SHARED
    * ImaAdpcm.advance step) lands closest to the target, tracking the
    * decoder's exact state — so the returned expected signal is the
    * bit-exact decode. Returns (wav bytes, expected decoded mono). */
  private def imaAdpcmWav(chans: Array[Array[Double]], rate: Int,
      samplesPerBlock: Int): (Array[Byte], Array[Double]) = {
    val ch = chans.length
    val n = chans(0).length
    require((samplesPerBlock - 1) % 8 == 0 && n % samplesPerBlock == 0)
    val k = (samplesPerBlock - 1) / 8
    val blockAlign = 4 * ch + 4 * ch * k
    val data = new java.io.ByteArrayOutputStream()
    val expected = scala.collection.mutable.ArrayBuffer[Double]()
    def toI(d: Double) =
      math.max(-32768L, math.min(32767L, math.round(d * 32767))).toInt
    val pred = new Array[Int](ch)
    val idx = new Array[Int](ch)
    for (blk <- 0 until n / samplesPerBlock) {
      val base = blk * samplesPerBlock
      var acc = 0.0
      for (c <- 0 until ch) {
        pred(c) = toI(chans(c)(base))
        data.write(pred(c) & 0xff); data.write((pred(c) >> 8) & 0xff)
        data.write(idx(c)); data.write(0)
        acc += pred(c)
      }
      expected += acc / ch / 32768.0
      for (w <- 0 until k) {
        val codes = Array.ofDim[Int](ch, 8)
        for (s <- 0 until 8) {
          var sAcc = 0.0
          for (c <- 0 until ch) {
            val target = toI(chans(c)(base + 1 + w * 8 + s))
            var best = 0
            var bestErr = Long.MaxValue
            for (code <- 0 until 16) {
              val p = (ImaAdpcm.advance(pred(c), idx(c), code) >> 32).toInt
              val err = math.abs(p.toLong - target)
              if (err < bestErr) { bestErr = err; best = code }
            }
            val packed = ImaAdpcm.advance(pred(c), idx(c), best)
            pred(c) = (packed >> 32).toInt
            idx(c) = (packed & 0xffffffffL).toInt
            codes(c)(s) = best
            sAcc += pred(c)
          }
          expected += sAcc / ch / 32768.0
        }
        for (c <- 0 until ch; b <- 0 until 4)
          data.write((codes(c)(2 * b) & 0xf) | ((codes(c)(2 * b + 1) & 0xf) << 4))
      }
    }
    val body = data.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    def tag(s: String): Unit = s.foreach(c => out.write(c.toInt))
    tag("RIFF"); w32(4 + 28 + 8 + body.length); tag("WAVE")
    tag("fmt "); w32(20); w16(0x11); w16(ch); w32(rate)
    w32(rate * blockAlign / samplesPerBlock) // nominal byte rate
    w16(blockAlign); w16(4); w16(2); w16(samplesPerBlock)
    tag("data"); w32(body.length); out.write(body)
    (out.toByteArray, expected.toArray)
  }

  test("multimodal: REAL IMA-ADPCM decode — bytes in, exact samples out") {
    val n = 66
    val spb = 33 // two blocks of 1 + 4*8 samples
    // gentle slope: ADPCM's step size adapts over ~8 samples from its
    // minimum, so a fast cold-start ramp would show transient error
    // that says nothing about decode correctness
    val sine = Array.tabulate(n)(i => 0.3 * math.sin(2 * math.Pi * i / 128.0))
    val (wav, expected) = imaAdpcmWav(Array(sine), 8000, spb)
    val (rate, mono) = ImaAdpcm.decode(wav).get
    assert(rate == 8000f && mono.length == n)
    assert(mono.sameElements(expected),
      "decode must equal the encoder-tracked reconstruction bit-exactly")
    // and it is genuinely AUDIO decode, not self-consistency theater:
    // the lossy reconstruction must track the source signal
    val maxErr = mono.zip(sine).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr < 0.15, s"ADPCM reconstruction drifted from source: $maxErr")
    // stereo: channel interleave + mono averaging
    val ramp = Array.tabulate(n)(i => -0.2 + 0.4 * i / n)
    val (wav2, exp2) = imaAdpcmWav(Array(sine, ramp), 16000, spb)
    val (r2, mono2) = ImaAdpcm.decode(wav2).get
    assert(r2 == 16000f && mono2.sameElements(exp2))
    // end-to-end through the DEFAULT codec: ADPCM rows decode for real,
    // undecodable rows still drop
    val media = Multimodal.asMediaFrame(
      Seq((1L, wav), (2L, Array.tabulate(64)(_.toByte)))
        .toDF("id", "bytes"), "id", "audio", "bytes")
    val out = Multimodal.compressedAudioFeatures(spark, media, nMel = 4)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    assert(out.head.getSeq[Float](1).length == 4)
  }

  /** MS-ADPCM encoder twin: per block, picks the predictor-coefficient
    * pair (of the 7 standard ones) that minimizes simulated error, then
    * quantizes each sample by exhaustively picking the signed 4-bit
    * code whose reconstruction (via the SHARED MsAdpcm.advance step)
    * lands closest to the target, tracking the decoder's exact state —
    * so the returned expected signal is the bit-exact decode. Returns
    * (wav bytes, expected decoded mono). */
  private def msAdpcmWav(chans: Array[Array[Double]], rate: Int,
      samplesPerBlock: Int): (Array[Byte], Array[Double]) = {
    import graft.pipeline.MsAdpcm
    val ch = chans.length
    val n = chans(0).length
    require(samplesPerBlock > 2 && ((samplesPerBlock - 2) * ch) % 2 == 0
      && n % samplesPerBlock == 0)
    val dataBytes = (samplesPerBlock - 2) * ch / 2
    val blockAlign = 7 * ch + dataBytes
    def toI(d: Double) =
      math.max(-32768L, math.min(32767L, math.round(d * 32767))).toInt
    val coefs = graft.pipeline.MsAdpcm.Coefs
    // one simulated encode of a block for a fixed predictor index;
    // returns (codes in nibble order, per-position reconstruction,
    // initial delta, total abs error)
    def simulate(base: Int, pi: Int): (Array[Int], Array[Array[Int]], Array[Int], Long) = {
      val (c1, c2) = coefs(pi)
      val s1 = Array.tabulate(ch)(c => toI(chans(c)(base + 1)))
      val s2 = Array.tabulate(ch)(c => toI(chans(c)(base)))
      val d0 = Array.tabulate(ch) { c =>
        val diffs = (1 until samplesPerBlock.min(8)).map(i =>
          math.abs(toI(chans(c)(base + i)) - toI(chans(c)(base + i - 1))))
        math.max(16, (if (diffs.isEmpty) 16 else diffs.max) / 4)
      }
      val delta = d0.clone()
      val nNib = (samplesPerBlock - 2) * ch
      val codes = new Array[Int](nNib)
      val recon = Array.ofDim[Int](ch, samplesPerBlock - 2)
      var err = 0L
      var nib = 0
      while (nib < nNib) {
        val c = nib % ch
        val s = nib / ch
        val target = toI(chans(c)(base + 2 + s))
        var best = 0
        var bestErr = Long.MaxValue
        var code = -8
        while (code <= 7) {
          val p = (MsAdpcm.advance(s1(c), s2(c), c1, c2, delta(c),
            code) >> 32).toInt
          val e = math.abs(p.toLong - target)
          if (e < bestErr) { bestErr = e; best = code }
          code += 1
        }
        val packed = MsAdpcm.advance(s1(c), s2(c), c1, c2, delta(c), best)
        s2(c) = s1(c)
        s1(c) = (packed >> 32).toInt
        delta(c) = (packed & 0xffffffffL).toInt
        codes(nib) = best & 0xf
        recon(c)(s) = s1(c)
        err += bestErr
        nib += 1
      }
      (codes, recon, d0, err)
    }
    val data = new java.io.ByteArrayOutputStream()
    val expected = scala.collection.mutable.ArrayBuffer[Double]()
    for (blk <- 0 until n / samplesPerBlock) {
      val base = blk * samplesPerBlock
      val sims = (0 until coefs.length).map(pi => pi -> simulate(base, pi))
      val (pi, (codes, recon, d0, _)) = sims.minBy(_._2._4)
      for (_ <- 0 until ch) data.write(pi)
      for (c <- 0 until ch) {
        data.write(d0(c) & 0xff); data.write((d0(c) >> 8) & 0xff)
      }
      for (c <- 0 until ch) { // sample1 = the NEWER seed
        val v = toI(chans(c)(base + 1))
        data.write(v & 0xff); data.write((v >> 8) & 0xff)
      }
      for (c <- 0 until ch) {
        val v = toI(chans(c)(base))
        data.write(v & 0xff); data.write((v >> 8) & 0xff)
      }
      expected += (0 until ch).map(c => toI(chans(c)(base))).sum
        .toDouble / ch / 32768.0
      expected += (0 until ch).map(c => toI(chans(c)(base + 1))).sum
        .toDouble / ch / 32768.0
      for (s <- 0 until samplesPerBlock - 2)
        expected += (0 until ch).map(c => recon(c)(s)).sum
          .toDouble / ch / 32768.0
      var i = 0
      while (i < codes.length) { // high nibble first
        data.write(((codes(i) & 0xf) << 4) |
          (if (i + 1 < codes.length) codes(i + 1) & 0xf else 0))
        i += 2
      }
    }
    val body = data.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    def tg(s: String): Unit = s.foreach(c => out.write(c.toInt))
    val fmtLen = 16 + 2 + 2 + 2 + 4 * coefs.length
    tg("RIFF"); w32(4 + 8 + fmtLen + 8 + body.length); tg("WAVE")
    tg("fmt "); w32(fmtLen); w16(0x0002); w16(ch); w32(rate)
    w32(rate * blockAlign / samplesPerBlock) // nominal byte rate
    w16(blockAlign); w16(4)
    w16(2 + 2 + 4 * coefs.length) // cbSize
    w16(samplesPerBlock); w16(coefs.length)
    coefs.foreach { case (a, b) => w16(a & 0xffff); w16(b & 0xffff) }
    tg("data"); w32(body.length); out.write(body)
    (out.toByteArray, expected.toArray)
  }

  test("multimodal: REAL MS-ADPCM decode — bytes in, exact samples out") {
    import graft.pipeline.MsAdpcm
    val spb = 34 // 2 seeds + 32 coded samples = 16 data bytes/ch
    val n = 68 // two blocks
    val sine = Array.tabulate(n)(i => 0.3 * math.sin(2 * math.Pi * i / 128.0))
    val (wav, expected) = msAdpcmWav(Array(sine), 8000, spb)
    val (rate, mono) = MsAdpcm.decode(wav).get
    assert(rate == 8000f && mono.length == n)
    assert(mono.sameElements(expected),
      "decode must equal the encoder-tracked reconstruction bit-exactly")
    // genuinely audio decode, not self-consistency theater: the lossy
    // reconstruction must track the source signal
    val maxErr = mono.zip(sine).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr < 0.15, s"MS-ADPCM reconstruction drifted: $maxErr")
    // stereo: per-nibble channel interleave + mono averaging
    val ramp = Array.tabulate(n)(i => -0.2 + 0.4 * i / n)
    val (wav2, exp2) = msAdpcmWav(Array(sine, ramp), 16000, spb)
    val (r2, mono2) = MsAdpcm.decode(wav2).get
    assert(r2 == 16000f && mono2.sameElements(exp2))
    // end-to-end through the DEFAULT codec: MS-ADPCM rows decode for
    // real, undecodable rows still drop
    val media = Multimodal.asMediaFrame(
      Seq((1L, wav), (2L, Array.tabulate(64)(_.toByte)))
        .toDF("id", "bytes"), "id", "audio", "bytes")
    val out = Multimodal.compressedAudioFeatures(spark, media, nMel = 4)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    assert(out.head.getSeq[Float](1).length == 4)
  }

  test("MS-ADPCM: the fmt extension's coefficient table is honored " +
      "(predictor index >= 7) and a corrupt predictor byte truncates " +
      "instead of discarding the whole decode") {
    import graft.pipeline.MsAdpcm
    // mono, samplesPerBlock=4: block = pi(1) delta(2) s1(2) s2(2) + 1
    // data byte (two 4-bit codes); two blocks. The 8-entry coef table
    // duplicates standard entry 0 at index 7, so decoding with pi=7
    // must equal decoding the same bytes with pi=0.
    def wav(nCoef: Int, piBlock0: Int, piBlock1: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
      def tg(s: String): Unit = s.foreach(c => out.write(c.toInt))
      val coefs = MsAdpcm.Coefs ++
        Array.fill(math.max(0, nCoef - 7))(MsAdpcm.Coefs(0))
      val fmtLen = 16 + 2 + 2 + 2 + 4 * nCoef
      def block(pi: Int): Array[Byte] = {
        val b = new java.io.ByteArrayOutputStream()
        b.write(pi)
        b.write(32); b.write(0)           // delta 32
        b.write(100); b.write(0)          // sample1 = 100
        b.write(50); b.write(0)           // sample2 = 50
        b.write(0x12)                     // codes +1, +2
        b.toByteArray
      }
      val body = block(piBlock0) ++ block(piBlock1)
      tg("RIFF"); w32(4 + 8 + fmtLen + 8 + body.length); tg("WAVE")
      tg("fmt "); w32(fmtLen); w16(0x0002); w16(1); w32(8000)
      w32(8000 * 8 / 4); w16(8); w16(4)
      w16(2 + 2 + 4 * nCoef); w16(4); w16(nCoef)
      coefs.take(nCoef).foreach { case (a, b) => w16(a & 0xffff); w16(b & 0xffff) }
      tg("data"); w32(body.length); out.write(body)
      out.toByteArray
    }
    val viaSeven = MsAdpcm.decode(wav(8, 7, 0)).get._2
    val viaZero = MsAdpcm.decode(wav(8, 0, 0)).get._2
    assert(viaSeven.length == 8 && viaSeven.sameElements(viaZero),
      "index 7 must resolve through the in-file table to entry 0's pair")
    // corrupt predictor in block 1: decode keeps block 0 (4 samples)
    val truncated = MsAdpcm.decode(wav(8, 0, 9)).get._2
    assert(truncated.length == 4 && truncated.sameElements(viaZero.take(4)),
      s"corrupt block must truncate, got ${truncated.length} samples")
    // corrupt FIRST block: not an MS-ADPCM stream — None, as before
    assert(MsAdpcm.decode(wav(8, 9, 0)).isEmpty)
    // no extension beyond the standard 7: index 7 is out of table
    assert(MsAdpcm.decode(wav(7, 7, 0)).isEmpty)
  }

  /** Minimal FLAC encoder twin — emits the subset structures the
    * decoder claims (fixed/LPC prediction, Rice residuals, constant +
    * wasted bits, verbatim, stereo decorrelation) so decode is checked
    * against independently-constructed bits, not self-consistency. */
  private final class FlacW {
    private val out = new java.io.ByteArrayOutputStream
    private var cur = 0
    private var nb = 0
    def bit(v: Int): Unit = {
      cur = (cur << 1) | (v & 1); nb += 1
      if (nb == 8) { out.write(cur); cur = 0; nb = 0 }
    }
    def bits(v: Long, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bit(((v >> i) & 1).toInt))
    def align(): Unit = while (nb != 0) bit(0)
    def toBytes: Array[Byte] = { align(); out.toByteArray }
  }

  private def flacStreamInfo(w: FlacW, rate: Int, chans: Int,
      bps: Int, last: Boolean = true): Unit = {
    "fLaC".foreach(c => w.bits(c.toLong, 8))
    w.bit(if (last) 1 else 0); w.bits(0, 7); w.bits(34, 24) // STREAMINFO
    w.bits(4096, 16); w.bits(4096, 16)     // min/max block size
    w.bits(0, 24); w.bits(0, 24)           // min/max frame size unknown
    w.bits(rate.toLong, 20); w.bits(chans - 1L, 3); w.bits(bps - 1L, 5)
    w.bits(0, 36)                          // total samples unknown
    (0 until 16).foreach(_ => w.bits(0, 8)) // md5 unverified
  }

  /** A metadata block after STREAMINFO: `btype` 1 = PADDING,
    * 4 = VORBIS_COMMENT. */
  private def flacMetaBlock(w: FlacW, btype: Int, payload: Array[Byte],
      last: Boolean): Unit = {
    w.bit(if (last) 1 else 0); w.bits(btype.toLong, 7)
    w.bits(payload.length.toLong, 24)
    payload.foreach(x => w.bits(x & 0xffL, 8))
  }

  private def flacFrameHeader(w: FlacW, blockSize: Int,
      chCode: Int): Unit = {
    w.bits(0x3ffe, 14); w.bit(0); w.bit(0)
    w.bits(6, 4)  // block size: 8-bit field at header end
    w.bits(0, 4)  // sample rate: from STREAMINFO
    w.bits(chCode.toLong, 4)
    w.bits(4, 3)  // 16-bit samples
    w.bit(0)
    w.bits(0, 8)  // frame number 0 (1-byte coded number)
    w.bits(blockSize - 1L, 8)
    w.bits(0, 8)  // header CRC-8 (decoder parses past it)
  }

  private def flacRice(w: FlacW, res: Seq[Long], param: Int): Unit = {
    w.bits(0, 2)            // method 0: 4-bit Rice parameters
    w.bits(0, 4)            // partition order 0
    w.bits(param.toLong, 4)
    res.foreach { x =>
      val u = (x << 1) ^ (x >> 63) // zigzag
      (0L until (u >>> param)).foreach(_ => w.bit(0)); w.bit(1)
      w.bits(u, param)
    }
  }

  test("multimodal: REAL FLAC decode — prediction, Rice, stereo") {
    val bs = 32
    val sine = Array.tabulate(4 * bs)(i =>
      math.round(8000 * math.sin(2 * math.Pi * i / 64.0)))
    val w = new FlacW
    flacStreamInfo(w, 8000, 1, 16)
    // frame 0: FIXED order 2
    val f0 = sine.slice(0, bs)
    flacFrameHeader(w, bs, 0)
    w.bit(0); w.bits(0x0a, 6); w.bit(0) // subframe: fixed, order 2
    w.bits(f0(0) & 0xffff, 16); w.bits(f0(1) & 0xffff, 16)
    flacRice(w, (2 until bs).map(i => f0(i) - 2 * f0(i - 1) + f0(i - 2)), 6)
    w.align(); w.bits(0, 16) // frame CRC-16 (parsed past)
    // frame 1: LPC order 1, coef 1, shift 0 (prediction = previous)
    val f1 = sine.slice(bs, 2 * bs)
    flacFrameHeader(w, bs, 0)
    w.bit(0); w.bits(0x20, 6); w.bit(0) // subframe: lpc, order 1
    w.bits(f1(0) & 0xffff, 16)
    w.bits(2, 4)  // precision 3
    w.bits(0, 5)  // shift 0
    w.bits(1, 3)  // coefficient +1
    flacRice(w, (1 until bs).map(i => f1(i) - f1(i - 1)), 6)
    w.align(); w.bits(0, 16)
    // frame 2: CONSTANT 600 with one wasted bit (value stored >> 1)
    flacFrameHeader(w, bs, 0)
    w.bit(0); w.bits(0, 6); w.bit(1); w.bit(1) // wasted-bits count = 1
    w.bits(300, 15)
    w.align(); w.bits(0, 16)
    // frame 3: VERBATIM
    val f3 = sine.slice(3 * bs, 4 * bs)
    flacFrameHeader(w, bs, 0)
    w.bit(0); w.bits(1, 6); w.bit(0)
    f3.foreach(v => w.bits(v & 0xffff, 16))
    w.align(); w.bits(0, 16)

    val (rate, mono) = graft.pipeline.Flac.decode(w.toBytes).get
    assert(rate == 8000f && mono.length == 4 * bs)
    val expected = (f0 ++ f1 ++ Array.fill(bs)(600L) ++ f3)
      .map(_ / 32768.0)
    assert(mono.sameElements(expected),
      "lossless decode must reproduce the encoded samples bit-exactly")

    // stereo mid/side frame: left/right reconstruct exactly, then
    // average to mono (the shared codec-chain output convention)
    val l = Array.tabulate(16)(i => (500 * i - 3000).toLong)
    val r = Array.tabulate(16)(i => (7001 - 400 * i).toLong)
    val w2 = new FlacW
    flacStreamInfo(w2, 16000, 2, 16)
    flacFrameHeader(w2, 16, 10) // mid/side
    w2.bit(0); w2.bits(1, 6); w2.bit(0) // mid channel, verbatim, 16 bit
    l.indices.foreach(i => w2.bits((l(i) + r(i)) >> 1 & 0xffff, 16))
    w2.bit(0); w2.bits(1, 6); w2.bit(0) // side channel, verbatim, 17 bit
    l.indices.foreach(i => w2.bits(l(i) - r(i) & 0x1ffff, 17))
    w2.align(); w2.bits(0, 16)
    val (r2, mono2) = graft.pipeline.Flac.decode(w2.toBytes).get
    val exp2 = l.indices.map(i => (l(i) / 32768.0 + r(i) / 32768.0) / 2)
    assert(r2 == 16000f && mono2.toSeq == exp2)

    // the default codec chain picks FLAC up without any WAV fallback
    val feats = MediaCodec.Jvm.audioFeatures(w.toBytes, 4)
    assert(feats.exists(_.length == 4))
  }

  test("multimodal: FLAC decode steps over VORBIS_COMMENT and PADDING") {
    // real encoders write STREAMINFO, then VORBIS_COMMENT (the vendor
    // string) and usually PADDING: the frames after them must decode to
    // the same samples as behind a STREAMINFO-only header
    val bs = 16
    val ramp = Array.tabulate(bs)(i => 1500L * i - 9000L)
    val frames = new FlacW
    flacFrameHeader(frames, bs, 0)
    frames.bit(0); frames.bits(1, 6); frames.bit(0) // VERBATIM
    ramp.foreach(v => frames.bits(v & 0xffff, 16))
    frames.align(); frames.bits(0, 16)
    flacFrameHeader(frames, bs, 0)
    frames.bit(0); frames.bits(0, 6); frames.bit(0) // CONSTANT -700
    frames.bits(-700L & 0xffff, 16)
    frames.align(); frames.bits(0, 16)
    val body = frames.toBytes

    val bare = new FlacW
    flacStreamInfo(bare, 8000, 1, 16)
    val tagged = new FlacW
    flacStreamInfo(tagged, 8000, 1, 16, last = false)
    def le32(v: Int) = Array.tabulate[Byte](4)(i => (v >> (8 * i)).toByte)
    val vendor = "reference libFLAC 1.4.3 20230623".getBytes("UTF-8")
    flacMetaBlock(tagged, 4, le32(vendor.length) ++ vendor ++ le32(0),
      last = false)
    flacMetaBlock(tagged, 1, new Array[Byte](8), last = true)

    val (rate, mono) = graft.pipeline.Flac.decode(bare.toBytes ++ body).get
    assert(rate == 8000f &&
      mono.sameElements((ramp ++ Array.fill(bs)(-700L)).map(_ / 32768.0)))
    val full = tagged.toBytes ++ body
    val got = graft.pipeline.Flac.decode(full)
    assert(got.isDefined, "metadata blocks after STREAMINFO must not " +
      "reject the stream")
    assert(got.get._1 == rate && got.get._2.sameElements(mono))
    // probe and decode agree on the same bytes
    assert(graft.pipeline.MediaProbe.probe(full).isDefined)
    assert(MediaCodec.Jvm.audioFeatures(full, 4).exists(_.length == 4))
  }

  test("multimodal: REAL wav decode -> per-segment RMS energies") {
    // 0.1 s @ 8 kHz: first half a 440 Hz sine at amplitude 0.5, second
    // half silence -> with 4 segments, energies ~ (0.354, 0.354, 0, 0)
    val n = 800
    val samples = Array.tabulate(n) { i =>
      if (i < n / 2) 0.5 * math.sin(2 * math.Pi * 440 * i / 8000.0) else 0.0
    }
    val good = (10L, wavBytes(samples, 8000f))
    val corrupt = (11L, Array.tabulate(64)(_.toByte)) // not a WAV
    val media = Multimodal.asMediaFrame(
      Seq(good, corrupt).toDF("id", "bytes"), "id", "audio", "bytes")
    val out = Multimodal.audioFeatures(spark, media, nSeg = 4).collect()
    assert(out.length == 1, "undecodable audio rows must be dropped")
    assert(out.head.getLong(0) == 10L)
    val e = out.head.getSeq[Float](1)
    assert(e.length == 4)
    val rms = 0.5 / math.sqrt(2)
    assert(math.abs(e(0) - rms) < 0.01 && math.abs(e(1) - rms) < 0.01)
    assert(e(2) == 0f && e(3) == 0f)
    // determinism across runs
    val again = Multimodal.audioFeatures(spark, media, nSeg = 4)
      .head().getSeq[Float](1)
    assert(again == e)
  }
}

/** The image kernels as they were before the table/span and bulk-pixel
  * rewrites, kept verbatim as the reference for the bit-exactness tests:
  * one double expression per pixel and channel, one `setRGB` or `getRGB`
  * per pixel. */
private object ImageOpsReference {
  import java.awt.image.BufferedImage
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
  import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
  import scala.util.control.NonFatal

  @inline private def clampByte(v: Double): Byte =
    math.max(0, math.min(255, math.round(v))).toByte

  @inline private def u(b: Byte): Int = b & 0xff

  def decodeEncoded(origin: String, bytes: Array[Byte]): Option[ImageRecord] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val h = img.getHeight
        val w = img.getWidth
        val out = new Array[Byte](h * w * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val i = (y * w + x) * 3
            out(i) = (rgb & 0xff).toByte             // B
            out(i + 1) = ((rgb >> 8) & 0xff).toByte  // G
            out(i + 2) = ((rgb >> 16) & 0xff).toByte // R
            x += 1
          }
          y += 1
        }
        Some(ImageRecord(origin, h, w, 3, 16, out))
      }
    } catch { case NonFatal(_) => None }

  def resizeArea(rec: ImageRecord, tw: Int, th: Int): ImageRecord = {
    val (h, w, c) = (rec.height, rec.width, rec.nChannels)
    val out = new Array[Byte](th * tw * c)
    val sy = h.toDouble / th
    val sx = w.toDouble / tw
    var oy = 0
    while (oy < th) {
      val y0 = oy * sy; val y1 = (oy + 1) * sy
      var ox = 0
      while (ox < tw) {
        val x0 = ox * sx; val x1 = (ox + 1) * sx
        var ch = 0
        while (ch < c) {
          var acc = 0.0; var area = 0.0
          var yy = math.floor(y0).toInt
          while (yy < math.min(math.ceil(y1), h)) {
            val wy = math.min(y1, yy + 1) - math.max(y0, yy)
            var xx = math.floor(x0).toInt
            while (xx < math.min(math.ceil(x1), w)) {
              val wx = math.min(x1, xx + 1) - math.max(x0, xx)
              acc += u(rec.data((yy * w + xx) * c + ch)) * wy * wx
              area += wy * wx
              xx += 1
            }
            yy += 1
          }
          out((oy * tw + ox) * c + ch) = clampByte(acc / area)
          ch += 1
        }
        ox += 1
      }
      oy += 1
    }
    rec.copy(height = th, width = tw, data = out)
  }

  def rotate(rec: ImageRecord, degrees: Double): ImageRecord = {
    val (h, w, c) = (rec.height, rec.width, rec.nChannels)
    val out = new Array[Byte](rec.data.length)
    val rad = math.toRadians(degrees)
    val cosA = math.cos(rad); val sinA = math.sin(rad)
    val cy = (h - 1) / 2.0; val cx = (w - 1) / 2.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // inverse mapping: dst -> src
        val dx = x - cx; val dy = y - cy
        val sxf = cosA * dx + sinA * dy + cx
        val syf = -sinA * dx + cosA * dy + cy
        if (sxf >= 0 && sxf <= w - 1 && syf >= 0 && syf <= h - 1) {
          val x0 = sxf.toInt; val y0 = syf.toInt
          val x1 = math.min(x0 + 1, w - 1); val y1 = math.min(y0 + 1, h - 1)
          val fx = sxf - x0; val fy = syf - y0
          var ch = 0
          while (ch < c) {
            val v00 = u(rec.data((y0 * w + x0) * c + ch))
            val v01 = u(rec.data((y0 * w + x1) * c + ch))
            val v10 = u(rec.data((y1 * w + x0) * c + ch))
            val v11 = u(rec.data((y1 * w + x1) * c + ch))
            val v = v00 * (1 - fx) * (1 - fy) + v01 * fx * (1 - fy) +
              v10 * (1 - fx) * fy + v11 * fx * fy
            out((y * w + x) * c + ch) = clampByte(v)
            ch += 1
          }
        }
        x += 1
      }
      y += 1
    }
    rec.copy(data = out)
  }

  def colorJitter(rec: ImageRecord, alpha: Double = 1.2,
      beta: Double = 10.0): ImageRecord = {
    val out = new Array[Byte](rec.data.length)
    var i = 0
    while (i < out.length) {
      out(i) = clampByte(alpha * u(rec.data(i)) + beta)
      i += 1
    }
    rec.copy(data = out)
  }

  def jpegEncode(rec: ImageRecord, quality: Float = 0.95f): Array[Byte] = {
    val img = toBufferedImage(rec)
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), params)
    writer.dispose(); ios.close()
    bos.toByteArray
  }

  def pngEncode(rec: ImageRecord): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(toBufferedImage(rec), "png", bos)
    bos.toByteArray
  }

  def toBufferedImage(rec: ImageRecord): BufferedImage = {
    val img = new BufferedImage(rec.width, rec.height,
      BufferedImage.TYPE_INT_RGB)
    val c = rec.nChannels
    var y = 0
    while (y < rec.height) {
      var x = 0
      while (x < rec.width) {
        val i = (y * rec.width + x) * c
        val (b, g, r) =
          if (c >= 3) (u(rec.data(i)), u(rec.data(i + 1)), u(rec.data(i + 2)))
          else { val v = u(rec.data(i)); (v, v, v) }
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }
}
