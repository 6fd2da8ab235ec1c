package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.HashBands
import graft.pipeline.{ImageOps, ImageRecord}

/** Pixel-space image near-duplicate detection — the multimodal dedup
  * operator (q147/q148): 64-bit dHash (graft.functions.DHash64) over
  * decoded pixels, near-dup pairs by capped banded hash-prefix
  * grouping (graft.operators.HashBands) verified by Hamming distance.
  * A LAION-style curation pipeline needs exactly this on day one:
  * resized/re-encoded copies defeat exact byte dedup (q32's md5 keeps
  * both), and no embedding model exists offline — gradient-sign
  * hashes are the content key that survives re-encoding
  * (ImagePipelineSpec pins jpeg-q95/resize robustness on real decoded
  * fixtures).
  *
  * Unlike the rest of the media surface, ALL THREE queries are
  * DuckDB-ORACLED (q149 joined q147/q148 in r15: the GIF roundtrip is
  * lossless and spec-pinned, so the frame dHashes equal the formula
  * pixels' dHashes and the containment arithmetic replays in pure
  * integer SQL). The corpus is formula-pinned (integer middle-square
  * mix, the JlProject.sign discipline), the Spark side runs it
  * through a REAL encode->decode roundtrip (PNG/GIF are lossless, so
  * decoded pixels == the formula; the decode stage is the reference's
  * own, /root/reference/src/piper/spark/data_augment.py:42-60), and
  * the oracle replays pixels -> grayscale -> 9x8 cells -> gradient
  * bits -> packed BIGINT in pure integer SQL.
  *
  * 100 TB shape: the hash is one map-side pass per image (no
  * shuffle); candidates shuffle once on the (band, value) key with
  * the HOT-BUCKET CAP live (r15, the r14 verdict's finding): real
  * corpora contain flat/solid images that ALL dHash to 0, so the
  * fixture plants a 20-image flat cluster whose band buckets exceed
  * HashBands.BandBucketCap and are dropped whole — the oracle mirrors
  * the cap literally, so the hash match PROVES the capped banded plan
  * reproduces the stop-bucket semantics (all-pairs Hamming <= 3 minus
  * pairs whose every shared band is over-cap). Verification is O(1)
  * per candidate. The same plan class as minhash-LSH (q35), with the
  * signature computed from pixels instead of shingles.
  *
  * Corpus sizes scale with the SF dir via FixtureScale (lineitem-row
  * derived, mirrored by the oracle's scalar subquery), so the growth
  * gate measures this family's 10x step like every text family.
  */
object ImageDedup {
  type Q = (SparkSession, String) => DataFrame

  /** Corpus constants — mirrored VERBATIM by the oracle SQL. */
  private val side = 32 // 32x32, 3 channels
  private val channels = 3

  /** Planted flat cluster: this many solid-color images (pixel 128
    * everywhere -> dHash exactly 0) appended after the formula corpus
    * at ids >= imageBase. All four of their band buckets hold 20 > cap
    * members, so the cap drops them — the 190 exact-dup pairs they'd
    * otherwise quadratically generate belong to q32's exact dedup, not
    * the near-dup scan. */
  private[graft] val FlatImages = 20

  /** Deterministic pixel formula: a middle-square mix per (image,
    * byte) — pseudorandom textures, so distinct images land in
    * distinct LSH buckets (a linear ramp would alias every image's
    * gradient signs). Every 3rd image (i % 3 == 2) is a NEAR-DUP of
    * its predecessor: same base texture, +5 on every 97th byte —
    * measured Hamming <= 2 on the fixture (pinned in
    * ImagePipelineSpec). Base values stay under 251, so the +5 can
    * never wrap a byte. Images at i >= nBase are the planted FLAT
    * cluster (every byte 128). */
  private[graft] def rawPixels(i: Long, nBase: Long): Array[Byte] = {
    val out = new Array[Byte](side * side * channels)
    if (i >= nBase) {
      java.util.Arrays.fill(out, 128.toByte)
      return out
    }
    val a = if (i % 3 == 2) i - 1 else i
    var p = 0
    while (p < out.length) {
      val h = (a * 1000003L + p * 7919L + 12345L) % 1048576L
      var v = ((h * h) >> 7) % 251L
      if (i % 3 == 2 && p % 97 == 0) v += 5
      out(p) = v.toByte
      p += 1
    }
    out
  }

  /** The decoded corpus: formula pixels -> PNG encode -> REAL ImageIO
    * decode (lossless roundtrip) -> (img_id, data, w, h, c). Generated
    * distributed from the row id like q44/q138 — no driver-side
    * materialization. */
  private[graft] def decodedCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nBase = FixtureScale.imageBase(s, d)
    s.range(0, nBase + FlatImages).as[Long].flatMap { i =>
      val rec = ImageRecord(s"mem://neardup/$i", side, side, channels,
        16, rawPixels(i, nBase))
      ImageOps.decodeEncoded(rec.origin, ImageOps.pngEncode(rec))
        .map(dec => (i, dec.data, dec.width, dec.height, dec.nChannels))
    }.toDF("img_id", "data", "w", "h", "c")
  }

  /** (img_id, dhash) over the decoded corpus — one codegen'd map pass. */
  private[graft] def hashesOf(s: SparkSession, d: String): DataFrame =
    decodedCorpus(s, d)
      .select(col("img_id"), expr("dhash64(data, w, h, c)").as("dhash"))

  // ------------------------------------------------ video (q149)

  private val clipW = 32
  private val clipH = 24

  /** Signature-frequency cap for the q149 shared-signature join — the
    * same stop-bucket discipline as HashBands, applied to whole frame
    * hashes: a near-universal frame (black frames, intro cards) shared
    * by thousands of clips makes the signature join quadratic. The
    * fixture prepends a BLACK FRAME to every clip (sig 0, df = nClips
    * > cap at every SF) so the cap is exercised; dropped signatures
    * leave the similarity universe entirely (set sizes come from the
    * same post-cap grouped data — the jaccardPairsOf semantics, and
    * what the DuckDB oracle's QUALIFY mirrors). */
  private[graft] val SigDfCap = 16

  /** Grayscale frame pixel: the same middle-square mix, bounded to 225
    * so the near-dup +15 brightness shift can never clamp (dHash is
    * EXACTLY invariant to an unclamped uniform shift — pinned in
    * ImagePipelineSpec). Grayscale keeps the frame inside the GIF
    * writer's 256-color palette, so the encode->decode roundtrip is
    * lossless and a shifted copy's frames hash IDENTICALLY. */
  private def clipPixel(base: Long, f: Int, px: Int, shift: Int): Int = {
    val h = ((base * 131 + f) * 1000003L + px * 7919L + 12345L) % 1048576L
    (((h * h) >> 7) % 226L).toInt + shift
  }

  /** The video corpus: real animated GIFs (ImageIO-encoded, grayscale
    * frames from the formula). Every clip OPENS on an all-black frame
    * (the near-universal-frame class the SigDfCap exists for); every
    * 4th clip (c % 4 == 1) is a near-dup of its predecessor: +15
    * brightness on every formula frame AND the last frame trimmed —
    * the re-encoded/trimmed copy class a crawl actually contains (the
    * black frame is shared verbatim, as real intro frames are). */
  private[graft] def clipCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nClips = FixtureScale.clipCount(s, d)
    s.range(0, nClips).as[Long].map { c =>
      val dup = c % 4 == 1
      val base = if (dup) c - 1 else c
      val nFrames = (4 + base % 3).toInt - (if (dup) 1 else 0)
      val black = new java.awt.image.BufferedImage(clipW, clipH,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val frames = black +: (0 until nFrames).map { f =>
        val img = new java.awt.image.BufferedImage(clipW, clipH,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        var px = 0
        while (px < clipW * clipH) {
          val v = clipPixel(base, f, px, if (dup) 15 else 0)
          img.getRaster.setSample(px % clipW, px / clipW, 0, v)
          px += 1
        }
        img
      }
      (c, graft.pipeline.MediaFixtures.animatedGif(frames, delayCs = 10))
    }.toDF("clip_id", "bytes")
  }

  /** q149: video near-duplicates by frame-signature containment —
    * per-keyframe dHash (the q147 expression) over REAL decoded GIF
    * frames -> per-clip distinct signature set -> df-capped signature
    * universe (SigDfCap above) -> candidate pairs generated IN-GROUP
    * from the capped id lists (the jaccardPairsOf plan: one shuffle
    * on the signature, never an all-pairs or uncapped self-join) ->
    * exact integer containment |A ∩ B| * 10000 / min(|A|, |B|) >=
    * 8000 with set sizes from the SAME post-cap universe. Trimmed,
    * re-encoded, and brightness-shifted copies share exact frame
    * hashes (losslessness + shift-invariance, both spec-pinned);
    * fuzzier frame drift would band each frame hash first (q148's
    * bands) — composed deliberately from exact keys here so the
    * containment arithmetic stays integer-exact. DuckDB-oracled since
    * r15 (the formula replay above). */
  private[graft] def videoNearDups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = graft.pipeline.Multimodal.asMediaFrame(
      clipCorpus(s, d), "clip_id", "video", "bytes")
    // every frame: delay 100 ms, sample every 100 ms -> all frames
    val frames = graft.pipeline.Multimodal.sampleVideoFrames(
      s, media, everyMs = 100, maxFrames = 8)
    val sigs = frames.as[(Long, Long, Array[Byte])]
      .flatMap { case (id, _, png) =>
        ImageOps.decodeEncoded(s"clip:$id", png)
          .map(dec => (id, dec.data, dec.width, dec.height, dec.nChannels))
      }.toDF("clip_id", "data", "w", "h", "c")
      .select(col("clip_id"), expr("dhash64(data, w, h, c)").as("sig"))
      .filter(col("sig").isNotNull)
      .distinct()
    val cappedIds = udaf(new graft.functions.CappedIdList(SigDfCap),
      Encoders.scalaLong)
    val grouped = sigs.groupBy("sig")
      .agg(cappedIds(col("clip_id")).as("ids"))
      .filter(col("ids").isNotNull)
    val sizes = grouped.select(explode(col("ids")).as("clip_id"))
      .groupBy("clip_id").agg(count(lit(1)).as("n"))
    val shared = grouped.filter(size(col("ids")) > 1)
      .select(explode(expr("pair_combos(ids)")).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("clip_id").as("a_id"), col("n").as("na")),
        "a_id")
      .join(sizes.select(col("clip_id").as("b_id"), col("n").as("nb")),
        "b_id")
      .withColumn("containment_bp",
        expr("shared * 10000 div least(na, nb)"))
      .filter(col("containment_bp") >= 8000)
      .select("a_id", "b_id", "shared", "containment_bp")
  }

  val queries: Map[String, Q] = Map(
    // q147: per-image 64-bit dHash — the multimodal content key
    "q147_image_dhash" -> ((s, d) => hashesOf(s, d).orderBy("img_id")),

    // q148: capped banded near-dup pairs, Hamming <= 3 (pigeonhole
    // recall 1 over 4x16 bands; the oracle is the exact all-pairs
    // query minus the mirrored stop-bucket exclusion)
    "q148_image_neardup" -> ((s, d) =>
      HashBands.cappedBandPairs(hashesOf(s, d), "img_id", "dhash")
        .orderBy("a_id", "b_id")),

    // q149: video near-dup by frame-signature containment, df-capped
    // (DuckDB-oracled since r15 — lossless GIF roundtrip makes the
    // formula replay exact)
    "q149_video_neardup" -> ((s, d) =>
      videoNearDups(s, d).orderBy("a_id", "b_id")))

  /** The shared oracle prefix: replay pixels -> grayscale -> cells ->
    * bits -> packed hash in integer SQL. `hh` is the mixed value
    * (< 2^20, so hh*hh < 2^40 — BIGINT-safe; the JlProject bound
    * argument). Bit 63 cannot take `1 << 63` in DuckDB (overflow
    * error) — it adds two's-complement MIN directly. The corpus size
    * mirrors FixtureScale.imageBase via the lineitem scalar subquery;
    * the 120000 range bound is headroom (covers sf1 tenfold), the
    * WHERE is the real limit (DuckDB 1.0 range() rejects subquery
    * bounds). */
  private val hashCtes: String =
    s"""sc AS (SELECT greatest(120,
              (SELECT count(*) FROM lineitem) // 500) AS nb),
        img AS (SELECT i FROM range(0, 120000) t(i)
                WHERE i < (SELECT nb + $FlatImages FROM sc)),
        par AS (SELECT i, CASE WHEN i % 3 = 2 THEN i - 1 ELSE i END AS a,
                  (i % 3 = 2) AS isdup,
                  i >= (SELECT nb FROM sc) AS isflat
                FROM img),
        pix AS (SELECT i, p,
                  CASE WHEN isflat THEN 128 ELSE
                    ((hh * hh) >> 7) % 251
                      + CASE WHEN isdup AND p % 97 = 0 THEN 5 ELSE 0 END
                  END AS v
                FROM (SELECT i, isdup, isflat, p,
                        (a * 1000003 + p * 7919 + 12345) % 1048576 AS hh
                      FROM par, range(0, ${side * side * channels}) t2(p))),
        gray AS (SELECT i, p // 3 AS px, CAST(sum(v) // 3 AS BIGINT) AS g
                 FROM pix GROUP BY i, p // 3),
        cells AS (SELECT i, (px % $side) * 9 // $side AS tx,
                    (px // $side) * 8 // $side AS ty,
                    sum(g) // count(*) AS cell
                  FROM gray GROUP BY 1, 2, 3),
        bits AS (SELECT l.i, l.ty * 8 + l.tx AS b
                 FROM cells l JOIN cells r
                   ON r.i = l.i AND r.ty = l.ty AND r.tx = l.tx + 1
                 WHERE l.tx < 8 AND r.cell > l.cell),
        hashes AS (SELECT img.i AS img_id,
                     CAST(COALESCE(sum(CASE WHEN b = 63
                       THEN -9223372036854775807 - 1
                       ELSE (CAST(1 AS BIGINT) << b) END), 0) AS BIGINT)
                       AS dhash
                   FROM img LEFT JOIN bits ON bits.i = img.i
                   GROUP BY img.i)"""

  /** q149 oracle prefix: the clipPixel replay. Frame 0 of every clip
    * is the planted black frame; formula frames are fr >= 1 with
    * formula index fr - 1. */
  private val clipCtes: String =
    s"""sc AS (SELECT greatest(24,
              (SELECT count(*) FROM lineitem) // 2500) AS nc),
        clip AS (SELECT c, (c % 4 = 1) AS isdup,
                   CASE WHEN c % 4 = 1 THEN c - 1 ELSE c END AS base
                 FROM range(0, 24000) t(c)
                 WHERE c < (SELECT nc FROM sc)),
        frame AS (SELECT c, base, fr,
                    CASE WHEN isdup THEN 15 ELSE 0 END AS shift
                  FROM clip, range(0, 8) t2(fr)
                  WHERE fr <= 4 + base % 3
                          - CASE WHEN isdup THEN 1 ELSE 0 END),
        cpix AS (SELECT c, fr, px,
                   CASE WHEN fr = 0 THEN 0
                     ELSE ((hh * hh) >> 7) % 226 + shift END AS g
                 FROM (SELECT c, fr, shift, px,
                         ((base * 131 + fr - 1) * 1000003
                           + px * 7919 + 12345) % 1048576 AS hh
                       FROM frame, range(0, ${clipW * clipH}) t3(px))),
        ccells AS (SELECT c, fr, (px % $clipW) * 9 // $clipW AS tx,
                     (px // $clipW) * 8 // $clipH AS ty,
                     sum(g) // count(*) AS cell
                   FROM cpix GROUP BY 1, 2, 3, 4),
        cbits AS (SELECT l.c, l.fr, l.ty * 8 + l.tx AS b
                  FROM ccells l JOIN ccells r
                    ON r.c = l.c AND r.fr = l.fr AND r.ty = l.ty
                   AND r.tx = l.tx + 1
                  WHERE l.tx < 8 AND r.cell > l.cell),
        fsig AS (SELECT frame.c, frame.fr,
                   CAST(COALESCE(sum(CASE WHEN b = 63
                     THEN -9223372036854775807 - 1
                     ELSE (CAST(1 AS BIGINT) << b) END), 0) AS BIGINT)
                     AS sig
                 FROM frame LEFT JOIN cbits
                   ON cbits.c = frame.c AND cbits.fr = frame.fr
                 GROUP BY frame.c, frame.fr),
        csig AS (SELECT DISTINCT c, sig FROM fsig),
        oksig AS (SELECT c, sig FROM csig
                  QUALIFY count(*) OVER (PARTITION BY sig)
                    <= $SigDfCap),
        sizes AS (SELECT c, count(*) AS n FROM oksig GROUP BY c)"""

  val oracle: Map[String, String] = Map(
    "q147_image_dhash" ->
      s"""WITH $hashCtes
          SELECT img_id, dhash FROM hashes ORDER BY img_id""",

    // exact all-pairs semantics MINUS the mirrored stop-bucket
    // exclusion: a pair is reported iff Hamming <= 3 AND some shared
    // 16-bit band's bucket is under the cap (the pigeonhole recall
    // proof + the q37 capped-df precedent) — the capped banded Spark
    // plan must reproduce it
    "q148_image_neardup" ->
      s"""WITH $hashCtes,
          bands AS (SELECT img_id, dhash, bk,
                      ((dhash >> (bk * 16)) & 65535) AS bv
                    FROM hashes, range(0, 4) t(bk)),
          ok AS (SELECT bk, bv FROM bands GROUP BY bk, bv
                 HAVING count(*) <= ${HashBands.BandBucketCap})
          SELECT x.img_id AS a_id, y.img_id AS b_id,
            CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming
          FROM hashes x JOIN hashes y ON x.img_id < y.img_id
          WHERE bit_count(xor(x.dhash, y.dhash)) <= 3
            AND EXISTS (SELECT 1 FROM range(0, 4) u(bk) JOIN ok
                          ON ok.bk = u.bk
                         AND ok.bv = ((x.dhash >> (u.bk * 16)) & 65535)
                        WHERE ((x.dhash >> (u.bk * 16)) & 65535)
                            = ((y.dhash >> (u.bk * 16)) & 65535))
          ORDER BY a_id, b_id""",

    // the containment replay over the capped signature universe:
    // sizes AND intersections both come from oksig, the post-cap
    // data, exactly as the Spark plan derives both from the capped
    // grouped lists
    "q149_video_neardup" ->
      s"""WITH $clipCtes
          SELECT x.c AS a_id, y.c AS b_id, count(*) AS shared,
            count(*) * 10000 // least(min(sx.n), min(sy.n))
              AS containment_bp
          FROM oksig x JOIN oksig y ON x.sig = y.sig AND x.c < y.c
          JOIN sizes sx ON sx.c = x.c
          JOIN sizes sy ON sy.c = y.c
          GROUP BY x.c, y.c
          HAVING count(*) * 10000 // least(min(sx.n), min(sy.n)) >= 8000
          ORDER BY a_id, b_id""")
}
