package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import graft.functions.AudioFp64
import graft.pipeline.AudioOps
import graft.queries.AudioDedup

/** Audio content near-dup (q150/q151): fingerprint arithmetic,
  * encode->decode losslessness (the property that lets the DuckDB
  * oracle replay the formula), gain/re-encode invariance, the planted
  * silent hot cluster, and the capped banded pair semantics.
  */
class AudioDedupSpec extends SparkSpec {
  import spark.implicits._

  private def fp(samples: Seq[Int]): java.lang.Long =
    AudioFp64.fp(ArrayData.toArrayData(
      samples.map(_ / 32768.0).toArray))

  test("audiofp64: hand-computed fingerprints, short-signal and " +
      "corrupt-row degradation") {
    // 65 samples, one per window: |s| strictly increasing -> every
    // energy delta positive -> all 64 bits -> -1L; decreasing -> 0L
    assert(fp((1 to 65).map(_ * 10)) == -1L)
    assert(fp((1 to 65).map(w => (66 - w) * 10)) == 0L)
    // negative samples count by magnitude (|s|)
    assert(fp((1 to 65).map(_ * -10)) == -1L)
    // constant signal: all deltas zero, strict > leaves every bit 0
    assert(fp(Seq.fill(130)(500)) == 0L)
    // degradation: too short, null array, null element
    assert(fp((1 to 64).map(_ * 10)) == null)
    assert(AudioFp64.fp(null) == null)
    assert(AudioFp64.fp(ArrayData.toArrayData(
      Array[java.lang.Double](1.0, null) ++
        Array.fill[java.lang.Double](63)(0.5))) == null)
    // the SQL surface agrees and yields NULL (not a task kill) on the
    // invalid row
    val out = Seq((1 to 65).map(_ / 32768.0).toArray,
        (1 to 10).map(_ / 32768.0).toArray)
      .toDF("samples").selectExpr("audiofp64(samples) AS afp").collect()
    assert(out(0).getLong(0) == -1L && out(1).isNullAt(0))
  }

  test("PCM16 encode->decode is LOSSLESS for WAV and AIFF, so decoded " +
      "samples equal the formula exactly (the oracle-replay property)") {
    val samples = AudioDedup.rawSamples(0L, 120L)
    for (aiff <- Seq(false, true)) {
      val bytes = AudioOps.encodePcm16(samples, 8000f, aiff)
      val (_, decoded) = AudioOps.decodeWav(bytes).get
      assert(decoded.length == samples.length,
        s"aiff=$aiff: ${decoded.length} != ${samples.length}")
      val back = decoded.map(d => math.round(d * 32768.0).toInt)
      assert(back.sameElements(samples),
        s"aiff=$aiff: decoded samples drifted from the formula")
    }
    // out-of-range input is a caller bug, not a silent clip
    intercept[IllegalArgumentException] {
      AudioOps.encodePcm16(Array(40000), 8000f)
    }
  }

  test("fingerprint invariance: integer gain and AIFF re-encode keep " +
      "the fingerprint EXACTLY; different content does not collide") {
    val base = AudioDedup.rawSamples(0L, 120L)
    val f0 = fp(base.toSeq)
    // positive integer gain scales every window energy by the same
    // factor -> identical delta signs (x2 is the planted dup class;
    // x3 pins the general property)
    assert(fp(base.map(_ * 2).toSeq) == f0, "x2 gain moved the fp")
    assert(fp(base.map(_ * 2).toSeq.map(_ * 3 / 2)) ==
      fp(base.map(_ * 3).toSeq), "integer-exact rescale drifted")
    // the AIFF container roundtrip decodes to identical samples ->
    // identical fp (the t % 4 == 3 planted class, end to end)
    val reenc = AudioOps.decodeWav(
      AudioOps.encodePcm16(base, 8000f, aiff = true)).get._2
    assert(AudioFp64.fp(ArrayData.toArrayData(reenc)) == f0)
    // distinct formula tracks land far apart (banding would never
    // bucket them): Hamming well above the pair threshold
    val f4 = fp(AudioDedup.rawSamples(4L, 120L).toSeq)
    assert(java.lang.Long.bitCount(f0 ^ f4) > 10,
      s"distinct tracks too close: ${java.lang.Long.bitCount(f0 ^ f4)}")
  }

  test("q150/q151 fixture: planted gain + re-encode dups found, capped " +
      "banded plan equals the stop-bucket reference, silence dropped") {
    val rows = AudioDedup.fingerprintsOf(spark, sf).collect()
    assert(rows.length == 140 && rows.forall(!_.isNullAt(1)),
      "every fixture track (120 formula + 20 silent) must decode + fp")
    val fs = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the planted silent cluster fingerprints to exactly 0 — the
    // audio analog of the flat-image hot bucket
    assert((120L until 140L).forall(fs(_) == 0L),
      "silent tracks must fingerprint to 0")
    // both planted dup classes collide exactly with their source
    (0L until 120L).filter(t => t % 4 == 1 || t % 4 == 3).foreach { t =>
      assert(fs(t) == fs(t - 1), s"track $t drifted from its source")
    }
    // capped banded reference (the DuckDB oracle's semantics)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val cap = graft.operators.HashBands.BandBucketCap
    val bucket = fs.toSeq
      .flatMap { case (i, h) =>
        (0 until 4).map(bk => (bk, (h >> (bk * 16)) & 0xffffL) -> i) }
      .groupMap(_._1)(_._2)
    val okBuckets = bucket.filter(_._2.size <= cap).keySet
    val ids = fs.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b && ham(fs(a), fs(b)) <= 3
      if (0 until 4).exists { bk =>
        val (ba, bb) = ((fs(a) >> (bk * 16)) & 0xffffL,
          (fs(b) >> (bk * 16)) & 0xffffL)
        ba == bb && okBuckets((bk, ba))
      }
    } yield (a, b, ham(fs(a), fs(b)).toLong)).toSet
    val got = SparkEntry.queries("q151_audio_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"capped banded pairs != reference: ${got.size} vs ${expected.size}")
    // exactly the 60 planted dup pairs (30 gain + 30 re-encode), all
    // at Hamming 0; the silent cluster's 190 quadratic pairs capped out
    assert(expected.size == 60 &&
      expected == (0L until 120L).filter(t => t % 4 == 1 || t % 4 == 3)
        .map(t => (t - 1, t, 0L)).toSet,
      s"expected the 60 planted pairs, got ${expected.size}")
    assert(got.forall { case (a, b, _) => a < 120 && b < 120 },
      "a silent-cluster pair leaked past the bucket cap")
  }
}
