package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.AudioFp64
import graft.operators.HashBands
import graft.pipeline.AudioOps

/** Audio content near-duplicate detection (q150/q151) — the last
  * missing dedup modality (r14 verdict, "What's missing" #1): the
  * engine decodes real PCM for six audio families but until r15
  * nothing deduped audio BY CONTENT — a re-encoded or gain-adjusted
  * WAV defeats exact byte dedup (q32 keeps both copies) and had no
  * operator. The q147 discipline transfers directly: an integer
  * energy-delta sign fingerprint over REAL decoded PCM
  * (graft.functions.AudioFp64, the dHash-of-audio), near-dup pairs by
  * the same capped 4x16 banding (graft.operators.HashBands), both
  * DuckDB-ORACLED — the audio family's first hash-matched entries.
  *
  * The corpus is formula-pinned (the middle-square mix again), the
  * Spark side runs it through a REAL encode->decode roundtrip — the
  * JDK's own WAV/AIFF writers, then AudioOps.decodeWav (PCM16 is
  * lossless, so decoded samples == the formula) — and the oracle
  * replays samples -> windows -> |energy| sums -> delta signs ->
  * packed BIGINT in pure integer SQL. Planted duplicate classes are
  * the ones a crawl actually contains: every 4th track (t % 4 == 1)
  * is a GAIN-DOUBLED copy of its predecessor (energy signs exactly
  * invariant under positive integer gain), every 4th (t % 4 == 3) is
  * an AIFF RE-ENCODE of its predecessor (lossless container change,
  * identical samples) — both fingerprint IDENTICALLY to their source.
  *
  * 100 TB shape: decode + fingerprint are one map pass per track (no
  * shuffle); candidates shuffle once on the (band, value) key with
  * the hot-bucket cap live — SILENCE fingerprints to exactly 0 (the
  * audio analog of the flat-image class), so the fixture plants a
  * 20-track silent cluster that every SF drops via the cap, mirrored
  * literally in the q151 oracle. Corpus size scales with the SF dir
  * (FixtureScale.trackBase), so the growth gate measures the family.
  */
object AudioDedup {
  type Q = (SparkSession, String) => DataFrame

  /** Planted silent cluster: this many all-zero tracks (fingerprint
    * exactly 0) appended at ids >= trackBase — their band buckets
    * exceed HashBands.BandBucketCap at every SF. */
  private[graft] val SilentTracks = 20

  /** Fixture sample rate — metadata only (the fingerprint is
    * rate-agnostic); 8 kHz keeps the bytes small. */
  private val Rate = 8000f

  /** Deterministic sample formula, mirrored VERBATIM by the oracle:
    * mono PCM16 in [-15000, 15000] so the x2 gain copy can never
    * clip; track length varies with the base id so window boundaries
    * differ across tracks. Tracks at t >= nBase are the planted
    * SILENT cluster (2080 zero samples). */
  private[graft] def rawSamples(t: Long, nBase: Long): Array[Int] = {
    if (t >= nBase) return new Array[Int](2080)
    val base = if (t % 4 == 1 || t % 4 == 3) t - 1 else t
    val gain = if (t % 4 == 1) 2 else 1
    val n = (1950 + (base % 7) * 130).toInt
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val h = (base * 1000003L + i * 7919L + 12345L) % 1048576L
      out(i) = (gain * (((h * h) >> 7) % 30001L - 15000L)).toInt
      i += 1
    }
    out
  }

  /** The decoded corpus: formula samples -> REAL WAV/AIFF encode (the
    * JDK writers; t % 4 == 3 tracks go through the AIFF container to
    * plant the re-encode class) -> REAL decodeWav -> (track_id,
    * samples). Generated distributed from the row id — no driver-side
    * materialization. */
  private[graft] def decodedCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nBase = FixtureScale.trackBase(s, d)
    s.range(0, nBase + SilentTracks).as[Long].flatMap { t =>
      val bytes = AudioOps.encodePcm16(rawSamples(t, nBase), Rate,
        aiff = t < nBase && t % 4 == 3)
      AudioOps.decodeWav(bytes).map { case (_, samples) =>
        (t, samples)
      }
    }.toDF("track_id", "samples")
  }

  /** (track_id, afp) — decode + one codegen'd fingerprint pass. */
  private[graft] def fingerprintsOf(s: SparkSession, d: String): DataFrame =
    decodedCorpus(s, d)
      .select(col("track_id"), expr("audiofp64(samples)").as("afp"))

  val queries: Map[String, Q] = Map(
    // q150: per-track 64-bit acoustic fingerprint — the audio content
    // key (DuckDB replays the integer arithmetic)
    "q150_audio_fp" -> ((s, d) =>
      fingerprintsOf(s, d).orderBy("track_id")),

    // q151: capped banded near-dup pairs over the fingerprints —
    // gain-doubled and AIFF-re-encoded copies collide exactly; the
    // planted silent cluster is dropped by the mirrored bucket cap
    "q151_audio_neardup" -> ((s, d) =>
      HashBands.cappedBandPairs(fingerprintsOf(s, d), "track_id", "afp")
        .orderBy("a_id", "b_id")))

  /** Oracle prefix: replay samples -> windows -> energies -> delta
    * signs -> packed hash in integer SQL. hh < 2^20 so hh*hh is
    * BIGINT-safe; window index i * 65 // n is the same exact integer
    * partition AudioFp64 computes; sum(abs(v)) widens to HUGEINT in
    * DuckDB but only its ORDER is consumed. The 120000 range bound is
    * headroom; the WHERE mirrors FixtureScale.trackBase. */
  private val fpCtes: String =
    s"""sc AS (SELECT greatest(120,
              (SELECT count(*) FROM lineitem) // 500) AS nb),
        trk AS (SELECT t, t >= (SELECT nb FROM sc) AS silent,
                  CASE WHEN t % 4 IN (1, 3) AND t < (SELECT nb FROM sc)
                    THEN t - 1 ELSE t END AS base,
                  CASE WHEN t % 4 = 1 AND t < (SELECT nb FROM sc)
                    THEN 2 ELSE 1 END AS gain
                FROM range(0, 120000) r(t)
                WHERE t < (SELECT nb + $SilentTracks FROM sc)),
        len AS (SELECT t, base, gain, silent,
                  CASE WHEN silent THEN 2080
                    ELSE 1950 + (base % 7) * 130 END AS n
                FROM trk),
        smp AS (SELECT t, i * ${AudioFp64.Windows} // n AS wi,
                  CASE WHEN silent THEN 0
                    ELSE gain * (((hh * hh) >> 7) % 30001 - 15000)
                  END AS v
                FROM (SELECT t, silent, gain, n, i,
                        (base * 1000003 + i * 7919 + 12345)
                          % 1048576 AS hh
                      FROM len, range(0, 2800) s(i) WHERE i < n)),
        nrg AS (SELECT t, wi, sum(abs(v)) AS e FROM smp GROUP BY t, wi),
        abits AS (SELECT l.t, l.wi AS b FROM nrg l JOIN nrg r
                    ON r.t = l.t AND r.wi = l.wi + 1 WHERE r.e > l.e),
        fps AS (SELECT trk.t AS track_id,
                  CAST(COALESCE(sum(CASE WHEN b = 63
                    THEN -9223372036854775807 - 1
                    ELSE (CAST(1 AS BIGINT) << b) END), 0) AS BIGINT)
                    AS afp
                FROM trk LEFT JOIN abits ON abits.t = trk.t
                GROUP BY trk.t)"""

  val oracle: Map[String, String] = Map(
    "q150_audio_fp" ->
      s"""WITH $fpCtes
          SELECT track_id, afp FROM fps ORDER BY track_id""",

    // the q148 formulation on fingerprints: exact all-pairs
    // Hamming <= 3 minus the mirrored stop-bucket exclusion
    "q151_audio_neardup" ->
      s"""WITH $fpCtes,
          bands AS (SELECT track_id, afp, bk,
                      ((afp >> (bk * 16)) & 65535) AS bv
                    FROM fps, range(0, 4) t(bk)),
          ok AS (SELECT bk, bv FROM bands GROUP BY bk, bv
                 HAVING count(*) <= ${HashBands.BandBucketCap})
          SELECT x.track_id AS a_id, y.track_id AS b_id,
            CAST(bit_count(xor(x.afp, y.afp)) AS BIGINT) AS hamming
          FROM fps x JOIN fps y ON x.track_id < y.track_id
          WHERE bit_count(xor(x.afp, y.afp)) <= 3
            AND EXISTS (SELECT 1 FROM range(0, 4) u(bk) JOIN ok
                          ON ok.bk = u.bk
                         AND ok.bv = ((x.afp >> (u.bk * 16)) & 65535)
                        WHERE ((x.afp >> (u.bk * 16)) & 65535)
                            = ((y.afp >> (u.bk * 16)) & 65535))
          ORDER BY a_id, b_id""")
}
