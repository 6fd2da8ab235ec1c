package graft.pipeline

import scala.collection.mutable.ArrayBuilder

/** Pure-JVM decoder for Microsoft ADPCM audio in a WAV container (RIFF
  * format tag 0x0002) — with IMA-ADPCM (0x0011) one of the two
  * compressed codecs every legacy WAV toolchain emits, published in the
  * Microsoft Multimedia Standards "New Multimedia Data Types and Data
  * Techniques" / WAVE format documents. Closes more of the MediaCodec
  * seam: the JDK's javax.sound handles only PCM (+ u-law/a-law).
  *
  * Per-block layout (all per-channel fields channel-interleaved):
  * 1 byte predictor-coefficient index, int16 LE initial delta, int16 LE
  * sample1 (the NEWER of the two seed samples), int16 LE sample2 — the
  * seeds are emitted as output in sample2, sample1 order — then 4-bit
  * codes HIGH nibble first (stereo: left = high, right = low of each
  * byte). Each signed 4-bit code c reconstructs
  * `pred = (sample1·coef1 + sample2·coef2) / 256 + c·delta` (Java int
  * division == the reference C semantics, truncate toward zero),
  * clamped to int16, and the quantizer step adapts as
  * `delta = max(16, AdaptationTable[c & 0xf]·delta / 256)`.
  *
  * Scalar helper (no Spark types), called from partition-parallel maps
  * like AudioOps/ImageOps; deterministic per byte-input. Multi-channel
  * input is averaged to mono in [-1, 1], matching AudioOps.decodeWav.
  */
object MsAdpcm {

  /** The 7 standard predictor coefficient pairs (scaled by 256). */
  private[graft] val Coefs: Array[(Int, Int)] = Array(
    (256, 0), (512, -256), (0, 0), (192, 64),
    (240, 0), (460, -208), (392, -232))

  private val AdaptationTable: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)

  import RiffWav.le16s

  /** One MS-ADPCM step for signed code `c` in [-8, 7]: returns
    * (newSample, newDelta) packed as a Long (sample in the high int) —
    * exposed for the encoder twin in tests; both sides MUST share this
    * reconstruction or decode drifts from the encoder's tracked state. */
  def advance(sample1: Int, sample2: Int, coef1: Int, coef2: Int,
      delta: Int, c: Int): Long = {
    val pred = (sample1 * coef1 + sample2 * coef2) / 256 + c * delta
    val s = math.max(-32768, math.min(32767, pred))
    val d0 = AdaptationTable(c & 0xf) * delta / 256
    val d = math.max(16, d0)
    (s.toLong << 32) | (d.toLong & 0xffffffffL)
  }

  /** Decode an MS-ADPCM WAV byte stream to (sampleRate, mono samples in
    * [-1, 1]); None when the bytes are not a well-formed WAV with
    * format tag 0x0002 (callers fall back to other decoders or drop). */
  def decode(bytes: Array[Byte]): Option[(Float, Array[Double])] = {
    try {
      val w = RiffWav.parse(bytes).getOrElse(return None)
      val ch = w.channels; val rate = w.rate
      val blockAlign = w.blockAlign
      val dataOff = w.dataOff; val dataLen = w.dataLen
      // a block must at least hold the 7-byte-per-channel header
      if (w.fmtTag != 0x0002 || ch < 1 || rate <= 0 || dataOff < 0 ||
          blockAlign < 7 * ch) return None

      // the format's fmt extension legally carries an encoder-defined
      // coefficient table (cbSize(2), wSamplesPerBlock(2), wNumCoef(2),
      // then wNumCoef signed int16 pairs) whose first 7 entries are the
      // standard set; a file using predictor indices >= 7 is decodable
      // ONLY through its own table, so honor it when it parses whole
      val table: Array[(Int, Int)] = {
        val x = w.fmtExtra
        if (x.length >= 6) {
          val nc = RiffWav.le16(x, 4)
          if (nc >= Coefs.length && x.length >= 6 + 4 * nc)
            Array.tabulate(nc)(i =>
              (le16s(x, 6 + 4 * i), le16s(x, 8 + 4 * i)))
          else Coefs
        } else Coefs
      }

      val coef1 = new Array[Int](ch)
      val coef2 = new Array[Int](ch)
      val delta = new Array[Int](ch)
      val s1 = new Array[Int](ch)
      val s2 = new Array[Int](ch)
      val mono = ArrayBuilder.make[Double]
      val end = dataOff + dataLen
      var b = dataOff
      var corrupt = false
      while (!corrupt && b + 7 * ch <= end) {
        val blockEnd = math.min(b + blockAlign, end)
        // validate every channel's predictor byte BEFORE emitting the
        // block's seeds: an out-of-table index truncates the decode at
        // this block (keeping everything already decoded) instead of
        // discarding an otherwise-valid file for one corrupt byte
        var c = 0
        while (!corrupt && c < ch) {
          if ((bytes(b + c) & 0xff) >= table.length) corrupt = true
          c += 1
        }
        if (corrupt) {
          // fall through: loop exits, accumulated samples are returned
        } else {
        c = 0
        while (c < ch) {
          val pi = bytes(b + c) & 0xff
          coef1(c) = table(pi)._1
          coef2(c) = table(pi)._2
          delta(c) = le16s(bytes, b + ch + 2 * c)
          s1(c) = le16s(bytes, b + 3 * ch + 2 * c)
          s2(c) = le16s(bytes, b + 5 * ch + 2 * c)
          c += 1
        }
        // the two seed samples are emitted oldest first
        mono += s2.sum.toDouble / ch / 32768.0
        mono += s1.sum.toDouble / ch / 32768.0
        val p = b + 7 * ch
        var nib = 0 // global nibble counter; channel = nib % ch
        val nNib = (blockEnd - p) * 2
        var acc = 0.0
        while (nib < nNib) {
          val raw = bytes(p + (nib >> 1)) & 0xff
          val code4 = if ((nib & 1) == 0) (raw >> 4) & 0xf else raw & 0xf
          val cc = nib % ch
          val signed = if (code4 >= 8) code4 - 16 else code4
          val packed = advance(s1(cc), s2(cc), coef1(cc), coef2(cc),
            delta(cc), signed)
          s2(cc) = s1(cc)
          s1(cc) = (packed >> 32).toInt
          delta(cc) = (packed & 0xffffffffL).toInt
          acc += s1(cc)
          if (cc == ch - 1) { mono += acc / ch / 32768.0; acc = 0.0 }
          nib += 1
        }
        }
        b += blockAlign
      }
      val out = mono.result()
      // a file whose FIRST block is already invalid is not an
      // MS-ADPCM stream at all — None, like any other parse failure
      if (out.isEmpty && corrupt) None else Some((rate.toFloat, out))
    } catch { case _: Exception => None }
  }
}
