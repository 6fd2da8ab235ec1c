package graft.pipeline

/** Pure-JVM decoder for native FLAC streams — a REAL compressed
  * lossless codec (free-format public specification: RFC 9639 /
  * xiph.org "FLAC format"), closing more of the MediaCodec seam
  * without any external codec library. Covers the full subset real
  * encoders emit for integer PCM: CONSTANT / VERBATIM / FIXED(0–4) /
  * LPC(1–32) subframes, Rice and Rice2 residual partitions with the
  * escaped-raw form, wasted-bits shifts, independent and
  * left-side / right-side / mid-side stereo decorrelation, and both
  * blocking strategies. CRC-8/CRC-16 trailers and the STREAMINFO md5
  * are parsed past but not verified (decode correctness, not
  * integrity checking, is this seam's job — a corrupt stream surfaces
  * as None from the structural checks).
  *
  * Scalar helper (no Spark types), called from partition-parallel maps
  * like AudioOps/ImageOps; deterministic per byte-input. Multi-channel
  * output is averaged to mono in [-1, 1], matching AudioOps.decodeWav
  * and ImaAdpcm.decode, so [[MediaCodec.Jvm]] can chain the three
  * decoders behind one signature.
  */
object Flac {

  /** MSB-first bit reader over the frame byte stream. */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    var bit: Int = 0
    def eof: Boolean = pos >= b.length
    def readBit(): Int = {
      if (eof) throw new IndexOutOfBoundsException("flac: past end")
      val v = (b(pos) >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      v
    }
    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def readSigned(n: Int): Long = {
      val v = readBits(n)
      if (n > 0 && (v & (1L << (n - 1))) != 0) v - (1L << n) else v
    }
    /** Unary: count of 0 bits before the terminating 1. */
    def readUnary(): Int = {
      var q = 0
      while (readBit() == 0) q += 1
      q
    }
    def alignToByte(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  /** Decode a native FLAC stream to (sampleRate, mono samples in
    * [-1, 1]); None when the bytes are not FLAC or violate the subset
    * structure. Signature matches [[AudioOps.decodeWav]] /
    * [[ImaAdpcm.decode]] so the three chain behind one seam. */
  def decode(bytes: Array[Byte]): Option[(Float, Array[Double])] =
    try decodeOrThrow(bytes) catch { case _: Exception => None }

  private def decodeOrThrow(b: Array[Byte]): Option[(Float, Array[Double])] = {
    if (b.length < 42 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' ||
      b(3) != 'C') return None
    // metadata blocks: STREAMINFO is mandatory and first
    var o = 4
    var last = false
    var siRate = 0
    var siChans = 0
    var siBps = 0
    var first = true
    while (!last) {
      if (o + 4 > b.length) return None
      last = (b(o) & 0x80) != 0
      val btype = b(o) & 0x7f
      val len = ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) |
        (b(o + 3) & 0xff)
      if (first && btype != 0) return None
      first = false
      if (btype == 0) {
        if (len < 34 || o + 4 + 34 > b.length) return None
        val si = o + 4
        // 20-bit rate, 3-bit channels-1, 5-bit bps-1 start at byte 10
        siRate = ((b(si + 10) & 0xff) << 12) | ((b(si + 11) & 0xff) << 4) |
          ((b(si + 12) & 0xf0) >> 4)
        siChans = ((b(si + 12) & 0x0e) >> 1) + 1
        siBps = (((b(si + 12) & 0x01) << 4) | ((b(si + 13) & 0xf0) >> 4)) + 1
      }
      o += 4 + len
    }
    if (siRate == 0 || siChans < 1 || siChans > 8) return None

    val out = Array.fill(siChans)(
      scala.collection.mutable.ArrayBuilder.make[Int])
    var n = 0
    while (o < b.length) {
      val r = new BitReader(b, o)
      // frame sync 0b11111111111110 + reserved bit + blocking strategy
      if (r.readBits(14) != 0x3ffe) return None
      r.readBit() // reserved
      r.readBit() // blocking strategy (coded number is skipped either way)
      val bsCode = r.readBits(4).toInt
      val srCode = r.readBits(4).toInt
      val chCode = r.readBits(4).toInt
      val ssCode = r.readBits(3).toInt
      r.readBit() // reserved
      // UTF-8-style coded frame/sample number: skip
      val lead = r.readBits(8).toInt
      var cont = 0
      var mask = 0x80
      while ((lead & mask) != 0) { cont += 1; mask >>= 1 }
      if (cont == 1 || cont > 7) return None
      var i = 0
      while (i < math.max(0, cont - 1)) {
        if ((r.readBits(8).toInt & 0xc0) != 0x80) return None
        i += 1
      }
      val blockSize = bsCode match {
        case 0 => return None // reserved
        case 1 => 192
        case c if c <= 5 => 576 << (c - 2)
        case 6 => r.readBits(8).toInt + 1
        case 7 => r.readBits(16).toInt + 1
        case c => 256 << (c - 8)
      }
      val rate = srCode match {
        case 0 => siRate
        case 1 => 88200
        case 2 => 176400
        case 3 => 192000
        case 4 => 8000
        case 5 => 16000
        case 6 => 22050
        case 7 => 24000
        case 8 => 32000
        case 9 => 44100
        case 10 => 48000
        case 11 => 96000
        case 12 => r.readBits(8).toInt * 1000
        case 13 => r.readBits(16).toInt
        case 14 => r.readBits(16).toInt * 10
        case _ => return None
      }
      if (rate != siRate) return None
      val nCh = if (chCode < 8) chCode + 1 else 2
      if (chCode > 10 || nCh != siChans) return None
      val bps = ssCode match {
        case 0 => siBps
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
        case _ => return None
      }
      r.readBits(8) // CRC-8 of the header: parsed past, not verified
      // subframes (side channels carry one extra bit)
      val chan = Array.ofDim[Array[Long]](nCh)
      var c = 0
      while (c < nCh) {
        val extra = chCode match {
          case 8 => if (c == 1) 1 else 0 // left/side
          case 9 => if (c == 0) 1 else 0 // side/right
          case 10 => if (c == 1) 1 else 0 // mid/side
          case _ => 0
        }
        chan(c) = subframe(r, blockSize, bps + extra)
        c += 1
      }
      r.alignToByte()
      if (r.pos + 2 > b.length) return None
      be16(b, r.pos) // frame CRC-16: parsed past, not verified
      o = r.pos + 2
      // stereo un-decorrelation -> per-channel ints
      val dec: Array[Array[Long]] = chCode match {
        case 8 => // left, side = left - right
          Array(chan(0), Array.tabulate(blockSize)(i =>
            chan(0)(i) - chan(1)(i)))
        case 9 => // side = left - right, right
          Array(Array.tabulate(blockSize)(i => chan(0)(i) + chan(1)(i)),
            chan(1))
        case 10 => // mid, side; left = ((mid<<1)|(side&1) + side) >> 1
          Array(
            Array.tabulate(blockSize) { i =>
              (((chan(0)(i) << 1) | (chan(1)(i) & 1)) + chan(1)(i)) >> 1
            },
            Array.tabulate(blockSize) { i =>
              (((chan(0)(i) << 1) | (chan(1)(i) & 1)) - chan(1)(i)) >> 1
            })
        case _ => chan
      }
      c = 0
      while (c < nCh) {
        var i = 0
        while (i < blockSize) { out(c) += dec(c)(i).toInt; i += 1 }
        c += 1
      }
      n += blockSize
    }
    if (n == 0) return None
    val scale = (1L << (siBps - 1)).toDouble
    val chans = out.map(_.result())
    val mono = Array.tabulate(n) { i =>
      var s = 0.0
      var c = 0
      while (c < siChans) { s += chans(c)(i) / scale; c += 1 }
      s / siChans
    }
    Some((siRate.toFloat, mono))
  }

  /** One subframe: header + payload, returning blockSize samples. */
  private def subframe(r: BitReader, blockSize: Int,
      bps: Int): Array[Long] = {
    if (r.readBit() != 0) throw new IllegalStateException("subframe pad")
    val t = r.readBits(6).toInt
    var wasted = 0
    if (r.readBit() == 1) wasted = r.readUnary() + 1
    val eb = bps - wasted
    val s: Array[Long] =
      if (t == 0) { val x = r.readSigned(eb); Array.fill(blockSize)(x) }
      else if (t == 1) Array.fill(blockSize)(r.readSigned(eb)) // VERBATIM
      else if ((t & 0x38) == 0x08 && (t & 0x07) <= 4) // FIXED order 0-4
        fixedSubframe(r, blockSize, eb, t & 0x07)
      else if ((t & 0x20) != 0) // LPC, order 1-32
        lpcSubframe(r, blockSize, eb, (t & 0x1f) + 1)
      else throw new IllegalStateException(s"reserved subframe type $t")
    if (wasted > 0) s.map(_ << wasted) else s
  }

  private def fixedSubframe(r: BitReader, blockSize: Int, bps: Int,
      order: Int): Array[Long] = {
    val s = Array.ofDim[Long](blockSize)
    var i = 0
    while (i < order) { s(i) = r.readSigned(bps); i += 1 }
    residual(r, s, blockSize, order)
    i = order
    while (i < blockSize) {
      s(i) += (order match { // s(i) currently holds the residual
        case 0 => 0L
        case 1 => s(i - 1)
        case 2 => 2 * s(i - 1) - s(i - 2)
        case 3 => 3 * s(i - 1) - 3 * s(i - 2) + s(i - 3)
        case 4 => 4 * s(i - 1) - 6 * s(i - 2) + 4 * s(i - 3) - s(i - 4)
      })
      i += 1
    }
    s
  }

  private def lpcSubframe(r: BitReader, blockSize: Int, bps: Int,
      order: Int): Array[Long] = {
    val s = Array.ofDim[Long](blockSize)
    var i = 0
    while (i < order) { s(i) = r.readSigned(bps); i += 1 }
    val precision = r.readBits(4).toInt + 1
    if (precision == 16) throw new IllegalStateException("bad precision")
    val shift = r.readSigned(5).toInt
    if (shift < 0) throw new IllegalStateException("negative lpc shift")
    val coef = Array.fill(order)(r.readSigned(precision))
    residual(r, s, blockSize, order)
    i = order
    while (i < blockSize) {
      var acc = 0L
      var j = 0
      while (j < order) { acc += coef(j) * s(i - 1 - j); j += 1 }
      s(i) += acc >> shift
      i += 1
    }
    s
  }

  /** Rice-coded residual partitions, written into s(order..). */
  private def residual(r: BitReader, s: Array[Long], blockSize: Int,
      order: Int): Unit = {
    val method = r.readBits(2).toInt
    if (method > 1) throw new IllegalStateException("reserved residual")
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val po = r.readBits(4).toInt
    val nPart = 1 << po
    if (blockSize % nPart != 0) throw new IllegalStateException("partition")
    var idx = order
    var p = 0
    while (p < nPart) {
      val count = (blockSize >> po) - (if (p == 0) order else 0)
      if (count < 0) throw new IllegalStateException("partition order")
      val param = r.readBits(pBits).toInt
      var i = 0
      if (param == escape) {
        val raw = r.readBits(5).toInt
        while (i < count) {
          s(idx) = if (raw == 0) 0L else r.readSigned(raw); idx += 1; i += 1
        }
      } else {
        while (i < count) {
          val q = r.readUnary().toLong
          val u = (q << param) | r.readBits(param)
          s(idx) = (u >>> 1) ^ -(u & 1L) // zigzag
          idx += 1; i += 1
        }
      }
      p += 1
    }
  }
}
