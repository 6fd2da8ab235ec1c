package graft.pipeline

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, DataBufferByte, DataBufferInt, PixelInterleavedSampleModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import scala.util.control.NonFatal

/** In-memory image record mirroring Spark's image-source struct and the
  * reference's row layout (reference: src/piper/spark/data_augment.py:42-60):
  * row-major H x W x C uint8 bytes, BGR channel order (OpenCV convention,
  * preserved per SURVEY.md §7 "non-standard reference semantics").
  */
case class ImageRecord(origin: String, height: Int, width: Int,
    nChannels: Int, mode: Int, data: Array[Byte])

/** Pure scalar image ops (reference rows A8-A22 in SURVEY.md §2-A),
  * deterministic under fixed seeds. These run inside Dataset.map /
  * mapPartitions on executors — each op is O(pixels) with no per-pixel
  * allocation, so throughput scales with partition count.
  */
object ImageOps {

  // in-memory streams only — never the per-image temp-file cache
  ImageIoTuning.ensure()

  @inline private def clampByte(v: Double): Byte =
    math.max(0, math.min(255, math.round(v))).toByte

  @inline private def u(b: Byte): Int = b & 0xff

  /** A8: bytes -> validated H x W x C image. Fast path: buffer length
    * matches the declared shape (reshape-only, as the reference does for
    * 3-channel); fallback: decode an encoded image (jpg/png/bmp/gif) via
    * ImageIO into BGR bytes. Returns None for undecodable input
    * (dropInvalid semantics, A7). */
  def decode(rec: ImageRecord): Option[ImageRecord] = {
    if (rec.data == null || rec.data.isEmpty) return None // empty-buffer guard
    if (rec.data.length == rec.height * rec.width * rec.nChannels) Some(rec)
    else decodeEncoded(rec.origin, rec.data)
  }

  /** Decode an encoded (jpeg/png/bmp/gif) byte stream to a 3-channel BGR
    * record, whatever the source's channels (gray and alpha included). */
  def decodeEncoded(origin: String, bytes: Array[Byte]): Option[ImageRecord] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val (h, w) = (img.getHeight, img.getWidth)
        val out = new Array[Byte](h * w * 3)
        readBgr(img, out, 3)
        Some(ImageRecord(origin, h, w, 3, 16, out))
      }
    } catch { case NonFatal(_) => None }

  /** The image source's decode (A1): the record Spark's
    * `ImageSchema.decode` builds, byte for byte. Gray images give one
    * channel (mode CV_8UC1 = 0) holding the low byte of each raster
    * sample; images with alpha give BGRA (CV_8UC4 = 24); everything else
    * BGR (CV_8UC3 = 16). Spark reads one `getRGB` (or `getSample`) and
    * allocates one `java.awt.Color` per pixel; this reads whole rows, or
    * copies the raster array outright for plain 8-bit sRGB layouts.
    *
    * One difference on purpose: Spark treats any `Throwable` from
    * `ImageIO.read` as an undecodable file; this drops only `NonFatal`
    * ones, so an OOM or an interrupt fails the task instead. */
  def decodeImage(origin: String, bytes: Array[Byte]): Option[ImageRecord] = {
    val img = try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case NonFatal(_) => null }
    if (img == null) return None
    val cm = img.getColorModel
    val isGray = cm.getColorSpace.getType == ColorSpace.TYPE_GRAY
    val (h, w) = (img.getHeight, img.getWidth)
    val (c, mode) = if (isGray) (1, 0) else if (cm.hasAlpha) (4, 24) else (3, 16)
    val size = h * w * c
    assert(size < 1e9, "image is too large") // Spark's guard, Int product included
    val out = new Array[Byte](size)
    if (isGray) {
      val raster = img.getRaster
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        raster.getSamples(0, y, w, 1, 0, row)
        var x = 0
        while (x < w) { out(y * w + x) = row(x).toByte; x += 1 }
        y += 1
      }
    } else readBgr(img, out, c)
    Some(ImageRecord(origin, h, w, c, mode, out))
  }

  /** Fill `out` with `img`'s pixels as B, G, R (c = 3) or B, G, R, A
    * (c = 4; the source must then have alpha), exactly the bytes of
    * `img.getRGB(x, y)`. The two common 8-bit sRGB raster layouts are
    * copied straight from the raster array; any other image goes through
    * `getRGB` one row at a time. */
  private def readBgr(img: BufferedImage, out: Array[Byte], c: Int): Unit = {
    val (h, w) = (img.getHeight, img.getWidth)
    val t = img.getType
    val src =
      if (t == BufferedImage.TYPE_3BYTE_BGR || t == BufferedImage.TYPE_4BYTE_ABGR)
        plainBytes(img)
      else null
    if (src != null && t == BufferedImage.TYPE_3BYTE_BGR)
      System.arraycopy(src, 0, out, 0, h * w * 3)
    else if (src != null) {
      var i = 0; var o = 0
      while (o < out.length) { // A B G R -> B G R (A)
        out(o) = src(i + 1); out(o + 1) = src(i + 2); out(o + 2) = src(i + 3)
        if (c == 4) out(o + 3) = src(i)
        i += 4; o += c
      }
    } else {
      val row = new Array[Int](w)
      var o = 0
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val p = row(x)
          out(o) = p.toByte; out(o + 1) = (p >> 8).toByte
          out(o + 2) = (p >> 16).toByte
          if (c == 4) out(o + 3) = (p >>> 24).toByte
          o += c; x += 1
        }
        y += 1
      }
    }
  }

  /** The raster's byte array when `getRGB` reads it verbatim: sRGB color
    * space, one bank, no offset or translation, pixels interleaved at
    * stride w·bands with no row padding; null otherwise. */
  private def plainBytes(img: BufferedImage): Array[Byte] = {
    val raster = img.getRaster
    (raster.getDataBuffer, raster.getSampleModel) match {
      case (db: DataBufferByte, sm: PixelInterleavedSampleModel)
          if img.getColorModel.getColorSpace.isCS_sRGB &&
            db.getNumBanks == 1 && db.getOffset == 0 &&
            raster.getSampleModelTranslateX == 0 &&
            raster.getSampleModelTranslateY == 0 &&
            sm.getPixelStride == sm.getNumBands &&
            sm.getScanlineStride == img.getWidth * sm.getNumBands =>
        db.getData
      case _ => null
    }
  }

  /** A9: area-interpolation resize (cv2.INTER_AREA analog): each output
    * pixel averages the exact (fractionally weighted) source area it
    * covers — correct for downscale; degenerates to bilinear-ish smoothing
    * on upscale, matching INTER_AREA's behavior. A zero target size gives
    * an empty image; a negative one throws, naming the record's origin. */
  def resizeArea(rec: ImageRecord, tw: Int, th: Int): ImageRecord = {
    if (tw < 0 || th < 0) throw new IllegalArgumentException(
      s"resizeArea: negative target size (width $tw, height $th) " +
        s"for origin ${rec.origin}")
    val (h, w, c) = (rec.height, rec.width, rec.nChannels)
    val src = rec.data
    val out = new Array[Byte](th * tw * c)
    val sy = h.toDouble / th
    val sx = w.toDouble / tw
    // Each output column's source span [xs, xe) and its x-weights, laid
    // out back to back from wOff(ox), built once per call. Weights and
    // sums are the same double expressions, summed in the same order, as
    // a per-pixel, per-channel evaluation, so the bytes are identical
    // (ImagePipelineSpec compares the two).
    val xs = new Array[Int](tw); val xe = new Array[Int](tw)
    val wOff = new Array[Int](tw + 1)
    var ox = 0
    while (ox < tw) {
      xs(ox) = math.floor(ox * sx).toInt
      xe(ox) = math.min(math.ceil((ox + 1) * sx), w).toInt
      wOff(ox + 1) = wOff(ox) + math.max(0, xe(ox) - xs(ox))
      ox += 1
    }
    val wxs = new Array[Double](wOff(tw))
    ox = 0
    while (ox < tw) {
      val x0 = ox * sx; val x1 = (ox + 1) * sx
      var xx = xs(ox)
      while (xx < xe(ox)) {
        wxs(wOff(ox) + xx - xs(ox)) = math.min(x1, xx + 1) - math.max(x0, xx)
        xx += 1
      }
      ox += 1
    }
    val wys = new Array[Double](math.max(h, 0))
    val acc = new Array[Double](c)
    var oy = 0
    while (oy < th) {
      // this output row's span [ys, ys + ny) and its y-weights
      val y0 = oy * sy; val y1 = (oy + 1) * sy
      val ys = math.floor(y0).toInt
      val ny = math.max(0, math.min(math.ceil(y1), h).toInt - ys)
      var j = 0
      while (j < ny) {
        val yy = ys + j
        wys(j) = math.min(y1, yy + 1) - math.max(y0, yy)
        j += 1
      }
      ox = 0
      while (ox < tw) {
        val xb = xs(ox); val xn = xe(ox) - xb; val wo = wOff(ox)
        java.util.Arrays.fill(acc, 0.0)
        var area = 0.0
        j = 0
        while (j < ny) {
          val wy = wys(j)
          var p = ((ys + j) * w + xb) * c
          var k = 0
          while (k < xn) {
            val wx = wxs(wo + k)
            var ch = 0
            while (ch < c) {
              acc(ch) += u(src(p + ch)) * wy * wx
              ch += 1
            }
            area += wy * wx
            p += c
            k += 1
          }
          j += 1
        }
        val o = (oy * tw + ox) * c
        var ch = 0
        while (ch < c) {
          out(o + ch) = clampByte(acc(ch) / area)
          ch += 1
        }
        ox += 1
      }
      oy += 1
    }
    rec.copy(height = th, width = tw, data = out)
  }

  /** Per-record RNG seed: run seed + record origin through a splitmix64
    * finalizer. A plain `seed * GOLDEN ^ hash` is NOT enough: the origin
    * hash only perturbs the low 32 bits, and java.util.Random's first
    * draws come from the HIGH bits of its 48-bit state — neighboring
    * origins then share their first apply/skip decision corpus-wide
    * (observed: 16 origins, 16 near-identical first nextDouble ≈ 0.95).
    * The finalizer avalanches every input bit into every output bit. */
  private def perRecordSeed(seed: Long, origin: String): Long = {
    var z = seed * 0x9E3779B97F4A7C15L ^ origin.hashCode.toLong
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A10: seeded random flip — horizontal, vertical, or both. The seed
    * is MIXED with the record's origin so a corpus-wide augmentation run
    * picks a different (but run-deterministic and retry-stable) flip per
    * image: seeding the RNG with the bare run seed would give every
    * record in the corpus the identical flip — zero augmentation
    * diversity (reference seeds 42 => deterministic per record). */
  def flipSeeded(rec: ImageRecord, seed: Long): ImageRecord =
    new scala.util.Random(perRecordSeed(seed, rec.origin))
      .nextInt(3) match {
      case 0 => flip(rec, horizontal = true, vertical = false)
      case 1 => flip(rec, horizontal = false, vertical = true)
      case _ => flip(rec, horizontal = true, vertical = true)
    }

  def flip(rec: ImageRecord, horizontal: Boolean, vertical: Boolean): ImageRecord = {
    val (h, w, c) = (rec.height, rec.width, rec.nChannels)
    val out = new Array[Byte](rec.data.length)
    var y = 0
    while (y < h) {
      val sy = if (vertical) h - 1 - y else y
      var x = 0
      while (x < w) {
        val sx = if (horizontal) w - 1 - x else x
        System.arraycopy(rec.data, (sy * w + sx) * c, out, (y * w + x) * c, c)
        x += 1
      }
      y += 1
    }
    rec.copy(data = out)
  }

  /** A11/A15: rotation about the image center by `degrees`, bilinear
    * sampling, black fill (reference: fixed 15 deg / random uniform). */
  def rotate(rec: ImageRecord, degrees: Double): ImageRecord = {
    val (h, w, c) = (rec.height, rec.width, rec.nChannels)
    val src = rec.data
    val out = new Array[Byte](src.length)
    val rad = math.toRadians(degrees)
    val cosA = math.cos(rad); val sinA = math.sin(rad)
    val cy = (h - 1) / 2.0; val cx = (w - 1) / 2.0
    var y = 0
    while (y < h) {
      val dy = y - cy
      val sinDy = sinA * dy; val cosDy = cosA * dy
      var x = 0
      while (x < w) {
        // inverse mapping: dst -> src
        val dx = x - cx
        val sxf = cosA * dx + sinDy + cx
        val syf = -sinA * dx + cosDy + cy
        if (sxf >= 0 && sxf <= w - 1 && syf >= 0 && syf <= h - 1) {
          val x0 = sxf.toInt; val y0 = syf.toInt
          val x1 = math.min(x0 + 1, w - 1); val y1 = math.min(y0 + 1, h - 1)
          val fx = sxf - x0; val fy = syf - y0
          val gx = 1 - fx; val gy = 1 - fy
          val i00 = (y0 * w + x0) * c; val i01 = (y0 * w + x1) * c
          val i10 = (y1 * w + x0) * c; val i11 = (y1 * w + x1) * c
          val o = (y * w + x) * c
          var ch = 0
          while (ch < c) {
            val v = u(src(i00 + ch)) * gx * gy + u(src(i01 + ch)) * fx * gy +
              u(src(i10 + ch)) * gx * fy + u(src(i11 + ch)) * fx * fy
            out(o + ch) = clampByte(v)
            ch += 1
          }
        }
        x += 1
      }
      y += 1
    }
    rec.copy(data = out)
  }

  /** A12: linear color jitter v' = alpha*v + beta, saturating at [0,255]
    * (cv2.convertScaleAbs analog; reference alpha=1.2, beta=10). */
  def colorJitter(rec: ImageRecord, alpha: Double = 1.2,
      beta: Double = 10.0): ImageRecord = {
    val lut = new Array[Byte](256)
    var v = 0
    while (v < 256) {
      lut(v) = clampByte(alpha * v + beta)
      v += 1
    }
    val src = rec.data
    val out = new Array[Byte](src.length)
    var i = 0
    while (i < out.length) {
      out(i) = lut(u(src(i)))
      i += 1
    }
    rec.copy(data = out)
  }

  /** A18: multiplicative contrast about midpoint 128 + additive
    * brightness, clamped (reference semantics preserved). */
  def contrastBrightness(rec: ImageRecord, contrast: Double,
      brightness: Double): ImageRecord = {
    val out = new Array[Byte](rec.data.length)
    var i = 0
    while (i < out.length) {
      out(i) = clampByte((u(rec.data(i)) - 128.0) * contrast + 128.0 + brightness)
      i += 1
    }
    rec.copy(data = out)
  }

  /** A16: with probability `prob`, add seeded gaussian noise (sigma on the
    * 0-255 scale; reference uses N(0, 0.01) on unit-scaled tensors).
    * The seed is origin-mixed like [[flipSeeded]]: a corpus-wide map with
    * one run seed draws an independent apply-decision and noise mask per
    * image — a bare-seed RNG would stamp the IDENTICAL mask on every
    * record (zero augmentation diversity). */
  def gaussianNoise(rec: ImageRecord, seed: Long, prob: Double = 0.5,
      sigma: Double = 2.55): ImageRecord = {
    val rng = new scala.util.Random(perRecordSeed(seed, rec.origin))
    if (rng.nextDouble() >= prob) rec
    else {
      val out = new Array[Byte](rec.data.length)
      var i = 0
      while (i < out.length) {
        out(i) = clampByte(u(rec.data(i)) + rng.nextGaussian() * sigma)
        i += 1
      }
      rec.copy(data = out)
    }
  }

  /** A17: random erasing (cutout): with probability `prob` blank a random
    * rectangle of 2-40% area, aspect in [0.3, 3.3], filled with the image
    * mean color or seeded random values. */
  def randomErase(rec: ImageRecord, seed: Long, prob: Double = 0.5,
      fillMean: Boolean = true): ImageRecord = {
    // origin-mixed seed, same rationale as gaussianNoise/flipSeeded:
    // per-record rectangles, not one corpus-wide rectangle
    val rng = new scala.util.Random(perRecordSeed(seed, rec.origin))
    if (rng.nextDouble() >= prob) return rec
    val (h, w, c) = (rec.height, rec.width, rec.nChannels)
    val area = h * w
    val targetArea = (0.02 + rng.nextDouble() * 0.38) * area
    val aspect = 0.3 + rng.nextDouble() * 3.0
    val eh = math.max(1, math.min(h, math.round(math.sqrt(targetArea * aspect)).toInt))
    val ew = math.max(1, math.min(w, math.round(math.sqrt(targetArea / aspect)).toInt))
    val y0 = if (h == eh) 0 else rng.nextInt(h - eh)
    val x0 = if (w == ew) 0 else rng.nextInt(w - ew)
    val fill = new Array[Byte](c)
    if (fillMean) {
      // per-record full-image aggregation for the mean color (A17 note)
      val sums = new Array[Long](c)
      var i = 0
      while (i < rec.data.length) { sums(i % c) += u(rec.data(i)); i += 1 }
      var ch = 0
      while (ch < c) { fill(ch) = clampByte(sums(ch).toDouble / (area)); ch += 1 }
    } else {
      var ch = 0
      while (ch < c) { fill(ch) = rng.nextInt(256).toByte; ch += 1 }
    }
    val out = rec.data.clone()
    var y = y0
    while (y < y0 + eh) {
      var x = x0
      while (x < x0 + ew) {
        System.arraycopy(fill, 0, out, (y * w + x) * c, c)
        x += 1
      }
      y += 1
    }
    rec.copy(data = out)
  }

  /** A13: JPEG encode at the given quality (reference: 95). Input BGR. */
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

  /** Lossless PNG encode (unlike [[jpegEncode]]): the 8-bit RGB
    * roundtrip through ImageIO is bit-exact, so a decode of the result
    * reproduces the input pixels — what the dHash fixtures rely on to
    * exercise the REAL decode path while the oracle replays the known
    * raw pixel formula. */
  def pngEncode(rec: ImageRecord): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(toBufferedImage(rec), "png", bos)
    bos.toByteArray
  }

  def toBufferedImage(rec: ImageRecord): BufferedImage = {
    val img = new BufferedImage(rec.width, rec.height,
      BufferedImage.TYPE_INT_RGB)
    // packed 0x00RRGGBB straight into the raster (row stride = width)
    val px = img.getRaster.getDataBuffer.asInstanceOf[DataBufferInt].getData
    val (src, c) = (rec.data, rec.nChannels)
    var p = 0; var i = 0
    while (p < px.length) {
      px(p) =
        if (c >= 3) (u(src(i + 2)) << 16) | (u(src(i + 1)) << 8) | u(src(i))
        else { val v = u(src(i)); (v << 16) | (v << 8) | v }
      p += 1; i += c
    }
    img
  }

  /** A20: HWC uint8 -> CHW float tensor scaled to [0,1]. */
  def toTensorCHW(rec: ImageRecord): Array[Float] = {
    val (h, w, c) = (rec.height, rec.width, rec.nChannels)
    val out = new Array[Float](h * w * c)
    var ch = 0
    while (ch < c) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out(ch * h * w + y * w + x) = u(rec.data((y * w + x) * c + ch)) / 255.0f
          x += 1
        }
        y += 1
      }
      ch += 1
    }
    out
  }

  /** A22: per-channel (x - mean) / std on a CHW tensor (ImageNet
    * constants by default; reference normalize.rs:8-15). */
  val imagenetMean: Array[Float] = Array(0.485f, 0.456f, 0.406f)
  val imagenetStd: Array[Float] = Array(0.229f, 0.224f, 0.225f)

  def normalizeCHW(t: Array[Float], channels: Int,
      mean: Array[Float] = imagenetMean,
      std: Array[Float] = imagenetStd): Array[Float] = {
    val plane = t.length / channels
    val out = new Array[Float](t.length)
    var ch = 0
    while (ch < channels) {
      var i = 0
      while (i < plane) {
        out(ch * plane + i) = (t(ch * plane + i) - mean(ch)) / std(ch)
        i += 1
      }
      ch += 1
    }
    out
  }
}
