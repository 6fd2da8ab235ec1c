package graft.pipeline

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** REAL pure-JVM video frame sampling for AVI/MJPEG clips.
  *
  * Motion-JPEG inside a RIFF AVI container is the one general-purpose
  * video format this offline JVM can decode end-to-end: the container
  * is a plain chunk walk (no codec), and every frame is an ordinary
  * baseline JPEG the JDK's ImageIO reads natively. Together with
  * [[GifFrames]] this gives [[MediaCodec.Jvm]] two genuinely decoded
  * video paths; inter-frame codecs (h264/vp9/av1 in mp4/webm/mkv)
  * remain undecodable here and their rows are dropped. The reference's
  * media surface is image-only (`reference/src/piper/spark/
  * data_augment.py:42-81`), so this extends the self-imposed
  * multimodal seam, not reference parity.
  *
  * Demuxing walks the RIFF tree: `LIST hdrl` holds the main header
  * (`avih`, micro-seconds per frame) and one `LIST strl` per stream
  * whose `strh` declares its type and rate; `LIST movi` holds the
  * frame chunks `##dc`/`##db` (## = zero-based stream number),
  * possibly nested inside `rec ` groups. The frame clock comes from
  * the video stream's `strh` dwScale/dwRate pair, falling back to
  * `avih` when absent/degenerate. MJPEG is intra-only, so frame k's
  * display interval is simply [k·dur, (k+1)·dur) — sampling walks
  * that timeline at `everyMs` steps exactly like the GIF path and
  * re-encodes each sampled frame as PNG bytes (lossless, so tests pin
  * pixels of what was DECODED, independent of JPEG's lossy encode).
  *
  * Caveat kept honest: some hardware MJPEG writers omit the Huffman
  * tables from individual frames (relying on the spec's default
  * tables); ImageIO rejects such frames, they are skipped, and a clip
  * with zero decodable frames returns None (drop-undecodable policy).
  * Everything is per-clip, driver-free and deterministic — identical
  * bytes in, identical bytes out, so retried executor tasks agree.
  */
object AviMjpeg {

  // in-memory streams only — never the per-image temp-file cache
  ImageIoTuning.ensure()

  private def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  private def isAvi(b: Array[Byte]): Boolean =
    b.length >= 12 && fourcc(b, 0) == "RIFF" && fourcc(b, 8) == "AVI "

  /** Parse state accumulated over one chunk walk. */
  private final class Demux {
    var microSecPerFrame = 0L // avih fallback clock
    var vidsStream = -1 // zero-based index of the first video stream
    var vidsScale = 0L
    var vidsRate = 0L
    private var strlSeen = 0
    val frames = Vector.newBuilder[(Int, Int)] // (offset, size) into bytes

    def onChunk(b: Array[Byte], id: String, off: Int, size: Int): Unit =
      id match {
        case "avih" if size >= 4 =>
          microSecPerFrame = u32(b, off)
        case "strh" if size >= 28 =>
          if (fourcc(b, off) == "vids" && vidsStream < 0) {
            vidsStream = strlSeen
            vidsScale = u32(b, off + 20)
            vidsRate = u32(b, off + 24)
          }
          strlSeen += 1
        case _ =>
          if (vidsStream >= 0 && id.length == 4 &&
              id.startsWith(f"${vidsStream}%02d") &&
              (id.endsWith("dc") || id.endsWith("db")) && size > 0)
            frames += ((off, size))
      }

    /** Walk the children of [start, end): chunks are 8-byte headers +
      * even-padded payload; RIFF/LIST chunks recurse past their extra
      * 4-byte list-type. Malformed sizes terminate the walk instead of
      * throwing — whatever parsed so far stands. */
    def walk(b: Array[Byte], start: Int, end: Int): Unit = {
      var p = start
      while (p + 8 <= end) {
        val id = fourcc(b, p)
        val size = u32(b, p + 4)
        if (size < 0 || size > end - p - 8) return
        val sz = size.toInt
        if (id == "RIFF" || id == "LIST") {
          if (sz >= 4) walk(b, p + 12, p + 8 + sz)
        } else onChunk(b, id, p + 8, sz)
        p += 8 + sz + (sz & 1)
      }
    }

    /** Per-frame display duration in ms; None when no clock at all. */
    def frameDurMs: Option[Long] = {
      val fromStrh =
        if (vidsRate > 0 && vidsScale > 0)
          Some(math.max(1L, vidsScale * 1000L / vidsRate))
        else None
      fromStrh.orElse(
        if (microSecPerFrame > 0) Some(math.max(1L, microSecPerFrame / 1000L))
        else None)
    }
  }

  /** Demux + JPEG-decode + sample the frame timeline at 0, everyMs,
    * 2·everyMs, … (up to `maxFrames` samples, strictly inside the
    * clip's duration), returning (tsMs, pngBytes) per sample. None =
    * not an AVI, no video stream, or no decodable MJPEG frame. */
  def sample(bytes: Array[Byte], everyMs: Long,
      maxFrames: Int): Option[Seq[(Long, Array[Byte])]] = {
    if (!isAvi(bytes)) return None
    try {
      val d = new Demux
      d.walk(bytes, 12, bytes.length)
      val raw = d.frames.result()
      val dur = d.frameDurMs
      if (raw.isEmpty || dur.isEmpty) return None
      val durMs = dur.get
      // decode lazily + memoize: sampling at a coarse everyMs must not
      // pay for JPEG-decoding the frames it skips over
      val decoded = new scala.collection.mutable.HashMap[Int, Option[
        java.awt.image.BufferedImage]]()
      def frameAt(i: Int) = decoded.getOrElseUpdate(i, {
        val (off, size) = raw(i)
        Option(ImageIO.read(
          new ByteArrayInputStream(bytes.slice(off, off + size))))
      })
      if (frameAt(0).isEmpty && raw.indices.forall(frameAt(_).isEmpty))
        return None
      val total = raw.length * durMs
      val step = math.max(1L, everyMs)
      Some(Iterator.from(0).map(_ * step)
        .takeWhile(t => t == 0L || t < total)
        .take(math.max(0, maxFrames))
        .flatMap { t =>
          // undecodable frames are skipped, not substituted — a sample
          // landing on one produces no row (drop-undecodable policy)
          frameAt(math.min((t / durMs).toInt, raw.length - 1)).map { img =>
            val baos = new ByteArrayOutputStream()
            ImageIO.write(img, "png", baos)
            (t, baos.toByteArray)
          }
        }
        .toVector)
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }
}
