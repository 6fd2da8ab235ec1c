package graft.perfbench

import java.awt.image.{BufferedImage, DataBufferByte}
import java.io.File
import java.nio.file.{Files, Path}
import javax.imageio.ImageIO

/** Seeded generator of the `image_etl` input: a labeled folder
  * `root/<class>/<file>` mixing PNG and JPEG, 3-channel, grayscale and
  * alpha images, sides both below and above 224, and a small share of
  * corrupt files (random bytes behind an image extension).
  *
  * The mix is stratified: the shares are exact and every side length on
  * an even grid over [MinSide, MaxSide] is used once per axis. Which
  * file gets which property is a fixed layout; the seed draws the
  * pixels and the corrupt bytes. The image source packs files into
  * tasks by size, so a seed-drawn layout changed the job's task balance
  * and its wall time by up to 20 % from seed to seed. Every file is a
  * pure function of (seed, its spec), so generation runs in parallel
  * and the same seed gives the same corpus byte for byte.
  */
object ImageCorpus {
  val Classes = 8
  val CorruptShare = 0.03
  val MinSide = 48
  val MaxSide = 448

  final case class Spec(rel: String, format: String, channels: Int,
      width: Int, height: Int, corrupt: Boolean)

  /** 60 % 3-channel, 25 % grayscale, 15 % alpha; alpha images are PNG
    * (JPEG carries no alpha), the others half PNG, half JPEG. */
  def specs(n: Int): IndexedSeq[Spec] = {
    val r = new scala.util.Random(n)
    def sides() = r.shuffle((0 until n).map(j =>
      MinSide + j * (MaxSide - MinSide) / math.max(n - 1, 1)))
    val (ws, hs) = (sides(), sides())
    val n3 = math.round(n * 0.6).toInt
    val n1 = math.round(n * 0.25).toInt
    val channels = r.shuffle(
      Seq.fill(n3)(3) ++ Seq.fill(n1)(1) ++ Seq.fill(n - n3 - n1)(4)).toIndexedSeq
    val jpeg = r.shuffle((0 until n).filter(channels(_) != 4))
      .zipWithIndex.collect { case (i, k) if k % 2 == 0 => i }.toSet
    val corrupt = r.shuffle((0 until n).toVector)
      .take(math.round(n * CorruptShare).toInt).toSet
    (0 until n).map { i =>
      val format = if (jpeg(i)) "jpg" else "png"
      Spec(f"class_${i % Classes}%02d/img_$i%05d.$format", format, channels(i),
        ws(i), hs(i), corrupt(i))
    }
  }

  /** Writes `n` files under `root` (which must not exist yet) and
    * returns their specs in index order. */
  def generate(root: Path, n: Int, seed: Long): Seq[Spec] = {
    val specs = this.specs(n)
    (0 until Classes).foreach(c =>
      Files.createDirectories(root.resolve(f"class_$c%02d")))
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      write(root.resolve(specs(i).rel).toFile, specs(i), ~(seed * 0x9E3779B97F4A7C15L + i))
    }
    specs
  }

  private def write(f: File, s: Spec, seed: Long): Unit = {
    val r = new java.util.SplittableRandom(seed)
    if (s.corrupt) {
      val junk = new Array[Byte](512 + r.nextInt(4096))
      r.nextBytes(junk)
      Files.write(f.toPath, junk)
    } else {
      val tpe = s.channels match {
        case 1 => BufferedImage.TYPE_BYTE_GRAY
        case 3 => BufferedImage.TYPE_3BYTE_BGR
        case _ => BufferedImage.TYPE_4BYTE_ABGR
      }
      val img = new BufferedImage(s.width, s.height, tpe)
      val px = img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
      // smooth gradients plus noise and a few flat blocks: compressible
      // like a photo, not like white noise or a flat fill
      val c = s.channels
      val (a, b) = (1 + r.nextInt(5), 1 + r.nextInt(5))
      val blocks = Array.fill(4)((r.nextInt(s.width), r.nextInt(s.height),
        8 + r.nextInt(64), r.nextInt(256)))
      var y = 0
      while (y < s.height) {
        var x = 0
        while (x < s.width) {
          val block = blocks.find { case (bx, by, bs, _) =>
            x >= bx && x < bx + bs && y >= by && y < by + bs }
          var ch = 0
          while (ch < c) {
            val v = block.fold((a * x + b * y + 40 * ch + r.nextInt(24)) & 0xff)(_._4)
            px((y * s.width + x) * c + ch) =
              (if (c == 4 && ch == 0) 255 - (x & 0x3f) else v).toByte
            ch += 1
          }
          x += 1
        }
        y += 1
      }
      if (!ImageIO.write(img, s.format, f))
        throw new IllegalStateException(s"no ImageIO writer for ${s.rel}")
    }
  }

  /** Measured share of each input property, for the run record. */
  def mix(specs: Seq[Spec]): Map[String, Any] = {
    val n = specs.size.toDouble
    def share(p: Spec => Boolean): Double = specs.count(p) / n
    val ok = specs.filterNot(_.corrupt)
    val m = ok.size.toDouble
    def okShare(p: Spec => Boolean): Double = if (m == 0) 0.0 else ok.count(p) / m
    Map("files" -> specs.size, "decodable" -> ok.size,
      "corrupt_share" -> share(_.corrupt),
      "png_share" -> share(_.format == "png"),
      "jpeg_share" -> share(_.format == "jpg"),
      "channels3_share" -> okShare(_.channels == 3),
      "gray_share" -> okShare(_.channels == 1),
      "alpha_share" -> okShare(_.channels == 4),
      "both_sides_below_224_share" -> okShare(s => s.width < 224 && s.height < 224),
      "both_sides_above_224_share" -> okShare(s => s.width > 224 && s.height > 224),
      "mixed_sides_share" -> okShare(s =>
        (s.width < 224) != (s.height < 224) || s.width == 224 || s.height == 224),
      "mean_pixels" -> (if (m == 0) 0.0 else ok.map(s => s.width.toLong * s.height).sum / m))
  }
}
