package graft

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, DataBuffer, IndexColorModel}
import java.io.ByteArrayOutputStream
import javax.imageio.{ImageIO, ImageTypeSpecifier}

/** Encoded test images, one per pixel layout the JDK's readers hand back:
  * 8-bit BGR (PNG, BMP, JPEG), ABGR (PNG), 8- and 16-bit gray (PNG,
  * JPEG), gray + alpha, 16-bit RGB and palette (PNG, GIF, GIF with a
  * transparent index). Pixels are seeded noise, so every byte of a decode
  * shows. */
object ImageLayouts {

  /** (file name, encoded bytes); names are unique, extensions match. */
  def encoded(seed: Long, w: Int = 7, h: Int = 5): Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(seed)
    def noise(img: BufferedImage): BufferedImage = {
      val r = img.getRaster
      val bits = r.getSampleModel.getSampleSize
      for (y <- 0 until h; x <- 0 until w; b <- 0 until r.getNumBands)
        r.setSample(x, y, b, rnd.nextInt(1 << bits(b)))
      img
    }
    def typed(t: Int) = noise(new BufferedImage(w, h, t))
    def interleaved(cs: Int, offs: Array[Int], dataType: Int, alpha: Boolean) =
      noise(ImageTypeSpecifier.createInterleaved(ColorSpace.getInstance(cs),
        offs, dataType, alpha, false).createBufferedImage(w, h))
    val palette = Array.tabulate(3)(_ => Array.fill(256)(rnd.nextInt(256).toByte))
    val transparentGif = noise(new BufferedImage(w, h,
      BufferedImage.TYPE_BYTE_INDEXED,
      new IndexColorModel(8, 256, palette(0), palette(1), palette(2), 3)))
    Seq(
      "rgb.png" -> encode(typed(BufferedImage.TYPE_3BYTE_BGR), "png"),
      "argb.png" -> encode(typed(BufferedImage.TYPE_INT_ARGB), "png"),
      "gray8.png" -> encode(typed(BufferedImage.TYPE_BYTE_GRAY), "png"),
      "gray16.png" -> encode(typed(BufferedImage.TYPE_USHORT_GRAY), "png"),
      "gray_alpha.png" -> encode(interleaved(ColorSpace.CS_GRAY, Array(0, 1),
        DataBuffer.TYPE_BYTE, alpha = true), "png"),
      "rgb16.png" -> encode(interleaved(ColorSpace.CS_sRGB, Array(0, 1, 2),
        DataBuffer.TYPE_USHORT, alpha = false), "png"),
      "indexed.png" -> encode(typed(BufferedImage.TYPE_BYTE_INDEXED), "png"),
      "indexed.gif" -> encode(typed(BufferedImage.TYPE_BYTE_INDEXED), "gif"),
      "transparent.gif" -> encode(transparentGif, "gif"),
      "rgb.bmp" -> encode(typed(BufferedImage.TYPE_3BYTE_BGR), "bmp"),
      "rgb.jpg" -> encode(typed(BufferedImage.TYPE_3BYTE_BGR), "jpg"),
      "gray.jpg" -> encode(typed(BufferedImage.TYPE_BYTE_GRAY), "jpg"))
  }

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, format, bos),
      s"no $format writer for image type ${img.getType}")
    bos.toByteArray
  }
}
