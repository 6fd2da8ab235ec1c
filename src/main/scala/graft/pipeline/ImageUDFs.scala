package graft.pipeline

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graftshim.GraftSqlShim

/** The image scalar ops as SQL functions (the "UDF surface" of
  * SURVEY.md §2-B: the image ops are deliberately the only UDF-shaped
  * functions in the engine; relational queries stay on codegen'd
  * built-ins), listed in graft.functions.GraftFunctions.all, which
  * graft.GraftExtensions injects. All take (data BINARY, h INT, w INT,
  * c INT) plus op parameters and return BINARY, so they compose in SQL:
  *
  *   SELECT img_jpeg(img_jitter(img_resize(data, h, w, c, 224, 224),
  *                              224, 224, c, 1.2, 10.0),
  *                   224, 224, c, 0.95) FROM images
  */
object ImageUDFs {

  /** name -> (implementing class, builder). */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    "img_resize" -> udf(
      (d: Array[Byte], h: Int, w: Int, c: Int, th: Int, tw: Int) =>
        ImageOps.resizeArea(ImageRecord("udf", h, w, c, 16, d), tw, th).data),
    "img_flip" -> udf(
      (d: Array[Byte], h: Int, w: Int, c: Int, hor: Boolean, ver: Boolean) =>
        ImageOps.flip(ImageRecord("udf", h, w, c, 16, d), hor, ver).data),
    "img_rotate" -> udf(
      (d: Array[Byte], h: Int, w: Int, c: Int, deg: Double) =>
        ImageOps.rotate(ImageRecord("udf", h, w, c, 16, d), deg).data),
    "img_jitter" -> udf(
      (d: Array[Byte], h: Int, w: Int, c: Int, alpha: Double, beta: Double) =>
        ImageOps.colorJitter(ImageRecord("udf", h, w, c, 16, d), alpha, beta).data),
    "img_jpeg" -> udf(
      (d: Array[Byte], h: Int, w: Int, c: Int, q: Double) =>
        ImageOps.jpegEncode(ImageRecord("udf", h, w, c, 16, d), q.toFloat)),
    "img_tensor_chw" -> udf(
      (d: Array[Byte], h: Int, w: Int, c: Int) =>
        ImageOps.toTensorCHW(ImageRecord("udf", h, w, c, 16, d)))
  ).map { case (name, f) =>
    (name, ImageOps.getClass, GraftSqlShim.udfBuilder(name, f))
  }
}
