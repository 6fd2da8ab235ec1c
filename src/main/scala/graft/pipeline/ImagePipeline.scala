package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Dataset-level pipeline operators giving the reference's end-to-end
  * image ETL (SURVEY.md §2-A A1/A5/A14/A23-A33) an idiomatic Spark shape:
  * binaryFile scan -> typed decode/augment maps -> parquet-of-(path,bytes)
  * sink, plus seeded shuffle / positional split / batching / metrics.
  *
  * Design: every stage is a Dataset transform (no side-effecting
  * foreachPartition like the reference's data_augment.py:129-136 — the
  * sink is a committed parquet write, so partial failures roll back).
  * Partition parallelism carries the per-record CPU work; nothing
  * collects to the driver.
  */
object ImagePipeline {

  /** A1 exact: one row per image file with Spark's image struct
    * (origin, height, width, nChannels, mode, data[BGR]), undecodable
    * files dropped, recursive lookup — the reference's
    * `format("image").option("dropInvalid", true)` read
    * (data_augment.py:115-120). The scan is `ImageSource`, which decodes
    * pixels in bulk; `UtilOpsSpec` pins its rows to Spark's own image
    * source field by field. */
  def readImageDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.format(classOf[ImageSource].getName)
      .option("recursiveFileLookup", "true")
      .load(dir)

  /** Flatten the image-source struct into the typed record used by the
    * scalar ops (field names/layout match Spark's ImageSchema). */
  def toImageRecords(df: DataFrame): Dataset[ImageRecord] = {
    import df.sparkSession.implicits._
    df.select(col("image.origin"), col("image.height"), col("image.width"),
      col("image.nChannels"), col("image.mode"), col("image.data"))
      .as[ImageRecord]
  }

  /** A1/A5: read a directory tree of images as (path, label, bytes):
    * binaryFile source, recursive; label = parent directory name. */
  def readImageFolder(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.{jpg,jpeg,png,bmp,gif}")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"),
        regexp_extract(col("path"), "/([^/]+)/[^/]+$", 1).as("label"),
        col("content"))

  /** A14: path relative to `inputDir`, mirrored under `outputDir`
    * (strips a leading file: scheme like the reference does). */
  def relativePathCol(inputDir: String, outputDir: String) =
    concat(lit(outputDir), lit("/"),
      regexp_replace(regexp_replace(col("path"), "^file:", ""),
        "^" + java.util.regex.Pattern.quote(inputDir) + "/?", ""))

  /** The reference's augment chain (decode -> resize -> seeded flip ->
    * rotate 15 deg -> color jitter -> jpeg encode), as one typed map.
    * Per-record failures are dropped, mirroring dropInvalid + the
    * per-record try/except of the reference (data_augment.py:74-75). */
  def augmentChain(ds: Dataset[ImageRecord], tw: Int, th: Int,
      seed: Long): Dataset[(String, Array[Byte])] = {
    import ds.sparkSession.implicits._
    ds.flatMap { rec =>
      try {
        ImageOps.decode(rec).map { img =>
          val resized = ImageOps.resizeArea(img, tw, th)
          val flipped = ImageOps.flipSeeded(resized, seed)
          val rotated = ImageOps.rotate(flipped, 15.0)
          val jittered = ImageOps.colorJitter(rotated)
          (rec.origin, ImageOps.jpegEncode(jittered))
        }
      } catch { case NonFatal(_) => None }
    }
  }

  /** A30 replacement: committed columnar sink of (path, bytes) instead of
    * a side-effecting per-record file write. */
  def writeImageParquet(ds: Dataset[(String, Array[Byte])], out: String): Unit =
    ds.toDF("path", "bytes").write.mode("overwrite").parquet(out)

  /** A25: deterministic seeded shuffle — a stable permutation by seeded
    * per-row hash (no driver-side materialization). */
  def seededShuffle(df: DataFrame, keyCol: String, seed: Long): DataFrame =
    df.orderBy(xxhash64(lit(seed), col(keyCol)), col(keyCol))

  /** A26: positional train/val split after [[seededShuffle]] — the
    * reference splits by position (not Bernoulli), clamping at least one
    * row per side. Returns (train, val).
    *
    * Positions come from zipWithIndex over the range-partitioned sort
    * (per-partition counts + offsets), NOT from an unpartitioned
    * row_number window: `Window.orderBy` without partitionBy funnels the
    * whole dataset through ONE task, which is a scale killer. For large
    * unlabeled corpora prefer the q54-style content-hash split (no global
    * order at all); positional semantics are for reference-parity on
    * labeled sets. */
  def positionalSplit(df: DataFrame, keyCol: String, seed: Long,
      trainFrac: Double = 0.8): (DataFrame, DataFrame) = {
    val n = df.count()
    val cut0 = math.ceil(trainFrac * n).toLong
    val cut = math.max(1L, math.min(n - 1, cut0)) // >= 1 per side
    val sorted = seededShuffle(df, keyCol, seed)
    val posSchema = sorted.schema
      .add("__pos", org.apache.spark.sql.types.LongType, nullable = false)
    // Materialize.truncate: the train and val filters are two separate
    // jobs over this frame — without the barrier each would re-run the
    // sort + zipWithIndex, and rows TIED on the sort key (duplicate
    // keyCol values) could receive different positions per job, landing
    // in both splits or neither. One materialization makes the positions
    // a single consistent assignment.
    val pos = graft.operators.Materialize.truncate(
      df.sparkSession.createDataFrame(
        sorted.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
        }, posSchema))
    (pos.filter(col("__pos") < cut).drop("__pos"),
      pos.filter(col("__pos") >= cut).drop("__pos"))
  }

  /** A27: partition-local batching — groups of `batchSize` records per
    * partition (the Spark analog of the reference's DataLoader batches;
    * batch boundary = partition boundary, so no shuffle). */
  def batched[T](ds: Dataset[T], batchSize: Int)(
      implicit enc: org.apache.spark.sql.Encoder[Seq[T]]): Dataset[Seq[T]] =
    ds.mapPartitions(_.grouped(batchSize).map(_.toSeq))

  /** A31: accuracy = mean(argmax(scores) == label) * 100 over a frame of
    * (scores ARRAY<FLOAT/DOUBLE>, label INT). */
  def accuracy(df: DataFrame, scoresCol: String, labelCol: String): DataFrame =
    df.agg((avg(
      (expr(s"array_position($scoresCol, array_max($scoresCol))") - 1 ===
        col(labelCol)).cast("double")) * 100).as("accuracy_pct"))

  /** A33: argmax inference — predicted class = 0-based index of the max
    * score (the -1 missing-label sentinel of A21 applies to labels). */
  def argmaxPrediction(df: DataFrame, scoresCol: String): DataFrame =
    df.withColumn("prediction",
      (expr(s"array_position($scoresCol, array_max($scoresCol))") - 1)
        .cast("int"))
}
