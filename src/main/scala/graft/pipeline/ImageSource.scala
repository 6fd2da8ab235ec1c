package graft.pipeline

import java.io.IOException
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.ml.image.ImageSchema
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Read-only image scan: Spark's `image` source (`ImageFileFormat`) with
  * `dropInvalid` on, in every respect but the pixel decode, which is
  * `ImageOps.decodeImage` (same rows, pixels read in bulk instead of one
  * `getRGB` and one `java.awt.Color` per pixel).
  *
  *  - schema `ImageSchema.imageSchema`; `origin` is the file's
  *    `PartitionedFile.urlEncodedPath` (`file:///…`, percent-encoded),
  *    which also seeds `ImageOps.flipSeeded`;
  *  - bytes come through the Hadoop `FileSystem`, and the stream is
  *    closed whatever happens;
  *  - undecodable files are dropped (the only mode, so no options);
  *  - an empty required schema (`count()`) still decodes, so it counts
  *    the decodable files;
  *  - files are not split; writing is unsupported.
  *
  * `UtilOpsSpec` compares it against `spark.read.format("image")` field
  * by field. */
class ImageSource extends FileFormat with Serializable {

  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = Some(ImageSchema.imageSchema)

  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException(
      "Write is not supported for the image source")

  override protected def buildReader(spark: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    assert(requiredSchema.length <= 1,
      "Image data source only produces a single data column named \"image\".")
    // a broadcast variable, not a join hint: each executor deserializes
    // the Hadoop conf once, not once per task
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val projectImage = requiredSchema.nonEmpty
    (file: PartitionedFile) => {
      val origin = file.urlEncodedPath
      val path = file.toPath
      val stream = path.getFileSystem(conf.value.value).open(path)
      val bytes = try stream.readAllBytes() finally {
        // like Spark's reader: a failing close does not fail the read
        try stream.close() catch { case _: IOException => }
      }
      val decoded = ImageOps.decodeImage(origin, bytes).iterator
      if (!projectImage) decoded.map(_ => InternalRow.empty)
      else decoded.map { r =>
        InternalRow(InternalRow(UTF8String.fromString(r.origin), r.height,
          r.width, r.nChannels, r.mode, r.data))
      }
    }
  }

  override def toString: String = "ImageSource"

  // Stateless, so all instances are equal, as with Spark's own formats:
  // two reads of the same files give equal plans (cache and reuse match).
  override def hashCode(): Int = getClass.hashCode()

  override def equals(other: Any): Boolean = other.isInstanceOf[ImageSource]
}
