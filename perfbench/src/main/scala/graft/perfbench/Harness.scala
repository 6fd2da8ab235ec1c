package graft.perfbench

import java.io.ByteArrayInputStream
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import javax.imageio.ImageIO
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.{SparkEntry, Tables}
import graft.operators.Materialize
import graft.pipeline.{ImageOps, ImagePipeline}

/** Runs one benchmark workload in this JVM and writes its raw record
  * (JSON) to `--out`. `perfbench/run.py` launches it, turns the record
  * into metrics and checks the outputs; see perfbench/README.md.
  *
  * Shape of a run, one client in a closed loop (the next operation
  * starts when the previous one returns):
  *  1. inputs: the `image_etl` corpus is generated from the seed
  *     (untimed);
  *  2. set-up: session creation plus one cold pass. The cold pass is
  *     also the check pass: key results are collected and hashed in the
  *     canonical form of `graft.Verify.canon`, and the image output is
  *     read back and decoded (hashing and read-back are untimed);
  *  3. two settle passes, then measured warm passes until `--seconds`
  *     have elapsed (at least three; with `--trace 1` at least four,
  *     untraced and traced in ABBA order, so the tracing overhead is
  *     measured in the same run). Keys run through the noop sink; no
  *     `System.gc()` is forced between them.
  */
object Harness {
  final case class Conf(workload: String, keys: Seq[String], images: Int,
      dataDir: String, work: Path, seconds: Double, seed: Long,
      trace: Boolean, cores: Int, out: Path)

  /** A key named `<key>@reliable` runs with the session's durable
    * checkpoints switched on (`spark.graft.reliableCheckpoints`) for the
    * duration of that one operation. */
  val ReliableSuffix = "@reliable"

  val SettlePasses = 2

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(a("workload"),
      a.getOrElse("keys", "").split(",").toSeq.filter(_.nonEmpty),
      a.getOrElse("images", "0").toInt, a("data"), Paths.get(a("work")),
      a("seconds").toDouble, a("seed").toLong, a("trace") == "1",
      a("cores").toInt, Paths.get(a("out")))
    val record = run(conf)
    Files.writeString(conf.out, json.writeValueAsString(record))
  }

  def run(c: Conf): Map[String, Any] = {
    val image = c.images > 0
    val rng = new scala.util.Random(c.seed)
    def order(): Seq[String] = rng.shuffle(c.keys)

    val corpus = c.work.resolve("corpus")
    val g0 = Clock.now()
    val specs =
      if (image) { deleteTree(corpus); ImageCorpus.generate(corpus, c.images, c.seed) }
      else Nil
    val expected = specs.filterNot(_.corrupt).map(_.rel).toSet
    val inputsMs = Clock.now() - g0

    val t0 = Clock.now()
    val spark = session(c)
    val sessionMs = Clock.now() - t0

    // cold pass = check pass
    val c0 = Clock.now()
    val (coldOps, check) =
      if (image) {
        val out = c.work.resolve("out-cold")
        val op = imagePass(spark, corpus, out, c.seed)
        val chk = if (op("error") == null) checkImages(spark, out, corpus, expected)
          else Map("missing" -> expected.size, "bad" -> 0, "unexpected" -> 0)
        deleteTree(out)
        (Seq(op), chk)
      } else {
        val ops = order().map(k => withMode(spark, k)(checkKey(spark, _, c.dataDir)))
        (ops.map(_ - "rows" - "cols"),
          ops.map(o => o("key") -> Map("rows" -> o("rows"), "cols" -> o("cols"))).toMap)
      }
    val coldMs = coldOps.map(o => o("end").asInstanceOf[Double] - o("start").asInstanceOf[Double]).sum
    val checkMs = Clock.now() - c0 - coldMs

    // warm passes
    val rec = new Recorder
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traces = mutable.ArrayBuffer.empty[Map[String, Any]]
    // the first passes settle: after the cold pass the JIT keeps
    // compiling for two more passes of the loop-heavy keys, which run
    // 20-40 % slow meanwhile; they are recorded, not measured
    val minPasses = SettlePasses + (if (c.trace) 4 else 3)
    var m0 = Clock.now()
    var i = 0
    while (i < minPasses || Clock.now() - m0 < c.seconds * 1000) {
      // then untraced, traced, traced, untraced, ...: linear warm-up
      // drift cancels out of the traced/untraced comparison
      val k = i - SettlePasses
      val traced = c.trace && (k % 4 == 1 || k % 4 == 2)
      if (traced) {
        rec.clear()
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec)
      }
      val ckpt0 = dirBytes(c.work.resolve("checkpoints"))
      val cg0 = codegen()
      val start = Clock.now()
      val probes = mutable.ArrayBuffer.empty[Map[String, Any]]
      val ops =
        if (image) {
          val out = c.work.resolve(s"out-$i")
          val op = imagePass(spark, corpus, out, c.seed)
          val rows = if (op("error") == null) spark.read.parquet(out.toString).count() else 0L
          deleteTree(out)
          Seq(op + ("rows" -> rows))
        } else order().map { k =>
          val q0 = rec.queryCount
          val op = withMode(spark, k)(keyPass(spark, _, c.dataDir, traced))
          if (traced) {
            org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
            val touched = op("tables").asInstanceOf[Set[String]] ++ rec.tablesFrom(q0)
            touched.toSeq.sorted.foreach(t => probes += tablesProbe(spark, rec, k, t, c.dataDir))
          }
          op - "tables"
        }
      val end = Clock.now()
      val cg1 = codegen()
      passes += Map("pass" -> i, "settle" -> (i < SettlePasses), "traced" -> traced,
        "start" -> start, "end" -> end,
        "ops" -> ops, "live_rdds" -> spark.sparkContext.getPersistentRDDs.size,
        "checkpoint_bytes" -> (dirBytes(c.work.resolve("checkpoints")) - ckpt0),
        "codegen_compiles" -> (cg1._1 - cg0._1), "codegen_ms" -> (cg1._2 - cg0._2))
      if (traced) {
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(rec)
        spark.listenerManager.unregister(rec)
        traces += (rec.snapshot() ++ Map("pass" -> i, "tables_probes" -> probes.toSeq))
      }
      if (i == SettlePasses - 1) m0 = Clock.now()
      i += 1
    }

    val pipeline = if (image && c.trace) pipelineTimings(corpus, specs, c.seed) else Map.empty
    spark.stop()
    Map("workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
      "env" -> env(c), "corpus" -> (if (image) ImageCorpus.mix(specs) else null),
      "setup" -> Map("session_ms" -> sessionMs, "cold_pass_ms" -> coldMs,
        "ops" -> coldOps, "inputs_ms" -> inputsMs, "check_ms" -> checkMs),
      "check" -> check, "passes" -> passes.toSeq, "traces" -> traces.toSeq,
      "pipeline" -> pipeline, "peak_rss_kb" -> peakRssKb())
  }

  private def session(c: Conf): SparkSession = {
    val b = graft.GraftSession.builder(s"local[${c.cores}]", c.cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.work.resolve("spark-local").toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(c.work.resolve("checkpoints").toString)
    spark
  }

  /** Runs `f` on the plain key name, in reliable-checkpoint mode for a
    * `<key>@reliable` operation; the result carries the operation name. */
  private def withMode(spark: SparkSession, op: String)(
      f: String => Map[String, Any]): Map[String, Any] = {
    val reliable = op.endsWith(ReliableSuffix)
    if (reliable) spark.conf.set(Materialize.ReliableKey, "true")
    try f(op.stripSuffix(ReliableSuffix)) + ("key" -> op)
    finally if (reliable) spark.conf.unset(Materialize.ReliableKey)
  }

  private def err(t: Throwable): String = s"${t.getClass.getName}: ${t.getMessage}"

  /** One key through build → collect; the hashing is untimed. */
  private def checkKey(spark: SparkSession, key: String, dir: String): Map[String, Any] = {
    val s = Clock.now()
    var b: Option[Double] = None
    try {
      val df = SparkEntry.queries(key)(spark, dir)
      b = Some(Clock.now())
      val rows = df.collect()
      val e = Clock.now()
      Map("key" -> key, "start" -> s, "build_end" -> b, "end" -> e, "error" -> null,
        "rows" -> rows.length, "cols" -> columnHashes(df.columns.toSeq, rows))
    } catch { case t: Throwable =>
      Map("key" -> key, "start" -> s, "build_end" -> b, "end" -> Clock.now(),
        "error" -> err(t), "rows" -> null, "cols" -> null)
    }
  }

  /** Column name → md5 of its NUL-joined canonical values in row order
    * (the per-column hash `scripts/check.py` computes from the oracle). */
  private def columnHashes(cols: Seq[String], rows: Array[Row]): Map[String, String] =
    cols.indices.map { i =>
      val md = MessageDigest.getInstance("MD5")
      rows.foreach { r =>
        md.update(graft.Verify.canon(r.get(i)).getBytes("UTF-8"))
        md.update(0.toByte)
      }
      cols(i) -> md.digest().map(x => f"$x%02x").mkString
    }.toMap

  /** One key through build → noop sink. */
  private def keyPass(spark: SparkSession, key: String, dir: String,
      traced: Boolean): Map[String, Any] = {
    val s = Clock.now()
    var b: Option[Double] = None
    var tables = Set.empty[String]
    val error = try {
      val df = SparkEntry.queries(key)(spark, dir)
      b = Some(Clock.now())
      df.write.mode("overwrite").format("noop").save()
      if (traced) tables = Recorder.tablesIn(df.queryExecution.analyzed)
      null
    } catch { case t: Throwable => err(t) }
    Map("key" -> key, "start" -> s, "build_end" -> b, "end" -> Clock.now(),
      "error" -> error, "tables" -> tables)
  }

  /** The reference job: image folder → decode/augment → parquet. */
  private def imagePass(spark: SparkSession, corpus: Path, out: Path,
      seed: Long): Map[String, Any] = {
    val s = Clock.now()
    var b: Option[Double] = None
    val error = try {
      val ds = ImagePipeline.augmentChain(ImagePipeline.toImageRecords(
        ImagePipeline.readImageDir(spark, corpus.toString)), 224, 224, seed)
      b = Some(Clock.now())
      ImagePipeline.writeImageParquet(ds, out.toString)
      null
    } catch { case t: Throwable => err(t) }
    Map("key" -> "image_etl", "start" -> s, "build_end" -> b, "end" -> Clock.now(),
      "error" -> error)
  }

  /** Reads the written parquet back: one row per decodable input file,
    * every payload a 224×224 JPEG. */
  private def checkImages(spark: SparkSession, out: Path, corpus: Path,
      expected: Set[String]): Map[String, Any] = {
    val root = corpus.toAbsolutePath.toString + "/"
    val rows = spark.read.parquet(out.toString).collect()
    val got = rows.map { r =>
      val origin = r.getString(0)
      val at = origin.indexOf(root)
      if (at < 0) origin else origin.substring(at + root.length)
    }.toSeq
    val bad = rows.count { r =>
      val bytes = r.getAs[Array[Byte]](1)
      val img = try ImageIO.read(new ByteArrayInputStream(bytes)) catch { case _: Throwable => null }
      !(bytes.length > 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8 &&
        img != null && img.getWidth == 224 && img.getHeight == 224)
    }
    Map("rows" -> rows.length, "expected" -> expected.size,
      "missing" -> (expected -- got).size, "unexpected" -> (got.toSet -- expected).size,
      "duplicates" -> (got.size - got.toSet.size), "bad" -> bad)
  }

  /** Loads one table as the key's queries would and resolves its schema;
    * jobs started meanwhile are counted from the recorder. */
  private def tablesProbe(spark: SparkSession, rec: Recorder, key: String,
      table: String, dir: String): Map[String, Any] = {
    val j0 = rec.jobCount
    val s = Clock.now()
    Tables.load(spark, dir, table).schema
    val e = Clock.now()
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    Map("key" -> key, "table" -> table, "start" -> s, "end" -> e,
      "jobs" -> (rec.jobCount - j0))
  }

  /** Single-threaded per-stage cost of `pipeline.ImageOps` on a sample of
    * the corpus; the second of two rounds is reported (µs per image). */
  private def pipelineTimings(corpus: Path, specs: Seq[ImageCorpus.Spec],
      seed: Long): Map[String, Any] = {
    val sample = specs.filterNot(_.corrupt).take(24)
      .map(s => s.rel -> Files.readAllBytes(corpus.resolve(s.rel)))
    var sums = Array.fill(4)(0L)
    (1 to 2).foreach { _ =>
      sums = Array.fill(4)(0L)
      sample.foreach { case (rel, bytes) =>
        val t0 = System.nanoTime()
        val img = ImageOps.decodeEncoded(rel, bytes).get
        val t1 = System.nanoTime()
        val resized = ImageOps.resizeArea(img, 224, 224)
        val t2 = System.nanoTime()
        val aug = ImageOps.colorJitter(ImageOps.rotate(ImageOps.flipSeeded(resized, seed), 15.0))
        val t3 = System.nanoTime()
        ImageOps.jpegEncode(aug)
        val t4 = System.nanoTime()
        sums(0) += t1 - t0; sums(1) += t2 - t1; sums(2) += t3 - t2; sums(3) += t4 - t3
      }
    }
    val n = math.max(sample.size, 1) * 1000.0
    Map("images" -> sample.size, "decode_us" -> sums(0) / n, "resize_us" -> sums(1) / n,
      "augment_us" -> sums(2) / n, "encode_us" -> sums(3) / n)
  }

  /** (compilations, compile ms) of Spark's code generator, JVM-wide. */
  private def codegen(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)

  private def env(c: Conf): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map("cores" -> c.cores, "available_processors" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "jvm_args" -> rt.getInputArguments.asScala.toSeq,
      "spark" -> org.apache.spark.SPARK_VERSION)
  }

  private def peakRssKb(): Long =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.map(f =>
        try { if (Files.isRegularFile(f)) Files.size(f) else 0L }
        catch { case _: java.io.IOException => 0L }).sum
      finally s.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
