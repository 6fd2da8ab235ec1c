package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.pipeline.{ImageOps, ImageRecord}
import graft.plans.{AsOfJoinExec, AsOfJoinPlan}

/** GraftSession's extensions alone install graft: a new session of the
  * shared one, with nothing registered or patched by hand, resolves
  * every SQL function (native expressions, q93's aggregate, the image
  * UDFs), plans the as-of join natively and runs both optimizer rules. */
class GraftSessionSpec extends SparkSpec {

  test("a new session gets graft's functions, strategy and rules from " +
      "the extensions alone") {
    val s = spark.newSession()
    import s.implicits._

    GraftFunctions.all.foreach { case (name, clazz, _) =>
      val info = s.sql(s"DESCRIBE FUNCTION $name").collect().mkString("\n")
      assert(info.contains(clazz.getName), s"$name did not resolve:\n$info")
    }

    val asof = AsOfJoinPlan.asof(Seq((1L, 5L)).toDF("k", "t"),
      Seq((1L, 3L)).toDF("qk", "qt"), "k", "qk", "t", "qt")
    assert(asof.queryExecution.sparkPlan
      .collectFirst { case e: AsOfJoinExec => e }.nonEmpty,
      asof.queryExecution.sparkPlan.toString)
    assert(asof.collect().map(_.toSeq).toSeq == Seq(Seq(1L, 5L, 1L, 3L)))

    val topOne = Seq(("a", 2L), ("a", 1L), ("b", 3L)).toDF("g", "k")
      .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("k")))
      .filter(col("rn") === 1)
    assert(!topOne.queryExecution.optimizedPlan.toString.contains("Window"),
      "TopOnePerKeyRule did not fire")

    val ts = Seq("2024-01-02 00:00:00").toDF("s")
      .select(col("s").cast("timestamp").as("ts"))
    val lo = Seq("2024-01-01 00:00:00").toDF("s")
      .select(col("s").cast("timestamp").as("lo"))
    val range = ts.join(lo, col("ts") >= col("lo") &&
      col("ts") <= col("lo") + expr("INTERVAL 7 DAYS"))
    assert(range.queryExecution.optimizedPlan.toString.contains("Generate"),
      "RangeJoinRule did not fire")
  }

  test("a new session runs bloom_agg_1m and every img_* UDF with no " +
      "register call") {
    val s = spark.newSession()
    import s.implicits._
    // and it inherits the builder's read conf for nanos-layout events
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val bf = s.sql("SELECT bloom_agg_1m(xxhash64(id)) FROM range(50)")
      .head().getAs[Array[Byte]](0)
    assert(bf.length == (1 << 20) / 8 && bf.exists(_ != 0))
    val img = ImageRecord("udf", 4, 6, 3, 16,
      Array.tabulate[Byte](4 * 6 * 3)(i => (i * 7).toByte))
    Seq((img.data, img.height, img.width, img.nChannels))
      .toDF("d", "h", "w", "c").createOrReplaceTempView("img")
    def one(call: String) = s.sql(s"SELECT $call FROM img").head()
    Seq("img_resize(d, h, w, c, 2, 3)" -> ImageOps.resizeArea(img, 3, 2).data,
      "img_flip(d, h, w, c, true, false)" -> ImageOps.flip(img, true, false).data,
      "img_rotate(d, h, w, c, 15.0)" -> ImageOps.rotate(img, 15.0).data,
      "img_jitter(d, h, w, c, 1.2, 10.0)" ->
        ImageOps.colorJitter(img, 1.2, 10.0).data,
      "img_jpeg(d, h, w, c, 0.95)" -> ImageOps.jpegEncode(img, 0.95f))
      .foreach { case (call, want) =>
        assert(one(call).getAs[Array[Byte]](0).sameElements(want), call)
      }
    assert(one("img_tensor_chw(d, h, w, c)").getSeq[Float](0) ==
      ImageOps.toTensorCHW(img).toSeq)
    // a NULL primitive argument gives NULL, as a registered UDF does
    assert(one("img_resize(d, CAST(NULL AS INT), w, c, 2, 3)").isNullAt(0))
    // the argument count is checked at analysis
    val e = intercept[org.apache.spark.sql.AnalysisException](
      one("img_resize(d, h, w, c)"))
    assert(e.getMessage.contains("WRONG_NUM_ARGS"), e.getMessage)
  }
}
