package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet: CSV, JSON lines, ORC and
  * the raw text source must round-trip the fixture data bit-exactly
  * (explicit schemas — an engine never trusts inference for contract
  * data), and the columnar formats must keep predicate pushdown working
  * so format choice does not silently cost scan pruning.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    tempDir(s"graft-$name").toString

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("csv: header + explicit schema round-trips part exactly") {
    val src = Tables.load(spark, sf, "part")
    val dir = tmp("csv")
    // quote/escape defaults must survive commas and quotes in p_name
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read
      .option("header", "true")
      .schema(src.schema) // inference would widen int32 -> int
      .csv(dir)
    assertSameRows(src, back)
  }

  test("json lines: nested struct + array columns round-trip") {
    val src = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"),
        struct(col("n_chars"), length(col("text")).as("len")).as("meta"),
        split(col("text"), " ").as("tok"))
    val dir = tmp("json")
    src.write.mode("overwrite").json(dir)
    val back = spark.read.schema(src.schema).json(dir)
    assertSameRows(src, back)
  }

  test("orc: round-trips lineitem slice and keeps predicate pushdown") {
    val src = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_returnflag")
    val dir = tmp("orc")
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assertSameRows(src, back)
    val filtered = back.filter(col("l_quantity") > 25.0)
      .select("l_orderkey", "l_quantity")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,25.0)]"),
      s"ORC scan lost predicate pushdown:\n$scan")
    assert(filtered.count() ==
      src.filter(col("l_quantity") > 25.0).count())
  }

  test("text source reads raw lines (one row per document line)") {
    val src = Tables.load(spark, sf, "documents").select("text")
    val dir = tmp("text")
    src.write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
    // fixture texts are single-line, so line count == doc count and the
    // multiset of lines matches exactly
    assertSameRows(src.withColumnRenamed("text", "value"), back)
  }

  /** Spark jobs started while `f` runs. */
  private def jobsDuring(f: => Unit): Int =
    JobLog.descriptionsDuring(spark)(f).size

  /** Copy a fixture table file into `dir` under the name `as`. */
  private def copyTable(from: String, dir: String, as: String): Unit =
    Files.copy(Paths.get(s"$sf/$from.parquet"), Paths.get(s"$dir/$as.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  test("cached schema equals an uncached read for every fixture table") {
    Tables.names.foreach { n =>
      Tables.load(spark, sf, n) // first load: inferred and cached
      val raw = spark.read.parquet(s"$sf/$n.parquet")
      val want = if (n == "events") Tables.tsToTimestamp(raw) else raw
      assert(Tables.load(spark, sf, n).schema == want.schema, n)
    }
  }

  test("a warm Tables.load starts no Spark job") {
    Tables.load(spark, sf, "orders")
    assert(jobsDuring(Tables.load(spark, sf, "orders").schema) == 0)
    // the cold load of a fresh copy is the one schema inference
    val dir = tmp("cold")
    copyTable("orders", dir, "orders")
    assert(jobsDuring(Tables.load(spark, dir, "orders")) >= 1)
    assert(jobsDuring(Tables.load(spark, dir, "orders")) == 0)
  }

  test("a rewritten table file is re-read with its new schema and rows") {
    val dir = tmp("rewrite")
    copyTable("lineitem", dir, "lineitem")
    val before = Tables.load(spark, dir, "lineitem").schema
    assert(Tables.load(spark, dir, "lineitem").schema == before)
    val rows = Tables.load(spark, sf, "lineitem").count()
    assert(graft.queries.FixtureScale.lineitemRows(spark, dir) == rows)
    // a 5-row, 2-column file of a different length over the same name
    val other = tmp("other")
    spark.range(5).select(col("id"), (col("id") * 2).as("x"))
      .coalesce(1).write.mode("overwrite").parquet(other)
    val part = Files.list(Paths.get(other)).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get
    val target = Paths.get(s"$dir/lineitem.parquet")
    assert(Files.size(part) != Files.size(target))
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.load(spark, dir, "lineitem").columns.toSeq == Seq("id", "x"))
    assert(graft.queries.FixtureScale.lineitemRows(spark, dir) == 5)
  }

  test("a missing table still fails with Spark's own error") {
    val dir = tmp("missing")
    val want = intercept[AnalysisException](
      spark.read.parquet(s"$dir/region.parquet"))
    val got = intercept[AnalysisException](Tables.load(spark, dir, "region"))
    assert(got.getCondition == want.getCondition, got.getMessage)
    assert(got.getMessage == want.getMessage)
  }
}
