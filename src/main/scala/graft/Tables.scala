package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Shared parquet table loader for the driver-generated star schema
  * (FIXTURES.md §1). One parquet file per table under the
  * scale-factor dir passed to every query.
  *
  * Schema resolution is paid once per session and file: inferring a
  * parquet schema launches a Spark job (70-94 ms per load measured on a
  * 4-core host), so each session keeps the inferred `StructType` per file
  * identity — qualified path, length, modification time — and later
  * loads read with that schema declared. A rewritten file changes its
  * length or mtime and is inferred again; a same-length rewrite within
  * the filesystem's mtime resolution is NOT detected. Sessions never
  * share entries (inference depends on session conf such as the
  * legacy parquet nanos-as-long setting); a parquet conf changed
  * mid-session after a table was loaded is not seen by that table
  * until its file changes. Directories and missing paths infer on
  * every load, so a missing table fails with Spark's usual
  * PATH_NOT_FOUND error.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Identity of one table file: a rewrite changes its length or mtime. */
  private final case class FileId(path: String, length: Long, mtime: Long)

  /** One session's file metadata — schemas and row counts, never data
    * or a plan. */
  private final class Meta {
    val schemas = new ConcurrentHashMap[FileId, StructType]()
    val rows = new ConcurrentHashMap[FileId, java.lang.Long]()
  }

  // weak keys: a session nobody references any more takes its entries
  private val meta = new java.util.WeakHashMap[SparkSession, Meta]()

  private def metaOf(spark: SparkSession): Meta = meta.synchronized {
    meta.computeIfAbsent(spark, _ => new Meta)
  }

  /** Stat through Hadoop's FileSystem (any scheme, not just local);
    * None for a directory or a missing path. */
  private def fileId(spark: SparkSession, path: String): Option[FileId] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      if (st.isFile)
        Some(FileId(fs.makeQualified(p).toString, st.getLen, st.getModificationTime))
      else None
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Table `name` under `dir`. `events.ts` comes back as TimestampType
    * from either layout the fixtures have used: TIMESTAMP(NANOS), read
    * as a nanos long (microsecond values, so the division is exact), or
    * TIMESTAMP(MICROS) without UTC adjustment (TIMESTAMP_NTZ). Changes
    * no session conf: the nanos read and a value-preserving NTZ cast
    * need the confs [[GraftSession.builder]] sets. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") tsToTimestamp(read(spark, path(dir, name)))
    else read(spark, path(dir, name))

  /** `compute` once per session and file version (a directory or a
    * missing path computes on every call). */
  private def memo[V <: AnyRef](spark: SparkSession, p: String,
      store: Meta => ConcurrentHashMap[FileId, V])(compute: => V): V =
    fileId(spark, p) match {
      case Some(id) =>
        val m = store(metaOf(spark))
        Option(m.get(id)).getOrElse { val v = compute; m.put(id, v); v }
      case None => compute
    }

  /** `spark.read.parquet`, inferring the schema only on the session's
    * first read of this file version. */
  private def read(spark: SparkSession, p: String): DataFrame =
    spark.read.schema(memo(spark, p, _.schemas)(spark.read.parquet(p).schema))
      .parquet(p)

  /** Row count of a table, counted once per session and file version
    * (the same identity and invalidation rule as the schema). */
  private[graft] def rowCount(spark: SparkSession, dir: String, name: String): Long =
    memo(spark, path(dir, name), _.rows)(
      java.lang.Long.valueOf(load(spark, dir, name).count())).longValue

  /** Normalize an events frame's `ts` to TimestampType whatever the
    * on-disk physical type was (nanos-long / TIMESTAMP_NTZ / TIMESTAMP).
    * Shared by the batch loader and the streaming events source so both
    * sides see the identical column type. */
  private[graft] def tsToTimestamp(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // floor division: `div` truncates toward zero, which would put a
        // pre-1970 instant with sub-µs digits 1 µs late
        df.withColumn("ts",
          expr("timestamp_micros(ts div 1000 - if(ts % 1000 < 0, 1, 0))"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** Register the named tables as temp views (for spark.sql-based
    * queries). Each registration is a `load`, so after the session's
    * first read of a table it re-reads no footer and starts no job. */
  def register(spark: SparkSession, dir: String, which: String*): Unit =
    which.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

/** Determinism helpers (SURVEY.md §2-B determinism rules).
  *
  * Double sums depend on partial-aggregation order, so a Spark sum and a
  * DuckDB sum of the same column can differ in the last bits and flip a
  * ROUND at a .5 boundary. Money columns in the fixtures carry exactly two
  * decimal digits, so casting to DECIMAL *before* aggregating makes the sum
  * exact and order-independent in both engines; the final cast back to
  * double is then a single deterministic conversion. Products of 2-digit
  * columns carry up to six digits -> scale 6.
  */
object Det {
  /** Exact, order-independent sum of a fixed-scale money column. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Deterministic mean, EXACT: the half-up quotient is computed in
    * scaled-integer arithmetic — floor((2·S·10^d + C) / (2·C)) with S
    * the exact decimal sum and C the count — then one double division
    * by 10^d. The previous round(double-sum / count, d) was a latent
    * cross-engine tie bomb: on a 5th-decimal half-tie (e.g.
    * 591.31 / 8 = 73.91375) Spark's round HALF-UPs the shortest
    * decimal repr to 73.9138 while DuckDB rounds the binary double
    * DOWN to 73.9137 (measured; DuckDB decimal division also degrades
    * to DOUBLE, so no decimal-division escape exists). Integer floor
    * matches `//`'s truncation only on the non-negative domain —
    * which money/quantity columns pin. */
  def davg(c: Column, scale: Int = 2, digits: Int = 4): Column = {
    // S·10^d is integral ONLY when d >= scale; below that the
    // decimal(38,0) cast would HALF_UP-round S·10^d silently and the
    // "exact" mean would quietly stop being exact — fail at plan
    // construction instead. Upper bound: p must be an exact Long power
    // of ten, and math.round(math.pow(10, d)) silently saturates at
    // Long.MaxValue past d = 18 — wrong scale factor, not an error
    require(digits >= scale && digits <= 18,
      s"davg needs 18 >= digits ($digits) >= scale ($scale)")
    val p = math.round(math.pow(10, digits))
    // the sum is dsum's EXACT decimal sum, scaled by 10^d only AFTER
    // aggregation: 2·(Σv)·10^d + n = 2·Σ(v·10^d) + n exactly (decimal
    // distributivity), so the quotient is unchanged — but the per-row
    // work drops to the same cast dsum already does. Two payoffs: the
    // per-row decimal multiply + widen-cast leave the hot loop (they
    // run once per GROUP on the aggregated scalar), and a query that
    // computes dsum(c) next to davg(c) shares ONE physical aggregate
    // buffer (Catalyst dedupes identical agg expressions — q13's
    // sum_qty/avg_qty pairs collapse; measured 2.17 s → 1.84 s at
    // sf0.1 — see IMPLEMENTATION.md's q13 bench record). Sum
    // headroom now matches dsum's decimal(28,scale) — 26 integral
    // digits, ~10 orders above a 10^12-row × 10^5-value group — and
    // under ANSI an overflow THROWS rather than wrapping (the DuckDB
    // twin is immune by construction: sum(BIGINT) widens to HUGEINT).
    // The post-agg rescale widens to decimal(38,0) before the ×2
    // doubling, keeping the quotient arithmetic in decimal, not long.
    val s = sum(c.cast(DecimalType(18, scale)))
    val n = count(lit(1))
    val num = (s * p).cast(DecimalType(38, 0)) * lit(2L) + n
    val den = n * lit(2L)
    // integral `div`, NOT `/`: on these operands Spark's `/` is
    // decimal/double division with rounding — the half-up construction
    // needs the exact floored quotient, which `div` gives for decimal
    // and long operands alike (result is LongType: the QUOTIENT is a
    // mean scaled by 10^d, small even when the sum is huge)
    call_function("div", num, den) / lit(p.toDouble)
  }

  /** Exact per-row half-up ratio of two NON-NEGATIVE integer columns
    * (davg's scalar twin, same rationale): floor((2·num·10^d + den) /
    * (2·den)) / 10^d in pure long arithmetic, NULL when den = 0 —
    * pinned explicitly because Spark's double x/0 (NaN/Inf) and an
    * ANSI integer div-by-zero throw would otherwise diverge from
    * whatever the oracle does on an empty document. */
  def dratio(num: Column, den: Column, digits: Int = 4): Column = {
    require(digits >= 0 && digits <= 18,
      s"dratio needs 0 <= digits ($digits) <= 18: 10^digits must be an " +
        "exact Long (math.round(pow) saturates past 18)")
    val p = math.round(math.pow(10, digits))
    val n2 = num.cast("long") * lit(2L * p) + den.cast("long")
    val d2 = den.cast("long") * lit(2L)
    when(den > 0, call_function("div", n2, d2) / lit(p.toDouble))
  }

  /** Oracle-side SQL equivalents (DuckDB). */
  def sqlDsum(col: String, scale: Int = 2): String =
    s"CAST(sum(CAST($col AS DECIMAL(18,$scale))) AS DOUBLE)"
  def sqlDavg(col: String, scale: Int = 2, digits: Int = 4): String = {
    // same integrality precondition as davg (v·10^d must be a whole
    // number or DuckDB's BIGINT cast rounds it)
    require(digits >= scale && digits <= 18,
      s"sqlDavg needs 18 >= digits ($digits) >= scale ($scale)")
    val p = math.round(math.pow(10, digits))
    s"(((2 * sum(CAST(CAST($col AS DECIMAL(18,$scale)) * $p AS BIGINT))" +
      s" + count(*)) // (2 * count(*))) / $p.0)"
  }
  /** dratio's DuckDB twin: BIGINT `//` truncates toward zero, which on
    * the pinned non-negative domain equals dratio's floor. */
  def sqlDratio(num: String, den: String, digits: Int = 4): String = {
    require(digits >= 0 && digits <= 18,
      s"sqlDratio needs 0 <= digits ($digits) <= 18")
    val p = math.round(math.pow(10, digits))
    s"(CASE WHEN $den > 0 THEN ((2 * $p * CAST($num AS BIGINT) + $den)" +
      s" // (2 * CAST($den AS BIGINT))) / $p.0 END)"
  }
}
