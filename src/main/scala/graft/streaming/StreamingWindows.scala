package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.queries.EventTime

/** Structured Streaming variants of the event-time queries (SURVEY.md §7
  * P6): the same q29–q31 aggregations driven by a streaming file source
  * with an event-time watermark. Correctness is streaming-batch parity
  * (StreamingSpec), not the DuckDB oracle.
  *
  * At scale this is the production shape: a file/Kafka source feeding
  * watermarked windowed state; the batch queries share the identical
  * aggregation builders, so parity holds by construction once the
  * watermark has expired all state.
  */
object StreamingWindows {

  /** The two events layouts observed across fixture generations — the
    * empty-directory fallbacks for a stream that starts before its
    * first file arrives. NO single schema covers both physical layouts
    * (a TIMESTAMP(MICROS) parquet column cannot be read as bigint, nor
    * a TIMESTAMP(NANOS) one as timestamp), so when inference has no
    * file to read the caller must pin its deployment's layout;
    * `ntzSchema` (the current generation) is the default. */
  private[graft] val ntzSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Legacy layout: ts as nanos-since-epoch long (TIMESTAMP(NANOS)
    * read as a long, as sessions from GraftSession.builder read it). */
  private[graft] val nanosSchema = StructType(
    ntzSchema.map(f => if (f.name == "ts") f.copy(dataType = LongType)
      else f))

  /** Streaming scan of the events table (one parquet file = one
    * micro-batch in tests; a directory of arriving files in production).
    * `maxFilesPerTrigger > 0` caps files per micro-batch — the
    * multi-batch arrival harness (files named events*.parquet arrive in
    * modification-time order, one per trigger).
    *
    * The streaming source needs an explicit schema; it is inferred from
    * the on-disk footers with a one-off batch read so the stream adapts
    * to whichever physical ts layout the fixture generation used
    * (nanos-long or TIMESTAMP(_NTZ) — see Tables.tsToTimestamp, shared
    * with the batch loader so both sides see the identical column). Sets
    * no session conf: the nanos layout reads only under the nanos-as-long
    * parquet conf [[graft.GraftSession.builder]] sets. */
  def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 0,
      emptyDirFallback: StructType = ntzSchema): DataFrame = {
    // the streaming file source wants a directory: scan the SF dir with a
    // glob picking just the events file(s). The wide events*.parquet glob
    // is ONLY for the multi-batch arrival harness (maxFilesPerTrigger > 0,
    // staged sibling files) — the default glob must stay events.parquet so
    // every batch-parity query reads exactly what the batch side reads.
    val glob = if (maxFilesPerTrigger > 0) "events*.parquet" else "events.parquet"
    // Prefer the on-disk footer schema (adapts to whichever physical ts
    // layout this fixture generation used); if the glob matches no files
    // yet — a stream starting before the first file arrives, the normal
    // production sequence — fall back to the caller's declared layout
    // (default: the current NTZ generation; a nanos deployment passes
    // `nanosSchema`). tsToTimestamp normalizes whichever layout lands.
    // The fallback is ONLY for "directory exists but no file matches yet"
    // — a nonexistent (typo'd) path must still fail fast, not silently
    // start a forever-empty stream. fs.exists distinguishes the two
    // robustly across Spark's error classes (PATH_NOT_FOUND vs
    // UNABLE_TO_INFER_SCHEMA) and filesystems (local/HDFS/object store).
    val onDisk =
      try spark.read.option("pathGlobFilter", glob).parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p)) emptyDirFallback else throw e
      }
    val r = spark.readStream.schema(onDisk)
      .option("pathGlobFilter", glob)
    val r2 = if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString) else r
    graft.Tables.tsToTimestamp(r2.parquet(dir))
  }

  def tumbling(spark: SparkSession, dir: String,
      watermark: String = "10 minutes"): DataFrame =
    EventTime.tumblingAgg(
      eventsStream(spark, dir).withWatermark("ts", watermark))

  def sliding(spark: SparkSession, dir: String,
      watermark: String = "10 minutes"): DataFrame =
    EventTime.slidingAgg(
      eventsStream(spark, dir).withWatermark("ts", watermark))

  def session(spark: SparkSession, dir: String,
      watermark: String = "10 minutes"): DataFrame =
    EventTime.sessionAgg(
      eventsStream(spark, dir).withWatermark("ts", watermark)
        .dropDuplicates("user_id", "ts"))

  /** Streaming twin of batch q109 (exact trailing-7-day distinct users
    * per day). Same collapse-then-count decomposition as the batch
    * plan: each arriving event explodes MAP-SIDE to the <= 7 window
    * days it serves, a watermarked dropDuplicates keeps ONE state row
    * per DISTINCT (user, window-day) — so state is bounded by
    * |users| x |days inside the watermark horizon|, the same frame the
    * batch shuffle carries, and NEVER grows with event volume — and an
    * event-time day-window count over the deduplicated stream emits
    * each day's exact distinct-user count once its watermark passes
    * (append mode; the dedup->windowed-agg chain is the supported
    * multi-stateful-operator shape). Trailing days beyond the data's
    * horizon emit as they finalize — they are tomorrow's windows fed
    * by today's events, which batch q109 clips at its known max day.
    *
    * The watermark rides on the EXPLODED window-day, which runs up to
    * 6 days AHEAD of the event that produced it — so `delay` MUST
    * exceed the 6-day explode horizon plus the real lateness
    * allowance, or an on-time event in a later micro-batch would look
    * up to 6 days late: its window-day rows would be dropped by the
    * watermarked dedup and its windows would already have finalized
    * with undercounts. The 7-day default = 6-day horizon + 1 day of
    * lateness; semantically a trailing-7-day window CANNOT finalize
    * sooner anyway (events keep contributing for 6 more days). */
  def slidingDistinct(spark: SparkSession, dir: String,
      delay: String = "7 days", maxFilesPerTrigger: Int = 0): DataFrame =
    eventsStream(spark, dir, maxFilesPerTrigger)
      // batch q109 counts users via countDistinct, which SKIPS NULL —
      // without this filter a NULL user_id would survive
      // dropDuplicates as its own key and count(lit(1)) would add a
      // phantom user to every served day (silent batch divergence on
      // the nullable schema)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), explode(expr(
        """sequence(date_trunc('DAY', ts),
                    date_trunc('DAY', ts) + interval 6 days,
                    interval 1 day)""")).as("wd"))
      .withWatermark("wd", delay)
      .dropDuplicates("user_id", "wd")
      .groupBy(window(col("wd"), "1 day"))
      .agg(count(lit(1)).as("users_7d"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("users_7d"))

  /** Run a streaming frame to a memory sink until the source drains;
    * returns the query (caller reads `spark.table(name)` then stops). */
  def runToMemory(df: DataFrame, name: String,
      mode: String = "append"): StreamingQuery = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name).start()
    q.processAllAvailable()
    q
  }
}
