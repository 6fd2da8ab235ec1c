package graft

import org.apache.spark.sql.SparkSession

/** One-call session factory encoding the configuration the library is
  * verified under, so a user gets the same semantics the oracle gate
  * runs with. Verify, Bench, Explain, DiagStages and the test suites'
  * shared session all build through [[builder]]:
  *
  *  - GraftExtensions installed: all of graft's SQL functions, the
  *    as-of join planner strategy, the TopOnePerKey and RangeJoin
  *    optimizer rules, and SmallSortRule, the AQE runtime rule that
  *    sorts a small, already-coalesced result in place instead of
  *    range-partitioning it;
  *  - UTC session timezone — every date_format/window oracle assumes it;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the older TIMESTAMP(NANOS)
  *    `events.ts` layout reads as a long (which `Tables.load` and
  *    `eventsStream` convert) instead of failing;
  *  - shuffle partitions sized to the cluster (caller-provided;
  *    local[N] should pass N, a real cluster ~2-3x its total cores —
  *    AQE coalesces down from there at runtime);
  *  - AQE left ON (Spark default) — stage reuse, skew splits and
  *    partition coalescing are part of the verified plan shapes;
  *  - `file://` served by [[graft.util.GraftLocalFileSystem]] (same
  *    modes as Hadoop's, no `chmod` process per written file).
  *
  * This is the whole setup: no query, table load or stream changes a
  * session's functions or conf while it runs. A session built another
  * way must carry GraftExtensions and set `nanosAsLong` itself.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // r16: the default codegen class cache holds 100 entries (static
      // conf) — a multi-query workload (the 160-entry bench, any
      // dashboard fanning out dozens of distinct plans) evicts every
      // fragment between repeat executions, so each re-run pays janino
      // compilation on the DRIVER (serial, between stages) and restarts
      // HotSpot tiered compilation from zero on a fresh class (the
      // executor-side cost: short fixture-scale stages finish before C2
      // ever kicks in, measured as 2-6x CPU on identical stages and the
      // dominant share of run-to-run variance). One generated class is
      // a few KB — 10k entries is tens of MB of metaspace, nothing at
      // any deployment size, and workloads with fewer shapes simply
      // never fill it. Measured: -10% on the 11-key regression subset,
      // q143's serial merge-round chain -39% (OPTIMIZATION_r16.md §2).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Without the Hadoop native library every local create/mkdirs
      // forks `chmod` (each parquet part, checkpoint, .crc file and new
      // directory); graft's local FS sets the same mode bits through
      // java.nio.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.util.GraftLocalFileSystem].getName)
}
