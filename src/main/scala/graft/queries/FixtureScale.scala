package graft.queries

import org.apache.spark.sql.SparkSession

/** SF-proportional sizing for the SYNTHESIZED media corpora (images
  * q147/q148, video q149, audio q150/q151). The r14 fixtures were
  * fixed-size at every scale factor, so neither the bench nor the
  * growth gate measured the media families' data-scaling — the one
  * thing their hot-bucket behavior most needs (r14 verdict, "What's
  * missing" #3). Sizes derive from the LINEITEM row count: the one
  * scale signal BOTH engines can read from the same parquet (the
  * Spark side here, the DuckDB oracle via a scalar subquery over the
  * registered table), so the corpus constants stay mirrored per SF
  * without any side channel. lineitem is ~6k/60k/600k at
  * sf0.001/0.01/0.1 -> image/audio corpora 120/120/1200, clips
  * 24/24/240: a measured 10x step across the sf0.01 -> sf0.1 gate,
  * floored so the planted structure (near-dup groups, degenerate
  * clusters) exists even at smoke scale.
  *
  * The count is memoized by `Tables.rowCount` — per session and file
  * version, under the schema cache's invalidation rule — so a rewritten
  * lineitem resizes the corpora on its next read.
  */
private[graft] object FixtureScale {
  def lineitemRows(s: SparkSession, dir: String): Long =
    graft.Tables.rowCount(s, dir, "lineitem")

  /** Formula-image corpus size (q147/q148), before the planted flat
    * cluster. Oracle twin: greatest(120, count(lineitem) // 500). */
  def imageBase(s: SparkSession, dir: String): Long =
    math.max(120L, lineitemRows(s, dir) / 500)

  /** Video-clip corpus size (q149).
    * Oracle twin: greatest(24, count(lineitem) // 2500). */
  def clipCount(s: SparkSession, dir: String): Long =
    math.max(24L, lineitemRows(s, dir) / 2500)

  /** Audio-track corpus size (q150/q151), before the planted silent
    * cluster. Oracle twin: greatest(120, count(lineitem) // 500). */
  def trackBase(s: SparkSession, dir: String): Long =
    math.max(120L, lineitemRows(s, dir) / 500)
}
