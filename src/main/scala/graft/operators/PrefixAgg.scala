package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed running aggregates (prefix sum / prefix max) over a
  * global order — the primitive behind sequence packing, global
  * position assignment, cumulative-budget curation cuts, and the
  * 2-D pareto-frontier scan.
  *
  * The naive formulation, `sum/max over Window.orderBy(k)` with no
  * partitionBy, collapses the whole table into ONE task (Spark warns
  * "No Partition Defined for Window" — at 100 TB that is not a
  * slowdown, it is an OOM). This operator is the scalable two-phase
  * shape with DETERMINISTIC, data-derived blocks:
  *
  *   1. block id = floor(orderKey / blockSize) — a pure function of the
  *      row, so the decomposition is reproducible across runs, partition
  *      counts, and engines (the earlier range-partition formulation
  *      needed an eager local-checkpoint barrier because
  *      `spark_partition_id()` fed two consumers that could re-sample
  *      different range boundaries; value-derived blocks remove both the
  *      barrier job and the range-sampling job — the whole operator is
  *      ONE job with ONE full-data exchange);
  *   2. a tiny aggregate (one row per block, map-side partial) computes
  *      each block's total/max; a window over THAT (bounded by the block
  *      count, explicitly fine — for >10^7 blocks recurse through this
  *      same operator) turns block aggregates into per-block carry-in
  *      offsets over strictly-preceding blocks;
  *   3. offsets broadcast-join back; each row's running value combines
  *      its block's carry-in with a block-LOCAL running window
  *      (partitioned by block — parallel).
  *
  * `blockSize` is in KEY units, not rows: pick it so key-range/blockSize
  * lands near the cluster's task count for dense keys. Rows must be
  * unique per `orderCol` for row-frame results to be well-defined
  * (ties within a block sort arbitrarily among equal keys); callers
  * with duplicate keys should pre-aggregate per key (as the pareto
  * frontier does).
  */
object PrefixAgg {

  /** Adds `outCol` = running SUM of `valueCol` in `orderCol` order.
    * `inclusive = false` sums strictly-preceding rows only (empty sum
    * = 0) — the "tokens before this document" shape. `orderCol` must be
    * integral.
    *
    * CONTRACT NOTE (deliberate, not a drop-in SQL equivalence): an
    * empty or all-NULL prefix yields 0, never NULL — the coalesce in
    * the combine makes the exclusive first row 0 (the q75/q143
    * billing shape: zero tokens before the first document) and, by
    * the same token, makes NULL-valued rows contribute 0. The bare
    * `sum(v) OVER (ORDER BY k)` window instead stays NULL until the
    * first non-null input; callers who need THAT semantics on a
    * nullable valueCol should pre-filter or post-mask NULL rows —
    * every current caller feeds non-null values and wants the 0. */
  def runningSum(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String, blockSize: Long = 1L << 16,
      inclusive: Boolean = true): DataFrame =
    running(df, orderCol, valueCol, outCol, blockSize, inclusive,
      sum, (off, loc) => coalesce(off, lit(0L)) + coalesce(loc, lit(0L)))

  /** Adds `outCol` = running MAX of `valueCol` in `orderCol` order.
    * `inclusive = false` takes the max over strictly-preceding rows and
    * yields NULL for the first row (no predecessor) — the pareto /
    * record-so-far shape. `orderCol` must be integral. */
  def runningMax(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String, blockSize: Long = 1L << 16,
      inclusive: Boolean = true): DataFrame =
    running(df, orderCol, valueCol, outCol, blockSize, inclusive,
      max, (off, loc) => greatest(off, loc)) // greatest skips NULLs

  private def running(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String, blockSize: Long, inclusive: Boolean,
      aggFn: Column => Column,
      combine: (Column, Column) => Column): DataFrame = {
    require(blockSize >= 1, s"blockSize must be >= 1, got $blockSize")
    // floor division that stays monotonic for negative keys too:
    // (x - pmod(x, B)) is an exact multiple of B, so `div` is exact
    val blk = expr(
      s"($orderCol - pmod($orderCol, ${blockSize}L)) div ${blockSize}L")

    val withBlk = df.withColumn("__blk", blk)
    // one row per block; map-side partial aggregation keeps the
    // exchange at O(#blocks) regardless of input size
    val offW = Window.orderBy("__blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withBlk
      .groupBy("__blk").agg(aggFn(col(valueCol)).as("__btot"))
      .withColumn("__off", aggFn(col("__btot")).over(offW))
      .select("__blk", "__off")

    val localW = Window.partitionBy("__blk").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, if (inclusive) 0 else -1)
    withBlk
      .join(broadcast(offsets), Seq("__blk"))
      .withColumn(outCol, combine(col("__off"),
        aggFn(col(valueCol)).over(localW)))
      .drop("__blk", "__off")
  }
}
