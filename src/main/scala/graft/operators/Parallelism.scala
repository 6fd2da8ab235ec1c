package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Source-parallelism guard for CPU-heavy per-row map stages.
  *
  * Spark's map-side parallelism is bounded by the input split count. At
  * production scale (thousands of parquet files / row groups) that is
  * plenty, but a small single-row-group file — the shape of a dev
  * fixture, a dimension snapshot, or the tail partition of a skewed
  * layout — plans as ONE task, and every expensive per-document kernel
  * downstream (shingling, minhash signatures, similarity digests) runs
  * serially no matter how many cores the cluster has.
  *
  * [[widen]] inserts one hash exchange ONLY when the planned input
  * parallelism is materially below the session's shuffle parallelism, so
  * the big-data path stays shuffle-free while the small-file path gets
  * its cores back. The check reads the planned partition count at
  * query-construction time. Over a file scan that is a file listing and
  * no job runs; over an input with an exchange below it, `df.rdd` on the
  * adaptive plan runs that input's query stages (q45: the `widen` inside
  * `jaccardPairsOf` sits above a window's exchange and starts a job,
  * then the query runs that shuffle again). ROADMAP item 1 moves the
  * decision to planning time.
  */
object Parallelism {

  /** Repartition `df` by `key` to the session's shuffle parallelism iff
    * its planned partition count is below half of it (read with
    * `df.rdd`, which runs a job when `df` has an exchange below it; see
    * the object's note). Hash partitioning
    * on a provided key (never round-robin) keeps the result
    * deterministic under retries and across runs.
    */
  def widen(df: DataFrame, key: Column): DataFrame = {
    if (df.isStreaming) return df // micro-batch parallelism is the
    // source's concern; .rdd is also undefined on a streaming frame
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions * 2 >= n) df else df.repartition(n, key)
  }
}
