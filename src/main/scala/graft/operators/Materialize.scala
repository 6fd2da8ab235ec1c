package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncating materialization with the same durability knob
  * ConnectedComponents exposes, for queries that must pin a subtree's
  * result (multiple differently-pruned consumers would otherwise re-run
  * it — the q103/q104 pattern).
  *
  * Default is `localCheckpoint()`: executor-block storage, fastest, the
  * right choice for a single-node bench. On a real cluster an executor
  * loss deletes its local blocks and kills the query mid-flight, so
  * deployments set `spark.graft.reliableCheckpoints=true` (plus
  * `SparkContext.setCheckpointDir` on a durable FS) and every
  * materialization point in the library switches to `checkpoint()`,
  * which survives executor loss. The knob is a session conf rather than
  * a parameter because the driver contract fixes query signatures to
  * `(SparkSession, dir) => DataFrame`.
  *
  * The reliable `checkpoint()` is eager: one write job computes the
  * subtree once and later actions read the files, so no persist is
  * needed first (DedupSpec counts the evaluations).
  */
object Materialize {

  val ReliableKey = "spark.graft.reliableCheckpoints"

  /** Whether this session asked for durable checkpoints. */
  def reliable(spark: SparkSession): Boolean =
    spark.conf.getOption(ReliableKey).exists(_.trim.equalsIgnoreCase("true"))

  /** Materialize `df` and truncate its lineage, honoring the session's
    * durability knob. Fails fast (before any work) if reliable mode is
    * on without a configured checkpoint dir. */
  def truncate(df: DataFrame): DataFrame =
    if (reliable(df.sparkSession)) {
      if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty)
        throw new IllegalStateException(
          s"$ReliableKey=true needs SparkContext.setCheckpointDir(<durable fs>)")
      df.checkpoint()
    } else df.localCheckpoint()
}
