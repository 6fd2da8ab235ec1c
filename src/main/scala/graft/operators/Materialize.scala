package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.storage.StorageLevel

/** The library's one materialization operator: every checkpoint, and
  * every cache a loop keeps across rounds, goes through here. Three
  * forms:
  *
  *  - '''eager''' [[truncate]]: materialize now and cut the lineage.
  *    For subtrees with several consumers that would otherwise each
  *    re-run it (the q103/q104 pattern);
  *  - '''lazy''' [[hold]]: keep the rows cached from the first job that
  *    computes them until [[Held.release]]. The lineage stays, so a lost
  *    block recomputes and releasing is always safe — for a loop input
  *    every round reads (ConnectedComponents' symmetric edge list);
  *  - '''probe''' [[truncateWith]]: as eager, and the job that fills the
  *    checkpoint also returns one value per partition computed over its
  *    rows (ConnectedComponents' convergence potential), so a loop pays
  *    one job per round instead of a checkpoint plus a probe query.
  *
  * Durability: the default is a local checkpoint — executor-block
  * storage, fastest, the right choice for a single node. On a real
  * cluster an executor loss deletes its local blocks and kills the query
  * mid-flight, so deployments set `spark.graft.reliableCheckpoints=true`
  * (plus `SparkContext.setCheckpointDir` on a durable FS) and every
  * truncation switches to a reliable checkpoint, which survives executor
  * loss. The knob is a session conf rather than a parameter because the
  * driver contract fixes query signatures to
  * `(SparkSession, dir) => DataFrame`.
  *
  * Every form computes its subtree once (DedupSpec counts the
  * evaluations): the eager reliable `checkpoint()` writes the files in
  * one job and runs no separate count; the probe form persists first, so
  * the checkpoint write after its job reads the cached rows, and drops
  * the cache once the files hold them.
  *
  * Jobs run under a `spark.job.description` naming the phase (`graft
  * materialize` unless the caller names it); the caller's description is
  * restored afterwards.
  */
object Materialize {

  val ReliableKey = "spark.graft.reliableCheckpoints"

  /** Job description of materialization jobs a caller does not name. */
  val JobName = "graft materialize"

  private val DescriptionKey = "spark.job.description"

  /** Whether this session asked for durable checkpoints. */
  private def reliable(spark: SparkSession): Boolean =
    spark.conf.getOption(ReliableKey).exists(_.trim.equalsIgnoreCase("true"))

  /** Runs `body` with the jobs it starts described as `name`, restoring
    * the caller's description afterwards. */
  private def named[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(DescriptionKey)
    sc.setLocalProperty(DescriptionKey, name)
    try body
    finally sc.setLocalProperty(DescriptionKey, outer)
  }

  /** Fails fast, before any work, if the session asked for durable
    * checkpoints and they have nowhere to write. */
  private[operators] def requireCheckpointDir(spark: SparkSession): Unit =
    if (reliable(spark) && spark.sparkContext.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        s"$ReliableKey=true needs SparkContext.setCheckpointDir(<durable fs>)")

  /** Eager form: materialize `df` and truncate its lineage, honoring the
    * session's durability knob. */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    requireCheckpointDir(spark)
    named(spark, JobName)(
      if (reliable(spark)) df.checkpoint() else df.localCheckpoint())
  }

  /** A lazily materialized frame; [[release]] frees its cached blocks. */
  final class Held private[Materialize] (val df: DataFrame, rdd: RDD[_]) {
    def release(): Unit = rdd.unpersist(blocking = false)
  }

  /** Lazy form: plans `df` now (under AQE its shuffle stages run here),
    * caches its rows (memory and disk) when a job first computes them,
    * and keeps them until [[Held.release]]. No checkpoint: the lineage
    * stays, so the cache never needs the durability knob. */
  def hold(df: DataFrame, name: String = JobName): Held = {
    val (out, rdd) = named(df.sparkSession, name) {
      GraftSqlShim.executeToRdd(df, "hold")(
        _.persist(StorageLevel.MEMORY_AND_DISK))
    }
    new Held(out, rdd)
  }

  /** Probe form: materialize `df`, truncate its lineage, and return
    * `probe` applied to each partition's rows, all in ONE job over the
    * plan executed once:
    *
    *  1. the plan runs as one SQL execution (`Dataset.checkpoint`'s
    *     frame), giving its row RDD;
    *  2. the RDD is marked for a local checkpoint, or, under the
    *     session's durability knob ([[reliable]]), persisted and then
    *     marked for a reliable one;
    *  3. one `runJob` fills the cache/checkpoint and returns one probe
    *     value per partition — job results, not accumulators, so a
    *     retried task cannot count twice;
    *  4. the frame scans the checkpointed RDD; a durable run then drops
    *     the cache, as the checkpoint files hold the rows.
    *
    * `probe` sees the partition's cached rows and need not consume
    * them. */
  def truncateWith[T: ClassTag](df: DataFrame, name: String = JobName)(
      probe: Iterator[InternalRow] => T): (DataFrame, Seq[T]) = {
    val spark = df.sparkSession
    requireCheckpointDir(spark)
    val durable = reliable(spark)
    named(spark, name) {
      GraftSqlShim.executeToRdd(df, "truncateWith") { rdd =>
        if (durable) {
          rdd.persist(StorageLevel.MEMORY_AND_DISK)
          rdd.checkpoint()
        } else rdd.localCheckpoint()
        // runJob checkpoints the RDD once the job ends
        val values = spark.sparkContext.runJob(rdd, probe)
        if (durable) rdd.unpersist(blocking = false)
        values.toSeq
      }
    }
  }
}
