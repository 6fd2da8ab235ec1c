package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed connected components via min-label propagation with
  * pointer doubling — the canonical "beyond plain SQL" dedup operator:
  * near-duplicate PAIRS only become removable once they are grouped
  * into clusters with a canonical representative (the minimum doc id).
  *
  * Each iteration is a neighbor-min step (one join + one
  * min-aggregation, both shuffling on the node key) followed by a
  * pointer-doubling step (lbl <- lbl(lbl), one self-join on the label):
  * the neighbor step extends a label's reach by one hop, the jump then
  * doubles it, so the fixpoint arrives in O(log diameter) rounds
  * instead of O(diameter) — a 1000-node path converges in ~10 rounds
  * where plain min-label propagation needs 1000. At 100 TB graph scale
  * the round count is the dominant cost (each round is a full shuffle
  * plus one checkpointing job on the driver's critical path), which
  * makes the logarithmic bound the difference between minutes and
  * hours on long-chain components. Labels only decrease, so convergence
  * is detected by an unchanged label-sum potential, computed by the
  * same job that checkpoints the round (`Materialize.truncateWith`).
  *
  * All materialization goes through [[Materialize]]: each round is
  * truncated so the plan does not grow, and the symmetric edge list
  * every round joins is held for the loop's lifetime. By default the
  * rounds use local checkpoints (executor-block storage, fastest); under
  * `spark.graft.reliableCheckpoints=true` they are written to the
  * checkpoint dir, which survives executor loss: on a 1000-executor
  * cluster a multi-hour BSP loop over local blocks dies with the first
  * lost executor, so production runs at scale should set it (and
  * `SparkContext.setCheckpointDir` to a durable FS). This is the
  * standard BSP/Pregel shape expressed in DataFrame operators.
  */
object ConnectedComponents {

  /** (src, dst): every edge of `edges` in both directions — the rows of
    * `select(a, b) union select(b, a)`, but from ONE reference to
    * `edges`, so its plan is analyzed, optimized and executed once
    * instead of once per direction.
    *
    * An edge with a NULL endpoint is not an edge and is dropped (the
    * union kept it as a row with a NULL node). The filter also gives
    * the output the `isnotnull(src)`, `isnotnull(dst)` constraints the
    * union derived from its inputs, which a checkpoint of this frame
    * carries into every later plan; without them each join on the
    * checkpoint would plan an extra null filter. explode_outer, not
    * explode: the array is never empty, so the rows are the same, and
    * plain explode would let InferFiltersFromGenerate push a per-row
    * `size(array(...)) > 0` filter into the edge pipeline (see
    * `Dedup.shingledOf`). */
  def symmetric(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges
      .select(explode_outer(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)

  /** Per-partition convergence probe over the label column at
    * `ordinal`: the exact sum of the non-null labels and their count.
    * A Long partial sum spills into a BigInt on overflow, so billions of
    * 64-bit ids cannot wrap and fake an unchanged potential. A
    * non-integral `dt` fails here, on the driver, before the probe job. */
  private[graft] def labelSum(ordinal: Int,
      dt: DataType): Iterator[InternalRow] => (BigInt, Long) = {
    val get: InternalRow => Long = dt match {
      case LongType => _.getLong(ordinal)
      case IntegerType => _.getInt(ordinal).toLong
      case ShortType => _.getShort(ordinal).toLong
      case ByteType => _.getByte(ordinal).toLong
      case other => throw new IllegalArgumentException(
        s"connected components needs integral node ids, got $other")
    }
    rows => {
      var spilled = BigInt(0)
      var part = 0L
      var n = 0L
      rows.foreach { r =>
        if (!r.isNullAt(ordinal)) {
          val v = get(r)
          val s = part + v
          if (((part ^ s) & (v ^ s)) < 0) { spilled += part; part = v }
          else part = s
          n += 1
        }
      }
      (spilled + part, n)
    }
  }

  /** The potential over all partitions; None when no label is non-null
    * (an empty frame), as SQL's sum of nothing is NULL. */
  private[graft] def potential(parts: Seq[(BigInt, Long)]): Option[BigInt] =
    if (parts.map(_._2).sum == 0L) None else Some(parts.map(_._1).sum)

  /** edges: two integral columns (a, b), undirected. Returns
    * (node, cluster_id = smallest reachable node id).
    *
    * Throws IllegalStateException if maxIter is reached before the
    * fixpoint — returning non-converged labels would silently mislabel
    * long chains. With pointer doubling (engaged from round 2; the
    * first two rounds are plain neighbor-min so shallow graphs skip the
    * self-join entirely) the required round count is ~log2(diameter)
    * + 3, so the default maxIter = 20 covers graphs up to diameter
    * ~2^16. An empty edge set short-circuits to an empty result.
    *
    * Reliable checkpoints (`spark.graft.reliableCheckpoints=true`)
    * require `spark.sparkContext.setCheckpointDir` to be set
    * (IllegalStateException otherwise, before any work runs).
    */
  def run(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame =
    runWithStats(edges, aCol, bCol, maxIter)._1

  /** As [[run]], and also returns the number of BSP rounds executed
    * (including the final unchanged-potential confirmation round) —
    * observable so tests can pin the O(log diameter) bound. */
  def runWithStats(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): (DataFrame, Int) = {
    Materialize.requireCheckpointDir(edges.sparkSession)

    // One truncation per round, whose job also returns the round's
    // potential: a round costs its shuffle stages plus ONE job.
    def round(df: DataFrame, i: Int): (DataFrame, Option[BigInt]) = {
      val lbl = df.schema.fieldIndex("lbl")
      val probe = labelSum(lbl, df.schema(lbl).dataType)
      val (out, parts) =
        Materialize.truncateWith(df, s"graft cc round $i")(probe)
      (out, potential(parts))
    }

    // sym is the join input of EVERY round, so it is held (cached on
    // first use, lineage kept) for the loop's lifetime and released on
    // every exit path, the non-convergence throw included. A checkpoint
    // would not help: it is always an ancestor of the round's own
    // checkpoint, and RDD.doCheckpoint only writes the topmost marked
    // RDD of a job.
    val sym = Materialize.hold(
      symmetric(edges, aCol, bCol).distinct(), "graft cc edges")

    var converged = false
    var i = 0
    val result = try {
      // initial labels already fold in the first neighbor-min round:
      // lbl(v) = min(v, min over neighbors) is one aggregate over the
      // symmetric edge list (initial neighbor labels ARE neighbor ids),
      // saving a full join+union+agg round — for the shallow graphs
      // that near-dup clustering produces, that is a third of the loop.
      var (labels, prevSum) = round(
        sym.df.groupBy("src")
          .agg(least(col("src"), min(col("dst"))).as("lbl"))
          .withColumnRenamed("src", "node"), 0)
      // labels only decrease, so sum(lbl) is a strictly decreasing
      // potential function: an unchanged sum IS the fixpoint. None =
      // no edges -> no nodes -> no clusters.
      converged = prevSum.isEmpty
      while (!converged && i < maxIter) {
        val nbrLabels = sym.df
          .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
          .select(col("src").as("node"), col("lbl"))
        val minned = labels.union(nbrLabels)
          .groupBy("node").agg(min(col("lbl")).as("lbl"))
        // pointer-doubling step: lbl <- min(lbl, lbl(lbl)). Every label
        // IS a node id present in `minned` (labels are always reachable
        // node ids), so the lookup matches every row; left + coalesce
        // keeps the step total even if that invariant were perturbed.
        // The two sides of the self-join are the identical aggregate, so
        // the exchange is planned once and reused (ReuseExchange). The
        // probe side of this join is keyed on lbl, which skews as a
        // giant component's labels coalesce onto its minimum — that is
        // the equi-join skew AQE's OptimizeSkewedJoin splits at runtime
        // (regression-covered by SkewJoinSpec); the lookup side stays
        // one row per node. If a deployment must run with AQE off, salt
        // this probe.
        //
        // The doubling step is ADAPTIVE: the first two rounds run the
        // plain neighbor-min only. Near-dup clustering overwhelmingly
        // produces shallow components (diameter 2-3) that converge
        // within those cheap rounds, and for them the self-join costs
        // more than the rounds it saves; from round 2 on the doubling
        // engages, so a long chain still finishes in O(log diameter)
        // (the 1000-node path pin in DedupSpec covers the combined
        // schedule).
        val stepped =
          if (i < 2) minned
          else minned
            .join(
              minned.select(col("node").as("lbl"), col("lbl").as("lbl2")),
              Seq("lbl"), "left")
            .select(col("node"),
              least(col("lbl"), coalesce(col("lbl2"), col("lbl")))
                .as("lbl"))
        val (next, s) = round(stepped, i + 1)
        labels = next
        converged = s == prevSum
        prevSum = s
        i += 1
      }
      labels
    } finally sym.release()
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter iterations; " +
          "the pointer-doubling bound is ~log2(diameter) + 2 rounds — " +
          "raise maxIter accordingly")
    (result.select(col("node"), col("lbl").as("cluster_id")), i)
  }
}
