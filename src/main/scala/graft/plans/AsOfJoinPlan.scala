package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Native as-of join as a first-class physical operator — the deepest
  * rung of the Spark extension ladder (SURVEY.md §2 preference order
  * (c): custom LogicalPlan + SparkStrategy + SparkPlan, injected via
  * SparkSessionExtensions), used where built-in operators can only
  * EMULATE the semantics, not express them directly.
  *
  * For every left row, attaches the latest right row with
  * `rightTs <= leftTs` on the same key (left outer: nulls when no such
  * row). Keys should be integral/string/date-like: FLOAT/DOUBLE keys
  * are subject to the ±0.0/NaN partitioning hazard every custom node
  * has — the optimizer's NormalizeFloatingNumbers rule only rewrites
  * the join keys of nodes it KNOWS (built-in Join/Window/Aggregate),
  * so hash(-0.0) != hash(0.0) could split one semantic key across
  * partitions here. The built-in composition (operators.AsOfJoin) tags both sides,
  * unions, and runs a carry-forward window — correct, but it shuffles
  * the UNION of both inputs on the key and sorts left and right rows
  * together through one window operator. This operator instead declares
  * sort-merge requirements — each child hash-clustered on its key and
  * sorted by (key, ts) — and streams a single forward merge per
  * partition: one shuffle per side, no window state, O(1) memory (one
  * buffered right row), and Catalyst/AQE place the exchanges and sorts
  * exactly as they would for a SortMergeJoin. At 100 TB this halves the
  * bytes through the as-of shuffle and drops the windowed sort of the
  * combined stream.
  *
  * Determinism: if several right rows share (key, ts), which one is
  * "latest" is ambiguous — callers that need bit-stable output must
  * make the right side unique on (key, ts) first (q63/q90 aggregate the
  * right side, which guarantees it). Null keys and null timestamps on
  * the left emit unmatched; on the right they are skipped.
  */
object AsOfJoinPlan {

  /** As-of-join `left` to `right`. All output column names must be
    * disjoint; the right side keeps its own key/ts columns (select them
    * away afterwards if unwanted). The session must carry
    * GraftExtensions (see [[graft.GraftSession]]): it alone plans the
    * node. */
  def asof(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String): DataFrame = {
    val lp = left.queryExecution.analyzed
    // re-alias the right side with fresh exprIds: both inputs often
    // derive from the same scan (q63: purchases and signups are both
    // `events`), and duplicate attribute ids across the two children
    // would make binding ambiguous — exactly what analyzer-side
    // deduplication does for built-in joins, done here by hand because
    // this plan is built post-analysis.
    val rp = Project(
      right.queryExecution.analyzed.output.map(a => Alias(a, a.name)()),
      right.queryExecution.analyzed)
    val dup = lp.output.map(_.name).toSet
      .intersect(rp.output.map(_.name).toSet)
    require(dup.isEmpty, s"output column names must be disjoint: $dup")
    def attr(out: Seq[Attribute], n: String, side: String): Attribute =
      out.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"$side side has no column '$n'"))
    val node = AsOfJoinNode(lp, rp,
      attr(lp.output, leftKey, "left"), attr(rp.output, rightKey, "right"),
      attr(lp.output, leftTs, "left"), attr(rp.output, rightTs, "right"))
    GraftSqlShim.ofRows(left.sparkSession, node)
  }
}

/** Logical as-of join. Children are already analyzed and the join
  * expressions are resolved attributes, so the node passes analysis
  * untouched; unknown to the optimizer, it is planned solely by
  * [[AsOfJoinStrategy]]. */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryNode {
  require(leftKey.dataType == rightKey.dataType,
    s"key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(Seq(leftTs, rightTs).forall(t =>
      t.dataType == TimestampType || t.dataType == TimestampNTZType ||
        t.dataType == LongType),
    "as-of timestamps must be TIMESTAMP, TIMESTAMP_NTZ or BIGINT")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Exactly one output row per left row, so the left side's rows at
    * this node's row width, in place of Spark's product-of-children
    * default for a binary node it does not know. */
  override def stats: Statistics = {
    val l = left.stats
    val rows = l.rowCount.getOrElse(
      l.sizeInBytes / EstimationUtils.getSizePerRow(left.output))
    Statistics(sizeInBytes = (rows * EstimationUtils.getSizePerRow(output)).max(1),
      rowCount = l.rowCount)
  }

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] to [[AsOfJoinExec]]; injected by
  * GraftExtensions. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join: children arrive hash-clustered on the key and
  * sorted by (key, ts) — EnsureRequirements inserts the exchanges and
  * sorts — and each partition pair is merged in one forward pass
  * holding exactly one candidate right row.
  */
case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTs, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTs, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val rightWidth = right.output.size
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      new Iterator[InternalRow] {
        // rHead is the sort iterator's live row — valid until the next
        // rIter.next() — so it is copied before being retained as the
        // candidate and never held across an advance otherwise.
        private var rHead: InternalRow =
          if (rIter.hasNext) rIter.next() else null
        private var cand: InternalRow = null
        private var candKey: Any = null

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lkv = lk.eval(l)
          val ltv = lt.eval(l)
          if (lkv == null || ltv == null) return proj(joined(l, nullRight))
          val lts = ltv.asInstanceOf[Long]
          var scanning = true
          while (scanning && rHead != null) {
            val rkv = rk.eval(rHead)
            val cmp = if (rkv == null) -1 else keyOrd.compare(rkv, lkv)
            if (cmp < 0) {
              rHead = if (rIter.hasNext) rIter.next() else null
            } else if (cmp == 0) {
              val rtv = rt.eval(rHead)
              if (rtv != null && rtv.asInstanceOf[Long] <= lts) {
                cand = rHead.copy()
                // re-eval the key from the COPY: `rkv` was eval'd from
                // the child iterator's live row, and for buffer-backed
                // types (string/binary/large decimal) a spill reader
                // overwrites that buffer on the next advance — a
                // retained rkv silently mutates into the NEXT row's key
                // (regression-pinned by the row-reuse spec test)
                candKey = rk.eval(cand)
                rHead = if (rIter.hasNext) rIter.next() else null
              } else if (rtv == null) {
                rHead = if (rIter.hasNext) rIter.next() else null
              } else scanning = false
            } else scanning = false
          }
          if (cand != null && keyOrd.compare(candKey, lkv) == 0)
            proj(joined(l, cand))
          else proj(joined(l, nullRight))
        }
      }
    }
  }
}
