package graft.functions

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two vector columns — each
  * side ARRAY<FLOAT> (raw embeddings) or ARRAY<DOUBLE> (derived
  * vectors, e.g. jl_project outputs), mixed freely.
  *
  * Accumulates dot product and norms in double, left to right — exactly
  * the arithmetic of the higher-order-function formulation
  * (zip_with + aggregate after casting to double), so results are
  * bit-identical to the DuckDB oracle path, but in one fused loop with no
  * intermediate array allocation and no lambda interpretation. Stays
  * inside whole-stage codegen (single Java loop per row pair).
  *
  * Non-finite domain, pinned to 0.0 ("orthogonal to everything"): a
  * zero vector makes the raw IEEE result 0/0 = NaN, and a NaN/Inf
  * COMPONENT (fp overflow in an encoder, a poisoned row) propagates NaN
  * through the accumulators the same way — so the guard is on the
  * RESULT: any non-finite similarity returns 0.0. A NaN here is poison
  * downstream: Spark orders NaN above every real number, so one bad
  * vector (padding rows and failed encodes are common in real embedding
  * dumps) would out-rank every genuine neighbor in a top-k and pass
  * every `sim >= t` threshold. Engines disagree on the raw value anyway
  * (DuckDB's list_cosine_similarity returns -1.0 on zero vectors, Spark
  * HOFs NaN), so the pinned 0.0 is also the only cross-engine-stable
  * choice. (An Inf RESULT with finite norms is impossible in exact math
  * — Cauchy–Schwarz — but reachable in IEEE when the dot overflows
  * before the norms do; the finiteness guard covers it.)
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // r12: each side independently accepts ARRAY<FLOAT> (raw embeddings;
  // widened to double per element, the original semantics bit-for-bit)
  // or ARRAY<DOUBLE> (already-double vectors — jl_project outputs);
  // the accumulation is double either way, so the float path is
  // unchanged and the double path adds no conversion at all.
  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  private def isFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => elemOk(e.dataType))
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float>/array<double> sides, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = isFloat(left.dataType)
    val yf = isFloat(right.dataType)
    val n = CosineSimilarity.requireSameLength(
      x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else {
      val r = dot / (math.sqrt(na) * math.sqrt(nb))
      if (java.lang.Double.isFinite(r)) r else 0.0
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      // per-side element getter resolved at PLAN time (the types are
      // static), so the generated loop stays branch-free per element
      val getX = if (isFloat(left.dataType)) s"(double) $x.getFloat($i)"
        else s"$x.getDouble($i)"
      val getY = if (isFloat(right.dataType)) s"(double) $y.getFloat($i)"
        else s"$y.getDouble($i)"
      s"""
        int $n = graft.functions.CosineSimilarity.requireSameLength(
          $x.numElements(), $y.numElements());
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = $getX;
          double $yi = $getY;
          $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        }
        ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
          : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        if (!java.lang.Double.isFinite(${ev.value})) ${ev.value} = 0.0;
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Mismatched vector lengths are a data bug — failing loudly beats
    * silently truncating to the shorter array and returning a
    * plausible-looking similarity (and matches DuckDB
    * list_cosine_similarity, which also rejects them). Degenerate
    * VALUES (zero vectors, NaN/Inf components) are pinned to 0.0 by the
    * expression itself — see the class scaladoc. */
  def requireSameLength(nx: Int, ny: Int): Int = {
    if (nx != ny) throw new IllegalArgumentException(
      s"cosine_sim: vector length mismatch ($nx vs $ny)")
    nx
  }
}

object GraftFunctions {
  /** graft's SQL functions: name -> (implementing class, builder) — the
    * native expressions, q93's typed-Aggregator `bloom_agg_1m` and the
    * `img_*` UDFs of graft.pipeline.ImageUDFs. graft.GraftExtensions
    * injects them all into every session it installs into. */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity],
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))),
    ("simhash_md5", classOf[SimhashMd5],
      (exprs: Seq[Expression]) => SimhashMd5(exprs.head)),
    ("hash60", classOf[Hash60],
      (exprs: Seq[Expression]) => Hash60(exprs.head)),
    ("mix61", classOf[Mix61],
      (exprs: Seq[Expression]) => Mix61(exprs.head, exprs(1), exprs(2))),
    ("shingles3", classOf[Shingles3],
      (exprs: Seq[Expression]) => Shingles3(exprs.head)),
    ("minhash_bands", classOf[MinhashBands],
      (exprs: Seq[Expression]) => MinhashBands(exprs.head)),
    ("pair_combos", classOf[PairCombinations],
      (exprs: Seq[Expression]) => PairCombinations(exprs.head)),
    ("bloom_might_contain", classOf[BloomMightContain],
      (exprs: Seq[Expression]) => BloomMightContain(exprs.head, exprs(1))),
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      (exprs: Seq[Expression]) =>
        SortedIntersectCount(exprs.head, exprs(1))),
    ("jl_project", classOf[JlProject],
      (exprs: Seq[Expression]) => JlProject(exprs.head, exprs(1))),
    ("dhash64", classOf[DHash64],
      (exprs: Seq[Expression]) =>
        DHash64(exprs.head, exprs(1), exprs(2), exprs(3))),
    ("audiofp64", classOf[AudioFp64],
      (exprs: Seq[Expression]) => AudioFp64(exprs.head)),
    ("dot128", classOf[Dot128],
      (exprs: Seq[Expression]) => Dot128(exprs.head, exprs(1))),
    // q93's filter: 2^20 bits = 128 KiB, ~35 bits/key at sf0.1's ~30k
    // urgent orders (FP ~1.5e-5 at K=6 — see BloomFilter.K); sized for
    // the BUILD side's key count, not the probe side's row count
    ("bloom_agg_1m", classOf[BloomFilterAgg],
      GraftSqlShim.udfBuilder("bloom_agg_1m", udaf(new BloomFilterAgg(1 << 20),
        Encoders.scalaLong)))) ++ graft.pipeline.ImageUDFs.all
}
