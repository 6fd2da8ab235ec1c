package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** 60-bit simhash over an ARRAY<STRING> token column using an MD5-derived
  * per-token hash — graft's one simhash.
  *
  * The per-token hash is the integer value of the first 15 hex characters
  * of md5(token) (= the top 60 bits of the digest), which DuckDB
  * reproduces exactly as `CAST('0x' || substr(md5(w), 1, 15) AS UBIGINT)`
  * — so the whole fingerprint (bit votes over the token multiset, bit set
  * when votes > 0) has a plain-SQL oracle, unlike xxhash64 which exists
  * only inside Spark. 60 bits (not 64) keeps the value positive in a
  * signed BIGINT in both engines. One fused vote loop: one digest + one
  * 60-iteration loop per token, no per-bit lambdas.
  *
  * Codegen'd as a static call into the companion so the per-document
  * projection stays inside whole-stage codegen.
  */
case class SimhashMd5(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(SimhashMd5.simhash(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashMd5.simhash($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SimhashMd5 {
  /** Per-bit +-1 votes over the token multiset's hash60 values; bit set
    * when votes > 0. One digest + one 60-iteration loop per token. */
  def simhash(arr: ArrayData): Long = {
    val votes = new Array[Int](60)
    var t = 0
    while (t < arr.numElements()) {
      val h = Hash60.eval60(arr.getUTF8String(t))
      var j = 0
      while (j < 60) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      t += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }
}
