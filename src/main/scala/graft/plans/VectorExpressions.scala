package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Integer dot product over two pre-quantized `array<bigint>` columns — the
  * inner loop of every embedding operator (brute-force cosine top-k, LSH
  * rerank, IVF rerank, near-dup cosine gate).
  *
  * Why a custom expression and not `aggregate(zip_with(a, b, ...), ...)`:
  * Spark's higher-order functions are CodegenFallback — every pair
  * evaluation leaves whole-stage codegen, boxes a lambda variable per
  * element, and `zip_with` materializes an intermediate array the size of
  * the embedding before the fold even starts. On a 100 TB corpus the
  * candidate-pair stream is billions of rows × embedding-width elements;
  * this expression keeps the multiply-accumulate loop inside the generated
  * code with zero allocation per row (`doGenCode` emits a primitive
  * `long` loop directly over the two `ArrayData`).
  *
  * Contract: inputs are quantized vectors produced by `VectorOps.quantArr`
  * (non-null elements); null array → null result; lengths are folded to
  * the shorter of the two (equal by construction for embeddings).
  */
case class IntDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "int_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    IntDotExpr.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    ev.copy(code =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${leftGen.isNull} && !${rightGen.isNull}) {
          ${ev.isNull} = false;
          int $n = java.lang.Math.min(
            ${leftGen.value}.numElements(), ${rightGen.value}.numElements());
          for (int $i = 0; $i < $n; $i++) {
            ${ev.value} += ${leftGen.value}.getLong($i) * ${rightGen.value}.getLong($i);
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntDotExpr =
    copy(l, r)
}

object IntDotExpr {
  /** the interpreted loop: wrapping `Long` multiply-accumulate over the
    * shorter length, like the generated code. The serving tier's
    * driver-side vector index (VectorOps.nearestTopK) scores through it
    * too, so its dots equal the expression's bit for bit. */
  def dot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }
}
