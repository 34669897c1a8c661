package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd LSH signature over an `array<float>` column: the
  * '0'/'1' string of sign bits of the vector's dot products with
  * `nBits` deterministic md5-parity hyperplanes (±1 entries — plane j,
  * coordinate k is +1 iff the low bit of md5("j:k")'s first byte is
  * set; the same derivation SimilarityOps documents and the oracle SQL
  * reconstructs from a generated (j, k) grid).
  *
  * Why native: the composable form is `nBits` separate
  * `aggregate(zip_with(v, plane, _*_), ...)` folds — higher-order-
  * function machinery that allocates a zipped array and walks a lambda
  * per ELEMENT, per PLANE, per row. At sf10 (200k vectors × 40 planes
  * × 64 dims) the fold form measured ~20 s of the 20.7 s sim_ann_lsh
  * wall; this expression emits one fused double loop into whole-stage
  * codegen, the same treatment [[CosineSimilarity]] gives the ranking
  * leg. Per-plane accumulation is double, element order left-to-right
  * — bit-identical to the fold form AND to the oracle's SQL sum, so
  * every signature (and thus every bucket) is unchanged.
  *
  * Edge semantics: a vector whose length differs from `dim`, or that
  * carries a NULL element, returns NULL (mirrors CosineSimilarity's
  * explicit-signal posture; the fold form would silently zip-truncate
  * on length and fold a null element into a '0' bit — neither has ever
  * been exercised: Preflight pins the 64-dim no-null contract, and the
  * type check accepts containsNull=true only because parquet arrays
  * declare it even for null-free data). Both eval paths call one
  * kernel, [[SignBits.signature]].
  */
case class SignBits(child: Expression, nBits: Int, dim: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if nBits >= 1 && dim >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_sign_bits expects array<float> and positive literal " +
        s"(nBits, dim), got ${child.dataType.simpleString}, $nBits, $dim")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sign_bits"

  // planes as one flat row-major array: plane j, coord k at j*dim + k.
  // Derived once per expression instance on the driver, shipped inside
  // the serialized plan (nBits*dim doubles — ~20 KB at 40×64).
  @transient private lazy val planes: Array[Double] = SignBits.planes(nBits, dim)

  override protected def nullSafeEval(input: Any): Any =
    SignBits.signature(input.asInstanceOf[ArrayData], planes, nBits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("signPlanes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, v => s"""
       |${ev.value} = graft.plans.SignBits.signature($v, $planesRef, $nBits, $dim);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SignBits =
    copy(child = newChild)
}

object SignBits {

  /** The kernel both eval paths call: the '0'/'1' sign of `v`'s dot
    * product with each of the `nBits` planes, or null when `v`'s length
    * is not `dim` or it holds a NULL element. */
  def signature(v: ArrayData, planes: Array[Double], nBits: Int, dim: Int): UTF8String = {
    if (v.numElements() != dim) return null
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    val sb = new Array[Byte](nBits)
    var j = 0
    while (j < nBits) {
      var dot = 0.0
      var k = 0
      val base = j * dim
      while (k < dim) { dot += v.getFloat(k).toDouble * planes(base + k); k += 1 }
      sb(j) = if (dot >= 0) '1' else '0'
      j += 1
    }
    UTF8String.fromBytes(sb)
  }
  /** Flat row-major md5-parity plane matrix — the single source of the
    * hyperplane definition (SimilarityOps delegates here). */
  def planes(nBits: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Double](nBits * dim)
    var j = 0
    while (j < nBits) {
      var k = 0
      while (k < dim) {
        val h = md.digest(s"$j:$k".getBytes("UTF-8"))
        out(j * dim + k) = if ((h(0) & 1) == 1) 1.0 else -1.0
        k += 1
      }
      j += 1
    }
    out
  }
}
