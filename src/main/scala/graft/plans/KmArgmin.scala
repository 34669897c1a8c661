package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native nearest-centroid assignment for the integer k-means lane:
  * argmin over K centroids of the squared-L2 distance to an
  * `array<long>` point, ties to the lowest centroid id — one fused
  * loop inside whole-stage codegen.
  *
  * Exists for the same reason as [[CosineSimilarity]]: the composable
  * form (array_min over K `aggregate(zip_with(...))` structs) routes
  * every element through CodegenFallback higher-order-function
  * machinery and allocates K intermediate arrays per row — measured
  * 98.8 s for the sf10 k-means run (500k vectors × 8 cells × 64 dims
  * × 23 iterations); this expression is ~K·dim long ops per row.
  * Semantics are IDENTICAL (integer arithmetic, same (dist, cid) tie
  * order — the kmeans spec and oracle are unchanged).
  *
  * Centroids arrive as LITERAL nested arrays (the driver owns them
  * between Lloyd steps, K×dim ≤ a few KB) and are unpacked once at
  * expression construction into plain long[][] — the codegen loop
  * reads a reference object, never ArrayData. */
case class KmArgmin(child: Expression,
                    cents: Array[Array[Long]],
                    cids: Array[Long])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if cents.nonEmpty && cents.length == cids.length =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_km_argmin expects (array<long> point, non-empty literal " +
        s"array<array<long>> centroids, literal array<long> ids), got " +
        s"${child.dataType.simpleString} with ${cents.length} centroids / " +
        s"${cids.length} ids")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_km_argmin"

  override protected def nullSafeEval(input: Any): Any =
    KmArgmin.assign(input.asInstanceOf[ArrayData], cents, cids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("kmCents", cents, "long[][]")
    val cidsRef = ctx.addReferenceObj("kmCids", cids, "long[]")
    nullSafeCodeGen(ctx, ev, v => s"""
       |${ev.value} = graft.plans.KmArgmin.assign($v, $centsRef, $cidsRef);
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): KmArgmin =
    copy(child = newChild)
}

object KmArgmin {

  /** argmin_j ||qe − cents(j)||² with ties to the lowest cid. */
  def assign(qe: ArrayData, cents: Array[Array[Long]], cids: Array[Long]): Long = {
    var bestD = Long.MaxValue
    var bestC = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d = 0L
      var i = 0
      while (i < c.length) {
        val diff = qe.getLong(i) - c(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD || (d == bestD && cids(j) < bestC)) { bestD = d; bestC = cids(j) }
      j += 1
    }
    bestC
  }
}
