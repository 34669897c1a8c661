package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Edge semantics of the fused LSH signature expression: wrong-length
  * and null-element vectors must return NULL — not fold the null as
  * 0.0 into a sign bit — on BOTH eval paths (r16, ADVICE fix: the
  * codegen loop read v.getFloat(k) without an isNullAt guard). */
class SignBitsSpec extends SparkTestBase {

  test("null element or wrong length yields NULL via codegen") {
    Natives.ensure(spark)
    val out = spark.sql(
      """SELECT id, graft_sign_bits(v, 4, 2) AS sig FROM VALUES
        |  (1, array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT))),
        |  (2, array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT))),
        |  (3, array(CAST(1.0 AS FLOAT))),
        |  (4, CAST(NULL AS ARRAY<FLOAT>))
        |AS t(id, v)""".stripMargin)
      .collect().map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    assert(out(1).exists(s => s.length == 4 && s.forall(c => c == '0' || c == '1')))
    assert(out(2).isEmpty, "null element must yield NULL, not a 0-bit")
    assert(out(3).isEmpty, "wrong length must yield NULL")
    assert(out(4).isEmpty, "null vector must yield NULL")
  }

  test("null element or wrong length yields NULL via interpreted eval") {
    val e = NativesEvalSpec.node("graft_sign_bits", BoundReference(0,
      ArrayType(FloatType, containsNull = true), nullable = true), Literal(4), Literal(2)).replacement
    def ev(elems: Array[Any]): Any =
      e.eval(InternalRow(new GenericArrayData(elems)))
    val clean = ev(Array[Any](1.0f, -2.0f))
    assert(clean != null && clean.toString.length == 4)
    assert(ev(Array[Any](1.0f, null)) == null, "null element must yield NULL")
    assert(ev(Array[Any](1.0f)) == null, "wrong length must yield NULL")
    // the two paths agree on the clean vector
    Natives.ensure(spark)
    val viaSql = spark.sql(
      "SELECT graft_sign_bits(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 4, 2)")
      .collect().head.getString(0)
    assert(viaSql == clean.toString)
  }
}
