package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_gram_hash_counts(text, n)` → array<struct<h1, h2, c>>:
  * the document's distinct word-n-grams as xxhash64 keys with their
  * within-document occurrence counts, in one pass.
  *
  * This is the probe-side fusion for the LM fluency scores
  * (TextOps.textLogprob / textBigramLogprob): instead of exploding
  * every token INSTANCE into a row (split → explode → xxhash64 per
  * instance, twice — once to build the count table, once to probe it),
  * the corpus streams distinct-gram rows with exact counts; instance
  * totals are Σc. Hash identities match the declarative originals
  * bit-for-bit ([[Tokens]] chains them as Spark's xxhash64 does):
  *
  *  - n = 1: h1 = xxhash64(tk(i)), h2 = 0 (unused)
  *  - n = 2: h1 = xxhash64(tk(i)), h2 = xxhash64(tk(i), tk(i+1))
  *
  * Elements come in token-wise window order. Counting is exact window
  * equality (`Tokens.runs`), NOT hash equality: a hash collision would
  * merge keys in the count table exactly as it does in the declarative
  * form, never silently here.
  */
case class GramHashCounts(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_gram_hash_counts expects (string, int), got (${l.simpleString}, ${r.simpleString})")
    }

  private val elem = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false),
    StructField("c", LongType, nullable = false)))

  override def dataType: DataType = ArrayType(elem, containsNull = false)

  override def prettyName: String = "graft_gram_hash_counts"

  override protected def nullSafeEval(input: Any, nInput: Any): Any = {
    val n = nInput.asInstanceOf[Int]
    require(n == 1 || n == 2, s"graft_gram_hash_counts supports n=1|2, got $n")
    val t = new Tokens(input.asInstanceOf[UTF8String])
    val out = new java.util.ArrayList[InternalRow](math.min(t.count, 1 << 16))
    t.runs(n) { (v, c) =>
      val w = t.indexOf(v)
      out.add(InternalRow(t.hash(w, 1), if (n == 2) t.hash(w, 2) else 0L, c)): Unit
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramHashCounts =
    copy(left = newLeft, right = newRight)
}
