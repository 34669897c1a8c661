package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_gram_stats(text, n)` → struct(n_grams, n_distinct, top_cnt,
  * dup_inst, sum_tok_len): per-document word-n-gram statistics in one
  * pass — the Gopher-rule (n=1) and repetition-rule (n=2,3) inputs.
  *
  * The array-HOF form this replaced
  * (`array_max(transform(array_distinct(tk), t => size(filter(tk, …))))`)
  * interprets per element and is O(distinct·tokens) per document. Here
  * the grams are the n-token windows of [[Tokens]] (its contract is the
  * oracle's `split` + GROUP BY multiset) and counts are the run lengths
  * of `Tokens.runs`: O(m log m) per document.
  *
  * Fields (longs):
  *  - n_grams     = max(tokens − n + 1, 0)  (= n_tokens for n = 1)
  *  - n_distinct  = distinct grams
  *  - top_cnt     = occurrences of the most frequent gram
  *  - dup_inst    = n_grams − singleton grams (Σ_{c≥2} c)
  *  - sum_tok_len = Σ CHARACTER length of tokens (n = 1 reading;
  *                  mirrors `aggregate(tk, 0, (a,x) => a + length(x))`)
  */
case class GramStats(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_gram_stats expects (string, int), got (${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_cnt", LongType, nullable = false),
    StructField("dup_inst", LongType, nullable = false),
    StructField("sum_tok_len", LongType, nullable = false)))

  override def prettyName: String = "graft_gram_stats"

  override protected def nullSafeEval(input: Any, nInput: Any): Any = {
    val t = new Tokens(input.asInstanceOf[UTF8String])
    var chars = 0L
    var i = 0
    while (i < t.count) { chars += t.view(i, 1).numChars; i += 1 }
    var distinct, top, singles = 0L
    val m = t.runs(nInput.asInstanceOf[Int]) { (_, c) =>
      distinct += 1
      if (c > top) top = c
      if (c == 1) singles += 1
    }
    InternalRow(m.toLong, distinct, top, m.toLong - singles, chars)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramStats =
    copy(left = newLeft, right = newRight)
}
