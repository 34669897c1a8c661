package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_gram_stats(text, n)` → struct(n_grams, n_distinct, top_cnt,
  * dup_inst, sum_tok_len): per-document word-n-gram statistics in ONE
  * byte sweep — the Gopher-rule (n=1) and repetition-rule (n=2,3)
  * inputs, natively.
  *
  * The array-HOF form these replace
  * (`array_max(transform(array_distinct(tk), t => size(filter(tk, …))))`,
  * PretrainOps.scala gopherBase/cnts) interprets per element and is
  * O(distinct·tokens) per document — measured as the dominant term of
  * the honest (collect-timed) quality-gate cost at sf10. Here: token
  * boundaries from the byte sweep, grams as n-token windows sorted by
  * token-wise lexicographic order (tokens cannot contain the 0x20
  * separator, so window equality ≡ joined-string equality — the same
  * multiset the oracle's explode/GROUP BY sees), counts from run
  * lengths. O(m log m) per document, zero allocation beyond the views.
  *
  * Fields (longs):
  *  - n_grams     = max(tokens − n + 1, 0)  (= n_tokens for n = 1)
  *  - n_distinct  = distinct grams
  *  - top_cnt     = occurrences of the most frequent gram
  *  - dup_inst    = n_grams − singleton grams (Σ_{c≥2} c)
  *  - sum_tok_len = Σ CHARACTER length of tokens (n = 1 reading;
  *                  mirrors `aggregate(tk, 0, (a,x) => a + length(x))`)
  *
  * Tokenization contract: every 0x20 byte separates tokens, empty
  * tokens preserved — identical to `split(text, ' ')` / DuckDB
  * `string_split` (EntropyExpr contract). CodegenFallback: the eval IS
  * the tight loop (plans/ShingleExprs.scala rationale).
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
    val s = input.asInstanceOf[UTF8String]
    val n = nInput.asInstanceOf[Int]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    var spaces = 0
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) spaces += 1
      i += 1
    }
    val nt = spaces + 1
    val toks = new Array[UTF8String](nt)
    var t = 0
    var st = 0
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        toks(t) = UTF8String.fromAddress(base, off + st, i - st)
        t += 1
        st = i + 1
      }
      i += 1
    }
    toks(t) = UTF8String.fromAddress(base, off + st, len - st)
    var sumLen = 0L
    i = 0
    while (i < nt) { sumLen += toks(i).numChars(); i += 1 }

    val m = nt - n + 1
    if (m <= 0)
      return InternalRow(0L, 0L, 0L, 0L, sumLen)

    // sort gram START indices by token-wise lexicographic window order;
    // equal windows land adjacent, counts fall out of run lengths
    val idx = new Array[Integer](m)
    i = 0
    while (i < m) { idx(i) = Integer.valueOf(i); i += 1 }
    val cmp = new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val ai = a.intValue(); val bi = b.intValue()
        var k = 0
        while (k < n) {
          val c = toks(ai + k).compareTo(toks(bi + k))
          if (c != 0) return c
          k += 1
        }
        0
      }
    }
    java.util.Arrays.sort(idx, cmp)

    var distinct = 0L
    var top = 0L
    var singles = 0L
    var run = 1L
    i = 1
    while (i <= m) {
      val same = i < m && cmp.compare(idx(i), idx(i - 1)) == 0
      if (same) run += 1
      else {
        distinct += 1
        if (run > top) top = run
        if (run == 1) singles += 1
        run = 1
      }
      i += 1
    }
    InternalRow(m.toLong, distinct, top, m.toLong - singles, sumLen)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramStats =
    copy(left = newLeft, right = newRight)
}
