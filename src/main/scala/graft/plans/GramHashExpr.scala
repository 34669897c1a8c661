package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_gram_hash_counts(text, n)` → array<struct<h1, h2, c>>:
  * the document's distinct word-n-grams as xxhash64 keys with their
  * within-document occurrence counts, in one byte sweep.
  *
  * This is the probe-side fusion for the LM fluency scores
  * (TextOps.textLogprob / textBigramLogprob): instead of exploding
  * every token INSTANCE into a row (split → explode → xxhash64 per
  * instance, twice — once to build the count table, once to probe it),
  * the corpus streams distinct-gram rows with exact counts; instance
  * totals are Σc. Hash identities match the declarative originals
  * bit-for-bit:
  *
  *  - n = 1: h1 = xxhash64(token) (seed 42), h2 = 0 (unused)
  *  - n = 2: h1 = xxhash64(tk(i)); h2 = xxhash64(tk(i), tk(i+1)) =
  *    XXH64(bytes(tk(i+1)), seed = h1) — Spark's multi-argument
  *    xxhash64 chains each value with the previous hash as seed
  *
  * Counting is exact string equality (token-wise sorted windows, run
  * lengths — GramStatsExpr machinery), NOT hash equality: a hash
  * collision would merge keys in the count table exactly as it does in
  * the declarative form, never silently here.
  *
  * Tokenization contract: 0x20 separates, empty tokens preserved
  * (EntropyExpr). CodegenFallback: the eval IS the tight loop.
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

  private def hashTok(t: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes(), seed)

  override protected def nullSafeEval(input: Any, nInput: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = nInput.asInstanceOf[Int]
    require(n == 1 || n == 2, s"graft_gram_hash_counts supports n=1|2, got $n")
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

    val m = nt - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])

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

    val out = new java.util.ArrayList[InternalRow](math.min(m, 1 << 16))
    var run = 1L
    i = 1
    while (i <= m) {
      val same = i < m && cmp.compare(idx(i), idx(i - 1)) == 0
      if (same) run += 1
      else {
        val g = idx(i - 1).intValue()
        val h1 = hashTok(toks(g), 42L)
        val h2 = if (n == 2) hashTok(toks(g + 1), h1) else 0L
        out.add(InternalRow(h1, h2, run))
        run = 1L
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramHashCounts =
    copy(left = newLeft, right = newRight)
}
