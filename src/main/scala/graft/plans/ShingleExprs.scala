package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

// Native expressions for the corpus top-k shingle pipeline
// (TextOps.textNgramsTop) and the unigram-LM probe stream. The
// composable form (`split` → `transform(sequence, …)` higher-order
// lambdas) walks interpreted HOF machinery per token position and
// allocates a token array plus per-element lambda bindings — measured as
// the dominant map-side constant of the two-phase plan at sf3. These run
// one pass of `Tokens` over the raw UTF-8 bytes: no token array, no
// string concat, no per-element dispatch.

/** `graft_shingle_hashes(text)` → array<long>: the DISTINCT
  * `xxhash64(t(i), t(i+1), t(i+2))` of every 3-token window of `text`
  * (`Tokens.hash`). Distinctness is the per-document df contract of the
  * shingle family (DedupOps.shingleRows); dedup here is a sort +
  * run-skip over primitive longs — no boxing, no set. */
case class ShingleHashes64(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val t = new Tokens(input.asInstanceOf[UTF8String])
    val hashes = Array.tabulate(math.max(t.count - 2, 0))(t.hash(_, 3))
    java.util.Arrays.sort(hashes)
    var n = 0
    var i = 0
    while (i < hashes.length) {
      if (i == 0 || hashes(i) != hashes(i - 1)) { hashes(n) = hashes(i); n += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hashes, n))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes64 =
    copy(child = newChild)
}

/** `graft_token_hashes(text)` → array<long>: `xxhash64(tok)` of EVERY
  * [[Tokens]] token of `text`, in order, duplicates preserved — the
  * probe stream of the unigram-LM scoring join (TextOps.textLogprob),
  * with zero string materialization. It equals `xxhash64` over the
  * `split` tokens, so the count side and the probe side can mix
  * expression forms freely. */
case class TokenHashes64(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_token_hashes expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val t = new Tokens(input.asInstanceOf[UTF8String])
    new GenericArrayData(Array.tabulate(t.count)(t.hash(_, 1)))
  }

  override protected def withNewChildInternal(newChild: Expression): TokenHashes64 =
    copy(child = newChild)
}

/** `graft_candidate_shingles(text, candidates array<long>)` →
  * array<string>: the DISTINCT 3-token shingle STRINGS of `text`,
  * `concat_ws(' ', t(i), t(i+1), t(i+2))`, whose window hash (as in
  * [[ShingleHashes64]]) lands in `candidates`. Strings materialize ONLY
  * for matching windows — a copy of the contiguous `Tokens.view`, no
  * concat — so the per-row cost is the hash sweep plus a handful of
  * tiny allocations corpus-wide. The candidate side must be a foldable array literal (it is: the ≤CAP
  * driver-collected candidate hashes). */
case class CandidateShingles(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(LongType, _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "graft_candidate_shingles expects (string, foldable array<long>), got " +
          s"(${l.simpleString}, ${r.simpleString}${if (right.foldable) "" else ", non-foldable"})")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_candidate_shingles"

  @transient private lazy val candidateSet: Array[Long] = {
    val arr = right.eval(InternalRow.empty).asInstanceOf[ArrayData].toLongArray()
    java.util.Arrays.sort(arr)
    arr
  }

  override def eval(input: InternalRow): Any = {
    val textAny = left.eval(input)
    if (textAny == null) return null
    val t = new Tokens(textAny.asInstanceOf[UTF8String])
    val cands = candidateSet
    var out: java.util.LinkedHashSet[UTF8String] = null
    var w = 0
    while (w < t.count - 2) {
      if (java.util.Arrays.binarySearch(cands, t.hash(w, 3)) >= 0) {
        if (out == null) out = new java.util.LinkedHashSet[UTF8String]()
        out.add(t.view(w, 3).copy()): Unit
      }
      w += 1
    }
    if (out == null) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CandidateShingles =
    copy(left = newLeft, right = newRight)
}
