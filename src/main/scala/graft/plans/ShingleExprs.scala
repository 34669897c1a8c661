package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the corpus top-k shingle pipeline
  * (TextOps.textNgramsTop).
  *
  * The composable form (`split` → `transform(sequence, …)` higher-order
  * lambdas) walks interpreted HOF machinery per token position and
  * allocates a token array plus per-element lambda bindings — measured
  * as the dominant map-side constant of the two-phase plan at sf3. Both
  * expressions below run one imperative pass over the raw UTF8 bytes:
  * token boundaries are space positions, a 3-token shingle is a
  * CONTIGUOUS byte slice (single-space separator), and the window hash
  * is chained XXH64 over the three token slices — no token array, no
  * string concat, no per-element dispatch.
  *
  * Tokenization contract (must mirror `split(text, " ")` exactly):
  * every 0x20 byte is a separator, empty tokens between consecutive
  * spaces are PRESERVED, and the shingle string equals
  * `concat_ws(" ", t[i], t[i+1], t[i+2])` — which for a single-space
  * separator is precisely the original byte run from the start of
  * t[i] to the end of t[i+2]. Multi-byte UTF-8 is safe: 0x20 never
  * occurs inside a multi-byte sequence.
  *
  * Both are CodegenFallback: the eval IS the tight loop; fusing it
  * into generated Java would only relocate the same work.
  */
private object ShingleBytes {
  final val Seed = 42L

  /** Offsets of each token start and the end sentinel: positions of
    * the (n_spaces + 2) token boundaries in `bytes` — starts(i) is the
    * first byte of token i, starts(last) - 1 is one past the text end.
    * Returned as start offsets plus a trailing (len + 1) so token i
    * spans [starts(i), starts(i + 1) - 1). */
  def tokenStarts(base: AnyRef, off: Long, len: Int): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) spaces += 1
      i += 1
    }
    val starts = new Array[Int](spaces + 2)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        starts(t) = i + 1; t += 1
      }
      i += 1
    }
    starts(t) = len + 1
    starts
  }

  /** Chained XXH64 of the 3 token slices starting at window `w` —
    * hash(t0) seeds hash(t1) seeds hash(t2), the same chaining shape
    * Spark's XxHash64 uses over multiple arguments. */
  def windowHash(base: AnyRef, off: Long, starts: Array[Int], w: Int): Long = {
    var h = Seed
    var j = 0
    while (j < 3) {
      val s = starts(w + j)
      val e = starts(w + j + 1) - 1
      h = XXH64.hashUnsafeBytes(base, off + s, e - s, h)
      j += 1
    }
    h
  }
}

/** `graft_shingle_hashes(text)` → array<long>: the DISTINCT chained-
  * XXH64 hashes of every 3-token window of `text`. Distinctness is the
  * per-document df contract of the shingle family (DedupOps
  * .shingleRows); dedup here is a sort + run-skip over primitive longs
  * — no boxing, no set. */
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
    val s = input.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val starts = ShingleBytes.tokenStarts(base, off, s.numBytes())
    val nTokens = starts.length - 1
    if (nTokens < 3) return new GenericArrayData(Array.emptyLongArray)
    val hashes = new Array[Long](nTokens - 2)
    var w = 0
    while (w < hashes.length) {
      hashes(w) = ShingleBytes.windowHash(base, off, starts, w)
      w += 1
    }
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

/** `graft_token_hashes(text)` → array<long>: the XXH64 hash of EVERY
  * whitespace token of `text`, in order, duplicates preserved — the
  * probe stream of the unigram-LM scoring join (TextOps.textLogprob),
  * produced by one byte sweep with zero string materialization. The
  * hash must agree with `xxhash64(tok)` over the same `split(text,
  * " ")` tokens (XXH64 over the token's UTF-8 bytes, seed 42), so the
  * count side and the probe side can mix expression forms freely. */
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
    val s = input.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val starts = ShingleBytes.tokenStarts(base, off, s.numBytes())
    val n = starts.length - 1
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      val st = starts(i)
      val en = starts(i + 1) - 1
      hashes(i) = XXH64.hashUnsafeBytes(base, off + st, en - st, ShingleBytes.Seed)
      i += 1
    }
    new GenericArrayData(hashes)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenHashes64 =
    copy(child = newChild)
}

/** `graft_candidate_shingles(text, candidates array<long>)` →
  * array<string>: the DISTINCT 3-token shingle STRINGS of `text` whose
  * window hash (same chained XXH64 as [[ShingleHashes64]]) lands in
  * `candidates`. Strings materialize ONLY for matching windows — a
  * contiguous byte-slice copy, no concat — so the per-row cost is the
  * hash sweep plus a handful of tiny allocations corpus-wide. The
  * candidate side must be a foldable array literal (it is: the ≤CAP
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
    val s = textAny.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val starts = ShingleBytes.tokenStarts(base, off, s.numBytes())
    val nTokens = starts.length - 1
    if (nTokens < 3) return new GenericArrayData(Array.empty[Any])
    val cands = candidateSet
    var out: java.util.LinkedHashSet[UTF8String] = null
    var w = 0
    while (w < nTokens - 2) {
      val h = ShingleBytes.windowHash(base, off, starts, w)
      if (java.util.Arrays.binarySearch(cands, h) >= 0) {
        val st = starts(w)
        val en = starts(w + 3) - 1 // end of token w+2
        val slice = new Array[Byte](en - st)
        org.apache.spark.unsafe.Platform.copyMemory(base, off + st,
          slice, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, (en - st).toLong)
        if (out == null) out = new java.util.LinkedHashSet[UTF8String]()
        out.add(UTF8String.fromBytes(slice)): Unit
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
