package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_qm_buckets(text, nBuckets)` → array<long>[nBuckets + 1]:
  * the quality model's hashed bag-of-words counts in one map-side pass over
  * the document — slots 0..nBuckets−1 hold per-bucket token-instance
  * counts, the last slot the nonempty-token count.
  *
  * Bit-identical to the declarative pipeline it replaces
  * (PretrainOps.qmFeatures r20 form):
  *
  *   explode(split(text, ' ')) → filter(tok <> '') →
  *   conv(substring(md5('qm:' || tok), 1, 8), 16, 10) % nBuckets →
  *   groupBy(doc_id) pivot-count
  *
  * Identities: tokens follow the [[Tokens]] contract; empty tokens are
  * filtered exactly as the explicit filter did; md5 runs over the
  * UTF-8 bytes of "qm:" + token; the first 8 hex chars of the digest
  * are the first 4 digest bytes read as an unsigned big-endian 32-bit
  * value (conv base16→10 of 8 hex chars, always nonnegative), reduced
  * mod nBuckets. The DuckDB oracle mirrors the declarative form, so
  * this expression is gate-checked through every consumer lane.
  *
  * Exists for the SCAN SHAPE, not expressiveness (r21, guide §2.4):
  * the declarative form was the feature table's second full document
  * scan — explode to token instances, shuffle a 10-column partial
  * aggregate, then an inner join back onto the gram-stats side. Fused
  * into the same projection as graft_gram_stats, the whole per-doc
  * feature row is one map-side pass and the join disappears (the
  * former inner join's domain — ≥1 nonempty token — becomes a filter
  * on the last slot).
  */
case class QmBuckets(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_qm_buckets expects (string, int), got (${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_qm_buckets"

  // "qm:" in UTF-8 — the hash-family salt the declarative form concats
  private val prefix = Array[Byte](0x71, 0x6d, 0x3a)

  override protected def nullSafeEval(input: Any, nInput: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val nB = nInput.asInstanceOf[Int]
    require(nB >= 1, s"graft_qm_buckets needs nBuckets >= 1, got $nB")
    val bytes = s.getBytes
    val out = new Array[Long](nB + 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val t = new Tokens(s)
    var i = 0
    while (i < t.count) {
      if (t.end(i) > t.start(i)) {
        md.reset()
        md.update(prefix)
        md.update(bytes, t.start(i), t.end(i) - t.start(i))
        val d = md.digest()
        val v = ((d(0) & 255L) << 24) | ((d(1) & 255L) << 16) |
          ((d(2) & 255L) << 8) | (d(3) & 255L)
        out((v % nB).toInt) += 1L
        out(nB) += 1L
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QmBuckets =
    copy(left = newLeft, right = newRight)
}
