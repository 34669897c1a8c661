package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused SimHash bit-sum aggregate: for each of the first `nBits` hex
  * nibbles of the child string (an md5 digest), accumulates
  * `+1` when the nibble is odd, `-1` when even — the hyperplane-sign
  * sums of an n-bit SimHash — into ONE `long[n]` buffer.
  *
  * The composable form is n separate `sum(CASE substring/instr ...)`
  * aggregate columns: n buffer slots, and per input row n expression
  * trees each re-scanning the hex-digit table (`instr` is an O(16)
  * string search, so 32 bits cost ~512 char comparisons per token).
  * This aggregate reads each digest byte once (ASCII nibble decode,
  * zero allocation) and does n in-place adds — one pass, one buffer.
  * Runs under ObjectHashAggregateExec (hash-based, like collect_list)
  * with map-side partial aggregation, so the shuffle carries one
  * array per (partition, group) exactly as the n-column form carried
  * n longs.
  *
  * Semantics are identical to the n-sum form (same parity, same ±1,
  * same per-group totals) — oracle SQL unchanged.
  */
case class HexParitySums(
    child: Expression,
    nBits: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_parity_sums expects a string argument, got ${child.dataType.simpleString}")
    else if (nBits < 1 || nBits > 64 || (nBits > 32 && nBits % 2 != 0))
      TypeCheckResult.TypeCheckFailure(
        s"graft_parity_sums nBits must be in [1,32] or an even value in (32,64], got $nBits")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_parity_sums"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nBits)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      // md5 hex is ASCII: byte i IS character i. Nibble parity: '0'..'9'
      // keep their low bit; 'a','c','e' are even (10,12,14), 'b','d','f'
      // odd — for both ranges the char's low ASCII bit equals the
      // nibble's low bit ('a'=0x61 odd ASCII but value 10: 0x61&1=1 ≠ 0),
      // so decode the nibble value explicitly rather than trusting ASCII
      // parity.
      if (nBits <= 32) {
        // one bit per nibble: slot j = low-bit parity of nibble j
        var j = 0
        while (j < nBits) {
          val c = s.getByte(j)
          val nib = if (c <= '9') c - '0' else c - 'a' + 10
          buf(j) += (if ((nib & 1) == 1) 1L else -1L)
          j += 1
        }
      } else {
        // two bits per nibble (an md5 digest has only 32 nibbles, so a
        // 64-bit sketch reads each nibble's low TWO bits — still
        // independent uniform hyperplanes): slot 2j = low bit of nibble
        // j, slot 2j+1 = second bit
        val nNib = nBits / 2
        var j = 0
        while (j < nNib) {
          val c = s.getByte(j)
          val nib = if (c <= '9') c - '0' else c - 'a' + 10
          buf(2 * j) += (if ((nib & 1) == 1) 1L else -1L)
          buf(2 * j + 1) += (if ((nib & 2) == 2) 1L else -1L)
          j += 1
        }
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var j = 0
    while (j < nBits) { b1(j) += b2(j); j += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * nBits)
    var j = 0
    while (j < nBits) { bb.putLong(buf(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](nBits)
    var j = 0
    while (j < nBits) { buf(j) = bb.getLong(); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HexParitySums =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HexParitySums =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HexParitySums =
    copy(child = newChild)
}
