package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The tokenization contract of every native text function, and the one
  * kernel that implements it. The tokens of a text are exactly
  * `split(text, ' ')` / DuckDB `string_split(text, ' ')`: every 0x20
  * byte separates, and the empty tokens that leading, trailing or
  * consecutive spaces make are kept. Multi-byte UTF-8 is safe: 0x20
  * never occurs inside a multi-byte sequence.
  *
  * No token holds a 0x20, so the k tokens from token w are one
  * contiguous byte run equal to `concat_ws(' ', t(w), …, t(w+k−1))`, and
  * two k-token windows are equal iff their runs are byte-equal. Window
  * hashes are Spark's `xxhash64(t(w), …, t(w+k−1))`: XXH64 of each
  * token's bytes, seeded by the previous token's hash (42 for the
  * first).
  *
  * One instance per evaluated row; it holds the token boundaries and
  * copies no bytes (a view shares the text's). The expressions built
  * on it are CodegenFallback: their eval IS the tight loop, and
  * generated Java would only relocate the same work.
  */
private[plans] final class Tokens(s: UTF8String) {
  private val base = s.getBaseObject
  private val off = s.getBaseOffset

  // starts(i) is the first byte of token i and starts(count) is
  // numBytes + 1, so token i spans [starts(i), starts(i + 1) − 1)
  private val starts: Array[Int] = {
    val len = s.numBytes
    var spaces = 0
    var i = 0
    while (i < len) { if (Platform.getByte(base, off + i) == 0x20) spaces += 1; i += 1 }
    val st = new Array[Int](spaces + 2)
    var t = 1
    i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == 0x20) { st(t) = i + 1; t += 1 }
      i += 1
    }
    st(t) = len + 1
    st
  }

  /** Number of tokens, separators + 1: never 0. */
  val count: Int = starts.length - 1

  /** Byte offset of token i's first byte in the text. */
  def start(i: Int): Int = starts(i)

  /** Byte offset one past token i's last byte. */
  def end(i: Int): Int = starts(i + 1) - 1

  /** Zero-copy view of the k tokens from token w, separators included. */
  def view(w: Int, k: Int): UTF8String =
    UTF8String.fromAddress(base, off + starts(w), end(w + k - 1) - starts(w))

  /** `xxhash64` of the k tokens from token w. */
  def hash(w: Int, k: Int): Long = {
    var h = Tokens.Seed
    var j = w
    while (j < w + k) {
      h = XXH64.hashUnsafeBytes(base, off + starts(j), end(j) - starts(j), h)
      j += 1
    }
    h
  }

  /** The token index `v`, a view from [[view]] on this text, starts at. */
  def indexOf(v: UTF8String): Int =
    java.util.Arrays.binarySearch(starts, (v.getBaseOffset - off).toInt)

  /** Sorts the max(count − k + 1, 0) windows of k tokens in token-wise
    * lexicographic order and calls `f(v, c)` once per distinct window:
    * `v` views one occurrence and `c` counts them. Returns the number of
    * windows. */
  def runs(k: Int)(f: (UTF8String, Long) => Unit): Int = {
    require(k >= 1, s"a window holds at least one token, got $k")
    val m = count - k + 1
    if (m <= 0) return 0
    val ws = new Array[UTF8String](m)
    var i = 0
    while (i < m) { ws(i) = view(i, k); i += 1 }
    java.util.Arrays.sort(ws, Tokens.WindowOrder)
    var c = 1L
    i = 1
    while (i <= m) {
      if (i < m && ws(i) == ws(i - 1)) c += 1
      else { f(ws(i - 1), c); c = 1L }
      i += 1
    }
    m
  }
}

private[plans] object Tokens {
  /** Spark's `xxhash64` seed. */
  final val Seed = 42L

  /** Token-wise lexicographic order of two windows of k tokens each:
    * unsigned byte order with the separator below every other byte, so
    * a token sorts before its extensions (`UTF8String.binaryCompare`'s
    * order of the tokens). */
  private val WindowOrder: java.util.Comparator[UTF8String] = new java.util.Comparator[UTF8String] {
    private def rank(u: UTF8String, i: Int): Int = {
      val b = Platform.getByte(u.getBaseObject, u.getBaseOffset + i) & 0xff
      if (b == 0x20) -1 else b
    }
    override def compare(a: UTF8String, b: UTF8String): Int = {
      val n = math.min(a.numBytes, b.numBytes)
      var i = 0
      while (i < n) {
        val d = rank(a, i) - rank(b, i)
        if (d != 0) return d
        i += 1
      }
      a.numBytes - b.numBytes
    }
  }
}
