package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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
  * copies no bytes (a view shares the text's). The companion object
  * holds the native text functions' kernels, each one sweep of a
  * `Tokens` over the raw UTF-8 bytes: no token array, no string
  * concat, no per-element dispatch of the higher-order-function forms
  * they replace.
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

object Tokens {
  /** Spark's `xxhash64` seed. */
  final val Seed = 42L

  /** `graft_gram_stats(text, n)` → struct(n_grams, n_distinct, top_cnt,
    * dup_inst, sum_tok_len): per-document word-n-gram statistics in one
    * pass — the Gopher-rule (n=1) and repetition-rule (n=2,3) inputs.
    * The grams are the n-token windows and counts are the run lengths
    * of [[Tokens.runs]]: O(m log m) per document, where the array-HOF
    * form it replaced was O(distinct·tokens).
    *  - n_grams     = max(tokens − n + 1, 0)  (= n_tokens for n = 1)
    *  - n_distinct  = distinct grams
    *  - top_cnt     = occurrences of the most frequent gram
    *  - dup_inst    = n_grams − singleton grams (Σ_{c≥2} c)
    *  - sum_tok_len = Σ CHARACTER length of tokens (n = 1 reading;
    *                  mirrors `aggregate(tk, 0, (a,x) => a + length(x))`) */
  def gramStats(text: UTF8String, n: Int): InternalRow = {
    val t = new Tokens(text)
    var chars = 0L
    var i = 0
    while (i < t.count) { chars += t.view(i, 1).numChars; i += 1 }
    var distinct, top, singles = 0L
    val m = t.runs(n) { (_, c) =>
      distinct += 1
      if (c > top) top = c
      if (c == 1) singles += 1
    }
    InternalRow(m.toLong, distinct, top, m.toLong - singles, chars)
  }

  /** `graft_gram_hash_counts(text, n)` → array<struct<h1, h2, c>>: the
    * document's distinct word-n-grams as xxhash64 keys with their
    * within-document counts — the probe side of the LM fluency scores
    * (TextOps.textLogprob / textBigramLogprob), which streams
    * distinct-gram rows instead of exploding every token instance.
    *  - n = 1: h1 = xxhash64(tk(i)), h2 = 0 (unused)
    *  - n = 2: h1 = xxhash64(tk(i)), h2 = xxhash64(tk(i), tk(i+1))
    * Elements come in token-wise window order. Counting is exact window
    * equality ([[Tokens.runs]]), NOT hash equality: a hash collision
    * merges keys in the count table exactly as in the declarative
    * form, never silently here. */
  def gramHashCounts(text: UTF8String, n: Int): ArrayData = {
    require(n == 1 || n == 2, s"graft_gram_hash_counts supports n=1|2, got $n")
    val t = new Tokens(text)
    val out = new java.util.ArrayList[InternalRow](math.min(t.count, 1 << 16))
    t.runs(n) { (v, c) =>
      val w = t.indexOf(v)
      out.add(InternalRow(t.hash(w, 1), if (n == 2) t.hash(w, 2) else 0L, c)): Unit
    }
    new GenericArrayData(out.toArray)
  }

  // "qm:" in UTF-8 — the hash-family salt the declarative form concats
  private val QmPrefix = Array[Byte](0x71, 0x6d, 0x3a)

  /** `graft_qm_buckets(text, nBuckets)` → array<long>[nBuckets + 1]:
    * the quality model's hashed bag-of-words counts — slots
    * 0..nBuckets−1 hold per-bucket token-instance counts, the last slot
    * the nonempty-token count. Bit-identical to the declarative form
    *
    *   explode(split(text, ' ')) → filter(tok <> '') →
    *   conv(substring(md5('qm:' || tok), 1, 8), 16, 10) % nBuckets →
    *   groupBy(doc_id) pivot-count
    *
    * (the DuckDB oracle mirrors it): md5 runs over the UTF-8 bytes of
    * "qm:" + token, and the first 8 hex chars of the digest are the
    * first 4 digest bytes read as an unsigned big-endian 32-bit value.
    * It exists for the scan shape: fused into the same projection as
    * graft_gram_stats, the whole per-doc feature row is one map-side
    * pass, with no token explode, shuffle or join back (r21). */
  def qmBuckets(text: UTF8String, nBuckets: Int): ArrayData = {
    require(nBuckets >= 1, s"graft_qm_buckets needs nBuckets >= 1, got $nBuckets")
    val bytes = text.getBytes
    val out = new Array[Long](nBuckets + 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val t = new Tokens(text)
    var i = 0
    while (i < t.count) {
      if (t.end(i) > t.start(i)) {
        md.reset()
        md.update(QmPrefix)
        md.update(bytes, t.start(i), t.end(i) - t.start(i))
        val d = md.digest()
        val v = ((d(0) & 255L) << 24) | ((d(1) & 255L) << 16) |
          ((d(2) & 255L) << 8) | (d(3) & 255L)
        out((v % nBuckets).toInt) += 1L
        out(nBuckets) += 1L
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  private val Log2 = math.log(2.0)

  /** `graft_token_entropy(text)` → double: Shannon entropy (base 2) of
    * the document's token distribution — the lexical-diversity quality
    * signal (low entropy ⇒ repetitive/templated text). The oracle's
    * `entropy(unnest(string_split(...)))` sees the identical multiset.
    * H = log2(N) − Σ c·log2(c) / N over the EXACT counts of
    * [[Tokens.runs]] — no hashing, so no collision caveat; the only
    * doubles are the final logs. */
  def entropy(text: UTF8String): Double = {
    val t = new Tokens(text)
    var acc = 0.0
    t.runs(1) { (_, c) => if (c > 1) acc += c * math.log(c.toDouble) }
    math.log(t.count.toDouble) / Log2 - acc / (t.count * Log2)
  }

  /** `graft_shingle_hashes(text)` → array<long>: the DISTINCT
    * `xxhash64(t(i), t(i+1), t(i+2))` of every 3-token window — the
    * per-document df contract of the shingle family
    * (DedupOps.shingleRows, TextOps.textNgramsTop). Dedup is a sort +
    * run-skip over primitive longs — no boxing, no set. */
  def shingleHashes(text: UTF8String): ArrayData = {
    val t = new Tokens(text)
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

  /** `graft_token_hashes(text)` → array<long>: `xxhash64(tok)` of EVERY
    * token, in order, duplicates preserved — the probe stream of the
    * unigram-LM scoring join (TextOps.textLogprob). It equals `xxhash64`
    * over the `split` tokens, so the count side and the probe side can
    * mix forms freely. */
  def tokenHashes(text: UTF8String): ArrayData = {
    val t = new Tokens(text)
    new GenericArrayData(Array.tabulate(t.count)(t.hash(_, 1)))
  }

  /** `graft_candidate_shingles(text, candidates)` → array<string>: the
    * DISTINCT 3-token shingle STRINGS of `text`,
    * `concat_ws(' ', t(i), t(i+1), t(i+2))`, whose window hash (as in
    * [[shingleHashes]]) is in `sortedCands`, the driver-collected
    * candidate hashes sorted once at analysis. Strings materialize ONLY
    * for matching windows — a copy of the contiguous view, no concat. */
  def candidateShingles(text: UTF8String, sortedCands: Array[Long]): ArrayData = {
    val t = new Tokens(text)
    var out: java.util.LinkedHashSet[UTF8String] = null
    var w = 0
    while (w < t.count - 2) {
      if (java.util.Arrays.binarySearch(sortedCands, t.hash(w, 3)) >= 0) {
        if (out == null) out = new java.util.LinkedHashSet[UTF8String]()
        out.add(t.view(w, 3).copy()): Unit
      }
      w += 1
    }
    if (out == null) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

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
