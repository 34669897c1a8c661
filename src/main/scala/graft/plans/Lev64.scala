package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** `graft_lev64(a, b, threshold)`: bit-parallel Levenshtein distance
  * (Myers, JACM 1999: "A fast bit-vector algorithm for approximate
  * string matching based on dynamic programming") for patterns of ≤ 64 symbols — the exact
  * shape of text_fuzzy_pairs' per-pair verification, where both sides
  * are ≤ 60-char prefixes. The whole DP column fits in one machine
  * word: each text symbol costs ~15 bitwise ops, so a 60×60 pair costs
  * ~900 word ops versus the ~2,600 cells (~15k ops) of the banded DP
  * behind `levenshtein(a, b, k)` — the sf10 fuzzy lane measured
  * 510 s (r16, banded DP) → 22.1 s (r17, this kernel; min across
  * three windows, BENCH_SF10_R17 — DuckDB takes 274.5 s on the same
  * pairs, so the lane flipped from n/a-DuckDB-crash to a 12× Spark
  * win); sf3 119.5 → 5.5 s same-JVM, rows identical. The DP verification was
  * the dominant cost there BECAUSE the corpus is dense in qualifying
  * pairs (sf3 census: 9.6M block candidates → 6.0M past the bag
  * screen → 1.29M output pairs) — no blocking scheme can prune below
  * the qualifying-pair count, so the per-pair constant is the honest
  * lever. PassJoin segment blocking (the textbook lossless equi-join
  * key for bounded edit distance) was measured and REJECTED for this
  * threshold: at k=20 over 60-char prefixes even the ALIGNED-segment
  * lower bound admits every block candidate (15,752 of 15,752 at
  * sf0.1 — Lab fuzzy_passjoin_probe), so true PassJoin (strictly more
  * candidates, 21× explode) prunes nothing on this shared-vocabulary
  * corpus.
  *
  * Contract — identical to `levenshtein(a, b, threshold)`: the exact
  * distance when it is ≤ threshold, −1 otherwise, counted over CODE
  * POINTS. The bit-parallel path runs when both sides are pure ASCII
  * (bytes ≡ code points; `UTF8String.isFullAscii` is one vectorized
  * scan) and the shorter side fits 64 symbols; anything else falls
  * back to `UTF8String.levenshteinDistance(other, threshold)` — the
  * exact engine `levenshtein` itself uses — so the function is
  * EXACT on every input, never approximate (property-spec'd against
  * levenshtein on random ASCII + multi-byte pairs and on every corpus
  * candidate pair).
  *
  * The per-call Peq table (256 longs) lives in a ThreadLocal and is
  * cleared by re-walking the pattern (m writes, not 256) — zero
  * allocation per row on the hot path.
  */
object Lev64 {

  private val peqTL: ThreadLocal[Array[Long]] =
    new ThreadLocal[Array[Long]] {
      override def initialValue(): Array[Long] = new Array[Long](256)
    }

  /** Exact levenshtein(a, b) if ≤ threshold, else −1. See the object
    * scaladoc for the dispatch (Myers on ASCII ≤64, engine DP else). */
  def dist(a: UTF8String, b: UTF8String, threshold: Int): Int = {
    if (!a.isFullAscii || !b.isFullAscii)
      return a.levenshteinDistance(b, threshold)
    val ab = a.getBytes
    val bb = b.getBytes
    // pattern = shorter side (must fit the 64-bit word)
    val p = if (ab.length <= bb.length) ab else bb
    val t = if (ab.length <= bb.length) bb else ab
    val m = p.length
    val n = t.length
    if (n - m > threshold) return -1 // |Δlen| alone exceeds it
    if (m == 0) return n // n ≤ threshold by the check above
    if (m > 64) return a.levenshteinDistance(b, threshold)

    val peq = peqTL.get()
    var i = 0
    while (i < m) { peq(p(i) & 0xFF) |= 1L << i; i += 1 }

    // Bits ≥ m are garbage but provably inert: every carry propagates
    // upward only and the score is read at bit m−1, so the low m bits
    // evolve exactly as in an m-bit machine (spec: equality with
    // levenshtein on exhaustive random pairs).
    var pv = -1L
    var mv = 0L
    var score = m
    val last = 1L << (m - 1)
    var j = 0
    var result = -2
    while (j < n && result == -2) {
      val eq = peq(t(j) & 0xFF)
      val xv = eq | mv
      val xh = (((eq & pv) + pv) ^ pv) | eq
      var ph = mv | ~(xh | pv)
      var mh = pv & xh
      if ((ph & last) != 0L) score += 1
      else if ((mh & last) != 0L) score -= 1
      ph = (ph << 1) | 1L
      mh = mh << 1
      pv = mh | ~(xv | ph)
      mv = ph & xv
      j += 1
      // early abandon: the score drops at most 1 per remaining symbol
      if (score - (n - j) > threshold) result = -1
    }
    i = 0
    while (i < m) { peq(p(i) & 0xFF) = 0L; i += 1 }
    if (result != -2) result
    else if (score <= threshold) score
    else -1
  }
}
