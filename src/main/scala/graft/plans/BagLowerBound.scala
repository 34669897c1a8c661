package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** `graft_bag_lb(a, b)`: a cheap LOSSLESS lower bound on Levenshtein
  * distance, used to screen candidate pairs before the O(len·k) banded
  * DP (text_fuzzy_pairs' per-pair cost): every edit operation changes a string's character
  * multiset by at most 2 L1 units (substitution: −1 one symbol, +1
  * another) and its length by at most 1, so
  *
  *   lev(a, b) ≥ max(|len(a) − len(b)|, ⌈L1(bag(a), bag(b)) / 2⌉).
  *
  * Bags are bucketed into 32 byte-hash buckets — merging symbols only
  * LOWERS the L1, so the bound stays valid (weaker), and the per-pair
  * cost is len(a)+len(b) bucket increments + 32 diffs (~150 ops vs
  * ~2600 banded-DP cells at the 60-char/k=21 config). A pair whose
  * bound exceeds the threshold can be dropped WITHOUT running the DP —
  * never a pair that qualifies (spec: property-checked against
  * levenshtein on generated strings; the screened fuzzy pipeline is
  * row-identical to the unscreened one, and the oracle never changes).
  *
  * Measured (sf3, same JVM): pass rate 63% on the shared-vocabulary
  * corpus → text_fuzzy_pairs 153 → 128 s against the banded DP (r16).
  * A q=2 Ukkonen gram bound (⌈L1(bigram bags)/4⌉) was measured and
  * REJECTED: the /2q divisor outweighs the grams' extra discrimination
  * on this corpus (72% pass — strictly worse). r17 swapped the DP
  * behind this screen for the bit-parallel [[Lev64]] (~900 word-ops),
  * which shrinks the screen's margin but it still pays: fuzzy at sf3
  * measured 5.8 s screened vs 8.4 s unscreened (Lab
  * fuzzy_lev64/_noscreen).
  */
object BagLowerBound {

  /** max(|Δlen|, ceil(L1(bag32(a), bag32(b)) / 2)) — see the object
    * scaladoc for why this never exceeds the edit distance.
    *
    * Computed over CODE POINTS, not bytes (r17, per advice): Spark's
    * levenshtein counts code points, so a byte-level bag was NOT a
    * valid lower bound on non-ASCII input ('x' vs one 4-byte char:
    * lev = 1 but byte |Δlen| = 3). The loop decodes UTF-8 inline —
    * on ASCII input it is the old byte loop plus one branch. */
  def bound(a: UTF8String, b: UTF8String): Int = {
    val h = new Array[Int](32)
    val la = accumulate(a.getBytes, h, +1)
    val lb = accumulate(b.getBytes, h, -1)
    var l1 = 0
    var i = 0
    while (i < 32) { l1 += math.abs(h(i)); i += 1 }
    val dlen = math.abs(la - lb)
    math.max(dlen, (l1 + 1) / 2)
  }

  /** Adds each code point's bucket (cp mod 32) into `h` with `sign`;
    * returns the CODE-POINT count. Any symbol→bucket map keeps the
    * bound valid (merging symbols only lowers the L1); malformed
    * trailing bytes are clamped rather than overrun. */
  private def accumulate(bs: Array[Byte], h: Array[Int], sign: Int): Int = {
    val n = bs.length
    var i = 0
    var cnt = 0
    while (i < n) {
      val c = bs(i) & 0xFF
      var cp = c
      if (c < 0x80) i += 1
      else if ((c & 0xE0) == 0xC0 && i + 1 < n) {
        cp = ((c & 0x1F) << 6) | (bs(i + 1) & 0x3F); i += 2
      } else if ((c & 0xF0) == 0xE0 && i + 2 < n) {
        cp = ((c & 0x0F) << 12) | ((bs(i + 1) & 0x3F) << 6) | (bs(i + 2) & 0x3F)
        i += 3
      } else if ((c & 0xF8) == 0xF0 && i + 3 < n) {
        cp = ((c & 0x07) << 18) | ((bs(i + 1) & 0x3F) << 12) |
          ((bs(i + 2) & 0x3F) << 6) | (bs(i + 3) & 0x3F)
        i += 4
      } else i += 1 // malformed lead byte: count it as one symbol
      h(cp & 31) += sign
      cnt += 1
    }
    cnt
  }
}
