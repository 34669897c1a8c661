package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** `graft_sign_bits(vec, nBits, dim)`: the LSH signature of an
  * `array<float>` column, the '0'/'1' string of sign bits of the
  * vector's dot products with `nBits` deterministic md5-parity
  * hyperplanes (±1 entries — plane j, coordinate k is +1 iff the low
  * bit of md5("j:k")'s first byte is set; the same derivation
  * SimilarityOps documents and the oracle SQL reconstructs from a
  * generated (j, k) grid).
  *
  * Why native: the composable form is `nBits` separate
  * `aggregate(zip_with(v, plane, _*_), ...)` folds — higher-order-
  * function machinery that allocates a zipped array and walks a lambda
  * per ELEMENT, per PLANE, per row. At sf10 (200k vectors × 40 planes
  * × 64 dims) the fold form measured ~20 s of the 20.7 s sim_ann_lsh
  * wall; this is one fused double loop. Per-plane accumulation is
  * double, element order left-to-right — bit-identical to the fold
  * form AND to the oracle's SQL sum, so every signature (and thus every
  * bucket) is unchanged.
  *
  * Edge semantics: a vector whose length differs from `dim`, or that
  * carries a NULL element, returns NULL (mirrors [[CosineSimilarity]]'s
  * explicit-signal posture; the fold form would silently zip-truncate
  * on length and fold a null element into a '0' bit — neither has ever
  * been exercised: Preflight pins the 64-dim no-null contract, and the
  * type check accepts containsNull=true only because parquet arrays
  * declare it even for null-free data).
  */
object SignBits {

  /** The '0'/'1' sign of `v`'s dot product with each of the `nBits`
    * planes, or null when `v`'s length is not `dim` or it holds a NULL
    * element. */
  def signature(v: ArrayData, planes: Array[Double], nBits: Int, dim: Int): UTF8String = {
    if (v.numElements() != dim) return null
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    val sb = new Array[Byte](nBits)
    var j = 0
    while (j < nBits) {
      var dot = 0.0
      var k = 0
      val base = j * dim
      while (k < dim) { dot += v.getFloat(k).toDouble * planes(base + k); k += 1 }
      sb(j) = if (dot >= 0) '1' else '0'
      j += 1
    }
    UTF8String.fromBytes(sb)
  }

  private val derived = TrieMap.empty[(Int, Int), Array[Double]]

  /** Flat row-major md5-parity plane matrix (plane j, coordinate k at
    * j*dim + k) — the single source of the hyperplane definition. One
    * array per (nBits, dim), so two plans of the same signature hold
    * equal literals and share a common subexpression. */
  def planes(nBits: Int, dim: Int): Array[Double] = derived.getOrElseUpdate((nBits, dim), {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Double](nBits * dim)
    var j = 0
    while (j < nBits) {
      var k = 0
      while (k < dim) {
        val h = md.digest(s"$j:$k".getBytes("UTF-8"))
        out(j * dim + k) = if ((h(0) & 1) == 1) 1.0 else -1.0
        k += 1
      }
      j += 1
    }
    out
  })
}
