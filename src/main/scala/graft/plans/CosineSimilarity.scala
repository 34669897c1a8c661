package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** `graft_cosine(a, b)`: cosine similarity of two `array<float>`
  * columns, one fused loop per row.
  *
  * The composable form (`aggregate(zip_with(a, b, _*_), ...)`) allocates
  * an intermediate array per row and walks higher-order-function
  * machinery per element — the hot path of brute-force and
  * LSH-bucketed similarity search at scale.
  *
  * Accumulation is double, element order left-to-right — bit-identical
  * to the fold form, so oracle-checked results are unchanged.
  *
  * Edge semantics (explicit, not incidental): mismatched lengths,
  * zero-norm vectors and a NULL element all return NULL — silently
  * truncating to the shorter length, emitting NaN/Infinity or reading
  * a NULL slot as 0.0 would diverge from any full-vector oracle
  * instead of signalling bad input (the fold form is NULL on a NULL
  * element too).
  */
object CosineSimilarity {

  /** cos(x, y), or null for mismatched lengths, a zero norm or a NULL
    * element. */
  def cosine(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
