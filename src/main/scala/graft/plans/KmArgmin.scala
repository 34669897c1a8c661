package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** `graft_km_argmin(point, centroids, ids)`: nearest-centroid
  * assignment for the integer k-means lane — argmin over K centroids
  * of the squared-L2 distance to an `array<long>` point, ties to the
  * lowest centroid id, in one fused loop.
  *
  * Exists for the same reason as [[CosineSimilarity]]: the composable
  * form (array_min over K `aggregate(zip_with(...))` structs) routes
  * every element through interpreted higher-order-function machinery
  * and allocates K intermediate arrays per row — measured 98.8 s for
  * the sf10 k-means run (500k vectors × 8 cells × 64 dims × 23
  * iterations); this is ~K·dim long ops per row. Semantics are
  * IDENTICAL (integer arithmetic, same (dist, cid) tie order — the
  * kmeans spec and oracle are unchanged).
  *
  * Centroids arrive as LITERAL nested arrays (the driver owns them
  * between Lloyd steps, K×dim ≤ a few KB) and are decoded once at
  * analysis into plain long[][] — the loop never reads ArrayData
  * centroids, and a new step's centroids reuse the compiled code. */
object KmArgmin {

  /** argmin_j ||qe − cents(j)||² with ties to the lowest cid. */
  def assign(qe: ArrayData, cents: Array[Array[Long]], cids: Array[Long]): Long = {
    var bestD = Long.MaxValue
    var bestC = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d = 0L
      var i = 0
      while (i < c.length) {
        val diff = qe.getLong(i) - c(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD || (d == bestD && cids(j) < bestC)) { bestD = d; bestC = cids(j) }
      j += 1
    }
    bestC
  }
}
