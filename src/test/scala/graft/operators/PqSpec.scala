package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Product-quantized search: contract mechanics and recall vs the
  * exact integer-L2 top-k. sf0.01 (500 vectors, 5 probes): the spec
  * SF's 50 vectors make recall a coin flip. */
class PqSpec extends SparkTestBase {
  private val d = "/root/testdata/sf0.01"

  /** exact integer-L2 top-k per probe, brute-forced driver-side on the
    * same quantized grid the operator uses. */
  private def exactTop(k: Int): Map[Long, Set[Long]] = {
    val pts = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          floor(x.cast("double") * 10000 + 0.5).cast("long") + 10000L).as("qe"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val probes = pts.filter(_._1 < 5)
    probes.map { case (q, qe) =>
      val byDist = pts.filter(_._1 != q).map { case (v, ve) =>
        var s = 0L
        var i = 0
        while (i < qe.length) { val df = qe(i) - ve(i); s += df * df; i += 1 }
        (s, v)
      }.sortBy(identity).take(k).map(_._2).toSet
      q -> byDist
    }.toMap
  }

  private def recallOf(rows: Array[(Long, Long)], exact: Map[Long, Set[Long]]): Double = {
    val got = rows.groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val rs = exact.map { case (q, ex) => (ex & got.getOrElse(q, Set.empty)).size.toDouble / ex.size }
    rs.sum / rs.size
  }

  test("pq top-k: contract mechanics (5 rows per probe, ranked, adist nondecreasing)") {
    val rows = SimilarityOps.queries("sim_pq_topk")(spark, d).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 5)
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to 5L), s"probe $q ranks")
      val ad = sorted.map(_.getAs[Long]("adist"))
      assert(ad.zip(ad.tail).forall { case (a, b) => a <= b }, s"probe $q adist order")
      assert(rs.forall(_.getAs[Long]("vec_id") != q), s"probe $q must exclude itself")
    }
  }

  test("pq recall beats chance with the first-k codebook") {
    val exact = exactTop(5)
    val firstK = SimilarityOps.queries("sim_pq_topk")(spark, d).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
    val rF = recallOf(firstK, exact)
    info(s"recall@5: first-k codebook $rF")
    // chance = 5/499 ≈ 0.01; the first-k codebook measured 0.20 at
    // this SF — assert with margin
    assert(rF >= 0.1, s"first-k recall $rF")
  }
}
