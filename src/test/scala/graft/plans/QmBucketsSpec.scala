package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Unit equivalence of the fused bag-of-words bucket expression
  * against the declarative explode/md5 pipeline it replaced in
  * PretrainOps.qmFeatures (r21) — localized, so a tokenization or
  * hash-parse regression fails HERE, not only at the oracle gate.
  * Edge cases target the NONEMPTY-token contract (unlike the gram
  * stats, empty tokens are filtered, mirroring the explicit
  * `tok <> ''` filter both engines apply). */
class QmBucketsSpec extends SparkTestBase {

  private val nB = 8

  private val edges = Seq(
    "",                 // no nonempty tokens → all-zero counts
    " ",                // still none
    "solo",             // one token, no separator
    " lead",            // leading empty token filtered
    "trail ",           // trailing empty token filtered
    "double  space",    // middle empty token filtered
    "a a a b b a",      // repeated instances count per instance
    "héllo wörld héllo" // multi-byte UTF-8 through md5
  )

  test("graft_qm_buckets equals explode → filter('') → md5-bucket counts") {
    Natives.ensure(spark)
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = spark.createDataFrame(
        edges.zipWithIndex.map { case (t, i) => (-(i + 1).toLong, t) })
      .toDF("doc_id", "text")
      .unionByName(corpus)

    val got = docs
      .select(col("doc_id"), expr(s"graft_qm_buckets(text, $nB)").as("bk"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap

    // the replaced declarative form, verbatim (inner shape: docs with
    // zero nonempty tokens simply have no row here)
    val want = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("qm:"), col("tok"))), 1, 8), 16, 10)
          .cast("long") % nB).as("b"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("nt"),
        (0 until nB).map(i =>
          sum(when(col("b") === i, 1L).otherwise(0L)).as(s"c$i")): _*)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((0 until nB).map(i => r.getAs[Long](s"c$i")) :+ r.getAs[Long]("nt")))
      .toMap

    assert(got.keySet.size > edges.size, "corpus rows present")
    got.foreach { case (id, bk) =>
      assert(bk.length == nB + 1, s"doc $id arity")
      want.get(id) match {
        case Some(w) => assert(bk == w, s"doc $id: $bk vs $w")
        case None => // declarative side dropped it: zero nonempty tokens
          assert(bk.forall(_ == 0L), s"doc $id must be all-zero: $bk")
      }
    }
    assert(want.keySet.subsetOf(got.keySet))
  }

  test("graft_qm_buckets rejects a non-positive or non-literal nBuckets before any job runs") {
    Natives.ensure(spark)
    val docs = spark.range(3).selectExpr("CAST(id AS STRING) AS text", "CAST(id AS INT) AS n")
    for (call <- Seq("graft_qm_buckets(text, 0)", "graft_qm_buckets(text, n)")) {
      val e = intercept[Exception](docs.selectExpr(call))
      assert(e.getMessage.contains("graft_qm_buckets expects") &&
        e.getMessage.contains("positive int literal nBuckets"), s"$call: ${e.getMessage}")
    }
    val ok = docs.selectExpr("graft_qm_buckets(text, 3)").collect()
    assert(ok.forall(_.getSeq[Long](0).length == 4))
  }
}
