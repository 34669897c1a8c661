package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The native argmin must be EXACTLY the composable form it replaced:
  * integer squared-L2, ties to the lowest centroid id — checked
  * against a JVM brute force on random grids and through SQL (codegen
  * path) on the same rows. */
class KmArgminSpec extends SparkTestBase {

  private def brute(qe: Array[Long], cents: Seq[(Long, Array[Long])]): Long =
    cents.map { case (j, c) =>
      (c.zip(qe).map { case (a, b) => (b - a) * (b - a) }.sum, j)
    }.min._2

  test("matches a JVM brute force on 500 random points, including distance ties") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    // small coordinate range forces frequent exact-distance ties, so
    // the low-cid tiebreak is genuinely exercised
    def vec(): Array[Long] = Array.fill(dim)(rnd.nextInt(3).toLong)
    val cents = (0L until 6L).map(j => (j, vec()))
    for (_ <- 1 to 500) {
      val qe = vec()
      val got = KmArgmin.assign(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(qe),
        cents.map(_._2).toArray, cents.map(_._1).toArray)
      assert(got == brute(qe, cents))
    }
  }

  test("codegen path through SQL agrees with eval on corpus-shaped rows") {
    Natives.ensure(spark)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 8
    val cents = (0L until 4L).map(j =>
      (j, Array.fill(dim)(rnd.nextInt(100).toLong)))
    val pts = (1 to 200).map(_ => Array.fill(dim)(rnd.nextInt(100).toLong))
    val df = pts.map(p => Tuple1(p.toSeq)).toDF("qe")
      .withColumn("cid", call_function("graft_km_argmin", col("qe"),
        typedlit(cents.map(_._2.toSeq)), typedlit(cents.map(_._1))))
    val got = df.collect().map(r => (r.getSeq[Long](0).toArray, r.getLong(1)))
    got.foreach { case (qe, cid) => assert(cid == brute(qe, cents)) }
  }
}
