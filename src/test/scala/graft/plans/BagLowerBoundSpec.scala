package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The bag bound must NEVER exceed the true edit distance (dropping a
  * qualifying pair would silently change text_fuzzy_pairs' results) —
  * property-checked against Spark's own levenshtein on generated
  * string pairs, plus the screened-vs-unscreened pipeline equality. */
class BagLowerBoundSpec extends SparkTestBase {

  test("bound <= levenshtein on 2000 seeded random string pairs") {
    Natives.ensure(spark)
    val rnd = new scala.util.Random(42)
    // alphabet includes MULTI-BYTE code points (r17, per advice): the
    // bound must hold against code-point levenshtein, not byte counts —
    // é (2 bytes), 你 (3 bytes), 𝕏 (4 bytes, surrogate pair in UTF-16)
    def sym(): String = rnd.nextInt(10) match {
      case 0 => "é"
      case 1 => "你"
      case 2 => new String(Character.toChars(0x1D54F)) // 𝕏, 4-byte UTF-8
      case _ =>
        val c = ('a' + rnd.nextInt(27)).toChar
        (if (c == '{') ' ' else c).toString // 27th symbol: space
    }
    def word(n: Int): String = (1 to n).map(_ => sym()).mkString
    val pairs = (1 to 2000).map { _ =>
      val a = word(1 + rnd.nextInt(60))
      // half the pairs are mutations of a (small true distance), half
      // independent (large) — both sides of the threshold get coverage
      val b = if (rnd.nextBoolean()) {
        val cps = a.codePoints().toArray
        (1 to rnd.nextInt(5)).foreach { _ =>
          cps(rnd.nextInt(cps.length)) = 'a' + rnd.nextInt(26)
        }
        new String(cps, 0, cps.length)
      } else word(1 + rnd.nextInt(60))
      (a, b)
    }
    val s = spark
    import s.implicits._
    val bad = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        call_function("graft_bag_lb", col("a"), col("b")).as("lb"),
        levenshtein(col("a"), col("b")).as("lev"))
      .filter(col("lb") > col("lev"))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("the screen is effective AND the screened pipeline is row-identical") {
    Natives.ensure(spark)
    // identical rows with and without the prescreen (lossless)
    val screened = graft.operators.ExtendedQueries
      .queries("text_fuzzy_pairs")(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    val unscreened = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 50").as("len_band"),
        substring(col("text"), 1, 60).as("prefix"))
      .as("x").join(
        graft.Tables.documents(spark, sf)
          .select(col("doc_id"), col("lang"), col("source"),
            expr("n_chars div 50").as("len_band"),
            substring(col("text"), 1, 60).as("prefix")).as("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source") &&
          col("x.len_band") === col("y.len_band") &&
          col("x.doc_id") < col("y.doc_id"))
      .withColumn("lev", levenshtein(col("x.prefix"), col("y.prefix"), 21))
      .filter(col("lev").between(0, 20))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"), col("lev"))
      .collect().map(_.toString).sorted.toSeq
    assert(screened == unscreened)
  }
}
