package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The bit-parallel path must be EXACTLY levenshtein(a, b, k) — the
  * same distance on qualifying pairs (the value rides the oracle
  * output) and −1 past the threshold. Checked on random ASCII pairs
  * spanning the 64-symbol word boundary, multi-byte fallback pairs,
  * degenerate lengths, and the full fuzzy pipeline at sf. */
class Lev64Spec extends SparkTestBase {

  private def ref(a: String, b: String, k: Int): Int =
    UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b), k)

  test("equals levenshtein(a,b,k) on 4000 seeded random pairs, k in {3, 20, 64}") {
    val rnd = new scala.util.Random(17)
    def word(n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    for (_ <- 1 to 4000) {
      val n1 = rnd.nextInt(70) // crosses the 64-symbol word boundary
      val a = word(n1)
      val b = if (rnd.nextBoolean()) {
        // mutate: substitutions + a random-length tail swap
        val chars = a.toCharArray
        (0 until rnd.nextInt(8)).foreach { _ =>
          if (chars.nonEmpty)
            chars(rnd.nextInt(chars.length)) = ('a' + rnd.nextInt(26)).toChar
        }
        new String(chars) + word(rnd.nextInt(5))
      } else word(rnd.nextInt(70))
      for (k <- Seq(3, 20, 64)) {
        val got = Lev64.dist(UTF8String.fromString(a), UTF8String.fromString(b), k)
        val want = ref(a, b, k)
        assert(got == want, s"a='$a' b='$b' k=$k: got $got want $want")
      }
    }
  }

  test("degenerate and boundary inputs") {
    val cases = Seq(
      ("", "", 0), ("", "abc", 5), ("abc", "", 5), ("abc", "", 2),
      ("a" * 64, "a" * 64, 1), ("a" * 64, "b" * 64, 70),
      ("a" * 65, "b" * 65, 70), // pattern > 64 -> fallback path
      ("abc", "abc", 0), ("kitten", "sitting", 20))
    for ((a, b, k) <- cases) {
      val got = Lev64.dist(UTF8String.fromString(a), UTF8String.fromString(b), k)
      assert(got == ref(a, b, k), s"a='$a' b='$b' k=$k")
    }
  }

  test("multi-byte input takes the exact fallback (code points, not bytes)") {
    val rnd = new scala.util.Random(99)
    def sym(): String = rnd.nextInt(6) match {
      case 0 => "é"
      case 1 => "你"
      case 2 => new String(Character.toChars(0x1D54F)) // 4-byte UTF-8
      case _ => ('a' + rnd.nextInt(26)).toChar.toString
    }
    for (_ <- 1 to 500) {
      val a = (1 to rnd.nextInt(50)).map(_ => sym()).mkString
      val b = (1 to rnd.nextInt(50)).map(_ => sym()).mkString
      val got = Lev64.dist(UTF8String.fromString(a), UTF8String.fromString(b), 20)
      assert(got == ref(a, b, 20), s"a='$a' b='$b'")
    }
  }

  test("fuzzy pipeline rows are identical through graft_lev64 and levenshtein") {
    Natives.ensure(spark)
    val viaLev64 = graft.operators.ExtendedQueries
      .queries("text_fuzzy_pairs")(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    val viaBuiltin = graft.Tables.documents(spark, sf)
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
    assert(viaLev64 == viaBuiltin)
  }

  test("interpreted eval agrees with codegen") {
    Natives.ensure(spark)
    val rows = spark.sql(
      """SELECT graft_lev64('kitten', 'sitting', 20),
        |       graft_lev64('abcdef', 'xyzxyz', 3),
        |       graft_lev64('', 'abc', 20)""".stripMargin).collect().head
    assert(rows.getInt(0) == 3)
    assert(rows.getInt(1) == -1)
    assert(rows.getInt(2) == 3)
  }
}
