package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.graft.ExtensionSessions

/** The functions reach a session through `GraftExtensions` alone: each
  * test's session gets its registry from the extension, and nothing here
  * calls `Natives.ensure`. */
class GraftExtensionsSpec extends SparkTestBase {

  /** Every native with its arity, written out independently of the
    * `Natives` table. */
  private val arities = Map(
    "graft_cosine" -> 2, "graft_sign_bits" -> 3, "graft_km_argmin" -> 3,
    "graft_json_long" -> 2, "graft_gram_stats" -> 2,
    "graft_gram_hash_counts" -> 2, "graft_qm_buckets" -> 2,
    "graft_token_entropy" -> 1, "graft_shingle_hashes" -> 1,
    "graft_token_hashes" -> 1, "graft_candidate_shingles" -> 2,
    "graft_bag_lb" -> 2, "graft_lev64" -> 3, "graft_parity_sums" -> 2)

  /** A fresh session whose registry has Spark's built-ins plus what
    * `GraftExtensions` injects. */
  private def extSession(): SparkSession = {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    ExtensionSessions.withFunctions(spark, ext)
  }

  test("extension class injects graft_cosine into a SparkSessionExtensions") {
    val bare = ExtensionSessions.withFunctions(spark, new SparkSessionExtensions)
    assert(!bare.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_cosine")),
      "a session without the extension must not see graft_cosine")
    val s = extSession()
    val r = s.sql(
      """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                    array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    val orth = s.sql(
      """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                    array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS c""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(orth) < 1e-12)
  }

  test("type check rejects non-float-array arguments") {
    val e = intercept[Exception] {
      extSession().sql("SELECT graft_cosine(array(1, 2), array(3, 4))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<float>"))
  }

  test("the extension injects all 14 graft_* functions") {
    val registry = extSession().sessionState.functionRegistry
    val missing = arities.keys.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not injected: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("a wrong argument count fails at analysis, naming the function") {
    val s = extSession()
    for ((name, n) <- arities.toSeq.sorted; got <- Seq(n - 1, n + 1)) {
      val e = intercept[Exception] {
        s.sql(s"SELECT $name(${Seq.fill(got)("'x'").mkString(", ")})")
      }
      assert(e.getMessage.contains(s"$name expects $n arguments, got $got"),
        s"$name with $got arguments: ${e.getMessage}")
    }
  }

}
