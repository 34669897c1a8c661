package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The byte-scan JSON fast path must agree with the Jackson path
  * (`try_cast(get_json_object(...) AS bigint)` — try_cast because
  * Spark 4's ANSI default makes a plain long cast THROW on '12.5';
  * NULL-on-malformed is this expression's documented posture) — on the
  * real corpus AND on the adversarial shapes that distinguish a
  * scanner from a parser. */
class JsonLongFieldSpec extends SparkTestBase {

  test("agrees with get_json_object on the events corpus at sf0.001") {
    Natives.ensure(spark)
    val diff = graft.Tables.events(spark, sf)
      .select(
        expr("try_cast(get_json_object(props, '$.k') AS bigint)").as("jackson"),
        call_function("graft_json_long", col("props"), lit("k")).as("scan"))
      .filter(!(col("jackson") <=> col("scan")))
      .count()
    assert(diff == 0)
  }

  test("adversarial documents: nesting, escapes, floats, overflow, malformed") {
    Natives.ensure(spark)
    val docs = Seq(
      """{"k": 42}""",                        // plain
      """{ "k" : -7 , "x": 1}""",             // ws + negative + sibling
      """{"x": {"k": 99}, "k": 5}""",         // nested k must NOT match
      """{"x": {"k": 99}}""",                 // only nested -> null
      """{"a": "k", "k": 3}""",               // "k" as a string VALUE
      """{"a": ":{\"k\": 9}", "k": 4}""",     // k inside an escaped string
      """{"k": 12.5}""",                      // float -> null (long cast)
      """{"k": "12"}""",                      // numeric string coerces (try_cast)
      """{"k": " +12 "}""",                    // ...with spaces and sign
      """{"k": "12.5"}""",                     // non-integer string -> null
      """{"k": ""}""",                         // empty string -> null
      """{"k": null}""",                      // null value -> null
      """{"k": [1]}""",                       // array value -> null
      """{"kk": 1, "k": 2}""",                // prefix key must not match
      """{"k": 9223372036854775807}""",       // Long.MaxValue
      """{"k": -9223372036854775808}""",      // Long.MinValue
      """{"k": 9223372036854775808}""",       // overflow -> null
      """{"k": 1e3}""",                       // scientific -> null
      """not json""",                         // malformed -> null
      """5""",                                // top-level scalar -> null
      """{"k"""",                             // truncated -> null
      """{"k": 007}""",                       // leading zero: Jackson rejects (r17)
      """{"k": -007}""",                      // signed leading zero -> null
      """{"k": 0}""",                         // bare zero is fine
      """{"k": "007"}""",                     // QUOTED leading zero coerces (string cast)
      """{"k": 7} trailing""",                // Jackson ignores post-object bytes -> 7
      """{"k": 7""",                          // truncated AFTER the value -> null
      """{"k": 7 """,                         // digits + ws at EOF: still truncated (r18)
      "{\"k\": 7 \n\t ",                      // ...multi-ws tail, same
      """{"k": 7 }""",                        // ws then close -> 7
      """{"k": 7 x}""",                       // ws then junk: malformed -> null (r18)
      """{"k": "12""""                        // truncated after a quoted value -> null
    )
    val s = spark
    import s.implicits._
    val rows = docs.toDF("j")
      .select(col("j"),
        expr("try_cast(get_json_object(j, '$.k') AS bigint)").as("jackson"),
        call_function("graft_json_long", col("j"), lit("k")).as("scan"))
      .collect()
    val diffs = rows.filter(r => r.get(1) != r.get(2))
      .map(r => s"${r.getString(0)}: jackson=${r.get(1)} scan=${r.get(2)}")
    assert(diffs.isEmpty, "\n" + diffs.mkString("\n"))
  }

  test("DOCUMENTED divergence: valid key-value before a later malformation") {
    // The scan returns a value it already proved well-formed; Jackson
    // parses on and NULLs the whole document on the trailing comma /
    // malformed sibling. Whole-document validation would cost the full
    // parse this expression exists to avoid; divergence is confined to
    // malformed input (scaladoc posture). Pinned HERE so a behavior
    // change on either side is caught.
    Natives.ensure(spark)
    val s = spark
    import s.implicits._
    val rows = Seq("""{"k": 7, }""", """{"k": 7, "x": }""")
      .toDF("j")
      .select(
        expr("try_cast(get_json_object(j, '$.k') AS bigint)").as("jackson"),
        call_function("graft_json_long", col("j"), lit("k")).as("scan"))
      .collect()
    for (r <- rows) {
      assert(r.isNullAt(0), "Jackson NULLs the malformed document")
      assert(r.getLong(1) == 7L, "the scan keeps the proven prefix value")
    }
  }

  test("interpreted eval agrees with codegen") {
    val cases = Seq("""{"k": 42}""", """{"x": {"k": 9}}""", """{"k": -3}""")
    for (c <- cases) {
      val viaEval = JsonLongField.extract(c.getBytes("UTF-8"), "k".getBytes("UTF-8"))
      Natives.ensure(spark)
      val viaSql = spark.sql(s"""SELECT graft_json_long('$c', 'k')""")
        .collect().head
      val sqlVal = if (viaSql.isNullAt(0)) null else java.lang.Long.valueOf(viaSql.getLong(0))
      assert(sqlVal == viaEval, s"$c: eval=$viaEval sql=$sqlVal")
    }
  }
}
