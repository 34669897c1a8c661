package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.SparkSession

/** Bench's protocol on small fake lanes: warm-up, min-of-N timed
  * collect(), sentinels and the artifact's totals. */
class BenchSpec extends SparkTestBase {

  private val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  /** A lane that counts its calls per dir and returns `n` rows. */
  private def rows(name: String, n: Int): (String, SparkEntry.Lane) =
    name -> ((s: SparkSession, d: String) => {
      calls.synchronized(calls(s"$name@$d") += 1)
      s.range(n).toDF()
    })

  private val lanes: Seq[(String, SparkEntry.Lane)] = Seq(
    rows("q_ok", 3),
    rows("q_ok_plain", 5),
    "q_broken" -> ((_: SparkSession, _: String) => throw new IllegalStateException("broken")),
    "q_cold" -> ((s: SparkSession, d: String) =>
      if (d == "warm") throw new IllegalStateException("no warm-up data")
      else s.range(2).toDF()),
    "q_bad_row" -> ((s: SparkSession, _: String) =>
      s.range(1).selectExpr("raise_error('bad row') AS v")))

  private def json(line: String): JsonNode = new ObjectMapper().readTree(line)

  test("a failing lane records -1 in every pass; warm-up failures are counted apart") {
    calls.clear()
    val t = Bench.time(spark, lanes, "timed", Some("warm"), passes = 2)
    assert(t.sec.keySet == lanes.map(_._1).toSet)
    assert(t.sec("q_broken") == -1.0 && t.rows("q_broken") == -1L)
    assert(t.sec("q_bad_row") == -1.0 && t.rows("q_bad_row") == -1L)
    assert(t.sec("q_ok") >= 0 && t.rows("q_ok") == 3L)
    assert(t.sec("q_ok_plain") >= 0 && t.rows("q_ok_plain") == 5L)
    // a lane that fails only in warm-up is timed normally
    assert(t.sec("q_cold") >= 0 && t.rows("q_cold") == 2L)
    assert(t.nWarmupFailed == 3, "q_broken, q_bad_row and q_cold fail their warm-up")
    // one warm-up call and one call per timed pass, twins included
    assert(calls("q_ok@warm") == 1 && calls("q_ok@timed") == 2)
    assert(calls("q_ok_plain@warm") == 1 && calls("q_ok_plain@timed") == 2)
  }

  test("a lane that fails in one pass only is poisoned for the run") {
    var n = 0
    val flaky: SparkEntry.Lane = (s, _) => {
      n += 1
      if (n == 2) throw new IllegalStateException("second pass") else s.range(1).toDF()
    }
    val t = Bench.time(spark, Seq("q_flaky" -> flaky), "timed", None, passes = 3)
    assert(n == 3 && t.sec("q_flaky") == -1.0 && t.rows("q_flaky") == -1L)
    assert(t.nWarmupFailed == 0, "no warm-up dir: no warm-up runs")
  }

  test("twins stay out of total and the lane subtotals but count in n_failed") {
    val t = Bench.Timing(
      sec = Map("q_a" -> 1.5, "q_b" -> -1.0, "stream_topk" -> 0.25, "q_a_plain" -> 4.0,
        "q_b_plain" -> -1.0),
      rows = Map("q_a" -> 7L, "q_b" -> -1L, "stream_topk" -> 2L, "q_a_plain" -> 7L,
        "q_b_plain" -> -1L),
      nWarmupFailed = 1)
    val (full, summary) = Bench.artifact(t, Set("q_a", "q_b", "stream_topk"), cpus = 4,
      passes = 2, load1 = 0.5, runId = "r", sfDir = "/sf", outFile = "out.json")
    val f = json(full)
    assert(f.get("value").asDouble == 1.75)
    assert(f.get("lanes").get("batch").asDouble == 1.5)
    assert(f.get("lanes").get("streaming").asDouble == 0.25)
    assert(f.get("n_queries").asInt == 3)
    assert(f.get("n_failed").asInt == 2)
    assert(f.get("n_warmup_failed").asInt == 1)
    assert(f.get("queries").get("q_a_plain").asDouble == 4.0)
    assert(f.get("rows").get("q_a").asLong == 7L && f.get("rows").get("q_b_plain").asLong == -1L)
    assert(f.get("queries").fieldNames.asScala.toSet == t.sec.keySet)
    val s = json(summary)
    assert(s.get("queries_file").asText == "out.json" && !s.has("queries") && !s.has("rows"))
    for (k <- Seq("value", "lanes", "n_queries", "n_failed", "n_warmup_failed", "protocol", "sf"))
      assert(s.get(k) == f.get(k), k)
  }

  test("a named subset times only those lanes, twins included") {
    assert(Bench.select(Seq("q5_multi_join", "q5_plain", "q5_plain")).map(_._1) ==
      Seq("q5_multi_join", "q5_plain"))
    val all = Bench.select(Nil).map(_._1)
    assert(all.size == SparkEntry.queries.size + SparkEntry.layoutTwins.size)
    assert(all.takeRight(SparkEntry.layoutTwins.size).toSet == SparkEntry.layoutTwins.keySet)
    val e = intercept[IllegalArgumentException](Bench.select(Seq("q1_agg", "no_such_lane")))
    assert(e.getMessage.contains("'no_such_lane'"))
    calls.clear()
    val t = Bench.time(spark, lanes.filter(_._1 == "q_ok_plain"), "timed", Some("warm"), 2)
    assert(t.sec.keySet == Set("q_ok_plain"))
    assert(calls.keySet == Set("q_ok_plain@warm", "q_ok_plain@timed"))
  }

  test("warm-up actions are tagged warmup:<lane>, timed actions <lane>") {
    val s = spark.newSession()
    val (_, lines) = ObservabilityListener.buffering(s)
    Bench.time(s, lanes.filter(_._1.startsWith("q_ok")), "timed", Some("warm"), 1)
    BusDrain(s.sparkContext)
    val tags = lines.asScala.toSeq.map(l => json(l).get("tag").asText)
    assert(tags == Seq("warmup:q_ok", "warmup:q_ok_plain", "q_ok", "q_ok_plain"), tags)
  }

  test("a lane name registered twice makes SparkEntry throw") {
    val f: SparkEntry.Lane = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalStateException](
      SparkEntry.disjoint(Seq(Map("a" -> f, "b" -> f), Map("c" -> f), Map("b" -> f))))
    assert(e.getMessage.endsWith("registered twice: b"), e.getMessage)
    assert(SparkEntry.disjoint(Seq(Map("a" -> f), Map("b" -> f))).keySet == Set("a", "b"))
    // the real tables are disjoint: 174 declared lanes, 6 twins
    assert(SparkEntry.queries.size == 174 && SparkEntry.layoutTwins.size == 6)
    assert(SparkEntry.lanes.size == 180)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }
}
