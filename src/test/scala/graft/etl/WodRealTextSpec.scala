package graft.etl

import graft.SparkTestBase
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Edge semantics of the real-text pipeline, hand-checked against the
  * reference's list-walk rules (transforms.py:115,176,211,289). */
class WodRealTextSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("post_id", LongType),
    StructField("content_html", StringType),
    StructField("slug", StringType),
    StructField("title", StringType),
    StructField("post_date", StringType)))

  private def posts(rows: Row*) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def recs(df: org.apache.spark.sql.DataFrame) =
    WodRealText.records(df).orderBy("post_id", "session_idx").collect()
      .map(r => (r.getLong(0), r.getString(r.fieldIndex("date")),
        r.getMap[String, String](r.fieldIndex("entries")).toMap))

  test("rest day: a session with <2 segment markers becomes {'session': 'rest day'}") {
    // Thursday has one segment-marker line only ("A." alone — single
    // marker → pairwise walk yields zero groups)
    val html = "Monday (Session One)\nA.\nwork\nB.\nmore\nThursday\nA.\nrest stretching"
    val out = recs(posts(Row(1L, html, "april-1-7-2024-x", null, null)))
    assert(out.length == 2)
    assert(out(1)._3 == Map("session" -> "rest day"))
    val cleaned = WodRealText.cleaned(posts(Row(1L, html, "april-1-7-2024-x", null, null)))
      .orderBy("session_idx").collect()
    assert(cleaned(1).getAs[String]("session") == "rest day")
    assert(cleaned(1).getAs[String]("segment_a") == "")
  }

  test("duplicate segment keys resolve last-wins (dict semantics)") {
    val html = "Monday (Session One)\nA.\nfirst text\nA.\nsecond text\nB.\ntail\n" +
      "Tuesday (Session Two)\nA.\nz\nB.\nw"
    val out = recs(posts(Row(1L, html, "april-1-7-2024-x", null, null)))
    assert(out.head._3("A.") == "second text")
    assert(out.head._3("B.") == "tail")
  }

  test("date priority: slug over title over post_date; Monday start dates Monday") {
    // april-1-7-2024: start Mon Apr 1, anchor Sun Mar 31, record 1 → Apr 1
    val html = "Monday (Session One)\nA.\nx\nB.\ny\nTuesday (Session Two)\nA.\nz\nB.\nw"
    val slugOut = recs(posts(Row(1L, html, "april-1-7-2024-x",
      "May 6-12, 2024 Program", "2024-06-03T00:00:00")))
    assert(slugOut.map(_._2).toSeq == Seq("2024-04-01", "2024-04-02"))
    val titleOut = recs(posts(Row(1L, html, null,
      "May 6-12, 2024 Program", "2024-06-03T00:00:00")))
    assert(titleOut.map(_._2).toSeq == Seq("2024-05-06", "2024-05-07"))
    val dateOut = recs(posts(Row(1L, html, null, null, "2024-06-03T00:00:00")))
    // post_date Mon Jun 3 → anchor Sun Jun 2 → records Jun 3, Jun 4
    assert(dateOut.map(_._2).toSeq == Seq("2024-06-03", "2024-06-04"))
  }

  test("invalid slug date falls through to the next source") {
    val html = "Monday (Session One)\nA.\nx\nB.\ny\nTuesday (Session Two)\nA.\nz\nB.\nw"
    val out = recs(posts(Row(1L, html, "february-30-31-2024-x", null,
      "2024-06-03T00:00:00")))
    assert(out.head._2 == "2024-06-03")
    // a dateless non-null slug falls through to the title's week
    val dateless = recs(posts(Row(1L, html, "weightlifting-program-17",
      "May 6-12, 2024 Program", "2024-06-03T00:00:00")))
    assert(dateless.map(_._2).toSeq == Seq("2024-05-06", "2024-05-07"))
  }

  test("pairwise rules: <2 day markers yields zero records; pre-marker content dropped") {
    // one day marker only → zero groups (pairwise of one index is empty)
    assert(recs(posts(Row(1L, "intro\nMonday (Session One)\nA.\nx\nB.\ny",
      "april-1-7-2024-x", null, null))).isEmpty)
    // two markers: intro before the first marker is dropped
    val out = recs(posts(
      Row(2L, "intro line\nMonday (Session One)\nA.\nx\nB.\ny\nTuesday (Session Two)\nA.\nz\nB.\nq",
        "april-1-7-2024-x", null, null)))
    assert(out.length == 2)
    assert(!out.exists(_._3.values.exists(_.contains("intro"))))
  }

  test("posts process independently (per-post keys partition every stage)") {
    val html1 = "Monday (Session One)\nA.\nalpha\nB.\nbeta\nWednesday (Session Tres)\nA.\ng\nB.\nh"
    val html2 = "Monday (Session Uno)\nA.\ngamma\nB.\ndelta\nTuesday (Session Dos)\nA.\ne\nB.\nf"
    val out = recs(posts(
      Row(1L, html1, "april-1-7-2024-x", null, null),
      Row(2L, html2, "may-6-12-2024-x", null, null)))
    assert(out.count(_._1 == 1L) == 2 && out.count(_._1 == 2L) == 2)
    assert(out.filter(_._1 == 2L).map(_._2).toSeq == Seq("2024-05-06", "2024-05-07"))
  }

  test("stripText: tags vanish with no separator, the character references decode once") {
    val html = Seq(
      "<p><strong>Monday</strong> (Session&nbsp;One)</p>",
      "<strong>A.</strong>",
      "<span>Clean &amp; Jerk &#8211; coach&#8217;s &#8220;fast&#8221; pull&#8230;</span>",
      "<strong>B.</strong>",
      "<span>&lt;RPE 8&gt; then &amp;lt;tempo&amp;gt;</span>",
      "<p><strong>Tuesday</strong> (Session Two)</p>",
      "<strong>A.</strong>",
      "Snatch&nbsp;<span>5</span>x<strong>2</strong>",
      "<strong>B.</strong>",
      "rest").mkString("\n")
    val want = Seq(
      "Monday (Session\u00a0One)",
      "A.",
      "Clean & Jerk \u2013 coach\u2019s \u201cfast\u201d pull\u2026",
      "B.",
      "<RPE 8> then &lt;tempo&gt;",
      "Tuesday (Session Two)",
      "A.",
      "Snatch\u00a05x2",
      "B.",
      "rest").mkString("\n")
    val in = posts(Row(1L, html, "april-1-7-2024-x", null, null))
    assert(in.select(WodRealText.stripText(col("content_html"))).head().getString(0) == want)
    val got = WodRealText.cleaned(in).orderBy("session_idx").collect()
      .map(r => Seq("date", "session", "warm_up", "segment_a", "segment_b", "segment_c")
        .map(c => r.getString(r.fieldIndex(c))))
    assert(got.toSeq == Seq(
      Seq("2024-04-01", "Monday (Session\u00a0One)", "",
        "Clean & Jerk \u2013 coach\u2019s \u201cfast\u201d pull\u2026", "<RPE 8> then &lt;tempo&gt;", ""),
      Seq("2024-04-02", "Tuesday (Session Two)", "", "Snatch\u00a05x2", "rest", "")))
  }

  test("cleaned plans no exchange, window, sort or join, and a repeat compiles no class") {
    val html = "intro\nMonday (Session One)\nA.\nx\nB.\ny\nTuesday\nA.\nz"
    def cleaned = WodRealText.cleaned(posts(
      Row(1L, html, "april-1-7-2024-x", null, null),
      Row(2L, html, null, "May 6-12, 2024 Program", null)))
    val first = cleaned
    first.collect()
    val plan = first.queryExecution.executedPlan
    val blocking = collect(plan) {
      case p @ (_: Exchange | _: WindowExec | _: SortExec | _: BaseJoinExec) => p
    }
    assert(blocking.isEmpty, s"per-post plan must not shuffle, sort or join:\n$plan")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(cleaned.collect().length == 4)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "a repeated cleaned() over the same rows must reuse the generated classes")
  }
}
