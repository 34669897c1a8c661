package graft.etl

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, map_entries}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** Bit-equality of the per-post walk (`WodRealText.records`/`cleaned`)
  * with the window form it replaced (`WodRealTextWindowRef`) on
  * generated WordPress-style posts: same schema, same rows, same
  * `entries` in the same entry order. */
class WodRealTextWalkSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("post_id", LongType),
    StructField("content_html", StringType),
    StructField("slug", StringType),
    StructField("title", StringType),
    StructField("post_date", StringType)))

  private val days = Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
    "Saturday", "Sunday")
  private val months = Seq("january", "february", "march", "april", "may", "june",
    "july", "august", "september", "october", "november", "december")

  /** Words with the tags and character references stripText handles. */
  private val word = Gen.oneOf("squat", "5x3", "@75%", "Clean &amp; Jerk", "rest&nbsp;90s",
    "<strong>heavy</strong>", "<span>light</span>", "&#8211;", "coach&#8217;s", "&#8220;fast&#8221;",
    "&#8230;", "&lt;RPE 8&gt;", "&amp;lt;", "session", "a.", "")

  private val content: Gen[String] = Gen.choose(0, 4).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))

  /** A segment marker line as stripped text sees it, possibly tagged. */
  private val marker: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("A.", "B.", "C.", "D.", "E."),
    1 -> Gen.oneOf("F.", "c."),
    1 -> Gen.const("Suggested Warm-Up"),
    1 -> Gen.const("session"),
    1 -> Gen.oneOf("A.", "B.").map(l => s"<strong>$l</strong>"))

  private val segment: Gen[List[String]] = for {
    m <- marker
    n <- Gen.choose(0, 3)
    body <- Gen.listOfN(n, content)
  } yield m :: body

  /** A day line, then segments: none or one (a rest day), or several,
    * letters drawn with replacement (duplicates). */
  private val dayLines: Gen[List[String]] = for {
    day <- Gen.oneOf(days)
    head <- Gen.oneOf(s"<strong>$day</strong> (Session 1)", s"${day.toLowerCase}", s"$day &#8211; Squat Day")
    lead <- Gen.listOfN(2, content).map(_.take(1))
    nSegs <- Gen.frequency(2 -> Gen.choose(0, 1), 5 -> Gen.choose(2, 6))
    segs <- Gen.listOfN(nSegs, segment)
  } yield head :: lead ::: segs.flatten

  private val html: Gen[String] = for {
    preamble <- Gen.listOfN(2, content).map(_.take(1))
    nDays <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.const(1), 6 -> Gen.choose(2, 6))
    sessions <- Gen.listOfN(nDays, dayLines)
    blanks <- Gen.choose(0, 2)
    trailing <- Gen.oneOf("", "\n")
  } yield (preamble ::: sessions.flatten ::: List.fill(blanks)("")).mkString("\n") + trailing

  private val dateSource: Gen[(String, String, String)] = for {
    m <- Gen.oneOf(months)
    d <- Gen.choose(1, 28)
    y <- Gen.choose(2019, 2025)
    title = s"${m.capitalize} $d&#8211;${d + 6}, $y Program"
    postDate = f"$y%04d-${months.indexOf(m) + 1}%02d-$d%02dT06:00:00"
    source <- Gen.oneOf(
      (s"$m-$d-${d + 6}-$y-5-day-program", null, postDate),
      (s"february-30-31-$y-program", title, postDate),
      ("weightlifting-program-17", title, postDate),
      (null, title, postDate),
      (null, null, postDate))
  } yield source

  private val post: Gen[(String, (String, String, String))] =
    Gen.zip(Gen.frequency(1 -> Gen.const(null), 12 -> html), dateSource)

  private val corpus: Gen[List[(String, (String, String, String))]] =
    Gen.choose(1, 5).flatMap(Gen.listOfN(_, post))

  /** The reference runs in its own session: execution confs never
    * change results, and the window form needs more generated classes
    * than Spark's codegen cache holds, so under the shared session's
    * confs every case would recompile them all. Interpreted, with one
    * shuffle partition and no AQE, 50 cases stay quick. The walk runs
    * under the shared session's (the bench's) confs. */
  private lazy val quick = {
    val s = spark.newSession()
    Seq("spark.sql.shuffle.partitions" -> "1", "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def posts(s: SparkSession, c: List[(String, (String, String, String))]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(c.zipWithIndex.map {
      case ((h, (slug, title, date)), i) => Row(i.toLong, h, slug, title, date)
    }: _*), schema)

  /** Rows in key order, `entries` as its ordered entry list. */
  private def recordRows(df: DataFrame): Seq[Row] =
    df.select(col("post_id"), col("session_idx"), col("date"), map_entries(col("entries")))
      .orderBy("post_id", "session_idx").collect().toSeq

  private def cleanedRows(df: DataFrame): Seq[Row] =
    df.orderBy("post_id", "session_idx").collect().toSeq

  private def fields(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  test("per-post walk == window form: records and cleaned, row for row, entry order included") {
    val prop = Prop.forAllNoShrink(corpus) { c =>
      val (in, refIn) = (posts(spark, c), posts(quick, c))
      val (recs, refRecs) = (WodRealText.records(in), WodRealTextWindowRef.records(refIn))
      val (cl, refCl) = (WodRealText.cleaned(in), WodRealTextWindowRef.cleaned(refIn))
      fields(recs) == fields(refRecs) && recordRows(recs) == recordRows(refRecs) &&
        fields(cl) == fields(refCl) && cleanedRows(cl) == cleanedRows(refCl)
    }
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(50).withWorkers(1)
      .withInitialSeed(Seed(20201221L)), prop)
    assert(result.passed, result.status.toString)
  }

  test("the generator reaches every shape the walk must keep") {
    val sample = Gen.listOfN(200, post).apply(Gen.Parameters.default, Seed(20201221L)).get
    val texts = sample.flatMap(p => Option(p._1))
    val lines = texts.flatMap(_.split("\n", -1))
    val dayLine = (l: String) => days.exists(d => l.toLowerCase.contains(d.toLowerCase))
    assert(sample.exists(_._1 == null), "null content_html")
    assert(texts.exists(t => t.split("\n").count(dayLine) == 1), "single-weekday post")
    assert(texts.exists(t => !dayLine(t.split("\n").head) && t.split("\n").exists(dayLine)), "preamble")
    assert(texts.exists(_.endsWith("\n")) && lines.contains(""), "blank lines and a trailing newline")
    assert(texts.flatMap(WodRealText.walk).exists(_.entries == Map("session" -> "rest day")), "rest day")
    Seq("F.", "c.", "session", "Suggested Warm-Up", "<strong>A.</strong>")
      .foreach(m => assert(lines.contains(m), m))
    assert(texts.exists(t => t.split("\n").count(_ == "A.") > 1), "duplicate letter")
    assert(Seq("<strong>", "<span>", "&amp;", "&#8211;", "&#8217;", "&#8220;", "&lt;", "&nbsp;")
      .forall(e => texts.exists(_.contains(e))), "tags and character references")
    val slugs = sample.map(_._2._1)
    assert(slugs.exists(s => s != null && s.matches("[a-z]+-\\d+-\\d+-\\d{4}-.*")), "slug date")
    assert(slugs.exists(s => s != null && s.startsWith("february-30-31")), "impossible slug date")
    assert(slugs.contains("weightlifting-program-17"), "dateless slug")
    assert(sample.exists(p => p._2._1 == null && p._2._2 != null), "title only")
    assert(sample.exists(p => p._2._1 == null && p._2._2 == null), "post date only")
  }
}
