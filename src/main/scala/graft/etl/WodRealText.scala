package graft.etl

import java.util.regex.Pattern

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.MakeDate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** One session record of a post: its 1-based index and the reference
  * record's key→value map, in entry order. */
private[etl] case class PostSession(session_idx: Long, entries: Map[String, String])

/** The reference ETL over REAL WordPress post text (as opposed to
  * WodEtl's synthetic marker-token corpus): HTML post → stripped
  * lines → weekday session groups → lettered segments → dated JSON
  * records → cleaned fixed-schema records.
  *
  * Faithful to the reference semantics (file:line into /root/reference):
  *  - strip: BeautifulSoup(html,'html.parser').get_text() —
  *    handler.py:167 strip_post_html. Tags contribute NOTHING (no
  *    space), character references decode, newlines in the source
  *    text are preserved (they are the only line structure).
  *  - day grouping: transforms.py:131 group_post_content_by_day —
  *    lines matching the weekday alternation (re.search, case-
  *    insensitive) open a group; content before the first marker is
  *    dropped; a post with <2 marker lines yields ZERO groups
  *    (pairwise-index walk, transforms.py:19-30,115-128).
  *  - segmentation: transforms.py:176 segment_days — the same walk
  *    per session with `(Session)|(Suggested Warm-Up)|^[A-F].$`;
  *    the first group's FIRST LINE becomes the session name and the
  *    rest of that group is DISCARDED (transforms.py:191-194);
  *    sessions with <2 segment markers become `session = 'rest day'`.
  *  - records: transforms.py:211 sessions_to_json_records_by_day —
  *    segment value = ' '.join of the group's tail, duplicate segment
  *    keys resolve LAST-wins (dict comprehension), session i (1-based)
  *    dated `anchor + i` where `anchor = start − isoweekday(start)`
  *    (the Sunday before the week) and `start` comes from the slug
  *    `month-d1-d2-yyyy` else the title `Month d1-d2, yyyy` else the
  *    post date (transforms.py:42,215-244).
  *  - clean: transforms.py:289 clean_sessions_df_records — rename
  *    segment keys to fixed columns, drop the `s`/`r` accident
  *    columns, null session → 'Rest Day', missing → ''.
  *
  * Scale shape: the day grouping, segmentation and records steps are
  * one walk over each post's own lines (a deterministic UDF), then an
  * `inline` of that post's sessions. Posts are independent, so the
  * plan has no shuffle, window, sort or join: it scales by input
  * partitions alone, and its few generated classes compile once per
  * JVM.
  */
object WodRealText {

  private[etl] val dayRegex =
    "(?i)(Monday)|(Tuesday)|(Wednesday)|(Thursday)|(Friday)|(Saturday)|(Sunday)"
  private[etl] val segRegex = "(?i)(Session)|(Suggested Warm-Up)|^[A-F].$"
  private[etl] val monthNames = Seq("january", "february", "march", "april",
    "may", "june", "july", "august", "september", "october", "november",
    "december")

  /** Month name (any case) → 1..12, null for anything else. */
  private[etl] def monthNum(name: Column): Column =
    monthNames.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (n, i)) => when(lower(name) === n, lit(i + 1)).otherwise(acc)
    }

  /** get_text()-faithful strip: tags removed with NO separator, then
    * the WordPress character-reference set decoded (numeric em-dash /
    * apostrophe / quote / ellipsis plus the named basics — the
    * charrefs WordPress's rendered content actually emits). Decode
    * runs AFTER tag removal, mirroring an HTML parser decoding text
    * nodes only. */
  def stripText(html: Column): Column = {
    val noTags = regexp_replace(html, "<[^>]*>", "")
    Seq(
      "&#8211;" -> "–", "&ndash;" -> "–",
      "&#8212;" -> "—", "&mdash;" -> "—",
      "&#8216;" -> "‘", "&#8217;" -> "’",
      "&#8220;" -> "“", "&#8221;" -> "”",
      "&#8230;" -> "…", "&hellip;" -> "…",
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&amp;" -> "&" // last: "&amp;lt;" must yield "&lt;" not "<"
    ).foldLeft(noTags) { case (c, (ent, ch)) =>
      regexp_replace(c, Pattern.quote(ent), ch)
    }
  }

  /** Week anchor: the Sunday before `start` (start − isoweekday).
    * Spark dayofweek is Sun=1..Sat=7; isoweekday is Mon=1..Sun=7. */
  private[etl] def sundayBefore(d: Column): Column =
    date_sub(d, ((dayofweek(d) + lit(5)) % 7) + 1)

  /** The reference's title entity cleanup before a date parse:
    * `&#8211;` and `&ndash;` become '-'. */
  private[etl] def dashes(title: Column): Column =
    regexp_replace(title, "&#8211;|&ndash;", "-")

  /** (start, end) of the `month d1 d2 yyyy` range that `pat` matches in
    * `text` (groups 1–4). A text with no match, an unknown month or a
    * day outside its month (feb-30) gives null — the reference's
    * try/except → fallback — where ANSI mode's make_date would throw:
    * the dates are `MakeDate` in its non-failing mode, so the guard adds
    * no expression to a plain make_date of the extracted groups. */
  private[etl] def dateRange(text: Column, pat: String): (Column, Column) = {
    // try_cast: a text with no date extracts '' (and the ANSI cast
    // would throw for the whole batch) — null falls through instead
    def group(g: Int): Column = regexp_extract(text, pat, g).try_cast("int")
    val m = monthNum(regexp_extract(text, pat, 1))
    def day(g: Int): Column = Bridge.columnOf(MakeDate(Bridge.expressionOf(group(4)),
      Bridge.expressionOf(m), Bridge.expressionOf(group(g)), failOnError = false))
    (day(2), day(3))
  }

  /** Date-range start from slug (`month-d1-d2-yyyy`, searched anywhere)
    * else title (`Month d1-d2[,] yyyy`, entities decoded) else the post
    * date — the reference's extract_date_range_from_slug_or_title
    * priority; an invalid date falls through to the next source. */
  private[etl] def startDate(slug: Column, title: Column, postDate: Column): Column =
    coalesce(
      dateRange(slug, "(\\w+)-(\\d+)-(\\d+)-(\\d{4})")._1,
      dateRange(dashes(title), "(\\w+)\\s+(\\d+)-(\\d+)[,\\s]\\s*(\\d{4})")._1,
      to_date(postDate))

  private val dayPattern = Pattern.compile(dayRegex)
  private val segPattern = Pattern.compile(segRegex)

  /** The reference's pairwise walk (transforms.py:19-30): each line
    * that passes `marker` opens a group running to the next marker line
    * or the end; content before the first marker is dropped, and fewer
    * than two markers → no groups. */
  private[etl] def groups(lines: IndexedSeq[String], marker: String => Boolean): IndexedSeq[IndexedSeq[String]] = {
    val starts = lines.indices.filter(i => marker(lines(i)))
    if (starts.length < 2) IndexedSeq.empty
    else starts.zip(starts.tail :+ lines.length).map { case (a, b) => lines.slice(a, b) }
  }

  /** One post's stripped text → its session records: weekday groups,
    * then segment groups per session, a marker line being one the
    * pattern finds (as rlike). `split(_, -1)` keeps trailing
    * empty lines, as Spark's split does. Duplicate keys resolve
    * last-wins and each key sits at its LAST position; a segment keyed
    * `session` replaces the session name. */
  private[etl] def walk(text: String): Seq[PostSession] =
    if (text == null) Nil
    else groups(text.split("\n", -1).toIndexedSeq, dayPattern.matcher(_).find()).zipWithIndex.map { case (day, i) =>
      val segs = groups(day, segPattern.matcher(_).find())
      val entries =
        if (segs.isEmpty) ListMap("session" -> "rest day")
        else (("session" -> segs.head.head) +: segs.tail.map(g => g.head -> g.tail.mkString(" ")))
          .foldLeft(ListMap.empty[String, String]) { case (m, kv) => m - kv._1 + kv }
      PostSession(i + 1L, entries)
    }

  private val walkUdf = udf(walk _)

  /** One row per session record: (post_id, session_idx, date, entries)
    * where entries is the reference record's key→value map —
    * 'session' plus one entry per segment, duplicate keys last-wins.
    * Rest-day sessions (<2 segment markers) carry
    * {'session': 'rest day'}. The week anchor is computed once per
    * post, before the explode. */
  def records(posts: DataFrame): DataFrame =
    posts.select(col("post_id"),
        sundayBefore(startDate(col("slug"), col("title"), col("post_date"))).as("anchor"),
        walkUdf(stripText(col("content_html"))).as("sessions"))
      .select(col("post_id"), col("anchor"), inline(col("sessions")))
      .select(col("post_id"), col("session_idx"),
        date_format(date_add(col("anchor"), col("session_idx").cast("int")), "yyyy-MM-dd").as("date"),
        col("entries"))

  /** clean_sessions_df_records: fixed schema, renamed segment columns,
    * `s`/`r` dropped, null session → 'Rest Day', missing → ''. */
  def cleaned(posts: DataFrame): DataFrame = {
    val e = col("entries")
    def seg(key: String): Column = coalesce(element_at(e, key), lit(""))
    records(posts).select(
      col("post_id"), col("session_idx"), col("date"),
      coalesce(element_at(e, "session"), lit("Rest Day")).as("session"),
      seg("Suggested Warm-Up").as("warm_up"),
      seg("A.").as("segment_a"), seg("B.").as("segment_b"),
      seg("C.").as("segment_c"), seg("D.").as("segment_d"),
      seg("E.").as("segment_e"))
  }
}
