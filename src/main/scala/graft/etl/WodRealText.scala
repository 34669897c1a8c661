package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * Scale shape: every stage is a window/groupBy plan keyed by
  * (post_id[, session]) — posts process independently, so the same
  * plan fans out over any number of executors; the only shuffles are
  * one per sessionization level on the post key, same as WodEtl.
  */
object WodRealText {

  private val dayRegex =
    "(?i)(Monday)|(Tuesday)|(Wednesday)|(Thursday)|(Friday)|(Saturday)|(Sunday)"
  private val segRegex = "(?i)(Session)|(Suggested Warm-Up)|^[A-F].$"
  private val monthNames = Seq("january", "february", "march", "april",
    "may", "june", "july", "august", "september", "october", "november",
    "december")

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
      regexp_replace(c, java.util.regex.Pattern.quote(ent), ch)
    }
  }

  /** Week anchor: the Sunday before `start` (start − isoweekday).
    * Spark dayofweek is Sun=1..Sat=7; isoweekday is Mon=1..Sun=7. */
  private def sundayBefore(d: Column): Column =
    date_sub(d, ((dayofweek(d) + lit(5)) % 7) + 1)

  /** Date-range start from slug (`month-d1-d2-yyyy`, searched anywhere)
    * else title (`Month d1-d2[,] yyyy`, entities decoded) else the post
    * date — the reference's extract_date_range_from_slug_or_title
    * priority. Invalid dates (feb-30) must null out and fall through
    * (the reference's try/except → fallback), but ANSI mode's
    * make_date throws — so the day is bounds-checked against the
    * month's last_day and applied via date_add to the (always-valid)
    * first of month. */
  private def startDate(slug: Column, title: Column, postDate: Column): Column = {
    def monthNum(name: Column): Column =
      monthNames.zipWithIndex.foldLeft(lit(null).cast("int")) {
        case (acc, (n, i)) => when(lower(name) === n, lit(i + 1)).otherwise(acc)
      }
    def fromPat(text: Column, pat: String): Column = {
      val m = monthNum(regexp_extract(text, pat, 1))
      // try_cast: a text with no date extracts '' (and the ANSI cast
      // would throw for the whole batch) — null falls through instead
      val day = regexp_extract(text, pat, 2).try_cast("int")
      val firstOfMonth = when(regexp_extract(text, pat, 4) =!= "" && m.isNotNull,
        make_date(regexp_extract(text, pat, 4).cast("int"), m, lit(1)))
      when(day.between(1, dayofmonth(last_day(firstOfMonth))),
        date_add(firstOfMonth, day - 1))
    }
    val titleClean = regexp_replace(title, "&#8211;|&ndash;", "-")
    coalesce(
      fromPat(slug, "(\\w+)-(\\d+)-(\\d+)-(\\d{4})"),
      fromPat(titleClean, "(\\w+)\\s+(\\d+)-(\\d+)[,\\s]\\s*(\\d{4})"),
      to_date(postDate))
  }

  /** Lines with 1-based position per post. Input schema:
    * (post_id, content_html, slug, title, post_date). */
  private def lines(posts: DataFrame): DataFrame =
    posts.select(col("post_id"), col("slug"), col("title"), col("post_date"),
        posexplode(split(stripText(col("content_html")), "\n")).as(Seq("pos0", "line")))
      .withColumn("pos", (col("pos0") + 1).cast("int"))
      .drop("pos0")

  /** Two-level grouping, then one row per (post, session, segment
    * group): seg_key = the group's first line, seg_val = ' '.join of
    * the rest. seg 1 is the session-name group. Sessions with <2
    * segment markers are absent here (rest days — re-attached in
    * records()). */
  private[etl] def segments(posts: DataFrame): DataFrame = {
    val byPost = Window.partitionBy("post_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byPostAll = Window.partitionBy("post_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val isDay = when(col("line").rlike(dayRegex), 1).otherwise(0)
    val sess = lines(posts)
      .withColumn("session_id", sum(isDay).over(byPost))
      .withColumn("n_day_markers", sum(isDay).over(byPostAll))
      .filter(col("session_id") >= 1 && col("n_day_markers") >= 2)
      .drop("n_day_markers")
    val bySess = Window.partitionBy("post_id", "session_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bySessAll = Window.partitionBy("post_id", "session_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val isSeg = when(col("line").rlike(segRegex), 1).otherwise(0)
    val segStartW = Window.partitionBy("post_id", "session_id", "seg_id")
    sess
      .withColumn("seg_id", sum(isSeg).over(bySess))
      .withColumn("n_seg_markers", sum(isSeg).over(bySessAll))
      .filter(col("seg_id") >= 1 && col("n_seg_markers") >= 2)
      .drop("n_seg_markers")
      .withColumn("seg_start", min("pos").over(segStartW))
      .groupBy("post_id", "session_id", "seg_id")
      .agg(
        min_by(col("line"), col("pos")).as("seg_key"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("pos") > col("seg_start"),
              struct(col("pos").as("p"), col("line").as("t"))))),
            x => x.getField("t"))).as("seg_val"))
  }

  /** One row per session record: (post_id, session_idx, date, entries)
    * where entries is the reference record's key→value map —
    * 'session' plus one entry per segment, duplicate keys last-wins.
    * Rest-day sessions (<2 segment markers) carry
    * {'session': 'rest day'}. */
  def records(posts: DataFrame): DataFrame = {
    val segs = segments(posts)
    // every (post, session) that exists at the day level, with its date
    val byPost = Window.partitionBy("post_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byPostAll = Window.partitionBy("post_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val isDay = when(col("line").rlike(dayRegex), 1).otherwise(0)
    val sessions = lines(posts)
      .withColumn("session_id", sum(isDay).over(byPost))
      .withColumn("n_day_markers", sum(isDay).over(byPostAll))
      .filter(col("session_id") >= 1 && col("n_day_markers") >= 2)
      .groupBy("post_id", "session_id")
      .agg(first(col("slug")).as("slug"), first(col("title")).as("title"),
        first(col("post_date")).as("post_date"))
      .withColumn("date",
        date_format(
          date_add(sundayBefore(startDate(col("slug"), col("title"),
            col("post_date"))), col("session_id").cast("int")),
          "yyyy-MM-dd"))
    // session-name entry (seg 1's key line) + segment entries (seg ≥2);
    // duplicate keys: LAST wins (max seg_id per key), dict semantics
    val entries = segs
      .select(col("post_id"), col("session_id"),
        when(col("seg_id") === 1, lit("session")).otherwise(col("seg_key")).as("k"),
        when(col("seg_id") === 1, col("seg_key")).otherwise(col("seg_val")).as("v"),
        col("seg_id"))
      .groupBy("post_id", "session_id", "k")
      .agg(max_by(col("v"), col("seg_id")).as("v"), max("seg_id").as("ord"))
      .groupBy("post_id", "session_id")
      .agg(map_from_entries(
        transform(
          array_sort(collect_list(struct(col("ord").as("o"),
            struct(col("k"), col("v")).as("kv")))),
          x => x.getField("kv"))).as("entries"))
    sessions.join(entries, Seq("post_id", "session_id"), "left")
      .select(col("post_id"), col("session_id").as("session_idx"), col("date"),
        coalesce(col("entries"),
          map(lit("session"), lit("rest day"))).as("entries"))
  }

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
