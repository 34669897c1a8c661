package graft.etl

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import WodRealText.{dashes, dateRange, groups, monthNames, sundayBefore}

/** One segment of a session: its 1-based index, its marker token and
  * the join of the rest ('' for a marker-only segment). */
private[etl] case class DocSegment(seg_id: Long, segment_key: String, segment_value: String)

/** One session of a document: its 1-based index, token count and text,
  * its name (the first token, the day marker), its segments, and their
  * key → value map with duplicate keys resolved last-wins. */
private[etl] case class DocSession(session_id: Long, n_tokens: Long, session_text: String,
    session: String, segments: Seq[DocSegment], entries: Map[String, String])

/** The reference pipeline (bdolly/weightlifting-WOD-ETL) re-expressed as
  * Spark plans over the synthetic `documents` corpus.
  *
  * Reference semantics covered (file:line refs into /root/reference):
  *  - strip_post_html (handler.py:167): HTML → text + entity decode.
  *  - group_post_content_by_day / group_source_by (transforms.py:115,131):
  *    partition an ordered sequence at marker matches; content
  *    before the first marker is dropped, last group runs to the end.
  *  - segment_days (transforms.py:176): second-level segmentation inside
  *    each group; a segment's key is its marker element, its value the
  *    join of the rest; duplicate keys resolve last-wins
  *    (dict-comprehension semantics, transforms.py:250-255).
  *  - extract_date_range_from_slug_or_title (transforms.py:42):
  *    `month-d1-d2-yyyy` regex → date range.
  *  - sessions_to_json_records_by_day (transforms.py:211): anchor the
  *    week at `start - isoweekday(start)` (the Sunday before) and assign
  *    `anchor + session_index` to each session.
  *  - clean_sessions_df_records (transforms.py:289): rename segment keys
  *    to fixed columns, fill missing with '', dates normalized to
  *    yyyy-MM-dd; the session name is the session's day marker.
  *  - idempotency keys (services/idempotency_service.py:30):
  *    sha256("op:identifier").
  *  - save_sessions_to_bucket (handler.py:194): min/max date per group →
  *    weekly partition path.
  *
  * Scale shape: sessionize, segment, clean and date run the reference's
  * pairwise walk (`WodRealText.groups`) over each document's own tokens
  * in one deterministic UDF, then an `inline` of that document's
  * sessions. Documents are independent, so these plans have no
  * shuffle, window, sort or join: they scale by input partitions alone.
  *
  * The `documents` table stands in for the post corpus: each document's
  * space-separated token stream is the "lines" of a post; `stream|window`
  * tokens are the day markers (weekday lines) and `agg|sort|merge`
  * tokens are the segment markers (`Session|Suggested Warm-Up|^[A-F].$`).
  * A deterministic slug (month-d1-d2-yyyy) is derived per document to
  * exercise the date-range extraction exactly as the reference does.
  */
object WodEtl {

  private val sessionMarkers = Set("stream", "window")
  private val segmentMarkers = Set("agg", "sort", "merge")

  /** Each document's synthetic week: month name, first day, year. */
  private val month = element_at(
    array(monthNames.map(lit): _*), (col("doc_id") % 12 + 1).cast("int"))
  private val d1 = col("doc_id") % 20 + 1
  private val year = col("doc_id") % 5 + 2020

  /** Deterministic synthetic slug per document (exercises the
    * `month-d1-d2-yyyy` parse of transforms.py:42). */
  private def withSlug(df: DataFrame): DataFrame =
    df.withColumn("slug",
      concat_ws("-", month, d1, d1 + 6, year, lit("5-day-weightlifting-program")))

  /** Date-range columns parsed back OUT of the slug via the reference's
    * regex (never from the arithmetic above — the parse is the operator
    * under test). */
  private def withDateRange(df: DataFrame): DataFrame = {
    val (start, end) = dateRange(col("slug"), "([a-z]+)-(\\d+)-(\\d+)-(\\d{4})")
    df.withColumn("start_date", start).withColumn("end_date", end)
  }

  /** Documents with their week anchor, the Sunday before the slug's
    * start date, computed once per document. */
  private def dated(s: SparkSession, d: String): DataFrame =
    withDateRange(withSlug(documents(s, d)))
      .withColumn("anchor", sundayBefore(col("start_date")))

  /** One document's sessions: the pairwise walk over its tokens
    * (`split(_, -1)` keeps empty tokens, as Spark's split does), then
    * the same walk per session over the segment markers. A document
    * with one day marker has no sessions, and a session with one
    * segment marker has no segments (transforms.py:19-30). */
  private def walk(text: String): Seq[DocSession] =
    if (text == null) Nil
    else groups(text.split(" ", -1).toIndexedSeq, sessionMarkers).zipWithIndex.map { case (sess, i) =>
      val segs = groups(sess, segmentMarkers).zipWithIndex.map { case (g, j) =>
        DocSegment(j + 1L, g.head, g.tail.mkString(" "))
      }
      DocSession(i + 1L, sess.length.toLong, sess.mkString(" "), sess.head, segs,
        segs.map(g => g.segment_key -> g.segment_value).toMap)
    }

  private val walkUdf = udf(walk _)

  /** One row per session of each document: the walk over `text`, then
    * an `inline`. The documents' own columns ride along. */
  private[etl] def sessions(docs: DataFrame): DataFrame =
    docs.select(col("*"), inline(walkUdf(col("text"))))

  /** A session row's date: week anchor + session index. */
  private val recordDate = date_add(col("anchor"), col("session_id").cast("int"))

  /** clean_sessions_df_records' fixed columns of a session row: segment
    * keys renamed, a missing key → ''. */
  private val cleanColumns: Seq[Column] = {
    def entry(key: String): Column = coalesce(element_at(col("entries"), key), lit(""))
    Seq(col("session"), entry("agg").as("warm_up"), entry("sort").as("segment_a"),
      entry("merge").as("segment_b"))
  }

  // ---- queries ------------------------------------------------------

  /** strip_post_html: HTML wrap is synthesized deterministically, then
    * stripped — tags → space, entities decoded, whitespace collapsed. */
  def stripHtml(s: SparkSession, d: String): DataFrame = {
    val wrapped = concat(lit("<p><strong>"), col("text"),
      lit("</strong><br /> &#8211; fin</p>"))
    documents(s, d)
      .select(col("doc_id"),
        trim(regexp_replace(dashes(regexp_replace(wrapped, "<[^>]*>", " ")),
          "\\s+", " ")).as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")))
  }

  /** Date-range extraction from the slug (transforms.py:42). */
  def dateExtract(s: SparkSession, d: String): DataFrame =
    withDateRange(withSlug(documents(s, d)))
      .select(col("doc_id"), col("slug"), col("start_date"), col("end_date"))

  /** Date-range extraction from the TITLE format ("April 1-7, 2024
    * &#8211; ..."), the reference's fallback path (transforms.py:55-57,
    * 74-79): decode the &#8211;/&ndash; entities, then parse
    * `Month d1-d2, yyyy` — mirrored here including the entity cleanup. */
  def titleDateExtract(s: SparkSession, d: String): DataFrame = {
    val cap = concat(upper(substring(month, 1, 1)), substring(month, 2, 20))
    val titled = documents(s, d).withColumn("title",
      concat(cap, lit(" "), d1, lit("-"), d1 + 6, lit(", "), year,
        lit(" &#8211; 5 Day Weightlifting Program")))
    val (start, end) =
      dateRange(dashes(col("title")), "([a-zA-Z]+)\\s+(\\d+)-(\\d+)[,\\s]+(\\d{4})")
    titled.select(col("doc_id"), col("title"), start.as("start_date"), end.as("end_date"))
  }

  /** Marker-based sessionization of the token stream. */
  def sessionizeText(s: SparkSession, d: String): DataFrame =
    sessions(documents(s, d)).select("doc_id", "session_id", "n_tokens", "session_text")

  /** Segment extraction: (doc, session, seg) → key + joined value. */
  def segments(s: SparkSession, d: String): DataFrame =
    sessions(documents(s, d)).select(col("doc_id"), col("session_id"), inline(col("segments")))

  /** Week-anchored date assignment (transforms.py:211): anchor =
    * start - isoweekday(start); record date = anchor + session_id. */
  def dateRecords(s: SparkSession, d: String): DataFrame =
    sessions(dated(s, d)).select(col("doc_id"), col("session_id"), recordDate.as("record_date"))

  /** clean_sessions_df_records: last-wins key pivot into fixed columns,
    * missing → '', session name from the day-marker token. */
  def cleanRecords(s: SparkSession, d: String): DataFrame =
    sessions(documents(s, d)).select(col("doc_id") +: col("session_id") +: cleanColumns: _*)

  /** Idempotency keys (idempotency_service.py:30 + handler.py:127):
    * sha256("dump_post_to_bucket:" + raw bucket path). */
  def idempotencyKeys(s: SparkSession, d: String): DataFrame =
    withDateRange(withSlug(documents(s, d)))
      .withColumn("bucket_path",
        concat(lit("raw/"), date_format(col("start_date"), "yyyy-MM-dd"),
          lit("__"), col("slug"), lit("__raw.json")))
      .select(col("doc_id"), col("bucket_path"),
        sha2(concat(lit("dump_post_to_bucket:"), col("bucket_path")), 256).as("idem_key"))

  /** Paginated ingestion (get_invictus_post's posts_per_page/page,
    * handler.py:108-113): a deterministic page slice over the ordered
    * corpus, as the classic ORDER BY + OFFSET/LIMIT page. Kept as the
    * oracle-parity twin of `paginateKeyset` — OFFSET forces a global
    * ordering of everything before the page, the wrong shape at scale. */
  def paginate(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy("doc_id")
      .offset(100)
      .limit(50)

  /** The same page as a KEYSET cursor — the declared form at scale:
    * `doc_id > last_seen ORDER BY doc_id LIMIT n`. The cursor predicate
    * pushes down to the parquet scan (PushedFilters) and the limit runs
    * as TakeOrderedAndProject — per-partition top-n then a k-row merge,
    * never a global sort, never a scan of the skipped prefix. The
    * cursor (99) is the previous page's last doc_id: doc_ids are the
    * dense 0..N-1 ingest sequence, so the keyset page IS the OFFSET-100
    * page — same rows, same oracle result shape, different plan. */
  def paginateKeyset(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"))
      .filter(col("doc_id") > 99)
      .orderBy("doc_id")
      .limit(50)

  /** save_sessions_to_bucket path derivation (handler.py:225-229):
    * weekly partition path from min/max record date per document. The
    * session indices run 1..n, so those are anchor + 1 and anchor + n,
    * and n is the last session's index: the plan inlines that session
    * only, and a document with no sessions has no row. */
  def weeklyRollup(s: SparkSession, d: String): DataFrame =
    dated(s, d)
      .select(col("doc_id"), col("anchor"), inline(slice(walkUdf(col("text")), -1, 1)))
      .select(col("doc_id"), date_add(col("anchor"), 1).as("week_start"),
        recordDate.as("week_end"), col("session_id").as("n_sessions"))
      .withColumn("bucket_path",
        concat(lit("weekly/"), date_format(col("week_start"), "yyyy-MM-dd"),
          lit("__"), date_format(col("week_end"), "yyyy-MM-dd"),
          lit("--5-day-weightlifting-program.json")))

  /** Full chain 3→7 as one plan: sessionize → segment → pivot/clean →
    * dated records. The flagship `entry`. */
  def pipelineE2E(s: SparkSession, d: String): DataFrame =
    sessions(dated(s, d))
      .select(col("doc_id") +: date_format(recordDate, "yyyy-MM-dd").as("date") +: cleanColumns: _*)

  // ---- oracle -------------------------------------------------------

  private val tokensCte =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |tokens AS (SELECT doc_id, unnest(range(1, len(ts)+1)) AS pos, unnest(ts) AS tok FROM toks),
      |marked AS (SELECT doc_id, pos, tok,
      |  CAST(sum(CASE WHEN tok IN ('stream','window') THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id,
      |  sum(CASE WHEN tok IN ('stream','window') THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id) AS n_markers
      |  FROM tokens),
      |insess AS (SELECT doc_id, pos, tok, session_id FROM marked
      |  WHERE session_id >= 1 AND n_markers >= 2),
      |seg AS (SELECT doc_id, pos, tok, session_id,
      |  CAST(sum(CASE WHEN tok IN ('agg','sort','merge') THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id, session_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg_id,
      |  sum(CASE WHEN tok IN ('agg','sort','merge') THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id, session_id) AS n_seg_markers
      |  FROM insess),
      |segstart AS (SELECT doc_id, pos, tok, session_id, seg_id,
      |    min(pos) OVER (PARTITION BY doc_id, session_id, seg_id) AS seg_start
      |  FROM seg WHERE seg_id >= 1 AND n_seg_markers >= 2),
      |segments AS (SELECT doc_id, session_id, seg_id,
      |  arg_min(tok, pos) AS segment_key,
      |  coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE pos > seg_start), '') AS segment_value
      |  FROM segstart GROUP BY doc_id, session_id, seg_id)""".stripMargin

  private val slugCte =
    """slugged AS (SELECT doc_id,
      |  concat_ws('-', (['january','february','march','april','may','june','july','august','september','october','november','december'])[CAST(doc_id % 12 + 1 AS INT)],
      |    doc_id % 20 + 1, doc_id % 20 + 7, doc_id % 5 + 2020, '5-day-weightlifting-program') AS slug
      |  FROM documents),
      |dated AS (SELECT doc_id, slug,
      |  make_date(CAST(regexp_extract(slug, '([a-z]+)-(\d+)-(\d+)-(\d{4})', 4) AS INT),
      |    CASE regexp_extract(slug, '([a-z]+)-(\d+)-(\d+)-(\d{4})', 1)
      |      WHEN 'january' THEN 1 WHEN 'february' THEN 2 WHEN 'march' THEN 3
      |      WHEN 'april' THEN 4 WHEN 'may' THEN 5 WHEN 'june' THEN 6
      |      WHEN 'july' THEN 7 WHEN 'august' THEN 8 WHEN 'september' THEN 9
      |      WHEN 'october' THEN 10 WHEN 'november' THEN 11 WHEN 'december' THEN 12 END,
      |    CAST(regexp_extract(slug, '([a-z]+)-(\d+)-(\d+)-(\d{4})', 2) AS INT)) AS start_date,
      |  make_date(CAST(regexp_extract(slug, '([a-z]+)-(\d+)-(\d+)-(\d{4})', 4) AS INT),
      |    CASE regexp_extract(slug, '([a-z]+)-(\d+)-(\d+)-(\d{4})', 1)
      |      WHEN 'january' THEN 1 WHEN 'february' THEN 2 WHEN 'march' THEN 3
      |      WHEN 'april' THEN 4 WHEN 'may' THEN 5 WHEN 'june' THEN 6
      |      WHEN 'july' THEN 7 WHEN 'august' THEN 8 WHEN 'september' THEN 9
      |      WHEN 'october' THEN 10 WHEN 'november' THEN 11 WHEN 'december' THEN 12 END,
      |    CAST(regexp_extract(slug, '([a-z]+)-(\d+)-(\d+)-(\d{4})', 3) AS INT)) AS end_date
      |  FROM slugged)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_strip_html" -> (stripHtml _),
    "etl_date_extract" -> (dateExtract _),
    "etl_title_date_extract" -> (titleDateExtract _),
    "etl_sessionize_text" -> (sessionizeText _),
    "etl_segments" -> (segments _),
    "etl_date_records" -> (dateRecords _),
    "etl_clean_records" -> (cleanRecords _),
    "etl_idempotency_keys" -> (idempotencyKeys _),
    "etl_weekly_rollup" -> (weeklyRollup _),
    "etl_paginate" -> (paginate _),
    "etl_paginate_keyset" -> (paginateKeyset _),
    "etl_pipeline_e2e" -> (pipelineE2E _)
  )

  val oracle: Map[String, String] = Map(
    "etl_strip_html" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(
        |    concat('<p><strong>', text, '</strong><br /> &#8211; fin</p>'),
        |    '<[^>]*>', ' ', 'g'), '&#8211;|&ndash;', '-', 'g'), '\s+', ' ', 'g')) AS clean_text,
        |  length(trim(regexp_replace(regexp_replace(regexp_replace(
        |    concat('<p><strong>', text, '</strong><br /> &#8211; fin</p>'),
        |    '<[^>]*>', ' ', 'g'), '&#8211;|&ndash;', '-', 'g'), '\s+', ' ', 'g'))) AS n_chars_clean
        |FROM documents""".stripMargin,
    "etl_date_extract" ->
      s"""WITH $slugCte
         |SELECT doc_id, slug, start_date, end_date FROM dated""".stripMargin,
    "etl_title_date_extract" ->
      """WITH months AS (SELECT ['january','february','march','april','may','june','july','august','september','october','november','december'] AS mn),
        |titled AS (SELECT doc_id,
        |  concat(upper(substr(mn[CAST(doc_id % 12 + 1 AS INT)], 1, 1)),
        |         substr(mn[CAST(doc_id % 12 + 1 AS INT)], 2),
        |         ' ', doc_id % 20 + 1, '-', doc_id % 20 + 7, ', ', doc_id % 5 + 2020,
        |         ' &#8211; 5 Day Weightlifting Program') AS title
        |  FROM documents, months),
        |cleaned AS (SELECT doc_id, title,
        |  regexp_replace(title, '&#8211;|&ndash;', '-', 'g') AS ct FROM titled),
        |parsed AS (SELECT doc_id, title,
        |  lower(regexp_extract(ct, '([a-zA-Z]+)\s+(\d+)-(\d+)[,\s]+(\d{4})', 1)) AS m,
        |  CAST(regexp_extract(ct, '([a-zA-Z]+)\s+(\d+)-(\d+)[,\s]+(\d{4})', 2) AS INT) AS d1,
        |  CAST(regexp_extract(ct, '([a-zA-Z]+)\s+(\d+)-(\d+)[,\s]+(\d{4})', 3) AS INT) AS d2,
        |  CAST(regexp_extract(ct, '([a-zA-Z]+)\s+(\d+)-(\d+)[,\s]+(\d{4})', 4) AS INT) AS y
        |  FROM cleaned)
        |SELECT doc_id, title,
        |  make_date(y, CASE m WHEN 'january' THEN 1 WHEN 'february' THEN 2
        |    WHEN 'march' THEN 3 WHEN 'april' THEN 4 WHEN 'may' THEN 5
        |    WHEN 'june' THEN 6 WHEN 'july' THEN 7 WHEN 'august' THEN 8
        |    WHEN 'september' THEN 9 WHEN 'october' THEN 10
        |    WHEN 'november' THEN 11 WHEN 'december' THEN 12 END, d1) AS start_date,
        |  make_date(y, CASE m WHEN 'january' THEN 1 WHEN 'february' THEN 2
        |    WHEN 'march' THEN 3 WHEN 'april' THEN 4 WHEN 'may' THEN 5
        |    WHEN 'june' THEN 6 WHEN 'july' THEN 7 WHEN 'august' THEN 8
        |    WHEN 'september' THEN 9 WHEN 'october' THEN 10
        |    WHEN 'november' THEN 11 WHEN 'december' THEN 12 END, d2) AS end_date
        |FROM parsed""".stripMargin,
    "etl_sessionize_text" ->
      s"""$tokensCte
         |SELECT doc_id, session_id, count(*) AS n_tokens,
         |  string_agg(tok, ' ' ORDER BY pos) AS session_text
         |FROM insess GROUP BY doc_id, session_id""".stripMargin,
    "etl_segments" ->
      s"""$tokensCte
         |SELECT doc_id, session_id, seg_id, segment_key, segment_value FROM segments""".stripMargin,
    "etl_date_records" ->
      s"""$tokensCte,
         |$slugCte,
         |anchored AS (SELECT doc_id,
         |  start_date - CAST(isodow(start_date) AS INT) AS week_anchor FROM dated),
         |sess AS (SELECT DISTINCT doc_id, session_id FROM insess)
         |SELECT sess.doc_id AS doc_id, session_id,
         |  week_anchor + CAST(session_id AS INT) AS record_date
         |FROM sess JOIN anchored ON sess.doc_id = anchored.doc_id""".stripMargin,
    "etl_clean_records" ->
      s"""$tokensCte,
         |ranked AS (SELECT doc_id, session_id, seg_id, segment_key, segment_value,
         |  row_number() OVER (PARTITION BY doc_id, session_id, segment_key ORDER BY seg_id DESC) AS rn
         |  FROM segments),
         |pivoted AS (SELECT doc_id, session_id,
         |  coalesce(max(CASE WHEN segment_key = 'agg' THEN segment_value END), '') AS warm_up,
         |  coalesce(max(CASE WHEN segment_key = 'sort' THEN segment_value END), '') AS segment_a,
         |  coalesce(max(CASE WHEN segment_key = 'merge' THEN segment_value END), '') AS segment_b
         |  FROM ranked WHERE rn = 1 GROUP BY doc_id, session_id),
         |names AS (SELECT doc_id, session_id, arg_min(tok, pos) AS session
         |  FROM insess GROUP BY doc_id, session_id)
         |SELECT names.doc_id AS doc_id, names.session_id AS session_id,
         |  coalesce(session, 'Rest Day') AS session,
         |  coalesce(warm_up, '') AS warm_up,
         |  coalesce(segment_a, '') AS segment_a,
         |  coalesce(segment_b, '') AS segment_b
         |FROM names LEFT JOIN pivoted
         |  ON names.doc_id = pivoted.doc_id AND names.session_id = pivoted.session_id""".stripMargin,
    "etl_paginate" ->
      """SELECT doc_id, source, lang FROM documents
        |ORDER BY doc_id LIMIT 50 OFFSET 100""".stripMargin,
    "etl_paginate_keyset" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE doc_id > 99 ORDER BY doc_id LIMIT 50""".stripMargin,
    "etl_idempotency_keys" ->
      s"""WITH $slugCte,
         |paths AS (SELECT doc_id,
         |  concat('raw/', strftime(start_date, '%Y-%m-%d'), '__', slug, '__raw.json') AS bucket_path
         |  FROM dated)
         |SELECT doc_id, bucket_path,
         |  sha256(concat('dump_post_to_bucket:', bucket_path)) AS idem_key
         |FROM paths""".stripMargin,
    "etl_weekly_rollup" ->
      s"""$tokensCte,
         |$slugCte,
         |anchored AS (SELECT doc_id,
         |  start_date - CAST(isodow(start_date) AS INT) AS week_anchor FROM dated),
         |sess AS (SELECT DISTINCT doc_id, session_id FROM insess),
         |recs AS (SELECT sess.doc_id AS doc_id, session_id,
         |  week_anchor + CAST(session_id AS INT) AS record_date
         |  FROM sess JOIN anchored ON sess.doc_id = anchored.doc_id)
         |SELECT doc_id, min(record_date) AS week_start, max(record_date) AS week_end,
         |  count(*) AS n_sessions,
         |  concat('weekly/', strftime(min(record_date), '%Y-%m-%d'), '__',
         |    strftime(max(record_date), '%Y-%m-%d'),
         |    '--5-day-weightlifting-program.json') AS bucket_path
         |FROM recs GROUP BY doc_id""".stripMargin,
    "etl_pipeline_e2e" ->
      s"""$tokensCte,
         |ranked AS (SELECT doc_id, session_id, seg_id, segment_key, segment_value,
         |  row_number() OVER (PARTITION BY doc_id, session_id, segment_key ORDER BY seg_id DESC) AS rn
         |  FROM segments),
         |pivoted AS (SELECT doc_id, session_id,
         |  coalesce(max(CASE WHEN segment_key = 'agg' THEN segment_value END), '') AS warm_up,
         |  coalesce(max(CASE WHEN segment_key = 'sort' THEN segment_value END), '') AS segment_a,
         |  coalesce(max(CASE WHEN segment_key = 'merge' THEN segment_value END), '') AS segment_b
         |  FROM ranked WHERE rn = 1 GROUP BY doc_id, session_id),
         |names AS (SELECT doc_id, session_id, arg_min(tok, pos) AS session
         |  FROM insess GROUP BY doc_id, session_id),
         |cleaned AS (SELECT names.doc_id AS doc_id, names.session_id AS session_id,
         |  coalesce(session, 'Rest Day') AS session,
         |  coalesce(warm_up, '') AS warm_up,
         |  coalesce(segment_a, '') AS segment_a,
         |  coalesce(segment_b, '') AS segment_b
         |  FROM names LEFT JOIN pivoted
         |    ON names.doc_id = pivoted.doc_id AND names.session_id = pivoted.session_id),
         |$slugCte,
         |anchored AS (SELECT doc_id,
         |  start_date - CAST(isodow(start_date) AS INT) AS week_anchor FROM dated)
         |SELECT cleaned.doc_id AS doc_id,
         |  strftime(week_anchor + CAST(session_id AS INT), '%Y-%m-%d') AS date,
         |  session, warm_up, segment_a, segment_b
         |FROM cleaned JOIN anchored ON cleaned.doc_id = anchored.doc_id""".stripMargin
  )
}
