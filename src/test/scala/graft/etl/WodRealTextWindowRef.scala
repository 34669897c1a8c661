package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import WodRealText.{dayRegex, segRegex, startDate, stripText, sundayBefore}

/** The window form of `WodRealText.records`: the reference's list walk
  * as posexplode + running-sum windows + groupBy levels + a join, all
  * in Catalyst. Kept as the bit-equality reference for the per-post
  * walk (WodRealTextWalkSpec). */
object WodRealTextWindowRef {

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
  def segments(posts: DataFrame): DataFrame = {
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

  /** clean_sessions_df_records over the window-form records. */
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
