package graft.etl

import scala.math.Ordering.Implicits.seqOrdering

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Semantics of the re-expressed reference pipeline, checked against an
  * independent in-test reimplementation of the reference's list-walking
  * algorithms (transforms.py:115,176) on raw document text. */
class WodEtlSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val sessionMarkers = Set("stream", "window")
  private val segmentMarkers = Set("agg", "sort", "merge")

  /** Reference group_source_by re-implemented literally (pairwise index
    * walk) for cross-checking the production walk. */
  private def groupSourceBy(markers: Set[String], toks: Vector[String]): Vector[Vector[String]] = {
    val idx = toks.zipWithIndex.collect { case (t, i) if markers(t) => i }
    // True pairwise walk (transforms.py:19-30): a single marker yields
    // NO pairs and the end-capture append is guarded — zero groups.
    val pairs = idx.zip(idx.drop(1))
    if (pairs.isEmpty) Vector.empty
    else (pairs :+ ((idx.last, toks.length)))
      .map { case (a, b) => toks.slice(a, b) }.toVector
  }

  private def docs(dir: String): Map[Long, Vector[String]] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toVector).toMap

  private lazy val rawDocs: Map[Long, Vector[String]] = docs(sf)

  /** Reference records per document: (session index, name, warm_up,
    * segment_a, segment_b) — the pairwise walks, then the last-wins
    * pivot of the segments (a dict built in order), missing → ''. */
  private def referenceRecords(toks: Vector[String]): Vector[(Long, String, String, String, String)] =
    groupSourceBy(sessionMarkers, toks).zipWithIndex.map { case (sess, i) =>
      val pivot = groupSourceBy(segmentMarkers, sess).map(g => g.head -> g.tail.mkString(" ")).toMap
      def v(k: String) = pivot.getOrElse(k, "")
      (i + 1L, sess.head, v("agg"), v("sort"), v("merge"))
    }

  test("sessionize matches the reference's pairwise grouping on every doc") {
    val got = WodEtl.sessionizeText(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("session_id")) -> r.getAs[String]("session_text"))
      .toMap
    val expected = rawDocs.flatMap { case (id, toks) =>
      groupSourceBy(sessionMarkers, toks).zipWithIndex.map { case (g, i) =>
        (id, (i + 1).toLong) -> g.mkString(" ")
      }
    }
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("segments match reference second-level grouping (key=marker, value=rest)") {
    val got = WodEtl.segments(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("session_id"), r.getAs[Long]("seg_id")) ->
        (r.getAs[String]("segment_key"), r.getAs[String]("segment_value"))).toMap
    val expected = rawDocs.flatMap { case (id, toks) =>
      groupSourceBy(sessionMarkers, toks).zipWithIndex.flatMap { case (sess, si) =>
        groupSourceBy(segmentMarkers, sess).zipWithIndex.map { case (seg, gi) =>
          (id, (si + 1).toLong, (gi + 1).toLong) -> (seg.head, seg.tail.mkString(" "))
        }
      }
    }
    assert(got == expected)
  }

  test("date records anchor each week at the Sunday before the slug start date") {
    val bad = WodEtl.dateRecords(spark, sf)
      .withColumn("anchor_dow",
        dayofweek(date_sub(col("record_date"), col("session_id").cast("int"))))
      .filter(col("anchor_dow") =!= 1) // Spark dayofweek: 1 = Sunday
    assert(bad.count() == 0)
  }

  test("clean and e2e records equal the reference walk, pivot and Sunday anchor row for row") {
    for (dir <- Seq(sf, sf01)) {
      // the start date comes from the slug parse, which its own oracle
      // checks; the anchor is the Sunday before it (start - isoweekday)
      val anchor = WodEtl.dateExtract(spark, dir).collect().map { r =>
        val start = r.getAs[java.sql.Date]("start_date").toLocalDate
        r.getAs[Long]("doc_id") -> start.minusDays(start.getDayOfWeek.getValue.toLong)
      }.toMap
      val expected = docs(dir).toSeq.flatMap { case (id, toks) =>
        referenceRecords(toks).map(r => (id, r._1, r._2, r._3, r._4, r._5))
      }
      def rows(df: DataFrame, cols: String*): Seq[Seq[String]] =
        df.collect().map(r => cols.map(c => r.getAs[Any](c).toString)).toSeq.sorted
      assert(rows(WodEtl.cleanRecords(spark, dir),
          "doc_id", "session_id", "session", "warm_up", "segment_a", "segment_b") ==
        expected.map { case (id, i, n, w, a, b) => Seq(id.toString, i.toString, n, w, a, b) }.sorted, dir)
      assert(rows(WodEtl.pipelineE2E(spark, dir),
          "doc_id", "date", "session", "warm_up", "segment_a", "segment_b") ==
        expected.map { case (id, i, n, w, a, b) =>
          Seq(id.toString, anchor(id).plusDays(i).toString, n, w, a, b)
        }.sorted, dir)
    }
  }

  test("the sessionizing lanes plan no exchange, window, sort or join") {
    Seq[(String, (SparkSession, String) => DataFrame)](
      "sessionizeText" -> WodEtl.sessionizeText, "segments" -> WodEtl.segments,
      "dateRecords" -> WodEtl.dateRecords, "cleanRecords" -> WodEtl.cleanRecords,
      "weeklyRollup" -> WodEtl.weeklyRollup, "pipelineE2E" -> WodEtl.pipelineE2E
    ).foreach { case (name, lane) =>
      val df = lane(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val blocking = collect(plan) {
        case p @ (_: Exchange | _: WindowExec | _: SortExec | _: BaseJoinExec) => p
      }
      assert(blocking.isEmpty, s"$name must not shuffle, sort or join:\n$plan")
    }
  }

  test("idempotency keys are sha256(op:path), reference formula") {
    val row = WodEtl.idempotencyKeys(spark, sf).filter(col("doc_id") === 0).head()
    val path = row.getAs[String]("bucket_path")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expected = md.digest(s"dump_post_to_bucket:$path".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(row.getAs[String]("idem_key") == expected)
  }

  test("clean records: fixed columns, nulls filled, one row per session") {
    val df = WodEtl.cleanRecords(spark, sf)
    assert(df.columns.toSeq == Seq("doc_id", "session_id", "session", "warm_up", "segment_a", "segment_b"))
    assert(df.filter(col("warm_up").isNull || col("segment_a").isNull ||
      col("segment_b").isNull || col("session").isNull).count() == 0)
    val sessions = WodEtl.sessionizeText(spark, sf).count()
    assert(df.count() == sessions)
  }

  test("weekly rollup path format mirrors save_sessions_to_bucket") {
    val r = WodEtl.weeklyRollup(spark, sf).head()
    val p = r.getAs[String]("bucket_path")
    assert(p.matches("weekly/\\d{4}-\\d{2}-\\d{2}__\\d{4}-\\d{2}-\\d{2}--5-day-weightlifting-program\\.json"))
  }

  test("strip_html removes every tag and decodes entities") {
    val df = WodEtl.stripHtml(spark, sf)
    assert(df.filter(col("clean_text").contains("<") || col("clean_text").contains(">")).count() == 0)
    assert(df.filter(col("clean_text").contains("&#8211;")).count() == 0)
    assert(df.filter(col("clean_text").endsWith("- fin")).count() == df.count())
  }

  test("keyset pagination: cursor pushed to the scan, top-n plan, same page as OFFSET") {
    val ks = WodEtl.paginateKeyset(spark, sf)
    val plan = ks.queryExecution.executedPlan.toString
    // the cursor predicate reaches parquet: the skipped prefix is never read
    assert(plan.contains("GreaterThan(doc_id,99)"),
      s"cursor filter must be pushed to the scan:\n$plan")
    // per-partition top-n + k-row merge, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), "keyset page must plan as top-n")
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      "keyset page must not global-sort")
    // dense doc_ids: keyset page == the OFFSET-100 page, row for row
    val kRows = ks.collect().map(_.getLong(0)).toSeq
    val oRows = WodEtl.paginate(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(kRows == oRows, "keyset and OFFSET twins must return the same page")
  }
}
