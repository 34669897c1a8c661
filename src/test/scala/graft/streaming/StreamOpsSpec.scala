package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class StreamOpsSpec extends SparkTestBase {

  test("stream-static enrich equals the batch join+rollup; dim side broadcast") {
    import org.apache.spark.sql.functions._
    val streamed = StreamOps.streamEnrich(spark, sf).collect()
      .map(r => (r.getAs[Long]("window_start_s"), r.getAs[String]("nation")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toMap
    val batch = graft.Tables.events(spark, sf)
      .join(graft.Tables.customer(spark, sf), col("user_id") === col("c_custkey"))
      .join(graft.Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .groupBy((expr("ts div 1000 div 3600000000") * 3600).as("w"), col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
      .collect()
      .map(r => (r.getAs[Long]("w"), r.getAs[String]("n_name")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sv")))
      .toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("windowed agg over the stream equals the batch hourly rollup") {
    import org.apache.spark.sql.functions._
    val streamed = StreamOps.streamWindowedAgg(spark, sf).collect()
      .map(r => (r.getAs[Long]("window_start_s"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toMap
    val batch = graft.Tables.events(spark, sf)
      .groupBy((expr("ts div 1000 div 3600000000") * 3600).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
      .collect()
      .map(r => (r.getAs[Long]("w"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sv")))
      .toMap
    assert(streamed == batch)
  }

  test("stream top-k: at most 3 per window, ranks dense, counts match batch") {
    import org.apache.spark.sql.functions._
    val rows = StreamOps.streamTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("window_start_s"), r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Long]("rk")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, ws) =>
      val rks = ws.map(_._4).sorted.toSeq
      assert(rks == (1L to ws.length) && ws.length <= 3)
      // ranks follow counts (desc): rk 1 has the window's max count
      assert(ws.maxBy(_._3)._3 == ws.find(_._4 == 1L).get._3)
    }
    val batch = graft.Tables.events(spark, sf)
      .groupBy((expr("ts div 1000 div 3600000000") * 3600).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[Long]("w"), r.getAs[String]("event_type")) -> r.getAs[Long]("n"))
      .toMap
    rows.foreach { case (w, et, n, _) => assert(batch((w, et)) == n) }
  }

  test("stream dedup: doubled delivery collapses to exactly the distinct events") {
    val out = StreamOps.streamDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("ts_s"), r.getAs[String]("event_type")))
    val batch = graft.Tables.events(spark, sf)
      .selectExpr("event_id", "user_id", "ts div 1000000000 AS ts_s", "event_type")
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("ts_s"), r.getAs[String]("event_type")))
    // the union delivered every event twice; dedup must emit each once
    assert(out.length == batch.length,
      s"expected ${batch.length} deduped events, got ${out.length}")
    assert(out.toSet == batch.toSet)
    // the exact-distinct contract rides on event_id being unique in the
    // base table (otherwise "distinct events" and "distinct ids" differ)
    assert(batch.map(_._1).distinct.length == batch.length,
      "events.event_id must be unique for the dedup oracle to be exact")
  }

  test("stream-stream join matches the batch range join on the events table") {
    import org.apache.spark.sql.functions._
    val streamed = StreamOps.streamJoin(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("view_id"), r.getAs[Long]("gap_us"))).toSet
    val e = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type", "ts div 1000 AS us")
    val batch = e.as("p").filter(col("p.event_type") === "purchase")
      .join(e.as("v").filter(col("v.event_type") === "view"),
        col("p.user_id") === col("v.user_id") &&
        col("v.us") >= col("p.us") - 3600000000L &&
        col("v.us") <= col("p.us"))
      .select(col("p.user_id"), col("p.event_id"), col("v.event_id"),
        (col("p.us") - col("v.us")).as("gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "sf0.001 must produce at least one pair")
  }

  test("stream-stream join evicts buffered state past the watermark and drops late rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def tts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // (user, id, time) feeders for each side
    val vIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val views = vIn.toDF().toDF("v_user", "view_id", "v_time")
      .withWatermark("v_time", "10 seconds")
    val purchases = pIn.toDF().toDF("user_id", "purchase_id", "p_time")
      .withWatermark("p_time", "10 seconds")
    val name = "sjoin_evict_test"
    val q = Streams.joinViewsPurchases(views, purchases, "inner").writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()

    // batch 1: a view at t=1000 and a purchase at t=2000 (within 1 h) → pair
    vIn.addData((1L, 10L, tts(1000)))
    pIn.addData((1L, 20L, tts(2000)))
    q.processAllAvailable()
    assert(spark.table(name).count() == 1)
    val buffered = q.lastProgress.stateOperators(0).numRowsTotal
    assert(buffered >= 2, s"both rows buffered in join state, got $buffered")

    // batch 2: push BOTH watermarks far past t=1000 + 1 h join window —
    // the buffered view (and purchase) become unreachable and evict
    vIn.addData((9L, 11L, tts(20000)))
    pIn.addData((9L, 21L, tts(20000)))
    q.processAllAvailable()
    // one more batch so the new watermark's eviction pass runs
    vIn.addData((9L, 12L, tts(20010)))
    pIn.addData((9L, 22L, tts(20010)))
    q.processAllAvailable()
    val after = q.lastProgress.stateOperators(0).numRowsTotal
    assert(after < buffered + 4,
      s"state must shrink by eviction: started $buffered, now $after")

    // batch 3: a LATE purchase at t=2100 (behind the watermark) whose
    // matching view was evicted — must produce NO new pair
    val before = spark.table(name).count()
    pIn.addData((1L, 23L, tts(2100)))
    q.processAllAvailable()
    assert(spark.table(name).count() == before,
      "late row behind the watermark must not join against evicted state")
    q.stop()
  }

  test("left-outer stream-stream join: null row emits only after the watermark proves no match") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def tts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val vIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val views = vIn.toDF().toDF("v_user", "view_id", "v_time")
      .withWatermark("v_time", "10 seconds")
    val purchases = pIn.toDF().toDF("user_id", "purchase_id", "p_time")
      .withWatermark("p_time", "10 seconds")
    val joined = Streams.joinViewsPurchases(views, purchases, "left_outer")
      .select("user_id", "purchase_id", "view_id")
    val name = "sjo_evict_test"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()

    // batch 1: a matched pair (inner row emits immediately) and an
    // unmatched purchase (must NOT emit yet — a view could still come)
    vIn.addData((1L, 10L, tts(1000)))
    pIn.addData((1L, 20L, tts(1000)), (2L, 21L, tts(1000)))
    q.processAllAvailable()
    val afterB1 = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(afterB1 == Set((1L, 20L, 10L)),
      s"inner row immediate, unmatched held: $afterB1")

    // push both watermarks past p_time + join window + delay, plus a
    // follow-up batch so the new watermark's eviction pass runs
    vIn.addData((9L, 11L, tts(20000))); pIn.addData((9L, 22L, tts(20000)))
    q.processAllAvailable()
    vIn.addData((9L, 12L, tts(20010))); pIn.addData((9L, 23L, tts(20010)))
    q.processAllAvailable()
    val afterB2 = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(afterB2.contains((2L, 21L, -1L)),
      s"unmatched purchase must null-emit once provable: $afterB2")
    // the matched purchase must NOT also null-emit
    assert(!afterB2.contains((1L, 20L, -1L)), s"matched must not re-emit: $afterB2")
    q.stop()
  }

  test("full-outer stream-stream join: BOTH null lanes emit exactly once past their horizons") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def tts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val vIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val views = vIn.toDF().toDF("v_user", "view_id", "v_time")
      .withWatermark("v_time", "10 seconds")
    val purchases = pIn.toDF().toDF("user_id", "purchase_id", "p_time")
      .withWatermark("p_time", "10 seconds")
    val joined = Streams.joinViewsPurchases(views, purchases, "full_outer")
      .select("user_id", "purchase_id", "view_id")
    val name = "sjf_evict_test"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()

    // batch 1: one matched pair (u1), one unmatched purchase (u2), one
    // unmatched view (u3, AFTER any possible purchase window for it
    // fails — its purchases would sit in [t, t+1h])
    vIn.addData((1L, 10L, tts(1000)), (3L, 12L, tts(1000)))
    pIn.addData((1L, 20L, tts(1000)), (2L, 21L, tts(1000)))
    q.processAllAvailable()
    val afterB1 = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(afterB1 == Set((1L, 20L, 10L)),
      s"only the inner pair emits before the watermark proves non-match: $afterB1")

    // push both watermarks far past t=1000 + join window + delay; one
    // more batch so the eviction pass runs on the advanced watermark
    vIn.addData((9L, 11L, tts(20000))); pIn.addData((9L, 22L, tts(20000)))
    q.processAllAvailable()
    vIn.addData((9L, 13L, tts(20010))); pIn.addData((9L, 23L, tts(20010)))
    q.processAllAvailable()
    val afterB2 = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(afterB2.count(_ == ((2L, 21L, -1L))) == 1,
      s"unmatched purchase null-emits exactly once: $afterB2")
    assert(afterB2.count(_ == ((3L, -1L, 12L))) == 1,
      s"unmatched view null-emits exactly once: $afterB2")
    assert(!afterB2.contains((1L, 20L, -1L)) && !afterB2.contains((1L, -1L, 10L)),
      s"matched rows never re-emit on either null lane: $afterB2")
    q.stop()
  }

  test("stateful sessionization closes sessions on gaps and keeps state across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[Ev]
    val sessions = StreamOps.sessionize(
      input.toDS().withWatermark("event_time", "30 minutes"))
    val name = "sess_test"
    val q = sessions.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()

    // batch 1: two events 10s apart, then a 1h gap, then one more
    input.addData(Ev(1, 1000, 1.0), Ev(1, 1010, 1.0),
      Ev(1, 9000, 1.0))
    q.processAllAvailable()
    val afterB1 = spark.table(name).as[SessionOut].collect()
    assert(afterB1.length == 1) // first session closed by the gap
    assert(afterB1.head.sess_start == 1000 && afterB1.head.sess_end == 1010
      && afterB1.head.n_events == 2)

    // batch 2: event continuing the open session (gap < 30 min), then a far one
    input.addData(Ev(1, 9500, 1.0), Ev(1, 99999, 1.0))
    q.processAllAvailable()
    val afterB2 = spark.table(name).as[SessionOut].collect()
    assert(afterB2.length == 2) // open session (9000..9500) closed by the far event
    val second = afterB2.map(s => (s.sess_start, s.sess_end, s.n_events)).toSet
    assert(second.contains((9000L, 9500L, 2L)), s"got $second")
    q.stop()
  }

  test("event-time timeout evicts a trailing session once the watermark passes it") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[Ev]
    val sessions = StreamOps.sessionize(
      input.toDS().withWatermark("event_time", "30 minutes"))
    val name = "sess_evict_test"
    val q = sessions.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()

    // user 7's only session ends at t=1010 and never sees another event
    input.addData(Ev(7, 1000, 1.0), Ev(7, 1010, 1.0))
    q.processAllAvailable()
    assert(spark.table(name).count() == 0) // nothing closed by a gap

    // another user's much later events push the watermark far past
    // 1010 + gap; the NEXT batch must fire user 7's timeout
    input.addData(Ev(8, 50000, 1.0))
    q.processAllAvailable()
    input.addData(Ev(8, 50010, 1.0))
    q.processAllAvailable()
    val evicted = spark.table(name).as[SessionOut].collect()
      .map(o => (o.user_id, o.sess_start, o.sess_end, o.n_events)).toSet
    assert(evicted.contains((7L, 1000L, 1010L, 2L)),
      s"trailing session must be emitted by state timeout, got $evicted")
    // user 8's trailing session is still young relative to the
    // watermark and must NOT have been evicted
    assert(!evicted.exists(_._1 == 8L), s"premature eviction: $evicted")
    q.stop()
  }

  test("outer-join lanes: a MISSING side admits no null-lane rows (frozen watermark)") {
    import org.apache.spark.sql.functions._
    // r18, per advice: least() skips SQL NULLs, so with zero view
    // events the horizon silently fell back to the purchase-side max —
    // but the engine's global watermark (the MIN across inputs) never
    // advances past an empty input, so NO outer emission is provable.
    // The operator must emit nothing; the oracle's CASE-NULL horizon
    // mirrors it (a NULL comparison admits no null-lane rows).
    val base = graft.TempDirs.create("graft_oneside").toString
    graft.Tables.eventsRaw(spark, sf)
      .filter(col("event_type") === "purchase")
      .write.mode("overwrite").parquet(s"$base/events.parquet")
    assert(StreamOps.streamJoinOuter(spark, base).count() == 0,
      "purchases-only corpus: no null row's emission is provable")
    // symmetric: views only — the full-outer view null lane is equally
    // unprovable (and the two-NULL NPE path is exercised nowhere:
    // at least one side exists in any non-empty corpus)
    val base2 = graft.TempDirs.create("graft_oneside_v").toString
    graft.Tables.eventsRaw(spark, sf)
      .filter(col("event_type") === "view")
      .write.mode("overwrite").parquet(s"$base2/events.parquet")
    assert(StreamOps.streamJoinFull(spark, base2).count() == 0,
      "views-only corpus: no null row's emission is provable")
  }
}
