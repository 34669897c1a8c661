package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event record for the streaming sessionizer (top-level: encoders and
  * state-store codegen want plainly constructible classes).
  * `event_time` duplicates ts_s as a TIMESTAMP because the watermark
  * (and therefore event-time state eviction) is declared on a
  * timestamp column. */
case class Ev(user_id: Long, ts_s: Long, value: Double,
              event_time: java.sql.Timestamp)

object Ev {
  def apply(user_id: Long, ts_s: Long, value: Double): Ev =
    Ev(user_id, ts_s, value, new java.sql.Timestamp(ts_s * 1000L))
}

case class SessionOut(user_id: Long, sess_start: Long, sess_end: Long,
                      n_events: Long)

case class SessState(firstTs: Long, lastTs: Long, n: Long)

/** Structured Streaming surface: the same sessionization/aggregation
  * semantics as the batch operators, expressed as streams run by
  * [[Streams]].
  *
  * At scale this is the standard continuous-ingest path: file/queue
  * source → event-time windows with watermark → stateful sessionization
  * via flatMapGroupsWithState, state partitioned by user key (scales
  * with executors; the state store is per-partition and checkpointed on
  * a real cluster).
  */
object StreamOps {

  /** The outer-join lanes' emission horizon: min over the two JOINED
    * sides' max event times − watermark delay − join window. A side
    * with NO events means the engine's global watermark (the MIN across
    * inputs) never advances past that input, so no outer row's emission
    * is ever provable — the horizon is None, not the other side's max
    * (`least()` skips SQL NULLs and would silently fall back; with
    * both sides absent `.getLong` would NPE; r18, per advice). The
    * oracle mirrors with an explicit CASE that NULLs the horizon when
    * either per-type max is NULL — a NULL comparison then admits no
    * null-lane rows, matching None here. */
  private def joinHorizonUs(events: DataFrame): Option[Long] = {
    val r = events
      .agg(max(when(col("event_type") === "view", expr("ts div 1000"))).as("mv"),
           max(when(col("event_type") === "purchase", expr("ts div 1000"))).as("mp"))
      .head()
    if (r.isNullAt(0) || r.isNullAt(1)) None
    else Some(math.min(r.getLong(0), r.getLong(1)) - 7200000000L)
  }

  /** Tumbling 1-hour event-time window aggregation over the events
    * stream, driven to completion by an AvailableNow drain so the
    * result is a finite DataFrame (the driver's batch contract).
    * Semantics are identical to the batch hourly rollup — that is the
    * oracle. */
  def streamWindowedAgg(s: SparkSession, d: String): DataFrame =
    Streams.collected(Streams.events(s, d)()
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           // exact decimal accumulation, double on the way out (outputs
           // never carry DECIMAL — see CoreQueries portability rules)
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_start_s"),
        col("event_type"), col("n_events"), col("sum_value")), "win_agg")

  /** Gap-based (30-min) sessionization with explicit state per user via
    * flatMapGroupsWithState — the streaming twin of
    * CoreQueries.qSessionizeEvents. Events inside a batch are sorted by
    * event time; sessions closed by a gap are emitted immediately, and
    * the trailing session is EVICTED by an event-time timeout once the
    * watermark passes its last event + gap: emitted, state removed. A
    * NoTimeout trailing state would grow without bound on a continuous
    * stream — per-user state that never evicts is a real 100 TB killer.
    * Requires a watermark on `event_time` upstream.
    *
    * Known limitation (from the timeout API's contract): the timeout is
    * clamped to watermark+1ms when a session's natural deadline is
    * already behind the watermark, so such a trailing session fires on
    * the NEXT watermark advance. Under an AvailableNow drain the engine
    * runs that extra no-data batch, so nothing is lost in the bench /
    * oracle path; a CONTINUOUS deployment whose stream simply stops
    * (no further batches, watermark frozen) holds the last session
    * until data resumes — drain still-pending state at query stop if
    * that window matters operationally. */
  def sessionize(ds: Dataset[Ev]): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap: no in-order event can
            // extend this session any more — close and free the state
            val st = state.get
            state.remove()
            Iterator.single(SessionOut(user, st.firstTs, st.lastTs, st.n))
          } else {
            val evs = it.toSeq.sortBy(_.ts_s)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            evs.foreach { e =>
              cur match {
                case Some(st) if e.ts_s - st.lastTs <= 1800 =>
                  cur = Some(st.copy(lastTs = e.ts_s, n = st.n + 1))
                case Some(st) =>
                  closed += SessionOut(user, st.firstTs, st.lastTs, st.n)
                  cur = Some(SessState(e.ts_s, e.ts_s, 1))
                case None =>
                  cur = Some(SessState(e.ts_s, e.ts_s, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // fire once the watermark moves beyond last event + gap;
              // clamp above the current watermark (required by the API
              // when this batch's events are already older than it)
              state.setTimeoutTimestamp(
                math.max((st.lastTs + 1800L) * 1000L,
                  state.getCurrentWatermarkMs() + 1L))
            }
            closed.result().iterator
          }
      }
  }

  /** The stateful sessionizer driven to completion over the events
    * table: the data lands in one micro-batch (gap-closed sessions
    * emitted), then AvailableNow runs the follow-up batch the advanced
    * watermark requires, firing event-time timeouts — trailing sessions
    * whose last event + gap fell behind the final watermark
    * (max event − 30 min delay) are evicted and emitted too. Both the
    * gap-closed set and the watermark-evicted set are exactly
    * expressible in SQL, so the stateful operator (including eviction)
    * is oracle-checked, not just spec-tested. */
  def streamSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = Streams.events(s, d)()
      .selectExpr("user_id", "ts div 1000000000 AS ts_s", "value",
        "timestamp_seconds(ts div 1000000000) AS event_time")
      .withWatermark("event_time", "30 minutes")
      .as[Ev]
    // parquet sink: the session list is O(table)
    Streams.toParquet(sessionize(ds).toDF(), "ssess")
  }

  /** Exactly-once ingest dedup under at-least-once delivery: the event
    * stream is unioned with itself (every event delivered twice — the
    * redelivery a real queue/at-least-once source produces) and
    * deduplicated by event_id with `dropDuplicatesWithinWatermark`.
    * That operator is THE bounded-state streaming dedup: state for an
    * id is evictable once the watermark passes its event time + delay,
    * so state size tracks the redelivery window, not stream history —
    * a plain `dropDuplicates` keeps every id forever, the unbounded-
    * state failure mode on a continuous 100 TB ingest. The contract is
    * correspondingly honest: duplicates arriving within the watermark
    * window are dropped; a redelivery later than the watermark delay is
    * an upstream SLA violation (size the delay to the queue's
    * redelivery bound). Under the AvailableNow drain here, both copies
    * land inside the watermark and the output is exactly the distinct
    * events — which is what the oracle checks.
    *
    * AvailableNow processes each source's files in ONE micro-batch
    * ([[Streams.events]] sets no read limit): if the file source split
    * a copy across batches, a copy processed after the
    * watermark advanced past its event_time + 1h would be admitted as
    * a fresh row — the oracle's exact-distinct contract only holds
    * batch-atomically. (A live deployment doesn't get that guarantee
    * from config; it sizes the delay to the real redelivery window.)
    * The oracle additionally assumes event_id is unique in the base
    * events table — asserted in StreamingSpec. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val src = Streams.events(s, d)
    // parquet sink: the deduped stream is O(table)
    Streams.toParquet(src().unionAll(src())
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000000000").as("ts_s"), col("event_type")), "sdedup")
  }

  /** Streaming top-k: the hourly per-type counts come from the REAL
    * streaming engine (the windowed-agg pipeline above — watermarked
    * event-time windows driven with AvailableNow), and the top-3 rank
    * per window is a serving-side batch view over the sink table. That
    * split is the production shape: rank is not a streaming-stateful
    * operation (a late event can demote an emitted row), so the engine
    * maintains counts and the consumer ranks at read time. Deterministic
    * tiebreak (count desc, event_type) keeps the oracle exact. */
  def streamTopk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("window_start_s")
      .orderBy(col("n_events").desc, col("event_type"))
    streamWindowedAgg(s, d)
      .select("window_start_s", "event_type", "n_events")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
  }

  /** Stream-static enrichment: the events stream broadcast-joins the
    * static customer→nation dimension map-side (the standard streaming
    * enrich shape — the dim is a batch DataFrame, re-read per
    * micro-batch by the engine, no state), then aggregates hourly
    * windows per nation under a watermark. At scale the dim side is
    * the broadcast: the stream never shuffles for the join, only for
    * the windowed agg — exactly the plan a 100 TB/day ingest needs.
    * Semantics equal the batch join+rollup; that is the oracle. */
  def streamEnrich(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      .join(Tables.nation(s, d).select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    Streams.collected(Streams.events(s, d)()
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("n_name"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_start_s"),
        col("n_name").as("nation"), col("n_events"), col("sum_value")), "enrich")
  }

  /** The views/purchases split of two separate sources of `src`, each
    * watermarked 1 h — the inputs of [[Streams.joinViewsPurchases]]. */
  private def viewsPurchasesJoin(src: () => DataFrame, how: String): DataFrame = {
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("event_time").as("v_time"))
      .withWatermark("v_time", "1 hour")
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", "1 hour")
    Streams.joinViewsPurchases(views, purchases, how)
  }

  /** Stream-stream windowed join: each purchase event joins the same
    * user's view events from the preceding hour — two independently
    * watermarked event streams, a time-range join condition, append
    * output. The batch oracle is the equivalent self range-join on the
    * events table, so the stateful operator (buffering + matching) is
    * oracle-checked; watermark state EVICTION is proven in the
    * MemoryStream spec (a view arriving after the watermark passed its
    * join window produces no pair and state row counts shrink). */
  def streamJoin(s: SparkSession, d: String): DataFrame =
    // parquet sink: the matched-pair stream is O(table)
    Streams.toParquet(viewsPurchasesJoin(Streams.events(s, d), "inner").drop("p_us", "v_us"), "sjoin")

  /** LEFT-OUTER stream-stream join with an EMISSION HORIZON — the
    * "which purchases had no view?" completion of [[streamJoin]].
    * Outer semantics are where streaming differs fundamentally from
    * batch: a null row can only be emitted once the view-side watermark
    * proves no matching view can still arrive, so unmatched purchases
    * near the END of a bounded run sit in state rather than emit (on a
    * live stream they emit as the watermark advances). Worse, the exact
    * emission set inside the last watermark-delay + join-window span is
    * engine-internal (it follows the per-micro-batch watermark
    * trajectory — measured at sf0.01: all unmatched purchases older
    * than max(ts)−2h emitted, none younger than max(ts)−1h, and a
    * 5-row gray zone between that split 1/4 on batch boundaries).
    *
    * So the OPERATOR defines the deterministic contract: inner pairs
    * always; null rows only for purchases at or below the horizon
    * min(max view ts, max purchase ts) − watermark delay − join window
    * (= 2 h), where emission is provable for ANY batch layout — the
    * GLOBAL watermark is the MIN across both inputs' (max event time −
    * 1 h), so the final watermark is min(maxV, maxP) − 1h and a
    * purchase's state is evictable once that watermark passes
    * p_time (+ join window ≤ 1 h). (r17, per advice: the r16 horizon
    * used max(ts) over ALL event types — if the trailing events were
    * clicks/signups, or one joined side lagged the other, purchases in
    * the gap passed the filter without provable emission.) Gray-zone
    * nulls are filtered from the sink output. The oracle is the batch
    * left range-join with the SAME horizon predicate — exact at every
    * SF. view_id/gap_us are COALESCEd to −1 on both sides (null-free
    * driver hash). */
  def streamJoinOuter(s: SparkSession, d: String): DataFrame =
    outerJoin(s, d, "left_outer", "sjoutr")

  /** FULL-outer stream-stream join — [[streamJoinOuter]]'s emission-
    * horizon contract applied SYMMETRICALLY ("which views led to no
    * purchase?", the standard next ask after "which purchases had no
    * view?"). Inner pairs always; purchase-side null rows (unmatched
    * purchase) and view-side null rows (unmatched view) each gated by
    * the horizon that makes their emission provable for any
    * micro-batch layout:
    *  - an unmatched PURCHASE evicts once the watermark passes p_time
    *    (its candidate views lie in [p_time − 1h, p_time], all ≤
    *    p_time) → provable at p_time ≤ min(maxV, maxP) − 1h − 1h;
    *  - an unmatched VIEW evicts once the watermark passes
    *    v_time + 1h (its candidate purchases lie in
    *    [v_time, v_time + 1h]) → provable at the SAME horizon
    *    v_time ≤ min(maxV, maxP) − 2h.
    * user_id is coalesced across sides (exactly one side is null on an
    * outer row); ids/gap coalesce to −1 (null-free driver hash). The
    * oracle is the batch FULL range-join with both horizon predicates. */
  def streamJoinFull(s: SparkSession, d: String): DataFrame =
    outerJoin(s, d, "full_outer", "sjfull")

  /** An outer lane: the join drained to parquet, then the horizon filter
    * from the batch table (the run is bounded; a live deployment has no
    * horizon — rows emit as the watermark advances). Inner pairs always;
    * a null-lane row only at or below the horizon (a left-outer join
    * has no unmatched-view rows, so its view clause never holds). A
    * MISSING side admits no null-lane rows at all (see joinHorizonUs).
    * The sources and the horizon share one read of the events schema
    * (each read is a Spark job). */
  private def outerJoin(s: SparkSession, d: String, how: String, prefix: String): DataFrame = {
    val schema = Tables.eventsRaw(s, d).schema
    val inner = col("view_id") =!= -1L && col("purchase_id") =!= -1L
    val provable = joinHorizonUs(Tables.events(s, d, schema)).fold(lit(false)) { h =>
      (col("view_id") === -1L && col("p_us") <= h) ||
        (col("purchase_id") === -1L && col("v_us") <= h)
    }
    Streams.toParquet(viewsPurchasesJoin(Streams.events(s, d, schema), how), prefix)
      .filter(inner || provable).drop("p_us", "v_us")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_join" -> (streamJoin _),
    "stream_join_outer" -> (streamJoinOuter _),
    "stream_join_full" -> (streamJoinFull _),
    "stream_enrich" -> (streamEnrich _),
    "stream_windowed_agg" -> (streamWindowedAgg _),
    "stream_sessions" -> (streamSessions _),
    "stream_dedup" -> (streamDedup _),
    "stream_topk" -> (streamTopk _)
  )

  val oracle: Map[String, String] = Map(
    // the batch self range-join mirror of the stream-stream join: every
    // (purchase, same-user view within the preceding hour) pair, gap in
    // exact µs (both engines derive it from the same µs-truncated ts)
    "stream_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events)
        |SELECT p.user_id AS user_id, p.event_id AS purchase_id,
        |  v.event_id AS view_id, p.us - v.us AS gap_us
        |FROM e p JOIN e v ON p.user_id = v.user_id
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.us BETWEEN p.us - 3600000000 AND p.us""".stripMargin,
    // batch left range-join with the SAME emission-horizon predicate
    // the operator applies (see streamJoinOuter's scaladoc); the CASE
    // NULLs mx when either side is empty — least() skips NULLs and
    // would fall back to the other side's max, admitting null-lane
    // rows whose emission the frozen watermark never proves (r18)
    "stream_join_outer" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |m AS (SELECT CASE WHEN max(CASE WHEN event_type = 'view' THEN us END) IS NULL
        |      OR max(CASE WHEN event_type = 'purchase' THEN us END) IS NULL
        |    THEN NULL ELSE least(
        |    max(CASE WHEN event_type = 'view' THEN us END),
        |    max(CASE WHEN event_type = 'purchase' THEN us END)) END AS mx FROM e),
        |p AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS vu, event_id AS vid, us AS vus FROM e
        |  WHERE event_type = 'view')
        |SELECT p.user_id AS user_id, p.event_id AS purchase_id,
        |  COALESCE(v.vid, -1) AS view_id,
        |  COALESCE(p.us - v.vus, -1) AS gap_us
        |FROM p LEFT JOIN v ON p.user_id = v.vu
        |  AND v.vus BETWEEN p.us - 3600000000 AND p.us
        |WHERE v.vid IS NOT NULL
        |   OR p.us <= (SELECT mx FROM m) - 7200000000""".stripMargin,
    // batch FULL range-join with BOTH emission-horizon predicates
    // (see streamJoinFull's scaladoc); user_id coalesces across sides
    "stream_join_full" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |m AS (SELECT CASE WHEN max(CASE WHEN event_type = 'view' THEN us END) IS NULL
        |      OR max(CASE WHEN event_type = 'purchase' THEN us END) IS NULL
        |    THEN NULL ELSE least(
        |    max(CASE WHEN event_type = 'view' THEN us END),
        |    max(CASE WHEN event_type = 'purchase' THEN us END)) END AS mx FROM e),
        |p AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS vu, event_id AS vid, us AS vus FROM e
        |  WHERE event_type = 'view')
        |SELECT COALESCE(p.user_id, v.vu) AS user_id,
        |  COALESCE(p.event_id, -1) AS purchase_id,
        |  COALESCE(v.vid, -1) AS view_id,
        |  COALESCE(p.us - v.vus, -1) AS gap_us
        |FROM p FULL JOIN v ON p.user_id = v.vu
        |  AND v.vus BETWEEN p.us - 3600000000 AND p.us
        |WHERE (p.event_id IS NOT NULL AND v.vid IS NOT NULL)
        |   OR (v.vid IS NULL AND p.us <= (SELECT mx FROM m) - 7200000000)
        |   OR (p.event_id IS NULL AND v.vus <= (SELECT mx FROM m) - 7200000000)""".stripMargin,
    "stream_enrich" ->
      """SELECT (epoch_ns(ts) // 1000 // 3600000000) * 3600 AS window_start_s,
        |  n_name AS nation, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |JOIN customer ON user_id = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "stream_sessions" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s FROM events
        |), flagged AS (
        |  SELECT user_id, ts_s,
        |    CASE WHEN lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) IS NULL
        |           OR ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |), sess AS (
        |  SELECT user_id, ts_s,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |), agg AS (
        |  SELECT user_id, sid, min(ts_s) AS sess_start, max(ts_s) AS sess_end,
        |    count(*) AS n_events
        |  FROM sess GROUP BY user_id, sid
        |)
        |SELECT user_id, sess_start, sess_end, n_events
        |FROM agg
        |WHERE sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
        |   -- plus watermark-evicted trailing sessions: the final
        |   -- watermark is max(event) - 30 min delay, and a timeout
        |   -- fires when it passes last event + 30 min gap
        |   OR sess_end + 1800 < (SELECT max(ts_s) - 1800 FROM ev)""".stripMargin,
    "stream_dedup" ->
      """SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s, event_type
        |FROM events""".stripMargin,
    "stream_windowed_agg" ->
      """SELECT (epoch_ns(ts) // 1000 // 3600000000) * 3600 AS window_start_s,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "stream_topk" ->
      """WITH c AS (SELECT (epoch_ns(ts) // 1000 // 3600000000) * 3600 AS window_start_s,
        |    event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT window_start_s, event_type, n_events,
        |    CAST(row_number() OVER (PARTITION BY window_start_s
        |      ORDER BY n_events DESC, event_type) AS BIGINT) AS rk
        |  FROM c)
        |SELECT window_start_s, event_type, n_events, rk
        |FROM r WHERE rk <= 3""".stripMargin
  )
}
