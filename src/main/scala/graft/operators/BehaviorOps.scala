package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-behavior analytics: the product/marketing warehouse primitives
  * (attribution, ordered-pattern detection, cohort retention, RFM
  * segmentation) over the `events` / `orders` streams.
  *
  * Scale posture shared by the family: every operator partitions by its
  * natural entity key (`user_id` / `o_custkey`) and stays linear —
  * window scans over per-user streams, never self-joins against the
  * event table (an attribution or pattern-match via time-range
  * self-join is |events_u|² per hot user; the running-conditional-
  * min/max idiom is one sorted pass). The only global orderings are in
  * q_rfm's quantile scoring, which uses the q_pareto_dist
  * range-partitioned exact-rank pattern over the CUSTOMER-grain
  * aggregate — P-way parallel, no single-partition window anywhere.
  */
object BehaviorOps {

  /** Last-touch attribution (the marketing-warehouse classic): each
    * purchase is credited to the user's most recent preceding touch
    * (click/view) within a 7-day lookback, else `unattributed`.
    *
    * The touch lookup is NOT a time-range self-join (quadratic per hot
    * user): a RUNNING MAX of a packed (tsu, event_id, tcode) value
    * carries the latest touch to every purchase row in one sorted pass
    * (O(1)-per-row incremental frame, same shuffle shape as q_asof_join
    * — one user_id exchange, then a hash aggregate).
    *
    * Why a packed max and not `last_value(... IGNORE NULLS)` over the
    * 1-PRECEDING frame (the r14 form): frame-excluded IGNORE NULLS is
    * the one nonstandard window corner engines disagree on across
    * versions — the r14 plan and oracle agreed bit-for-bit on every
    * local DuckDB run yet the driver gate still hash-mismatched, so r15
    * retires the construct from BOTH sides. `max()` as a window
    * aggregate over a running frame is SQL-2003 bedrock: aggregates
    * skip NULLs identically everywhere, no IGNORE NULLS syntax, no
    * frame-exclusion corner. The packing is ordering-preserving 128-bit
    * integer arithmetic (DECIMAL(38,0) here, HUGEINT in the oracle):
    *   tpack = tsu·10^20 + event_id·10 + tcode   (touch rows only)
    * tsu ≤ ~1.8e15 µs keeps tpack ≤ ~1.8e35 < 10^38, and the 10^20
    * rung holds event_id·10 + tcode for any event_id < 2^63/10 ≈
    * 9.2e17 (the `event_id * 10` term is evaluated in 64-bit BEFORE
    * the 128-bit promotion on both engines — Spark would silently
    * wrap beyond that, DuckDB would raise; the data model's dense ids
    * sit 8+ orders of magnitude below the bound), so
    * lexicographic (tsu, event_id, tcode) order ≡ numeric tpack order
    * (event_id is unique, so tcode never decides). The running max over
    * ROWS UNBOUNDED PRECEDING..CURRENT ROW equals "latest touch
    * strictly before this row in (tsu, event_id) order": the current
    * row's own tpack is NULL on purchase rows, and same-µs ties resolve
    * by event_id — stream order, true last-touch.
    *
    * Cross-engine determinism (the r13 gate lesson): every ts enters
    * the plan µs-TRUNCATED (`ts DIV 1000`), because the engines do not
    * agree on sub-µs precision — on TIMESTAMP_NS driver data Spark
    * reads full nanos (`nanosAsLong`) while DuckDB's TIMESTAMP sits at
    * µs. (Spark's DIV truncates toward zero vs DuckDB's floor `//`;
    * identical on the non-negative epochs this data model ships —
    * pre-epoch timestamps are outside the contract.) (tsu, event_id)
    * is a TOTAL order shared bit-for-bit by both engines. Purchase
    * cents are `floor(v·100+0.5)` longs so sums are exact. */
  private def attributedPurchases(s: SparkSession, d: String): DataFrame = {
    val wRun = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("tsu"),
        col("event_type"), col("value"))
      // rows that are neither touches nor purchases (signup/error, ~40%
      // of the stream) carry a NULL tpack the running max skips and are
      // not output — dropping them BEFORE the user_id exchange + window
      // sort changes nothing downstream (r16: pushed to the scan as an
      // IN filter; the oracle keeps scanning all types, same result)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .withColumn("tcode",
        when(col("event_type") === "click", lit(1L))
          .when(col("event_type") === "view", lit(2L)))
      .withColumn("tpack", expr(
        "CAST(tsu AS DECIMAL(38,0)) * 10000000000 * 10000000000" +
          " + event_id * 10 + tcode"))
      .withColumn("last_pack", max("tpack").over(wRun))
      .filter(col("event_type") === "purchase")
      .withColumn("last_code", expr("CAST(last_pack % 10 AS INT)"))
      .withColumn("last_ts",
        expr("last_pack DIV 100000000000000000000"))
      .withColumn("channel",
        when(col("last_pack").isNull, lit("unattributed"))
          .when(col("tsu") - col("last_ts") > 604800000000L, lit("unattributed"))
          .when(col("last_code") === 1, lit("click"))
          .otherwise(lit("view")))
  }

  def qAttribution(s: SparkSession, d: String): DataFrame =
    attributedPurchases(s, d)
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("attributed_cents"))

  /** Row-grain attribution twin: the per-purchase (user_id, event_id,
    * channel) assignments behind [[qAttribution]], deterministically
    * sampled (event_id % 251 == 0 — engine-identical on the
    * non-negative ids) to a bounded output. Exists so a hash mismatch
    * on the 3-row aggregate pinpoints WHICH purchases flip channel
    * instead of hiding behind the rollup. */
  def qAttributionRows(s: SparkSession, d: String): DataFrame =
    attributedPurchases(s, d)
      .filter(col("event_id") % 251 === 0)
      .select(col("user_id"), col("event_id"), col("channel"))

  /** Ordered event-pattern match (MATCH_RECOGNIZE-lite / CEP): users
    * whose stream contains view → click → purchase at strictly
    * increasing timestamps, with the three stage times.
    *
    * Three chained running-min window columns over ONE (user_id)
    * partitioning — Catalyst plans them in a single sort, one shuffle:
    * `t1` = running min of view times; a click qualifies when the
    * prefix already holds a view strictly earlier (`ts > t1` — the
    * prefix min equals the global first-view whenever the prefix holds
    * any view, because the earliest view sorts first, so the strict
    * comparison matches the declarative "min click after the first
    * view" exactly); `t3` likewise over qualifying purchases. The final
    * per-user values are the aggregate `min`s of the running columns
    * (running mins are monotone, so the observed min IS the full-stream
    * value). A k-stage pattern is k window columns over the same sort —
    * never k self-joins. */
  def qSequenceMatch(s: SparkSession, d: String): DataFrame = {
    val wIncl = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(wIncl))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("t1").isNotNull &&
          col("ts") > col("t1"), col("ts"))).over(wIncl))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("t2").isNotNull &&
          col("ts") > col("t2"), col("ts"))).over(wIncl))
      .groupBy("user_id")
      .agg(min("t1").as("v"), min("t2").as("c"), min("t3").as("p"))
      .filter(col("p").isNotNull)
      .select(col("user_id"),
        expr("v DIV 1000000000").as("first_view_s"),
        expr("c DIV 1000000000").as("first_click_s"),
        expr("p DIV 1000000000").as("first_purchase_s"))
  }

  /** Cohort retention matrix: users grouped by first-activity week
    * (cohort), counted in each subsequent activity week — the
    * product-analytics triangle chart behind q_retention's
    * week-over-week view. Distinct (user, week) grain first, cohort via
    * a user-partitioned min window (no join back), then one hash
    * aggregate; rows in the distinct table are already unique per
    * (user, week) so `count(*)` IS distinct users. */
  def qCohortMatrix(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("user_id"), expr("ts DIV 1000000000 DIV 604800").as("wk"))
      .distinct()
      .withColumn("cohort_wk", min("wk").over(Window.partitionBy("user_id")))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("weeks_since"))
      .agg(count(lit(1)).as("n_users"))

  /** Exact ntile(k) without a single-partition window — the
    * q_pareto_dist pattern factored for reuse: range-partition on the
    * ordering, per-partition row_number, global rank = local + the
    * P-row broadcast exclusive prefix, bucket by ntile's ceil-division
    * arithmetic (first n%k buckets hold n/k+1 rows). The checkpoint
    * freezes the sampled range bounds in data so every consumer sees
    * one pid assignment (see qParetoDist's rationale); the bounds only
    * steer parallelism — ranks come from actual counts, so the result
    * is exact regardless of sampling. */
  private def ntileDist(df0: DataFrame, order: Seq[Column], k: Int,
                        scoreCol: String): DataFrame = {
    import Loop.TruncOps
    val ranged = df0.repartitionByRange(order: _*)
      .withColumn("pid", spark_partition_id()).truncEager
    val counts = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
    val offsets = counts.withColumn("off",
      coalesce(sum("cnt").over(Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    ranged
      .withColumn("rn", row_number().over(
        Window.partitionBy("pid").orderBy(order: _*)))
      .join(broadcast(offsets.select("pid", "off")), "pid")
      .crossJoin(broadcast(counts.agg(sum("cnt").as("n_total"))))
      // the ELSE divisor is greatest(q, 1): when n_total < k the THEN
      // branch covers every rank (q = 0, first condition always holds),
      // so ELSE is unreachable — but its division must not rely on CASE
      // short-circuit to avoid a 0 divisor under refactor or ANSI mode
      .withColumn(scoreCol, expr(
        s"""CASE WHEN off + rn <= (n_total % $k) * ((n_total DIV $k) + 1)
           |  THEN (off + rn + (n_total DIV $k)) DIV ((n_total DIV $k) + 1)
           |  ELSE (n_total % $k)
           |       + (off + rn - (n_total % $k) * ((n_total DIV $k) + 1)
           |          + (n_total DIV $k) - 1) DIV greatest(n_total DIV $k, 1)
           |END""".stripMargin).cast("int"))
      .drop("pid", "rn", "off", "n_total")
  }

  /** RFM segmentation: recency / frequency / monetary quintile scores
    * per customer (1 = best: most recent, most orders, highest spend),
    * reported as segment counts + spend. Metrics are one hash aggregate
    * over orders (cents as exact longs); each score is an exact
    * ntile(5) over the CUSTOMER-grain table via [[ntileDist]] — three
    * range exchanges of the aggregated grain, which is what exact
    * global quantile scoring costs, and P-way parallel throughout
    * (contrast: the textbook ntile window is a single-partition sort of
    * every customer). Tiebreak o_custkey on every ordering keeps the
    * bucket split deterministic and the oracle's ntile bit-identical. */
  def qRfm(s: SparkSession, d: String): DataFrame = {
    import Loop.TruncOps
    val ref = orders(s, d).agg(max(col("o_orderdate").cast("date")).as("ref_date"))
    // checkpointed BEFORE the first ntileDist (r21, guide §2.4):
    // repartitionByRange SAMPLES its child to pick range bounds, so an
    // un-materialized cust meant the whole orders aggregate executed
    // twice — once for the sampling pass, once for the real exchange.
    // (ntileDist 2 and 3 never had the problem: their input is a
    // narrow projection over the previous step's checkpoint.)
    val cust = orders(s, d)
      .groupBy("o_custkey")
      .agg(max(col("o_orderdate").cast("date")).as("last_date"),
        count(lit(1)).as("freq"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("monetary_cents"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days", datediff(col("ref_date"), col("last_date")))
      .select("o_custkey", "recency_days", "freq", "monetary_cents")
      .truncEager
    val scored = Seq[(String, Seq[Column])](
      ("r_score", Seq(col("recency_days").asc, col("o_custkey").asc)),
      ("f_score", Seq(col("freq").desc, col("o_custkey").asc)),
      ("m_score", Seq(col("monetary_cents").desc, col("o_custkey").asc))
    ).foldLeft(cust) { case (df, (name, ord)) => ntileDist(df, ord, 5, name) }
    scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        sum("monetary_cents").as("cents"))
      .select(col("r_score"), col("f_score"), col("m_score"), col("n_customers"),
        (col("cents").cast("double") / 100).as("segment_monetary"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_attribution" -> (qAttribution _),
    "q_attribution_rows" -> (qAttributionRows _),
    "q_sequence_match" -> (qSequenceMatch _),
    "q_cohort_matrix" -> (qCohortMatrix _),
    "q_rfm" -> (qRfm _)
  )

  // every ts µs-truncated (epoch_ns // 1000 — bit-identical to the
  // Spark side's `ts DIV 1000` on the non-negative epochs this data
  // model ships, whatever the parquet layout); latest preceding touch
  // via a plain running `max()` over the ordering-preserving HUGEINT
  // packing (tsu·10^20 + event_id·10 + tcode, touch rows only) — see
  // qAttribution's scaladoc for why no IGNORE NULLS / frame-excluded
  // window construct may appear on either side
  private val attributionCore: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tsu,
      |    event_type, value FROM events),
      |coded AS (SELECT *,
      |    CASE WHEN event_type = 'click' THEN 1
      |         WHEN event_type = 'view'  THEN 2 END AS tcode
      |  FROM ev),
      |pk AS (SELECT *,
      |    CAST(tsu AS HUGEINT) * 10000000000 * 10000000000
      |      + event_id * 10 + tcode AS tpack
      |  FROM coded),
      |lt AS (SELECT *,
      |    max(tpack) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_pack
      |  FROM pk),
      |att AS (SELECT *,
      |    CASE WHEN last_pack IS NULL THEN 'unattributed'
      |         WHEN tsu - CAST(last_pack // 100000000000000000000 AS BIGINT)
      |           > 604800000000 THEN 'unattributed'
      |         WHEN last_pack % 10 = 1 THEN 'click' ELSE 'view' END AS channel
      |  FROM lt WHERE event_type = 'purchase')""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_attribution" -> (attributionCore +
      """
        |SELECT channel, count(*) AS n_purchases,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS attributed_cents
        |FROM att GROUP BY 1""".stripMargin),
    "q_attribution_rows" -> (attributionCore +
      """
        |SELECT user_id, event_id, channel FROM att
        |WHERE event_id % 251 = 0""".stripMargin),
    "q_sequence_match" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn, event_type FROM events),
        |t1 AS (SELECT user_id, min(tsn) AS v FROM e WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(tsn) AS c FROM e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.tsn > t1.v GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(tsn) AS p FROM e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.tsn > t2.c GROUP BY 1)
        |SELECT t1.user_id, v // 1000000000 AS first_view_s,
        |  c // 1000000000 AS first_click_s, p // 1000000000 AS first_purchase_s
        |FROM t1 JOIN t2 ON t1.user_id = t2.user_id
        |JOIN t3 ON t1.user_id = t3.user_id""".stripMargin,
    "q_cohort_matrix" ->
      """WITH weeks AS (SELECT DISTINCT user_id,
        |    (epoch_ns(ts) // 1000000000) // 604800 AS wk FROM events),
        |c AS (SELECT *, min(wk) OVER (PARTITION BY user_id) AS cohort_wk FROM weeks)
        |SELECT cohort_wk, wk - cohort_wk AS weeks_since, count(*) AS n_users
        |FROM c GROUP BY 1, 2""".stripMargin,
    "q_rfm" ->
      """WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_date FROM orders),
        |cust AS (SELECT o_custkey,
        |    max(CAST(o_orderdate AS DATE)) AS last_date,
        |    count(*) AS freq,
        |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |scored AS (SELECT o_custkey, monetary_cents,
        |    ntile(5) OVER (ORDER BY datediff('day', last_date,
        |      (SELECT ref_date FROM ref)), o_custkey) AS r_score,
        |    ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
        |    ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
        |  FROM cust)
        |SELECT r_score, f_score, m_score, count(*) AS n_customers,
        |  SUM(monetary_cents) / 100.0 AS segment_monetary
        |FROM scored GROUP BY 1, 2, 3""".stripMargin
  )
}
