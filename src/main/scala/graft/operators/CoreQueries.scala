package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational surface of the engine: scan / filter / project /
  * aggregate / join / window / set ops / top-k.
  *
  * Portability rules (see SURVEY.md §6): money-ish sums are cast to
  * DECIMAL before aggregation (exact arithmetic — identical in any
  * engine regardless of partial-aggregation order) and the RESULT is
  * cast back to DOUBLE — final outputs never carry DECIMAL. A decimal
  * with trailing zeros stringifies as "46.00" while the same value as
  * a float stringifies "46.0"; an engine-agnostic consumer comparing
  * textual/hashed results sees a mismatch even though the values are
  * equal (round-1 driver gate failed exactly this way). The decimal →
  * double cast is safe here: the unscaled sum fits in 2^53, so the
  * division by 10^scale is correctly rounded and bit-identical in any
  * IEEE engine. Ratio metrics are rounded; every top-k has a
  * deterministic tiebreak.
  *
  * Scale posture: true dims (`region`,`nation`,`supplier`) carry
  * explicit broadcast hints; fact-scale tables (`orders`,`customer`)
  * are left to AQE, which broadcasts them at small SF and shuffles at
  * cluster scale. GroupBys rely on partial (map-side) aggregation;
  * top-k uses orderBy+limit which Spark plans as TakeOrderedAndProject
  * (no global sort materialization).
  */
object CoreQueries {

  /** TPC-H Q1 shape: single-pass multi-aggregate over the fact table.
    * At 100 TB this is map-side partial agg into 6 groups — network
    * traffic is O(partitions), not O(rows). */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    // Two-level exact money sums (Money.scala): q1's groups are
    // 6-way, so a single long per group would overflow at ~10 TB of
    // lineitem — the inner aggregate sums exact scaled longs per
    // (group, orderkey-hash bucket) with full map-side combine, the
    // outer sums the ≤1024 bucket subtotals per group as DECIMAL.
    // Honest (collect-timed) cost at sf10 dropped ~10× vs the direct
    // decimal aggregate; results are bit-identical to the oracle's
    // DECIMAL semantics. avgs stay double (cheap, tolerance-rounded
    // on both sides).
    lineitem(s, d)
      .filter(col("l_shipdate") < lit("1998-09-03").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"),
        Money.bucket(col("l_orderkey")).as("mb"))
      .agg(
        sum(col("l_quantity").cast("long")).as("q_l"),
        sum(Money.e2(col("l_extendedprice"))).as("bp_e2"),
        sum(Money.revE4(col("l_extendedprice"), col("l_discount"))).as("dp_e4"),
        count(lit(1)).as("cnt"),
        sum(col("l_quantity")).as("q_d"),
        sum(col("l_discount")).as("disc_d"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("q_l")).cast("double").as("sum_qty"),
        Money.outerE2(col("bp_e2")).as("sum_base_price"),
        Money.outerE4(col("dp_e4")).as("sum_disc_price"),
        sum(col("cnt")).as("count_order"),
        round(sum(col("q_d")) / sum(col("cnt")), 4).as("avg_qty"),
        round(sum(col("disc_d")) / sum(col("cnt")), 6).as("avg_disc")
      )

  /** Predicate + projection pushdown: the parquet scan must read only
    * 3 columns and skip row groups via the pushed filter. */
  def qFilterProject(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_quantity") > 45.0 && col("l_returnflag") === "R")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity").as("qty")
      )

  /** TPC-H Q3 shape: selective dim filters, 3-way join, agg, top-k. */
  def q3JoinAgg(s: SparkSession, d: String): DataFrame = {
    val cust = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = orders(s, d).filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = lineitem(s, d).filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    // Selective side FIRST: orders⋈BUILDING-customers shrinks orders
    // ~5× before the fact join, so lineitem crosses the wire ONCE and
    // only 1/5 of its joined rows reach the aggregate. The aggregate
    // sits ABOVE the orderkey join and inherits its hash partitioning
    // (no re-exchange; round 5's plan shuffled line-grain rows a
    // second time for a post-hoc customer join — the measured
    // superlinear term at sf3). orders/customer are fact-scale at
    // 100 TB — no forced broadcast: AQE broadcasts the pruned oc side
    // when it fits (then lineitem never exchanges at all); past the
    // threshold both sides shuffle on the order key.
    // (A lineitem pre-aggregate before the join was measured WORSE at
    // sf3 — groupBy on the ~1:4 l_orderkey key gets almost no map-side
    // combine.)
    val oc = ord.join(cust, ord("o_custkey") === cust("c_custkey"))
      .select(ord("o_orderkey"), ord("o_orderdate"))
    // Revenue as exact scaled longs aggregated to ORDER grain BEFORE
    // the join (Money.scala: ≤7 lines per order — no overflow at any
    // corpus size). On the orderkey-clustered layout the pre-aggregate
    // gets full map-side combine, so its exchange carries one (key,
    // long) row per order instead of the raw line stream — measured
    // 1.64 s vs 2.11 s for join-then-aggregate at sf10 under honest
    // collect timing (the r5 "pre-agg worse" finding was an artifact
    // of the round-robin layout + count()-pruned timing). Top-k orders
    // on the long (same total order as the double it becomes, exact);
    // dollars materialize only for the 10 output rows.
    val rev = li
      .select(col("l_orderkey"),
        Money.revE4(col("l_extendedprice"), col("l_discount")).as("r"))
      .groupBy("l_orderkey").agg(sum("r").as("rev_e4"))
    rev.join(oc.hint("shuffle_hash"), col("l_orderkey") === oc("o_orderkey"))
      .select(col("l_orderkey"), col("o_orderdate").cast("date").as("orderdate"),
        col("rev_e4"))
      .orderBy(col("rev_e4").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("orderdate"),
        Money.e4ToDouble(col("rev_e4")).as("revenue"))
  }

  /** TPC-H Q5 shape: snowflake join through region→nation→customer→
    * orders→lineitem→supplier. Everything except orders/lineitem is
    * broadcast; the only shuffle is the final 1-key-per-nation agg. */
  def q5MultiJoin(s: SparkSession, d: String): DataFrame =
    q5From(s, d, orders(s, d), lineitem(s, d))

  private[operators] def q5From(s: SparkSession, d: String,
                                ordersT: DataFrame, lineitemT: DataFrame): DataFrame = {
    val r = region(s, d).filter(col("r_name") === "ASIA")
    val n = nation(s, d)
    // Selective end of the snowflake FIRST: the 5-row ASIA nation list
    // broadcast-prunes customers (map-only), then the orders⋈customer
    // join runs on the PRUNED sides, so the fat lineitem join below
    // carries only ASIA order rows (~r_name-selectivity of the
    // date-filtered orders). Round 5's order joined lineitem⋈orders
    // first and re-shuffled the full line-grain result on custkey —
    // the widest exchange in the plan; here the custkey exchange moves
    // BEFORE the fact join where its inputs are dimension-sized, and
    // the only line-grain exchange left is the unavoidable orderkey
    // one (zero on the bucketed layout).
    val asiaN = n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cAsia = customer(s, d)
      .join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val o = ordersT.filter(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val oc = o.join(cAsia, o("o_custkey") === cAsia("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
    val sup = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    // exact e4 revenue computed BEFORE the fact exchange so the
    // line-grain Exchange carries (orderkey, suppkey, long) instead of
    // price/discount doubles; nation-grain (5 groups) money is
    // two-level — long e4 per (nation, orderkey-bucket) with map-side
    // combine, DECIMAL across the ≤1024 subtotals (Money.scala)
    val liSlim = lineitemT.select(col("l_orderkey"), col("l_suppkey"),
      Money.revE4(col("l_extendedprice"), col("l_discount")).as("r"))
    liSlim.join(oc, col("l_orderkey") === oc("o_orderkey"))
      .join(broadcast(sup),
        col("l_suppkey") === sup("s_suppkey") &&
        col("c_nationkey") === sup("s_nationkey"))
      .groupBy(col("n_name"), Money.bucket(col("l_orderkey")).as("mb"))
      .agg(sum(col("r")).as("rev_e4"))
      .groupBy(col("n_name"))
      .agg(Money.outerE4(col("rev_e4")).as("revenue"))
  }

  /** Post-aggregation filter (HAVING). */
  def qGroupByHaving(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("order_count"),
           sum(Money.e2(col("o_totalprice"))).as("ts_e2"))
      .filter(col("order_count") >= 15)
      .select(col("o_custkey"), col("order_count"),
        Money.e2ToDouble(col("ts_e2")).as("total_spent"))

  /** Global top-k — plans as TakeOrderedAndProject: each partition
    * keeps k rows, driver merges; no full sort at 100 TB. */
  def qTopK(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice").as("totalprice"))
      .orderBy(col("totalprice").desc, col("o_orderkey"))
      .limit(25)

  /** Distinct projection (shuffle on the projected key only). */
  def qDistinct(s: SparkSession, d: String): DataFrame =
    orders(s, d).select("o_orderstatus", "o_orderpriority").distinct()

  /** Semi-join: customers with at least one urgent order. Spark plans
    * a LeftSemi (broadcast when the right side is small). */
  def qInSubquery(s: SparkSession, d: String): DataFrame = {
    val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    val c = customer(s, d)
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Anti-join: customers with no large (>300k) order. */
  def qAntiJoin(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).filter(col("o_totalprice") > 300000.0).select("o_custkey")
    val c = customer(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_nationkey"))
  }

  /** Union + dedup across two projections. */
  def qUnion(s: SparkSession, d: String): DataFrame = {
    val buyers = orders(s, d).select(col("o_custkey").as("custkey"))
    val highBal = customer(s, d).filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey").as("custkey"))
    buyers.union(highBal).distinct()
  }

  /** Hierarchical aggregate (ROLLUP) — grouping sets in one pass. */
  def qRollup(s: SparkSession, d: String): DataFrame =
    // exact longs per (status, priority, bucket) first — the fact
    // stream never meets a decimal — then ROLLUP over the ~15k-row
    // subtotal table with DECIMAL cross-bucket sums (Money.scala)
    orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"),
        Money.bucket(col("o_orderkey")).as("mb"))
      .agg(count(lit(1)).as("cnt"), sum(Money.e2(col("o_totalprice"))).as("sp_e2"))
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(col("cnt")).as("n_orders"),
           Money.outerE2(col("sp_e2")).as("sum_price"))

  /** Partitioned ranking: top-3 orders per customer-nation by price.
    * One shuffle on the window partition key; rank filter applied
    * before any further join → rows drop early. */
  def qWindowRank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val o = orders(s, d)
    val c = customer(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_nationkey"), col("o_orderkey"),
              col("o_totalprice").as("totalprice"), col("rk"))
  }

  /** Running (cumulative) sum per user over the event stream. */
  def qWindowRunning(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("running_total",
        Money.e2ToDouble(sum(Money.e2(col("value"))).over(w)))
  }

  /** Conditional-aggregation pivot: event counts per user × type. */
  def qPivot(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
        sum(when(col("event_type") === "signup", 1).otherwise(0)).as("n_signup"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_error")
      )

  /** Gap-based sessionization of the event stream (30-min inactivity
    * boundary): lag → boundary flag → cumulative sum = session id.
    * This is the reference's `group_source_by` (transforms.py:115)
    * re-expressed for time series: one shuffle, partitioned by user. */
  def qSessionizeEvents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    // ts arrives as long nanos (normalized in Tables.events from
    // whatever the parquet layout ships); integer div is exact —
    // no double rounding at 1e18 magnitudes.
    val ev = events(s, d)
      .select(col("user_id"), col("event_id"),
              expr("ts div 1000000000").as("ts_s"),
              col("value"))
    ev.withColumn("prev_ts", lag("ts_s", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts_s") - col("prev_ts") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
           min("ts_s").as("session_start"),
           max("ts_s").as("session_end"),
           Money.e2ToDouble(sum(Money.e2(col("value")))).as("session_value"))
  }

  /** JSON field extraction from the events.props payload. */
  /** Top-level integer field extraction. `get_json_object` pays a
    * full streaming Jackson parse per row — 54 s for 10M tiny docs at
    * sf10, the r15 sweep's worst ratio (224× DuckDB's yyjson). The
    * native byte scan (`graft_json_long`, plans.JsonLongField, semantics
    * spec-asserted equal to the Jackson path incl. nesting/escapes/
    * overflow) runs inside whole-stage codegen: 54 → ~1.7 s. */
  def qJsonExtract(s: SparkSession, d: String): DataFrame = {
    graft.plans.Natives.ensure(s)
    events(s, d)
      .withColumn("k", call_function("graft_json_long", col("props"), lit("k")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum("k").as("sum_k"),
           max("k").as("max_k"))
  }

  /** Schema-on-read JSON parse: from_json with an explicit struct
    * schema (typed struct access, vs path extraction above). */
  def qJsonSchema(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("p", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .filter(col("p.k") >= 50)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_highk"),
           sum(col("p.k").cast("long")).as("sum_k"))

  /** Scalar subquery: orders above 1.5× the global average price.
    * The threshold comparison is done in exact decimal arithmetic with
    * the division cleared (price·2·n > sum·3) — a double average is
    * accumulation-order dependent, so boundary rows could flip between
    * engines/partitionings. */
  def qScalarSubquery(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val stats = o.groupBy(Money.bucket(col("o_orderkey")).as("mb"))
      .agg(sum(Money.e2(col("o_totalprice"))).as("tp_e2"), count(lit(1)).as("cnt"))
      .agg(sum(col("tp_e2").cast(org.apache.spark.sql.types.DecimalType(28, 0))).as("tp_sum_e2"),
           sum(col("cnt")).as("n"))
    o.join(broadcast(stats))
      .filter(Money.e2(col("o_totalprice")).cast(org.apache.spark.sql.types.DecimalType(28, 0))
        * 2 * col("n") > col("tp_sum_e2") * 3)
      .select(col("o_orderkey"), col("o_totalprice").as("totalprice"))
  }

  /** CASE-based conditional metrics over the fact table. */
  def qCaseAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"), Money.bucket(col("l_orderkey")).as("mb"))
      .agg(
        sum(when(col("l_discount") >= 0.05,
          Money.prodE4(col("l_extendedprice"), col("l_discount"))).otherwise(lit(0L))).as("hd_e4"),
        sum(when(col("l_quantity") >= 25, 1L).otherwise(0L)).as("bulk"),
        count(lit(1)).as("cnt"))
      .groupBy("l_returnflag")
      .agg(
        Money.outerE4(col("hd_e4")).as("high_disc_revenue"),
        sum(col("bulk")).as("bulk_lines"),
        sum(col("cnt")).as("n_lines")
      )

  /** Point-in-time (as-of) join: each purchase is matched with the
    * user's latest prior-or-equal signup — expressed as a running
    * conditional max, which scales as one window shuffle instead of a
    * range join. */
  def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), col("event_id"), expr("ts div 1000000000").as("ts_s"),
        col("event_type"))
      .withColumn("last_signup_ts",
        max(when(col("event_type") === "signup", col("ts_s"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_s"), col("last_signup_ts"),
        (col("ts_s") - col("last_signup_ts")).as("secs_since_signup"))
  }

  /** Exact interpolated percentiles per group. */
  def qMedian(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        round(percentile(col("value"), lit(0.5)), 4).as("p50"),
        round(percentile(col("value"), lit(0.9)), 4).as("p90"),
        count(lit(1)).as("n"))

  /** Statistical aggregates: correlation and sample stddev per group. */
  def qCorrStats(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
        round(stddev_samp(col("l_discount")), 6).as("disc_stddev"),
        count(lit(1)).as("n"))

  /** TPC-H Q17 shape: correlated scalar subquery (lineitems below 20%
    * of their part's average quantity), decorrelated into a per-part
    * aggregate + join — the plan Catalyst produces for the subquery
    * form, written explicitly. Quantities are integers, so the avg is
    * exact in double and the 0.2·avg comparison is engine-portable. */
  def q17Correlated(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val p = part(s, d).filter(col("p_brand") === "Brand#23")
    // Prune the fact table to the brand's parts BEFORE the per-part
    // aggregate: the avg is only consumed for ~1/25 of parts, so
    // aggregating all of lineitem first would shuffle the whole fact
    // table to build groups that are mostly thrown away (the same
    // broadcast-semi prune q20HeavySuppliers uses). Per-part avg over
    // the pruned rows is identical — the prune keeps every lineitem of
    // every surviving part.
    val liBrand = li.join(broadcast(p.select("p_partkey")),
      li("l_partkey") === col("p_partkey"), "left_semi")
    // Decorrelate with a WINDOW avg instead of agg + self-join: the
    // round-5 form scanned lineitem twice (once per liBrand use) and
    // paid two l_partkey exchanges (the aggregate's and the join
    // re-shuffle of the line rows). One scan, one exchange: the window
    // computes the per-part avg over the same shuffled rows the filter
    // then consumes in place.
    import org.apache.spark.sql.expressions.Window
    liBrand
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .withColumn("avg_qty", avg("l_quantity").over(Window.partitionBy("l_partkey")))
      .filter(col("l_quantity") < col("avg_qty") * 0.2)
      .groupBy(Money.bucket(col("l_partkey")).as("mb"))
      .agg(sum(Money.e2(col("l_extendedprice"))).as("tp_e2"),
        count(lit(1)).as("cnt"))
      .agg(
        Money.outerE2(col("tp_e2")).as("total_price"),
        sum(col("cnt")).as("n_lines"))
  }

  /** CUBE: all grouping-set combinations in one pass. */
  def qCube(s: SparkSession, d: String): DataFrame =
    // same two-level shape as qRollup: exact longs at fact grain,
    // CUBE + DECIMAL over the small subtotal table (Money.scala)
    orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"),
        Money.bucket(col("o_orderkey")).as("mb"))
      .agg(count(lit(1)).as("cnt"), sum(Money.e2(col("o_totalprice"))).as("sp_e2"))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(col("cnt")).as("n_orders"),
           Money.outerE2(col("sp_e2")).as("sum_price"))

  /** Value-range window frame: rolling 1-hour sum of purchase value per
    * user, frame bounded by the ts VALUE (RANGE), not row count. */
  def qWindowRange(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_s")
      .rangeBetween(-3600L, 0L)
    events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), expr("ts div 1000000000").as("ts_s"),
        col("value"))
      .withColumn("rolling_1h",
        Money.e2ToDouble(sum(Money.e2(col("value"))).over(w)))
  }

  /** Left outer join with null-side aggregation: every nation with its
    * (possibly zero) count of high-balance customers. */
  def qOuterJoin(s: SparkSession, d: String): DataFrame = {
    val n = nation(s, d)
    val c = customer(s, d).filter(col("c_acctbal") > 7500.0)
    n.join(c, n("n_nationkey") === c("c_nationkey"), "left")
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(count(col("c_custkey")).as("n_rich"),
        Money.e2ToDouble(coalesce(sum(Money.e2(col("c_acctbal"))), lit(0L)))
          .as("rich_balance"))
  }

  /** Full outer join: statuses seen in orders vs a fixed dimension of
    * interest — rows survive from either side. */
  def qFullOuter(s: SparkSession, d: String): DataFrame = {
    val byStatus = orders(s, d).groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"))
    val dim = events(s, d).groupBy(col("event_type").as("status"))
      .agg(count(lit(1)).as("n_events"))
    byStatus.join(dim, Seq("status"), "full_outer")
      .select(col("status"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  /** TPC-H Q21 shape: one EXISTS and one NOT EXISTS against the same
    * table — suppliers with a late line on a multi-supplier order where
    * no other supplier was late. Expressed as semi/anti joins. */
  def q21MultiExists(s: SparkSession, d: String): DataFrame = {
    // The EXISTS/NOT-EXISTS pair collapses to per-order arithmetic: a
    // late supplier qualifies iff its order has >1 distinct suppliers
    // (someone else to blame it on) and exactly ONE distinct LATE
    // supplier (itself). So lineitem is read ONCE, and the plan's only
    // exchange is a single hash(orderkey) clustering of the 3-column
    // projection: hash partitioning on ok satisfies the clustered
    // distribution of BOTH the (ok, sk) pair dedup (subset of grouping
    // keys) and the per-order rollup, so neither aggregate shuffles
    // again. TPC-H orders have ~4 lines over mostly-distinct suppliers,
    // so the map-side pair dedup the previous form relied on barely
    // shrank anything — it shuffled near-line-grain pairs on (ok, sk)
    // and then the pairs AGAIN on ok; clustering once on ok halves the
    // shuffled volume (measured: the pair-dedup exchange was the
    // remaining 2.47× sf1 gap vs the oracle engine).
    val isLate = col("l_shipdate") > lit("1999-01-01").cast("timestamp")
    val pairs = lineitem(s, d).select(col("l_orderkey").as("ok"),
      col("l_suppkey").as("sk"), when(isLate, 1).otherwise(0).as("late"))
      .repartition(col("ok"))
      .groupBy(col("ok"), col("sk"))
      .agg(max(col("late")).as("has_late"))
    pairs.groupBy("ok")
      .agg(count(lit(1)).as("n_supp"),
        sum("has_late").as("n_late"),
        min(when(col("has_late") === 1, col("sk"))).as("late_supp"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
      .groupBy(col("late_supp").as("suppkey"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Multiple exact COUNT(DISTINCT) in one aggregation (planned via
    * expand; each distinct column gets its own partial dedup). */
  def qCountDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(expr("ts div 86400000000000")).as("n_days"),
        count(lit(1)).as("n_events"))

  /** Calendar rollup: revenue per month (date_trunc bucketing). */
  def qMonthlyRollup(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        Money.bucket(col("o_orderkey")).as("mb"))
      .agg(sum(Money.e2(col("o_totalprice"))).as("r_e2"), count(lit(1)).as("cnt"))
      .groupBy("month")
      .agg(Money.outerE2(col("r_e2")).as("revenue"),
           sum(col("cnt")).as("n_orders"))

  /** Deterministic hash sampling: keep rows whose key-hash falls under
    * a fixed hex prefix (10/256 ≈ 3.9%). Reproducible across runs and
    * engines — the correct way to sample at 100 TB (rand() is neither
    * repeatable nor oracle-checkable); stratification falls out of
    * grouping the same predicate. */
  def qHashSample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(substring(md5(concat(lit("sample:"), col("doc_id"))), 1, 2) < "0a")
      .select(col("doc_id"), col("lang"))

  /** Quartile assignment + per-user inter-event deltas: ntile and lag
    * over a totally-ordered partition (event_id is unique, so both are
    * deterministic in any engine). */
  def qWindowFuncs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
    events(s, d)
      .select(col("user_id"), col("event_id"), col("value"),
        expr("ts div 1000000000").as("ts_s"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("gap_s", col("ts_s") - lag("ts_s", 1).over(w))
      .drop("ts_s")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_window_funcs" -> (qWindowFuncs _),
    "q_hash_sample" -> (qHashSample _),
    "q_count_distinct" -> (qCountDistinct _),
    "q_json_schema" -> (qJsonSchema _),
    "q_monthly_rollup" -> (qMonthlyRollup _),
    "q_outer_join" -> (qOuterJoin _),
    "q_full_outer" -> (qFullOuter _),
    "q21_multi_exists" -> (q21MultiExists _),
    "q_cube" -> (qCube _),
    "q_window_range" -> (qWindowRange _),
    "q17_correlated" -> (q17Correlated _),
    "q_asof_join" -> (qAsofJoin _),
    "q_median" -> (qMedian _),
    "q_corr_stats" -> (qCorrStats _),
    "q1_agg" -> (q1Agg _),
    "q_filter_project" -> (qFilterProject _),
    "q3_join_agg" -> (q3JoinAgg _),
    "q5_multi_join" -> (BucketedQueries.q5Bucketed _),
    "q_groupby_having" -> (qGroupByHaving _),
    "q_topk" -> (qTopK _),
    "q_distinct" -> (qDistinct _),
    "q_in_subquery" -> (qInSubquery _),
    "q_anti_join" -> (qAntiJoin _),
    "q_union" -> (qUnion _),
    "q_rollup" -> (qRollup _),
    "q_window_rank" -> (qWindowRank _),
    "q_window_running" -> (qWindowRunning _),
    "q_pivot" -> (qPivot _),
    "q_sessionize_events" -> (qSessionizeEvents _),
    "q_json_extract" -> (qJsonExtract _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_case_agg" -> (qCaseAgg _)
  )

  val oracle: Map[String, String] = Map(
    "q_window_funcs" ->
      """SELECT user_id, event_id, value,
        |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS quartile,
        |  epoch_ns(ts) // 1000000000 -
        |    lag(epoch_ns(ts) // 1000000000, 1)
        |      OVER (PARTITION BY user_id ORDER BY event_id) AS gap_s
        |FROM events""".stripMargin,
    "q_hash_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(concat('sample:', doc_id)), 1, 2) < '0a'""".stripMargin,
    "q_json_schema" ->
      """SELECT user_id, count(*) AS n_highk,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50
        |GROUP BY user_id""".stripMargin,
    "q_count_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT epoch_ns(ts) // 86400000000000) AS BIGINT) AS n_days,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,
    "q_monthly_rollup" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "q_outer_join" ->
      """SELECT n_nationkey, n_name,
        |  count(c_custkey) AS n_rich,
        |  CAST(coalesce(sum(CAST(c_acctbal AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS rich_balance
        |FROM nation LEFT JOIN customer
        |  ON n_nationkey = c_nationkey AND c_acctbal > 7500.0
        |GROUP BY n_nationkey, n_name""".stripMargin,
    "q_full_outer" ->
      """WITH o AS (SELECT o_orderstatus AS status, count(*) AS n_orders
        |  FROM orders GROUP BY o_orderstatus),
        |e AS (SELECT event_type AS status, count(*) AS n_events
        |  FROM events GROUP BY event_type)
        |SELECT coalesce(o.status, e.status) AS status,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(n_events, 0) AS n_events
        |FROM o FULL OUTER JOIN e ON o.status = e.status""".stripMargin,
    "q21_multi_exists" ->
      """WITH late AS (SELECT DISTINCT l_orderkey AS lk, l_suppkey AS ls
        |  FROM lineitem WHERE l_shipdate > TIMESTAMP '1999-01-01')
        |SELECT ls AS suppkey, count(*) AS n_orders
        |FROM late t
        |WHERE EXISTS (SELECT 1 FROM lineitem o
        |        WHERE o.l_orderkey = t.lk AND o.l_suppkey <> t.ls)
        |  AND NOT EXISTS (SELECT 1 FROM late l2
        |        WHERE l2.lk = t.lk AND l2.ls <> t.ls)
        |GROUP BY ls""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q_window_range" ->
      """SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s, value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_1h
        |FROM events WHERE event_type = 'purchase'""".stripMargin,
    "q17_correlated" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (
        |    SELECT avg(l2.l_quantity) * 0.2 FROM lineitem l2
        |    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,
    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s, event_type
        |  FROM events
        |), marked AS (
        |  SELECT user_id, event_id, ts_s, event_type,
        |    max(CASE WHEN event_type = 'signup' THEN ts_s END)
        |      OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
        |  FROM ev
        |)
        |SELECT user_id, event_id, ts_s, last_signup_ts,
        |  ts_s - last_signup_ts AS secs_since_signup
        |FROM marked WHERE event_type = 'purchase'""".stripMargin,
    "q_median" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q_corr_stats" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        |  round(stddev_samp(l_discount), 6) AS disc_stddev,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-03'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty
        |FROM lineitem WHERE l_quantity > 45.0 AND l_returnflag = 'R'""".stripMargin,
    "q3_join_agg" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_multi_join" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,
    "q_groupby_having" ->
      """SELECT o_custkey, count(*) AS order_count,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice AS totalprice
        |FROM orders ORDER BY totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    "q_in_subquery" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin,
    "q_union" ->
      """SELECT o_custkey AS custkey FROM orders
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000.0""".stripMargin,
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q_window_rank" ->
      """SELECT * FROM (
        |  SELECT c_nationkey, o_orderkey, o_totalprice AS totalprice,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rk <= 3""".stripMargin,
    "q_window_running" ->
      """SELECT user_id, event_id, value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM events WHERE event_type = 'purchase'""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM events GROUP BY user_id""".stripMargin,
    "q_sessionize_events" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s, value
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, ts_s, value,
        |    CASE WHEN lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) IS NULL
        |           OR ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |), sess AS (
        |  SELECT user_id, event_id, ts_s, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts_s) AS session_start, max(ts_s) AS session_end,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice AS totalprice
        |FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 * (SELECT count(*) FROM orders)
        |    > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders) * 3""".stripMargin,
    "q_case_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_discount >= 0.05
        |      THEN CAST(l_extendedprice * l_discount AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS high_disc_revenue,
        |  CAST(sum(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS bulk_lines,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag""".stripMargin
  )
}
