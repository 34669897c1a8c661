package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 breadth: wider TPC-H shapes (Q2/Q20 re-expressed over the
  * lineitem supply relation — this schema has no partsupp), window
  * distribution functions, unpivot, calendar functions, min_by/max_by,
  * and Levenshtein fuzzy-dup pairs for the training-data surface.
  *
  * Same portability rules as CoreQueries: no DECIMAL in outputs, exact
  * integer/decimal arithmetic for thresholds, deterministic tiebreaks,
  * identical column aliases in the Spark plan and the oracle SQL.
  */
object ExtendedQueries {

  /** TPC-H Q2 shape: cheapest supplier per part. Unit cost comes from
    * the lineitem supply relation (min unit price per part×supplier);
    * winners are every supplier hitting the per-part minimum, in one
    * window pass (no correlated re-scan). Dims are broadcast; the only
    * fact shuffle is the (part,supplier) aggregate, then a part-keyed
    * window on the already-small aggregate. */
  def q2MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val p = part(s, d).filter(col("p_size") <= 10)
    val sup = supplier(s, d)
    val n = nation(s, d)
    val r = region(s, d).filter(col("r_name") === "EUROPE")
    val euroSup = sup
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    // unit price is a per-row division of identical doubles — exact
    // same bits in any IEEE engine; min/equality on them is portable
    val cost = li
      .join(broadcast(p.select("p_partkey")), li("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val w = Window.partitionBy("l_partkey")
    cost
      .withColumn("min_cost", min("unit_cost").over(w))
      .filter(col("unit_cost") === col("min_cost"))
      .join(euroSup, col("l_suppkey") === col("s_suppkey"), "left_semi")
      // floor(x·1e4 + 0.5)/1e4, not round(x, 4): engines disagree on
      // repr-vs-binary HALF_UP at 5th-decimal boundaries, while this
      // formula is the same IEEE op sequence (hence bit-identical)
      // everywhere. Costs are positive, so floor+0.5 == half-up.
      .select(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"),
        (floor(col("unit_cost") * 10000 + 0.5) / 10000).as("min_unit_cost"))
  }

  /** TPC-H Q20 shape: suppliers dominating a part's supply — more than
    * 2× their fair share (qty·n_suppliers > 2·total, exact integer
    * arithmetic; a fixed percentage would go vacuous as supplier count
    * grows with scale). One aggregate shuffle on (part, supplier),
    * then a part-keyed window for the totals — no correlated subquery
    * re-scan of the fact table. */
  def q20HeavySuppliers(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val p = part(s, d).filter(col("p_brand") === "Brand#23")
    val perSupp = li
      .join(broadcast(p.select("p_partkey")), li("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sup_qty"))
    val w = Window.partitionBy("l_partkey")
    val dominated = perSupp
      .withColumn("total_qty", sum("sup_qty").over(w))
      .withColumn("n_sup", count(lit(1)).over(w))
      .filter(col("sup_qty") * col("n_sup") > col("total_qty") * 2)
    val sup = supplier(s, d)
    dominated
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_parts_dominated"),
        sum("sup_qty").as("qty_dominated"))
      .join(sup, col("l_suppkey") === sup("s_suppkey"))
      .select(col("s_suppkey").as("suppkey"), col("s_name"),
        col("n_parts_dominated"), col("qty_dominated"))
  }

  /** Window distribution functions: percent_rank / cume_dist over a
    * totally-ordered partition (value with event_id tiebreak → both
    * are deterministic; the (k-1)/(n-1) divisions are identical IEEE
    * ops in any engine). */
  def qWindowDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
  }

  /** Unpivot (melt): the per-user event-type count matrix back to rows,
    * keeping explicit zeros — the inverse of q_pivot. Spark's stack()
    * runs map-side (a Generate over the aggregated row, no extra
    * shuffle). */
  def qUnpivot(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
        sum(when(col("event_type") === "signup", 1).otherwise(0)).as("n_signup"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_error"))
      .select(col("user_id"), expr(
        """stack(5, 'click', n_click, 'view', n_view, 'purchase', n_purchase,
          |'signup', n_signup, 'error', n_error) AS (metric, n)""".stripMargin))

  /** Calendar functions over the order dates: truncations, offsets,
    * end-of-month, day distances. DATE-typed outputs are portable;
    * month arithmetic clamps to month end identically in both
    * engines. */
  def qDateFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
      .select(
        col("o_orderkey"),
        year(col("od")).as("yr"),
        quarter(col("od")).as("qtr"),
        month(col("od")).as("mth"),
        last_day(col("od")).as("month_end"),
        add_months(col("od"), 3).as("plus3m"),
        datediff(col("od"), lit("1995-01-01").cast("date")).as("days_since"))

  /** min_by/max_by with a total-order key: one exact BIGINT — cents via
    * floor(v·100 + 0.5) (the same IEEE op sequence in every engine,
    * where string formatters disagree on half-up vs half-even at .xx5
    * midpoints) in the high digits, event_id as the tiebreak in the low
    * ten. The packing is sound only inside its bounds — cents must stay
    * below Long.MaxValue/1e10 ≈ 9.2e8 (value ≤ ~9.2e6) and event_id
    * below 1e10 — so the key GUARDS them: out-of-range input raises
    * instead of silently wrapping to a wrong extreme at some future
    * scale. The guard is two comparisons per row, fused into codegen. */
  def qArgExtremes(s: SparkSession, d: String): DataFrame = {
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    val packed = cents * 10000000000L + col("event_id")
    // negative cents still order exactly (the low ten digits stay a
    // non-negative tiebreak), so the guard is the representable range
    val key = when(cents.between(-922337203L, 922337203L) &&
        col("event_id").between(0L, 9999999999L), packed)
      .otherwise(raise_error(concat(lit("arg_extremes packed key out of range: value="),
        col("value"), lit(" event_id="), col("event_id"))).cast("long"))
    events(s, d)
      .groupBy("event_type")
      .agg(
        max_by(col("event_id"), key).as("top_event_id"),
        min_by(col("event_id"), key).as("bottom_event_id"),
        max("value").as("max_value"),
        min("value").as("min_value"))
  }

  /** Fuzzy near-dup pairs by edit distance on a fixed-length prefix,
    * inside (lang, source, length-band) blocks — the classic blocked
    * fuzzy-join: candidate pairs are bounded by block size, never n².
    * Blocking on the crawl source matters quadratically: at sf0.1 it
    * cuts candidates 20× (315k → 16k) and is the semantically-right
    * scope for fuzzy dedup anyway. The prefix cap bounds the per-pair
    * Levenshtein cost, and the block-size cap bounds the pair count:
    * no block contributes more than cap² candidates. */
  def textFuzzyPairs(s: SparkSession, d: String): DataFrame =
    textFuzzyPairsCapped(s, d, FUZZY_BLOCK_CAP)

  /** Block-size cap for the fuzzy join: a (lang, source, len_band)
    * block hotter than this is excluded wholesale — an explicit recall
    * trade instead of a silent quadratic job (edit distance admits no
    * lossless equality sub-key, unlike the LSH-sub-bucketed embedding
    * path). Test-corpus blocks (max 23 docs at sf0.1) sit far below
    * it, so results are unchanged at test scale. */
  private[graft] val FUZZY_BLOCK_CAP = 1000

  private[operators] def textFuzzyPairsCapped(s: SparkSession, d: String, cap: Int): DataFrame = {
    graft.plans.Natives.ensure(s)
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 50").as("len_band"),
        substring(col("text"), 1, 60).as("prefix"))
    // block sizes are a tiny aggregate over the block keys (bounded by
    // lang × source × length-band cardinality), broadcast back as a
    // semi-join — the doc side is never shuffled for the guard
    val blocks = docs.groupBy(col("lang").as("bl_lang"),
        col("source").as("bl_source"), col("len_band").as("bl_band"))
      .agg(count(lit(1)).as("n_block"))
      .filter(col("n_block") <= cap)
    val bounded = docs.join(broadcast(blocks),
      col("lang") === col("bl_lang") && col("source") === col("bl_source") &&
        col("len_band") === col("bl_band"), "left_semi")
    val a = bounded.select(col("lang"), col("source"), col("len_band"),
      col("doc_id").as("doc_a"), col("prefix").as("pref_a"))
    val b = bounded.select(col("lang").as("lang_b"), col("source").as("source_b"),
      col("len_band").as("len_band_b"),
      col("doc_id").as("doc_b"), col("prefix").as("pref_b"))
    a.join(b,
        col("lang") === col("lang_b") && col("source") === col("source_b") &&
        col("len_band") === col("len_band_b") &&
        col("doc_a") < col("doc_b"))
      // LOSSLESS prescreen (r16): the bag lower bound (≥ max(|Δlen|,
      // ⌈L1(bag)/2⌉) ≤ true edit distance) costs ~150 ops/pair vs the
      // ~2600-cell banded DP, and on the word-salad corpus most
      // candidate pairs exceed the threshold — those never reach the
      // DP. Never drops a qualifying pair (property-spec'd), so the
      // oracle is untouched.
      .filter(call_function("graft_bag_lb", col("pref_a"), col("pref_b")) <= 20)
      // exact verification via the bit-parallel Myers kernel
      // (`graft_lev64`, plans/Lev64.scala): the whole DP column lives in one machine
      // word for these ≤60-char prefixes, ~15 word-ops per text symbol
      // vs the banded DP's ~2,600 cells — distances ≤20 come back
      // exact (oracle-identical), anything above collapses to -1 and
      // is filtered with the same predicate
      .withColumn("lev", call_function("graft_lev64",
        col("pref_a"), col("pref_b"), lit(20)))
      .filter(col("lev").between(0, 20))
      .select("doc_a", "doc_b", "lev")
  }

  /** The as-of join again, but through the custom physical operator
    * (plans.AsofJoin): merge-scan of two key-partitioned sorted
    * streams instead of a running window over the unioned stream.
    * Oracle-checked against the SAME SQL as q_asof_join — one
    * semantics, two physical strategies. */
  def qAsofCustom(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000000").as("ts_s"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts_s")
    val signups = ev.filter(col("event_type") === "signup")
      .select("user_id", "event_id", "ts_s")
    graft.plans.AsofJoin(purchases, signups,
        key = "user_id", time = "ts_s", tie = "event_id",
        outName = "last_signup_ts")
      .select(col("user_id"), col("event_id"), col("ts_s"), col("last_signup_ts"),
        (col("ts_s") - col("last_signup_ts")).as("secs_since_signup"))
  }

  /** Signup→purchase conversion funnel per user: first event time of
    * each stage, converted iff the purchase is at-or-after the signup.
    * One groupBy shuffle on user_id; conditional min is map-side
    * partial — the standard funnel shape at any scale. */
  def qFunnel(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("user_id"), expr("ts div 1000000000").as("ts_s"),
        col("event_type"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts_s"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts_s"))).as("first_purchase"))
      .withColumn("converted",
        (col("first_signup").isNotNull && col("first_purchase").isNotNull &&
          col("first_purchase") >= col("first_signup")).cast("int"))

  /** Week-over-week retention: per user, count of active weeks and of
    * consecutive-week continuations (distinct weeks → lag → gap=1).
    * Distinct + window share the user_id partitioning. */
  def qRetention(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("wk")
    events(s, d)
      .select(col("user_id"), expr("(ts div 1000000000) div 604800").as("wk"))
      .distinct()
      .withColumn("gap", col("wk") - lag("wk", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_weeks"),
        sum(when(col("gap") === 1, 1).otherwise(0)).as("n_retained"))
  }

  /** Corpus term statistics (Zipf head): top-50 tokens by document-
    * blind corpus frequency, rank with explicit token tiebreak. */
  def textZipf(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("n").desc, col("tok"))
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(50)
      .withColumn("rank", row_number().over(w))
  }

  /** Per-document lexical stats: token count, distinct-token count,
    * type-token ratio (exact long counts; the ratio is one double
    * division of exact longs — identical bits in any engine). */
  def textDocStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("n_distinct"))
      .withColumn("ttr",
        col("n_distinct").cast("double") / col("n_tokens").cast("double"))

  /** Sketch surface — the 100 TB path for distincts/quantiles, where
    * exact computation means a full shuffle of every key. Deliberately
    * NOT in the declared `queries` map: sketch internals (HLL++,
    * approximate-percentile digests) are not engine-portable, so there
    * is no hash-matchable oracle; the spec instead bounds their
    * relative error against the exact operators on the same data —
    * the same ◐ treatment as the sinks. */
  def qSketchDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n_events"))

  def qSketchQuantiles(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50_approx"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("p99_approx"),
        count(lit(1)).as("n"))

  /** Frequent-items sketch for corpus-wide top-k — the declared 100 TB
    * lane for the text_ngrams_top shape when even the hash-keyed exact
    * first pass (TextOps.textNgramsTop phase 1) is too much shuffle:
    * per-partition Misra-Gries summaries (bounded memory, one pass, the
    * one justified mapPartitions shape — imperative per-partition
    * state), candidate union, then an EXACT recount of candidates only.
    *
    * Guarantee (spec-proved, SketchSpec): within a partition, an item
    * with local count > N_p/(capacity+1) survives its summary (each
    * decrement event destroys capacity+1 instances); summing over
    * partitions, any item with GLOBAL count > N/(capacity+1) must
    * exceed the local threshold somewhere, so the candidate union
    * contains every such heavy hitter. The recount is exact, so output
    * counts are true counts — the only approximation is which tail
    * items make the candidate list. Candidate volume is ≤
    * capacity·partitions rows: broadcast-joinable at any corpus size
    * (capacity and partition count are config, not data-driven). */
  /** The per-partition Misra-Gries pass alone (exposed for the spec's
    * bound check): one bounded-memory sweep per partition, distinct
    * union of surviving keys. r13: the summaries stream 64-bit shingle
    * HASHES from the native byte sweep (`graft_shingle_hashes`,
    * plans/Tokens.scala), not shingle strings — the r12 form
    * tokenized, built and hashed a UTF8 string per window while its
    * exact sibling (textNgramsTop phase 1) had already moved to native
    * longs; at 100 TB the sketch lane was paying string costs the
    * exact lane no longer pays (r12 verdict, missing #3). The MG bound
    * transfers: a hash's stream count ≥ any one shingle's count
    * (collisions only merge counts upward), so every heavy SHINGLE's
    * hash still survives some partition summary. */
  private[operators] def mgCandidates(s: SparkSession, d: String,
                                      capacity: Int): DataFrame = {
    import s.implicits._
    graft.plans.Natives.ensure(s)
    documents(s, d)
      .select(explode(expr("graft_shingle_hashes(text)")).as("h")).as[Long]
      .mapPartitions { it =>
        val cnt = scala.collection.mutable.LongMap.empty[Long]
        it.foreach { x =>
          val v = cnt.getOrElse(x, 0L) // counts are ≥1, so 0 ⇔ absent
          if (v != 0L) cnt(x) = v + 1
          else if (cnt.size < capacity) cnt(x) = 1L
          else { // Misra-Gries decrement-all step (x absorbs its own)
            cnt.mapValuesNow(_ - 1)
            cnt.filterInPlace((_, v) => v > 0)
          }
        }
        cnt.keysIterator
      }
      .toDF("cand").distinct()
  }

  /** Corpus top-k shingles via the MG candidate sketch + exact string
    * recount. Candidate volume is ≤ capacity·partitions longs (config,
    * not data-driven) — a driver-bounded scalar set, the same posture
    * as textNgramsTop's CAP collect. Strings materialize ONLY at
    * candidate-matching windows (`graft_candidate_shingles`:
    * binary-search per window, byte-slice copy on match), so the
    * recount aggregate sees candidate-cardinality rows however large
    * the corpus. Output counts are true counts — the only
    * approximation is which tail items reach the candidate list. */
  def qSketchTopk(s: SparkSession, d: String,
                  k: Int = 20, capacity: Int = 256): DataFrame = {
    import s.implicits._
    val cands = mgCandidates(s, d, capacity).as[Long].collect()
    if (cands.isEmpty) return documents(s, d)
      .select(lit("").as("shingle"), lit(0L).as("doc_freq")).limit(0)
    val candSql = cands.sorted.mkString("array(", "L,", "L)")
    documents(s, d)
      .select(explode(expr(s"graft_candidate_shingles(text, $candSql)")).as("shingle"))
      .groupBy("shingle")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("shingle"))
      .limit(k)
  }

  /** Ordered collect: each user's event-type journey as a string,
    * deterministic after the shuffle — collect_list alone has no
    * ordering guarantee, so the list is sorted by a (event_id) sort
    * key before joining. This is the engine's ordered re-assembly
    * primitive (same pattern the ETL surface uses internally),
    * exposed as a query. */
  def qCollectSorted(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .agg(
        concat_ws(">", transform(
          array_sort(collect_list(struct(col("event_id").as("i"),
            col("event_type").as("t")))),
          x => x.getField("t"))).as("journey_head_removed"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"),
        substring(col("journey_head_removed"), 1, 120).as("journey_head"),
        col("n_events"))

  /** INTERSECT: users who both clicked and purchased (set semantics —
    * Spark plans it as a distinct + left-semi join). */
  def qIntersect(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    ev.filter(col("event_type") === "click").select("user_id")
      .intersect(ev.filter(col("event_type") === "purchase").select("user_id"))
  }

  /** EXCEPT: (user, day) pairs with a click but no purchase — finer
    * granularity than whole users (every user in this corpus does
    * everything eventually, which would make the plain-user EXCEPT
    * vacuous). */
  def qExcept(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"),
        col("event_type"))
    ev.filter(col("event_type") === "click").select("user_id", "day")
      .except(ev.filter(col("event_type") === "purchase").select("user_id", "day"))
  }

  /** Explicit GROUPING SETS (finer than ROLLUP/CUBE: exactly the two
    * single-column slices plus the grand total, no cross term) with
    * per-column grouping flags. */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
  }

  /** Exact per-group mode: each user's most frequent event type,
    * deterministic tiebreak on the type itself — count + rank, the
    * shape that stays one shuffle + one tiny window at any scale. */
  def qMode(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type"))
    events(s, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("mode_event"), col("n").as("mode_n"))
  }

  /** Two-phase salted aggregation AS a declared query: the hot-key
    * pattern (5 event types over the whole table = worst-case skew)
    * fanned across 16 salt buckets before the final combine. The
    * oracle is the PLAIN direct aggregation — identical results is the
    * contract; exact decimal partials make the claim engine- and
    * order-independent. */
  def qSaltedAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("salt", col("event_id") % 16)
      .groupBy("event_type", "salt")
      .agg(sum(col("value").cast("decimal(18,2)")).as("pt"), count(lit(1)).as("pn"))
      .groupBy("event_type")
      .agg(sum("pt").cast("double").as("total_value"), sum("pn").as("n_events"))

  /** Range join, binned: purchases joined to same-user signups within
    * the following hour. The equi key is (user_id, hour-bin) with each
    * purchase exploded to its two candidate bins — a signup's bin is
    * exactly one of bin(p) or bin(p)−1, so every qualifying pair
    * arrives once, no distinct. Binning is what survives scale: a
    * plain user-only join degrades to |signups|·|purchases| per hot
    * user, while the bin key bounds candidates per task by window
    * width regardless of history length. */
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      expr("ts div 1000000000").as("ts_s"), col("event_type"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("su"), col("event_id").as("s_event"),
        col("ts_s").as("s_ts"), expr("ts_s div 3600").as("s_bin"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("p_event"),
        col("ts_s").as("p_ts"),
        explode(array(expr("ts_s div 3600"), expr("ts_s div 3600 - 1"))).as("p_bin"))
    purchases.join(signups,
        col("pu") === col("su") && col("p_bin") === col("s_bin") &&
        col("p_ts") >= col("s_ts") && col("p_ts") < col("s_ts") + 3600)
      .select(col("pu").as("user_id"), col("s_event"), col("p_event"),
        (col("p_ts") - col("s_ts")).as("delta_s"))
  }

  private val CHUNK = 64   // tokens per chunk
  private val STRIDE = 48  // CHUNK - 16 overlap

  /** Context-length chunking — the training-data op that slices every
    * document into fixed-size token windows with overlap. Each token
    * lands in at most two chunks (stride < size < 2·stride), generated
    * relationally: posexplode → per-token chunk-id range → explode →
    * one aggregate per (doc, chunk) with an ordered re-assembly and a
    * content hash. Map-side until the single (doc, chunk) aggregate. */
  def textChunks(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("p", col("pos") + 1)
      .withColumn("k_max", expr(s"(p - 1) div $STRIDE"))
      // negative numerators round differently across engines (Spark div
      // is toward-zero, DuckDB // is floor) — the greatest(0, _) clamp
      // makes both land on 0 for every pre-window position
      .withColumn("k_min",
        greatest(lit(0L), expr(s"(p - $CHUNK + $STRIDE - 1) div $STRIDE")))
    toks
      .select(col("doc_id"), col("p"), col("tok"),
        explode(sequence(col("k_min"), col("k_max"))).as("chunk_id"))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_chunk_tokens"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p").as("p"), col("tok").as("t")))),
          x => x.getField("t")))).as("chunk_md5"))
  }

  /** first_value / last_value / nth_value over a total-ordered user
    * window — one WindowExec (same partition+order spec for all three
    * frames), pure value selection so no float arithmetic at all. */
  def qFirstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000000").as("ts_s"), col("value"))
      .withColumn("first_val", first("value").over(w))
      .withColumn("last_val", last("value").over(w))
      .withColumn("second_val", nth_value(col("value"), 2).over(w))
  }

  /** Type-2 slowly-changing-dimension intervals from an event stream —
    * the warehouse history-table build: per user, collapse consecutive
    * same-type events into runs (a row survives only where the type
    * CHANGES), then each surviving change opens an interval closed by
    * the next change (valid_to = −1 marks the current row; −1 instead
    * of NULL so both engines hash the sentinel identically). Two
    * window passes over the SAME (user, time, id) partitioning — the
    * filter between them changes the row set, so lead() must re-run,
    * but the second WindowExec reuses the first's hash partitioning
    * (no second exchange; only a re-sort of the ~changes subset).
    * Per-user parallelism — embarrassingly parallel at 100 TB. */
  def qScd2Intervals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000000").as("ts_s"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", coalesce(lead("ts_s", 1).over(w), lit(-1L)))
      .select(col("user_id"), col("event_type"),
        col("ts_s").as("valid_from"), col("valid_to"),
        (col("valid_to") === -1L).cast("int").as("is_current"))
  }

  /** Equi-width histogram over order totals — the profiling primitive
    * behind optimizer statistics and data-quality dashboards. Bounds
    * come from ONE global min/max aggregate (scalar, broadcast back via
    * a 1-row cross join — the q_scalar_subquery device); bucket
    * assignment is PURE INTEGER arithmetic on exact cents
    * ((pc−mn)·K div (mx−mn+1), never a float boundary both engines
    * could round differently), so the 20 buckets are bit-identical
    * everywhere. Two scans of orders (min/max + assignment) and one
    * 20-group aggregate — each scan column-pruned to one column. */
  def qHistogram(s: SparkSession, d: String): DataFrame = {
    val K = 20
    val pc = orders(s, d).select(Money.e2(col("o_totalprice")).as("pc"))
    val mm = pc.agg(min("pc").as("mn"), max("pc").as("mx"))
    pc.crossJoin(broadcast(mm))
      .select(col("pc"),
        expr(s"CAST(((pc - mn) * $K) div (mx - mn + 1) AS INT)").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        Money.e2ToDouble(min("pc")).as("min_price"),
        Money.e2ToDouble(max("pc")).as("max_price"))
  }

  /** Incremental materialized-view maintenance — the pattern that keeps
    * a 100 TB warehouse from re-scanning history on every refresh: the
    * weekly rollup is maintained as mergeable partial aggregates, so a
    * refresh aggregates ONLY the new partition (day ≥ cutoff) and
    * merges it with the stored state (day < cutoff) by re-aggregating
    * the partials — count/sum add, min/max compare. The cutoff
    * deliberately lands MID-WEEK so the boundary week genuinely
    * combines state and delta partials (a day-grain MV would merge by
    * pure union and prove nothing). Every measure here is
    * decomposable; algebraic ones (avg = merged sum/count) ride on
    * top, and the non-decomposable ones (exact countDistinct) are
    * exactly what the sketch lane (q_sketch_distinct) exists for.
    * Values are per-row fixed-pointed to e3 longs BEFORE summing
    * (floor(v·1000+0.5) — the same IEEE op sequence in both engines),
    * so partial sums are exact and merge-order-invariant.
    * Oracle: the full single-pass rollup — the merge must be
    * indistinguishable from recomputation. */
  def qMvIncremental(s: SparkSession, d: String): DataFrame = {
    val cutoffDay = 19743L // 2024-01-21, mid-corpus and mid-week
    val ev = events(s, d).select(col("event_type"),
      expr("ts div 86400000000000").as("day"),
      expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("v_e3"))
      .withColumn("week", expr("day DIV 7"))
    def partial(df: DataFrame): DataFrame = df
      .groupBy("event_type", "week")
      .agg(count(lit(1)).as("cnt"), sum("v_e3").as("s_e3"),
        min("v_e3").as("mn_e3"), max("v_e3").as("mx_e3"))
    val state = partial(ev.filter(col("day") < cutoffDay))
    val delta = partial(ev.filter(col("day") >= cutoffDay))
    state.unionByName(delta)
      .groupBy("event_type", "week")
      .agg(sum("cnt").as("n_events"), sum("s_e3").as("sum_value_e3"),
        min("mn_e3").as("min_value_e3"), max("mx_e3").as("max_value_e3"))
  }

  /** Sweep-line max-concurrency — the interval-overlap primitive
    * (peak concurrent sessions / connections / jobs) that range joins
    * answer quadratically and this answers in one window pass: each
    * interval (here an event held open for 10 minutes) becomes a +1
    * start point and a −1 end point; per type, the running sum of
    * deltas in (time, delta) order IS the concurrency curve, and its
    * max is the answer. Ordering ties are harmless by construction:
    * ends sort before starts at the same instant (delta asc — the
    * half-open-interval convention), and permuting equal (t, +1)
    * points permutes only intermediate prefix values within the same
    * reachable set, so the per-type MAX is order-invariant — which is
    * exactly what makes the op oracle-portable despite engines
    * ordering ties differently. One shuffle (the per-type window);
    * at 100 TB the partition key would widen to (type, day) with
    * per-day boundary carry-in, the standard segmented sweep. */
  def qOverlapConcurrency(s: SparkSession, d: String): DataFrame = {
    val iv = events(s, d).select(col("event_type"),
      expr("ts div 1000000000").as("st"))
      .withColumn("en", col("st") + 600L)
    val points = iv.select(col("event_type"), col("st").as("t"), lit(1).as("delta"))
      .unionByName(iv.select(col("event_type"), col("en").as("t"), lit(-1).as("delta")))
    val w = Window.partitionBy("event_type").orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    points.withColumn("conc", sum("delta").over(w))
      .groupBy("event_type")
      .agg(max("conc").as("max_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_intervals"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_overlap_concurrency" -> (qOverlapConcurrency _),
    "q_mv_incremental" -> (qMvIncremental _),
    "q_scd2_intervals" -> (qScd2Intervals _),
    "q_histogram" -> (qHistogram _),
    "q_first_last" -> (qFirstLast _),
    "q_range_join" -> (qRangeJoin _),
    "text_chunks" -> (textChunks _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_mode" -> (qMode _),
    "q_salted_agg" -> (qSaltedAgg _),
    "q_collect_sorted" -> (qCollectSorted _),
    "q_intersect" -> (qIntersect _),
    "q_except" -> (qExcept _),
    "q_funnel" -> (qFunnel _),
    "q_retention" -> (qRetention _),
    "text_zipf" -> (textZipf _),
    "text_doc_stats" -> (textDocStats _),
    "q_asof_custom" -> (qAsofCustom _),
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q20_heavy_suppliers" -> (q20HeavySuppliers _),
    "q_window_dist" -> (qWindowDist _),
    "q_unpivot" -> (qUnpivot _),
    "q_date_funcs" -> (qDateFuncs _),
    "q_arg_extremes" -> (qArgExtremes _),
    "text_fuzzy_pairs" -> (textFuzzyPairs _)
  )

  val oracle: Map[String, String] = Map(
    "q_overlap_concurrency" ->
      """WITH iv AS (SELECT event_type, epoch_ns(ts) // 1000000000 AS st,
        |    epoch_ns(ts) // 1000000000 + 600 AS en FROM events),
        |pts AS (SELECT event_type, st AS t, 1 AS delta FROM iv
        |  UNION ALL SELECT event_type, en AS t, -1 AS delta FROM iv),
        |run AS (SELECT event_type,
        |    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM pts)
        |SELECT event_type, CAST(max(conc) AS BIGINT) AS max_concurrent,
        |  CAST(count(*) / 2 AS BIGINT) AS n_intervals
        |FROM run GROUP BY event_type""".stripMargin,
    "q_mv_incremental" ->
      """WITH ev AS (SELECT event_type,
        |    epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_e3
        |  FROM events)
        |SELECT event_type, day // 7 AS week, count(*) AS n_events,
        |  CAST(sum(v_e3) AS BIGINT) AS sum_value_e3,
        |  min(v_e3) AS min_value_e3, max(v_e3) AS max_value_e3
        |FROM ev GROUP BY event_type, day // 7""".stripMargin,
    "q_scd2_intervals" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 AS ts_s, event_type FROM events),
        |ch AS (SELECT user_id, event_id, ts_s, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_type
        |  FROM ev)
        |SELECT user_id, event_type, ts_s AS valid_from,
        |  coalesce(lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id), -1) AS valid_to,
        |  CAST(CASE WHEN coalesce(lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id), -1) = -1
        |       THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM ch WHERE prev_type IS NULL OR prev_type <> event_type""".stripMargin,
    "q_histogram" ->
      """WITH pc AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc FROM orders),
        |mm AS (SELECT min(pc) AS mn, max(pc) AS mx FROM pc)
        |SELECT CAST(((pc - mn) * 20) // (mx - mn + 1) AS INT) AS bucket,
        |  count(*) AS n_orders,
        |  CAST(min(pc) AS DOUBLE) / 100 AS min_price,
        |  CAST(max(pc) AS DOUBLE) / 100 AS max_price
        |FROM pc, mm GROUP BY 1""".stripMargin,
    "q_first_last" ->
      """SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s, value,
        |  first_value(value) OVER w AS first_val,
        |  last_value(value) OVER w AS last_val,
        |  nth_value(value, 2) OVER w AS second_val
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY epoch_ns(ts) // 1000000000, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "q_range_join" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 AS ts_s, event_type FROM events),
        |s AS (SELECT user_id, event_id AS s_event, ts_s AS s_ts
        |  FROM ev WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS p_event, ts_s AS p_ts
        |  FROM ev WHERE event_type = 'purchase')
        |SELECT p.user_id AS user_id, s_event, p_event, p_ts - s_ts AS delta_s
        |FROM p JOIN s ON p.user_id = s.user_id
        |  AND p_ts >= s_ts AND p_ts < s_ts + 3600""".stripMargin,
    "text_chunks" ->
      s"""WITH t AS (SELECT doc_id,
         |    unnest(string_split(text, ' ')) AS tok,
         |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS p
         |  FROM documents),
         |kk AS (SELECT doc_id, p, tok,
         |    (p - 1) // $STRIDE AS k_max,
         |    greatest(0, (p - $CHUNK + ${STRIDE - 1}) // $STRIDE) AS k_min
         |  FROM t),
         |ch AS (SELECT doc_id, p, tok, unnest(range(k_min, k_max + 1)) AS chunk_id FROM kk)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  count(*) AS n_chunk_tokens,
         |  md5(string_agg(tok, ' ' ORDER BY p)) AS chunk_md5
         |FROM ch GROUP BY doc_id, chunk_id""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "q_mode" ->
      """WITH counted AS (
        |  SELECT user_id, event_type, count(*) AS n,
        |    row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type) AS rk
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id, event_type AS mode_event, n AS mode_n
        |FROM counted WHERE rk = 1""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,
    "q_collect_sorted" ->
      """SELECT user_id,
        |  substr(string_agg(event_type, '>' ORDER BY event_id), 1, 120) AS journey_head,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin,
    "q_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,
    "q_except" ->
      """SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
        |FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
        |FROM events WHERE event_type = 'purchase'""".stripMargin,
    "q_funnel" ->
      """SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) // 1000000000 END) AS first_signup,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000000000 END) AS first_purchase,
        |  CAST(CASE WHEN
        |    min(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) // 1000000000 END) IS NOT NULL
        |    AND min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000000000 END) IS NOT NULL
        |    AND min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000000000 END)
        |      >= min(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) // 1000000000 END)
        |    THEN 1 ELSE 0 END AS INT) AS converted
        |FROM events GROUP BY user_id""".stripMargin,
    "q_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id, (epoch_ns(ts) // 1000000000) // 604800 AS wk
        |  FROM events
        |), gapped AS (
        |  SELECT user_id,
        |    wk - lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS gap
        |  FROM weeks
        |)
        |SELECT user_id, count(*) AS n_weeks,
        |  CAST(sum(CASE WHEN gap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
        |FROM gapped GROUP BY user_id""".stripMargin,
    "text_zipf" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |counted AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok
        |  ORDER BY n DESC, tok LIMIT 50)
        |SELECT tok, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rank
        |FROM counted""".stripMargin,
    "text_doc_stats" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct,
        |  CAST(count(DISTINCT tok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ttr
        |FROM toks GROUP BY doc_id""".stripMargin,
    // identical semantics to the window-composed q_asof_join: the
    // custom physical operator must reproduce the same rows
    "q_asof_custom" -> CoreQueries.oracle("q_asof_join"),
    "q2_min_cost_supplier" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 10
        |  GROUP BY l_partkey, l_suppkey
        |), ranked AS (
        |  SELECT l_partkey, l_suppkey, unit_cost,
        |    min(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
        |  FROM cost
        |)
        |SELECT l_partkey AS partkey, l_suppkey AS suppkey,
        |  floor(unit_cost * 10000 + 0.5) / 10000 AS min_unit_cost
        |FROM ranked
        |WHERE unit_cost = min_cost
        |  AND l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')""".stripMargin,
    "q20_heavy_suppliers" ->
      """WITH per_supp AS (
        |  SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sup_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'
        |  GROUP BY l_partkey, l_suppkey
        |), with_total AS (
        |  SELECT l_partkey, l_suppkey, sup_qty,
        |    CAST(sum(sup_qty) OVER (PARTITION BY l_partkey) AS BIGINT) AS total_qty,
        |    count(*) OVER (PARTITION BY l_partkey) AS n_sup
        |  FROM per_supp
        |)
        |SELECT s_suppkey AS suppkey, s_name,
        |  count(*) AS n_parts_dominated,
        |  CAST(sum(sup_qty) AS BIGINT) AS qty_dominated
        |FROM with_total JOIN supplier ON l_suppkey = s_suppkey
        |WHERE sup_qty * n_sup > total_qty * 2
        |GROUP BY s_suppkey, s_name""".stripMargin,
    "q_window_dist" ->
      """SELECT event_type, event_id, value,
        |  percent_rank() OVER (PARTITION BY event_type ORDER BY value, event_id) AS pr,
        |  cume_dist() OVER (PARTITION BY event_type ORDER BY value, event_id) AS cd
        |FROM events""".stripMargin,
    "q_unpivot" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events),
        |metrics AS (SELECT unnest(['click','view','purchase','signup','error']) AS metric),
        |counts AS (SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY user_id, event_type)
        |SELECT u.user_id AS user_id, m.metric AS metric,
        |  CAST(coalesce(c.c, 0) AS BIGINT) AS n
        |FROM users u CROSS JOIN metrics m
        |LEFT JOIN counts c ON c.user_id = u.user_id AND c.event_type = m.metric""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
        |  CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
        |  CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS mth,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since
        |FROM orders""".stripMargin,
    "q_arg_extremes" ->
      """SELECT event_type,
        |  arg_max(event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) * 10000000000 + event_id) AS top_event_id,
        |  arg_min(event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) * 10000000000 + event_id) AS bottom_event_id,
        |  max(value) AS max_value,
        |  min(value) AS min_value
        |FROM events GROUP BY event_type""".stripMargin,
    "text_fuzzy_pairs" ->
      s"""WITH blocked AS (
         |  SELECT doc_id, lang, source, n_chars // 50 AS len_band,
         |    substr(text, 1, 60) AS prefix,
         |    count(*) OVER (PARTITION BY lang, source, n_chars // 50) AS n_block
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(levenshtein(a.prefix, b.prefix) AS INT) AS lev
         |FROM blocked a JOIN blocked b
         |  ON a.lang = b.lang AND a.source = b.source
         |  AND a.len_band = b.len_band AND a.doc_id < b.doc_id
         |WHERE a.n_block <= $FUZZY_BLOCK_CAP
         |  AND levenshtein(a.prefix, b.prefix) <= 20""".stripMargin
  )
}
