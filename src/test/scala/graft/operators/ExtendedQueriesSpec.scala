package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ExtendedQueriesSpec extends SparkTestBase {

  test("q2: every returned supplier hits its part's minimum unit cost") {
    val rows = ExtendedQueries.q2MinCostSupplier(spark, sf)
    // one minimum per part: every (part, cost) pair agrees on the min
    val perPart = rows.groupBy("partkey")
      .agg(countDistinct("min_unit_cost").as("n_costs"))
    assert(perPart.filter(col("n_costs") =!= 1).count() == 0)
    assert(rows.count() > 0)
  }

  test("q20: dominated parts exceed 2x fair share by construction") {
    val rows = ExtendedQueries.q20HeavySuppliers(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("n_parts_dominated") >= 1))
  }

  test("q2/q20 plans: part dim broadcast, no cartesian, filter pushed to scan") {
    Seq(ExtendedQueries.q2MinCostSupplier(spark, sf),
        ExtendedQueries.q20HeavySuppliers(spark, sf)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
      assert(!plan.contains("CartesianProduct"))
      assert(plan.contains("PushedFilters: [IsNotNull(p_"), "part filter must reach the scan")
    }
  }

  test("window dist: percent_rank in [0,1], cume_dist in (0,1]") {
    val bad = ExtendedQueries.qWindowDist(spark, sf)
      .filter(col("pr") < 0 || col("pr") > 1 || col("cd") <= 0 || col("cd") > 1)
    assert(bad.count() == 0)
  }

  test("unpivot emits exactly 5 metric rows per user and inverts the pivot") {
    val un = ExtendedQueries.qUnpivot(spark, sf)
    val users = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(un.count() == users * 5)
    // total of melted counts == total events
    val total = un.agg(sum("n")).head().getLong(0)
    assert(total == graft.Tables.events(spark, sf).count())
  }

  test("date funcs: month_end is >= date and in the same month") {
    val bad = ExtendedQueries.qDateFuncs(spark, sf)
      .filter(month(col("month_end")) =!= col("mth") ||
        year(col("month_end")) =!= col("yr"))
    assert(bad.count() == 0)
  }

  test("arg extremes: top event really has the partition's max value") {
    val ext = ExtendedQueries.qArgExtremes(spark, sf)
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id").as("top_event_id"), col("value").as("v"),
        col("event_type").as("et"))
    val joined = ext.join(ev,
      ext("top_event_id") === ev("top_event_id") && ext("event_type") === ev("et"))
    assert(joined.filter(col("v") =!= col("max_value")).count() == 0)
  }

  test("funnel: converted implies both stages present and ordered") {
    val bad = ExtendedQueries.qFunnel(spark, sf)
      .filter(col("converted") === 1 &&
        (col("first_signup").isNull || col("first_purchase").isNull ||
         col("first_purchase") < col("first_signup")))
    assert(bad.count() == 0)
  }

  test("retention: continuations never exceed weeks-1") {
    val bad = ExtendedQueries.qRetention(spark, sf)
      .filter(col("n_retained") > col("n_weeks") - 1)
    assert(bad.count() == 0)
  }

  test("zipf: ranks are 1..n in strictly non-increasing frequency") {
    val rows = ExtendedQueries.textZipf(spark, sf)
      .orderBy("rank").collect()
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("doc stats: ttr in (0,1], distinct <= tokens") {
    val bad = ExtendedQueries.textDocStats(spark, sf)
      .filter(col("n_distinct") > col("n_tokens") ||
        col("ttr") <= 0 || col("ttr") > 1)
    assert(bad.count() == 0)
  }

  test("sketches: approx distinct within 5% of exact, approx median within exact p40..p60") {
    val approx = ExtendedQueries.qSketchDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(1L, (n * 0.05).toLong),
        s"$k: approx ${approx(k)} vs exact $n")
    }
    val q = ExtendedQueries.qSketchQuantiles(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bounds = graft.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(percentile(col("value"), lit(0.4)).as("lo"),
        percentile(col("value"), lit(0.6)).as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    bounds.foreach { case (k, (lo, hi)) =>
      assert(q(k) >= lo && q(k) <= hi, s"$k: p50approx ${q(k)} outside [$lo,$hi]")
    }
  }

  test("sketch topk: MG candidates contain every global heavy hitter; output counts are exact") {
    val exactMap = DedupOps.shingleRows(spark, sf)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exactMap.values.sum
    // capacity chosen so the decrement path runs (distinct shingles >>
    // capacity at sf0.001) AND the heavy set is non-empty — both are
    // asserted below so corpus drift makes this spec loudly non-vacuous
    // instead of silently weaker
    val cap = 4096
    val thresh = n.toDouble / (cap + 1)
    assert(exactMap.size > cap,
      s"corpus drifted: ${exactMap.size} distinct shingles no longer exercise capacity $cap")
    // r13: the MG stream is 64-bit shingle hashes (native byte sweep),
    // so the bound is checked on the HASH stream — same N (the hash
    // expression emits per-doc-distinct hashes exactly as shingleRows
    // emits per-doc-distinct strings), heavy set from the hash counts
    graft.plans.Natives.ensure(spark)
    val hashMap = graft.Tables.documents(spark, sf)
      .select(explode(expr("graft_shingle_hashes(text)")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("hc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashMap.values.sum == n,
      "hash stream and string stream diverged — per-doc distinctness broken")
    val heavy = hashMap.filter(_._2 > thresh).keySet
    assert(heavy.nonEmpty, s"corpus drifted: no shingle exceeds N/(cap+1)=$thresh — re-fit cap")
    val cands = ExtendedQueries.mgCandidates(spark, sf, cap)
      .collect().map(_.getLong(0)).toSet
    assert(heavy.subsetOf(cands),
      s"MG bound violated — missed heavy hitters: ${(heavy -- cands).take(5)}")
    // recount is exact: every output row carries its TRUE doc_freq, and
    // when the k-th exact df clears the bound the top-k is fully exact
    val k = 10
    val exactTop = exactMap.toSeq.sortBy { case (sh, c) => (-c, sh) }.take(k)
    assert(exactTop.last._2 > thresh,
      s"corpus drifted: exact top-$k no longer provably heavy — re-fit cap/k")
    val out = ExtendedQueries.qSketchTopk(spark, sf, k = k, capacity = cap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == exactTop)
  }

  test("first/last/nth values agree with a direct per-user recompute") {
    val rows = ExtendedQueries.qFirstLast(spark, sf)
      .filter(col("user_id") === 3).collect()
    val ev = graft.Tables.events(spark, sf)
      .filter(col("user_id") === 3)
      .select(expr("ts div 1000000000").as("ts_s"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(rows.length == ev.length)
    assert(rows.forall(_.getAs[Double]("first_val") == ev.head._3))
    assert(rows.forall(_.getAs[Double]("last_val") == ev.last._3))
    assert(rows.forall(_.getAs[Double]("second_val") == ev(1)._3))
  }

  test("binned range join equals the naive user-join + range filter") {
    val binned = ExtendedQueries.qRangeJoin(spark, sf).collect()
      .map(r => (r.getAs[Long]("s_event"), r.getAs[Long]("p_event"))).toSeq
    // naive recompute from raw events
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("ts div 1000000000").as("ts_s"),
        col("event_type")).collect()
    val byUser = ev.groupBy(_.getAs[Long]("user_id"))
    val naive = byUser.values.toSeq.flatMap { rows =>
      val su = rows.filter(_.getAs[String]("event_type") == "signup").toSeq
      val pu = rows.filter(_.getAs[String]("event_type") == "purchase").toSeq
      su.flatMap { s0 =>
        pu.filter { p0 =>
          p0.getAs[Long]("ts_s") >= s0.getAs[Long]("ts_s") &&
            p0.getAs[Long]("ts_s") < s0.getAs[Long]("ts_s") + 3600
        }.map(p0 => (s0.getAs[Long]("event_id"), p0.getAs[Long]("event_id")))
      }
    }
    assert(binned.length == binned.toSet.size, "binning must not duplicate pairs")
    assert(binned.toSet == naive.toSet && binned.length == naive.length)
    assert(naive.nonEmpty)
  }

  test("token chunks: full coverage, stride-sized overlap, deterministic hashes") {
    val chunks = ExtendedQueries.textChunks(spark, sf)
      .filter(col("doc_id") === 0).collect()
      .map(r => r.getAs[Long]("chunk_id") -> r.getAs[Long]("n_chunk_tokens"))
      .sortBy(_._1).toSeq
    val n = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") === 0).head().getAs[String]("text").split(" ").length
    val (c, s0) = (64, 48)
    // chunk k holds tokens k·s+1 .. min(k·s+c, n)
    val expected = Iterator.from(0).map(k => k.toLong -> math.min(k * s0 + c, n).toLong)
      .takeWhile { case (k, _) => k * s0 < n }
      .map { case (k, end) => k -> (end - k * s0) }.toSeq
    assert(chunks == expected, s"got ${chunks.toSeq} want $expected")
  }

  test("grouping sets: two single-column slices plus the grand total, flags consistent") {
    val rows = ExtendedQueries.qGroupingSets(spark, sf).collect()
    val grand = rows.filter(r => r.getAs[Int]("g_status") == 1 && r.getAs[Int]("g_priority") == 1)
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_orders") ==
      spark.read.parquet(s"$sf/orders.parquet").count())
    // no cross term: every row has at least one grouping flag set
    assert(rows.forall(r => r.getAs[Int]("g_status") + r.getAs[Int]("g_priority") >= 1))
  }

  test("mode: one row per user, the mode count dominates every other type's count") {
    val modes = ExtendedQueries.qMode(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("mode_n")).toMap
    val counts = graft.Tables.events(spark, sf)
      .groupBy("user_id", "event_type").count().collect()
      .groupBy(_.getAs[Long]("user_id"))
    assert(modes.size == counts.size)
    counts.foreach { case (u, rs) =>
      assert(modes(u) == rs.map(_.getAs[Long]("count")).max)
    }
  }

  test("salted aggregation (declared query) equals the direct aggregation exactly") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val salted = ExtendedQueries.qSaltedAgg(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val direct = graft.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("t"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted == direct)
  }

  test("fuzzy pairs: symmetric-free (a<b), bounded distance, blocked join plan") {
    val fp = ExtendedQueries.textFuzzyPairs(spark, sf)
    assert(fp.filter(col("doc_a") >= col("doc_b") || col("lev") > 20).count() == 0)
    // blocked equi-join, never a cartesian product
    val plan = fp.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("fuzzy pairs block cap bounds the candidate count; default cap is inert here") {
    // no test-corpus block reaches the default cap → capped == uncapped
    val default = ExtendedQueries.textFuzzyPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val huge = ExtendedQueries.textFuzzyPairsCapped(spark, sf, Int.MaxValue).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(default == huge)
    // cap=1: no block can pair at all
    assert(ExtendedQueries.textFuzzyPairsCapped(spark, sf, 1).count() == 0)
    // cap=c: pair count can never exceed n_blocks · c(c−1)/2 — the bound
    // that keeps one hot block from going quadratic at corpus scale
    val c = 3
    val nBlocks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("source"), expr("n_chars div 50")).distinct().count()
    val capped = ExtendedQueries.textFuzzyPairsCapped(spark, sf, c).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(capped.size <= nBlocks * c * (c - 1) / 2)
    assert(capped.subsetOf(huge), "capping must only remove pairs, never invent them")
  }

  test("scd2: per-user intervals chain (valid_to = next valid_from), one current row") {
    val rows = ExtendedQueries.qScd2Intervals(spark, sf).collect()
      .groupBy(_.getAs[Long]("user_id"))
    assert(rows.nonEmpty)
    rows.foreach { case (_, ivs) =>
      val sorted = ivs.sortBy(_.getAs[Long]("valid_from"))
      // exactly one open (current) interval per user, and it is the last
      assert(sorted.count(_.getAs[Long]("valid_to") == -1L) == 1)
      assert(sorted.last.getAs[Long]("valid_to") == -1L)
      // closed intervals chain without gap or overlap
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to") == b.getAs[Long]("valid_from"))
        case _ => ()
      }
      // runs collapsed: adjacent intervals never share a type
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("event_type") != b.getAs[String]("event_type"))
        case _ => ()
      }
    }
  }

  test("histogram: buckets within [0,20), counts cover every order, bounds nested") {
    val rows = ExtendedQueries.qHistogram(spark, sf).collect()
    val nOrders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == nOrders,
      "every order must land in exactly one bucket")
    assert(rows.forall { r =>
      val b = r.getAs[Int]("bucket"); b >= 0 && b < 20 })
    assert(rows.forall(r =>
      r.getAs[Double]("min_price") <= r.getAs[Double]("max_price")))
    // buckets are ordered ranges: bucket i's max < bucket i+1's min
    val sorted = rows.sortBy(_.getAs[Int]("bucket"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("max_price") < b.getAs[Double]("min_price"))
      case _ => ()
    }
  }

  test("overlap concurrency: matches a driver-side sweep per type") {
    val got = ExtendedQueries.qOverlapConcurrency(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("max_concurrent"), r.getAs[Long]("n_intervals"))).toMap
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_type"), expr("ts div 1000000000").as("st")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byType = evs.groupBy(_._1)
    assert(got.keySet == byType.keySet)
    byType.foreach { case (t, rows) =>
      val pts = rows.flatMap { case (_, st) => Seq((st, 1), (st + 600L, -1)) }
        .sortBy(p => (p._1, p._2))
      var cur = 0L; var mx = 0L
      pts.foreach { p => cur += p._2; if (cur > mx) mx = cur }
      assert(got(t) == ((mx, rows.length.toLong)), s"type $t")
    }
  }
}
