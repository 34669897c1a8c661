package graft.operators

import graft.SparkTestBase
import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class BehaviorOpsSpec extends SparkTestBase {

  private lazy val evRows: Seq[(Long, Long, Long, String, Double)] =
    Tables.events(spark, sf)
      .select("user_id", "event_id", "ts", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq

  test("attribution: matches a naive per-purchase last-touch walk") {
    // naive: for each purchase, scan the user's strictly-preceding
    // events in (µs, event_id) order — the operator's declared total
    // order — for the latest click/view (true last-touch, no code
    // tiebreak: the r13 packed-max quirk is gone)
    val byUser = evRows.groupBy(_._1)
    val naive = scala.collection.mutable.Map.empty[String, (Long, Long)]
      .withDefaultValue((0L, 0L))
    byUser.values.foreach { es =>
      val sorted = es.sortBy(e => (e._3 / 1000, e._2))
      sorted.zipWithIndex.foreach { case (e, i) =>
        if (e._4 == "purchase") {
          val touches = sorted.take(i).filter(t => t._4 == "click" || t._4 == "view")
          val channel = touches.lastOption match {
            case Some(t) if e._3 / 1000 - t._3 / 1000 <= 604800000000L =>
              if (t._4 == "view") "view" else "click"
            case _ => "unattributed"
          }
          val (n, cents) = naive(channel)
          naive(channel) = (n + 1, cents + math.floor(e._5 * 100 + 0.5).toLong)
        }
      }
    }
    val got = BehaviorOps.qAttribution(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == naive.toMap)
    assert(got.values.map(_._1).sum == evRows.count(_._4 == "purchase"))
  }

  test("attribution rows twin: per-purchase channels match the naive walk " +
    "on the sampled ids") {
    val byUser = evRows.groupBy(_._1)
    val naive = scala.collection.mutable.Map.empty[(Long, Long), String]
    byUser.values.foreach { es =>
      val sorted = es.sortBy(e => (e._3 / 1000, e._2))
      sorted.zipWithIndex.foreach { case (e, i) =>
        if (e._4 == "purchase" && e._2 % 251 == 0) {
          val touches = sorted.take(i).filter(t => t._4 == "click" || t._4 == "view")
          val channel = touches.lastOption match {
            case Some(t) if e._3 / 1000 - t._3 / 1000 <= 604800000000L =>
              if (t._4 == "view") "view" else "click"
            case _ => "unattributed"
          }
          naive((e._1, e._2)) = channel
        }
      }
    }
    val got = BehaviorOps.qAttributionRows(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got == naive.toMap)
  }

  test("attribution: sub-µs order and same-µs ties resolve by (µs, event_id), " +
    "pinning the r13 driver-gate divergence") {
    // ns-grain events in the driver's TIMESTAMP_NS shape (Spark reads
    // BIGINT nanos under nanosAsLong; DuckDB compares at µs): sub-µs
    // bits deliberately CONTRADICT event_id order, so any plan that
    // orders or tiebreaks on full-ns ts — or on channel code, like the
    // r13 packed max — flips a channel here. The declared semantics:
    // last preceding touch in (ts DIV 1000, event_id) order.
    val s = spark
    import s.implicits._
    val rows = Seq(
      // u1: click(ns .5) vs view(ns .2) in ONE µs — event_id says view last
      (1L, 10L, 1_000_000_500L, "click", 0.0),
      (1L, 20L, 1_000_000_200L, "view", 0.0),
      (1L, 30L, 2_000_000_000L, "purchase", 10.0),
      // u2: view has the LATER ns but the EARLIER event_id — click wins
      // (r13's code-tiebreak max would say view; full-ns order would too)
      (2L, 40L, 5_000_000_900L, "view", 0.0),
      (2L, 50L, 5_000_000_100L, "click", 0.0),
      (2L, 60L, 6_000_000_000L, "purchase", 20.0),
      // u3: no touches at all
      (3L, 65L, 8_000_000_000L, "purchase", 1.0),
      // u4: touch outside the 7-day lookback
      (4L, 66L, 0L, "click", 0.0),
      (4L, 67L, 700_000_000_000_000_000L, "purchase", 3.0),
      // u5: touch and purchase share a µs, touch event_id SMALLER →
      // touch precedes the purchase in the total order → attributed
      // (purchase's ns is earlier — full-ns order would drop it)
      (5L, 70L, 9_000_000_100L, "click", 0.0),
      (5L, 80L, 9_000_000_050L, "purchase", 5.0),
      // u6: same µs but touch event_id LARGER → not preceding
      (6L, 85L, 11_000_000_900L, "purchase", 7.0),
      (6L, 90L, 11_000_000_100L, "view", 0.0)
    ).toDF("user_id", "event_id", "ts", "event_type", "value")
    val dir = graft.TempDirs.create("graft_attr_ns").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = BehaviorOps.qAttribution(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      "view" -> (1L, 1000L),
      "click" -> (2L, 2500L),
      "unattributed" -> (3L, 1100L)))
  }

  test("attribution: randomized adversarial ns streams match the naive walk " +
    "(seeded; same-µs pileups, exact 7-day boundaries, ns jitter vs event_id)") {
    // the generator deliberately over-represents every corner the
    // driver-gate history touched: 25% zero-µs steps (same-µs pileups
    // of touches AND purchases), 10% steps at exactly the lookback
    // boundary ±1 µs, sub-µs jitter that contradicts event_id order,
    // and users with no touches at all
    val rnd = new scala.util.Random(20260815L)
    val base = 1704067200000000000L
    val rows = Seq.newBuilder[(Long, Long, Long, String, Double)]
    var eid = 0L
    (0 until 150).foreach { u =>
      var t = base + u.toLong * 1000000000000L
      (0 until (1 + rnd.nextInt(40))).foreach { _ =>
        val et = Seq("click", "view", "purchase", "signup")(rnd.nextInt(4))
        val stepUs = rnd.nextInt(100) match {
          case s if s < 25 => 0L
          case s if s < 30 => 604800000000L      // exactly 7 days
          case s if s < 35 => 604800000001L      // just past
          case s if s < 40 => 604799999999L      // just inside
          case _ => 1L + rnd.nextInt(1000000000).toLong
        }
        t += stepUs * 1000L
        rows += ((u.toLong, eid, t + rnd.nextInt(1000).toLong, et,
          math.floor(rnd.nextDouble() * 50000) / 100.0))
        eid += 1
      }
    }
    val evs = rows.result()
    val s = spark
    import s.implicits._
    val dir = graft.TempDirs.create("graft_attr_rand").toString
    evs.toDF("user_id", "event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // naive per-purchase walk under the declared (ts DIV 1000, event_id)
    // total order — the oracle the packed running max must reproduce
    val naive = scala.collection.mutable.Map.empty[String, (Long, Long)]
      .withDefaultValue((0L, 0L))
    evs.groupBy(_._1).values.foreach { es =>
      val sorted = es.sortBy(e => (e._3 / 1000, e._2))
      sorted.zipWithIndex.foreach { case (e, i) =>
        if (e._4 == "purchase") {
          val touches = sorted.take(i).filter(x => x._4 == "click" || x._4 == "view")
          val ch = touches.lastOption match {
            case Some(tc) if e._3 / 1000 - tc._3 / 1000 <= 604800000000L =>
              if (tc._4 == "view") "view" else "click"
            case _ => "unattributed"
          }
          val (n, c) = naive(ch)
          naive(ch) = (n + 1, c + math.floor(e._5 * 100 + 0.5).toLong)
        }
      }
    }
    val got = BehaviorOps.qAttribution(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == naive.toMap)
    assert(got.values.map(_._1).sum == evs.count(_._4 == "purchase"))
  }

  test("sequence match: matches the declarative min-after-min cascade") {
    val naive = evRows.groupBy(_._1).flatMap { case (u, es) =>
      val t1 = es.filter(_._4 == "view").map(_._3).minOption
      val t2 = t1.flatMap(v => es.filter(e => e._4 == "click" && e._3 > v).map(_._3).minOption)
      val t3 = t2.flatMap(c => es.filter(e => e._4 == "purchase" && e._3 > c).map(_._3).minOption)
      t3.map(p => u -> (t1.get / 1000000000L, t2.get / 1000000000L, p / 1000000000L))
    }
    val got = BehaviorOps.qSequenceMatch(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == naive)
    assert(got.nonEmpty)
  }

  test("cohort matrix: week-0 diagonal covers every user exactly once") {
    val rows = BehaviorOps.qCohortMatrix(spark, sf).collect()
    assert(rows.forall(_.getLong(1) >= 0L))
    val week0 = rows.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(week0 == nUsers) // every user is active in their cohort week
    val total = rows.map(_.getLong(2)).sum
    val userWeeks = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts DIV 1000000000 DIV 604800")).distinct().count()
    assert(total == userWeeks)
  }

  test("rfm: identical to the textbook global ntile window; quintiles balanced") {
    val ref = Tables.orders(spark, sf).agg(max(col("o_orderdate").cast("date")).as("ref_date"))
    val cust = Tables.orders(spark, sf)
      .groupBy("o_custkey")
      .agg(max(col("o_orderdate").cast("date")).as("last_date"),
        count(lit(1)).as("freq"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("monetary_cents"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days", datediff(col("ref_date"), col("last_date")))
    val naive = cust
      .withColumn("r_score", ntile(5).over(Window.orderBy(col("recency_days").asc, col("o_custkey"))))
      .withColumn("f_score", ntile(5).over(Window.orderBy(col("freq").desc, col("o_custkey"))))
      .withColumn("m_score", ntile(5).over(Window.orderBy(col("monetary_cents").desc, col("o_custkey"))))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        (sum("monetary_cents").cast("double") / 100).as("segment_monetary"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getLong(3), r.getDouble(4))).toMap
    val got = BehaviorOps.qRfm(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(got == naive)
    // per-axis quintiles are ntile-balanced: sizes differ by at most 1
    (0 to 2).foreach { axis =>
      val sizes = got.toSeq.groupBy(_._1.productElement(axis))
        .view.mapValues(_.map(_._2._1).sum).values.toSeq
      assert(sizes.size == 5 && sizes.max - sizes.min <= 1, s"axis $axis: $sizes")
    }
  }
}
