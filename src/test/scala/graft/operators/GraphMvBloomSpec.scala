package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class GraphMvBloomSpec extends SparkTestBase {

  test("bloom screen: identical to the plain exact join (no false negatives, fps eliminated)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        (substring(col("source"), 4, 8).cast("int") >= 16).as("is_new"),
        sha2(col("text"), 256).as("h"))
    val naive = docs.filter(col("is_new")).as("n")
      .join(docs.filter(!col("is_new")).groupBy(col("h").as("ho"))
        .agg(count(lit(1)).as("n_old")), col("h") === col("ho"), "left")
      .select(col("doc_id"), coalesce(col("n_old"), lit(0L)).as("n_old_copies"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = DedupOps.dedupBloomScreen(spark, sf).collect()
    assert(got.length == naive.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_old_copies") == naive(id), s"doc $id")
      assert(r.getAs[Boolean]("dup_in_old") == (naive(id) > 0), s"doc $id")
    }
  }

  test("bloom screen finds planted cross-generation dups with exact copy counts") {
    // this corpus's exact dups never span the generation boundary, so
    // the dup-found path runs on planted data: new docs 100/101 both
    // duplicate old content; 100 has TWO old copies, 102 is fresh
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, false, "ha"), (2L, false, "ha"), (3L, false, "hb"), (4L, false, "hc"),
      (100L, true, "ha"), (101L, true, "hb"), (102L, true, "hz")
    ).toDF("doc_id", "is_new", "h")
    val got = DedupOps.bloomScreenFrom(docs, capacity = 64L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_old_copies"), r.getAs[Boolean]("dup_in_old"))).toMap
    assert(got == Map(100L -> ((2L, true)), 101L -> ((1L, true)), 102L -> ((0L, false))))
  }

  test("bloom filter prunes: far fewer probe-positives than new docs at fpp 0.01") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select((substring(col("source"), 4, 8).cast("int") >= 16).as("is_new"),
        sha2(col("text"), 256).as("h"))
    val bloom = docs.filter(!col("is_new"))
      .stat.bloomFilter("h", 1000L, 0.01)
    val probe = graft.plans.Natives.bloomMightContain(col("h"), bloom)
    val newDocs = docs.filter(col("is_new"))
    val nNew = newDocs.count()
    val nCand = newDocs.filter(probe).count()
    val nTrue = newDocs.join(docs.filter(!col("is_new")).select("h").distinct(),
      Seq("h"), "left_semi").count()
    assert(nCand >= nTrue, "bloom must have no false negatives")
    // fpp 0.01 over ~(nNew - nTrue) non-members: expect ≈1% fps, allow 10×
    assert(nCand - nTrue <= math.max(5L, nNew / 10),
      s"bloom pruned too little: $nCand candidates of $nNew new ($nTrue true dups)")
  }

  test("pagerank: deterministic top-100, ordered, every rank at least the damping base") {
    val out1 = GraphOps.qPagerank(spark, sf).collect()
    assert(out1.length == 100)
    val prs = out1.map(_.getAs[Long]("pr"))
    assert(prs.zip(prs.tail).forall { case (a, b) => a >= b }, "pr must be non-increasing")
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    val base = (15L * (1000000000000L / n)) / 100
    assert(prs.forall(p => p >= base && p <= 1000000000000L))
    // deterministic under re-execution (fixed-point arithmetic, total-order tiebreak)
    val out2 = GraphOps.qPagerank(spark, sf).collect()
    assert(out1.map(_.toString).toSeq == out2.map(_.toString).toSeq)
  }

  test("converged pagerank: delta rule fires before the bound; deeper and stabler than 3 steps") {
    val out = GraphOps.qPagerankConverged(spark, sf).collect()
    assert(out.length == 100)
    val iters = out.map(_.getAs[Long]("n_iters")).distinct
    assert(iters.length == 1, "n_iters is one scalar for the whole run")
    // the delta halves per step from ~0.36 of total mass, so the 1e-6
    // rule fires around step 20 — well past the smoke twin's 3 and
    // strictly inside the PR_MAX bound (the bound is a safety net, not
    // the effective depth)
    assert(iters.head > GraphOps.ITERS_SMOKE && iters.head < GraphOps.PR_MAX,
      s"converged at ${iters.head}, bound ${GraphOps.PR_MAX}")
    val prs = out.map(_.getAs[Long]("pr"))
    assert(prs.zip(prs.tail).forall { case (a, b) => a >= b }, "pr non-increasing")
    // determinism under re-execution (integer arithmetic + same rule)
    val out2 = GraphOps.qPagerankConverged(spark, sf).collect()
    assert(out.map(_.toString).toSeq == out2.map(_.toString).toSeq)
  }

  test("converged pagerank: both physical gears produce identical rows") {
    // the size-adaptive branch picks broadcast-AQE below PR_COPART_DOCS
    // and the co-partitioned shuffle-hash loop above it; rows must not
    // depend on the gear (same rule, same integer arithmetic)
    val a = GraphOps.prConverged(spark, sf, copart = false).collect().map(_.toString).toSeq
    val b = GraphOps.prConverged(spark, sf, copart = true).collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("real-edge pipeline: resolve drops externals, canonical non-self distinct, power-law in-degree") {
    import org.apache.spark.sql.functions._
    val edges = GraphOps.realEdges(spark, sf).cache()
    val n = graft.Tables.documents(spark, sf).count()
    assert(edges.filter(col("src") === col("dst")).count() == 0, "self edges filtered")
    assert(edges.filter(col("dst") < 0 || col("dst") >= n).count() == 0,
      "every dst resolved through the index (externals dropped)")
    assert(edges.count() == edges.select("src", "dst").distinct().count(), "canonical distinct")
    // outdeg is the true per-source count
    val badOd = edges.groupBy("src").agg(countDistinct("dst").as("c"), max("outdeg").as("od"))
      .filter(col("c") =!= col("od")).count()
    assert(badOd == 0)
    // the Zipf tail makes doc 1 the mega-hub: ~half the content links
    val hub = edges.filter(col("dst") === 1).count()
    assert(hub > n / 4, s"power-law hub: expected > ${n / 4} in-links to doc 1, got $hub")
    edges.unpersist()
  }

  test("real-edge pagerank: hub-ranked, deterministic, bound-limited depth is the same rule in both engines") {
    val out = GraphOps.qPagerankReal(spark, sf).collect()
    assert(out.length == 100)
    val prs = out.map(_.getAs[Long]("pr"))
    assert(prs.zip(prs.tail).forall { case (a, b) => a >= b }, "pr non-increasing")
    assert(out.head.getAs[Long]("doc_id") == 1L,
      "the Zipf mega-hub must hold the top rank")
    // on the power-law graph the mixing is damping-limited (~0.85/step),
    // so the shared hard bound binds — documented, and mirrored by the
    // oracle's COALESCE(MIN(i), PR_MAX_REAL) pick
    val iters = out.map(_.getAs[Long]("n_iters")).distinct
    assert(iters.toSeq == Seq(GraphOps.PR_MAX_REAL.toLong))
    val out2 = GraphOps.qPagerankReal(spark, sf).collect()
    assert(out.map(_.toString).toSeq == out2.map(_.toString).toSeq)
  }

  test("real-edge triangle census: matches a brute-force count; degree orientation changes nothing") {
    val edges = GraphOps.realEdges(spark, sf)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      .withDefaultValue(Set.empty[Long])
    val nTri = und.map { case (a, b) => (adj(a) & adj(b)).count(_ > b) }.sum.toLong
    val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
      .values.map(_.length.toLong)
    val nWed = deg.map(dd => dd * (dd - 1) / 2).sum
    val row = GraphOps.qTriangleReal(spark, sf).collect().head
    assert(row.getAs[Long]("n_triangles") == nTri,
      s"got ${row.getAs[Long]("n_triangles")}, brute force $nTri")
    assert(row.getAs[Long]("n_wedges") == nWed)
  }

  test("triangle count: matches a brute-force census of the derived graph") {
    import graft.Tables
    // rebuild the same K-regular edge set JVM-side and count by brute force
    val ids = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    val n = ids.length.toLong
    def h8(sx: String): Long = {
      val m = java.security.MessageDigest.getInstance("MD5")
        .digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(m.substring(0, 8), 16)
    }
    val und = ids.flatMap(id => (1 to GraphOps.K).map(k => (id, h8(s"pr:$id:$k") % n)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val adj = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      .withDefaultValue(Set.empty[Long])
    val nTri = und.map { case (a, b) => (adj(a) & adj(b)).count(_ > b) }.sum.toLong
    val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
      .values.map(_.length.toLong)
    val nWed = deg.map(d => d * (d - 1) / 2).sum
    val row = GraphOps.qTriangleCount(spark, sf).collect().head
    assert(row.getAs[Long]("n_triangles") == nTri)
    assert(row.getAs[Long]("n_wedges") == nWed)
    assert(row.getAs[Double]("closure") ==
      math.floor(3.0 * nTri / nWed * 1e6 + 0.5) / 1e6)
  }

  test("mv incremental: merged state+delta partials equal the one-pass rollup, boundary week straddles") {
    val direct = graft.Tables.events(spark, sf)
      .select(col("event_type"),
        expr("ts div 86400000000000").as("day"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("v_e3"))
      .withColumn("week", expr("day DIV 7"))
      .groupBy("event_type", "week")
      .agg(count(lit(1)).as("n_events"), sum("v_e3").as("sum_value_e3"),
        min("v_e3").as("min_value_e3"), max("v_e3").as("max_value_e3"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val got = ExtendedQueries.qMvIncremental(spark, sf).collect()
    assert(got.length == direct.size)
    got.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      assert(r.toSeq.drop(2) == direct(k), s"week $k")
    }
    // the cutoff (day 19743) must fall strictly inside week 2820 so the
    // merge at that week combines one state partial and one delta partial
    val days = graft.Tables.events(spark, sf)
      .select(expr("ts div 86400000000000").as("day"))
      .filter(expr("day DIV 7") === 2820L).agg(
        sum(when(col("day") < 19743L, 1).otherwise(0)).as("before"),
        sum(when(col("day") >= 19743L, 1).otherwise(0)).as("after")).head()
    assert(days.getLong(0) > 0 && days.getLong(1) > 0,
      "cutoff must split the boundary week into non-empty halves")
  }

  test("real-edge connected components match a driver-side union-find") {
    val got = GraphOps.qComponentsReal(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = graft.Tables.documents(spark, sf).count()
    assert(got.length == n, "every document gets a component row")
    // brute force: union-find over the collected edge list (bounded:
    // ~4 edges/doc at spec SF)
    val edges = GraphOps.realEdges(spark, sf)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    edges.foreach { case (a, b) => union(a, b) }
    // canonical rep = min doc_id per component (the loop's min-label
    // semantics); isolated docs are their own singleton
    val members = (0L until n).groupBy(x => find(x))
    val repOf = members.flatMap { case (_, ms) =>
      val mn = ms.min; ms.map(_ -> mn)
    }
    val sizeOf = members.map { case (r2, ms) => ms.min -> ms.size.toLong }
    got.foreach { case (doc, comp, size) =>
      assert(comp == repOf(doc), s"doc $doc: comp $comp != ${repOf(doc)}")
      assert(size == sizeOf(comp), s"comp $comp size")
    }
    // the power-law graph must actually be dominated by one giant
    // component (the hub absorbs most docs) — the lane's premise
    assert(got.map(_._3).max > n / 2, "expected a giant component")
  }
}
