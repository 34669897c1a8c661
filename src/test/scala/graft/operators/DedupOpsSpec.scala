package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkTestBase {

  test("exact dedup: content hash is sha256 and keeper is min doc_id") {
    val rows = DedupOps.dedupExact(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_copies")).sum == total)
    assert(rows.forall(_.getAs[String]("content_hash").matches("[0-9a-f]{64}")))
  }

  test("minhash-lsh finds the planted near-duplicates found by brute force") {
    val lsh = DedupOps.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    assert(lsh.nonEmpty, "expected planted near-dup pairs in testdata")
    assert(lsh.forall(_._3 >= 0.6))
    // very-high-similarity pairs must not be missed by the banding
    // (4 bands × 2 rows: P(miss | jac≈0.99) ≈ 0)
    val brute = DedupOps.dedupNgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
      .filter(_._3 >= 0.95).map(t => (t._1, t._2)).toSet
    val lshPairs = lsh.map(t => (t._1, t._2)).toSet
    assert(brute.subsetOf(lshPairs),
      s"LSH missed high-sim pairs: ${brute -- lshPairs}")
  }

  test("simhash: 16-bit signatures, near-dups land within small hamming distance") {
    val sigs = DedupOps.dedupSimhash(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash")).toMap
    assert(sigs.values.forall(_.matches("[01]{16}")))
    val pair = DedupOps.dedupMinhashLsh(spark, sf)
      .orderBy(col("jaccard").desc).head()
    val (a, b) = (pair.getAs[Long]("doc_a"), pair.getAs[Long]("doc_b"))
    val ham = sigs(a).zip(sigs(b)).count { case (x, y) => x != y }
    assert(ham <= 4, s"docs $a/$b jac=${pair.getAs[Double]("jaccard")} hamming=$ham")
  }

  test("simhash pairs: banded retrieval is EXHAUSTIVE for hamming <= 3") {
    val banded = DedupOps.dedupSimhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    // brute-force ground truth: every doc pair, popcount of the XOR
    val sigs = DedupOps.simhash32(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sh"))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b) -> h).toMap
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size}; " +
        s"missed=${(brute.keySet -- banded.keySet).take(5)}")
    assert(brute.nonEmpty)
  }

  test("simhash64 pairs: 16-bit-banded retrieval is EXHAUSTIVE for hamming <= 3") {
    val banded = DedupOps.dedupSimhash64Pairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    // brute-force ground truth over the two 32-bit halves
    val sigs = DedupOps.simhash64(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("sh_lo"), r.getAs[Long]("sh_hi")))
    val brute = (for {
      (a, la, ha) <- sigs; (b, lb, hb) <- sigs if a < b
      h = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
      if h <= 3
    } yield (a, b) -> h).toMap
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size}; " +
        s"missed=${(brute.keySet -- banded.keySet).take(5)}")
    // the 64-bit threshold is strict: the planted exact-family dups
    // must still surface (brute non-empty proves the fixture exercises
    // the operator, not just the empty intersection)
    assert(brute.nonEmpty)
  }

  test("incremental dedup: per-new-doc old-match counts equal brute force, one row per new doc") {
    val got = DedupOps.dedupIncremental(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_near"), r.getAs[Boolean]("keep_doc")))).toMap
    val gen = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1).drop(3).toInt >= 16)).toMap
    val sigs = DedupOps.simhash64(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("sh_lo"), r.getAs[Long]("sh_hi")))
    val newSigs = sigs.filter(s => gen(s._1))
    val oldSigs = sigs.filter(s => !gen(s._1))
    assert(got.keySet == newSigs.map(_._1).toSet,
      "exactly one verdict row per new-generation doc")
    newSigs.foreach { case (n, ln, hn) =>
      val brute = oldSigs.count { case (_, lo, ho) =>
        java.lang.Long.bitCount(ln ^ lo) + java.lang.Long.bitCount(hn ^ ho) <= 3
      }
      assert(got(n) == ((brute.toLong, brute == 0)),
        s"doc $n: expected $brute old matches, got ${got(n)}")
    }
    // the fixture must exercise both verdicts
    assert(got.values.exists(_._2) && got.values.exists(!_._2),
      "corpus must contain both kept and dropped new docs")
  }

  test("cluster election: every near-dup pair shares one keeper, keeper is min") {
    val reps = DedupOps.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    val pairs = DedupOps.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => reps(a) == reps(b) })
    // the representative is a member of its own cluster and is minimal
    assert(reps.forall { case (d, r) => r <= d && reps(r) == r })
  }

  test("lsh candidate generation is an equi-join, not a cross join") {
    val plan = DedupOps.dedupMinhashLsh(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "LSH must never cross-join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "LSH must never nested-loop-join")
  }

  test("reliable checkpoint dir config: same clusters, checkpoints land on the configured path") {
    val base = DedupOps.dedupClusters(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_rep"))).toSet
    val dir = graft.TempDirs.create("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val reliable = DedupOps.dedupClusters(spark, sf).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_rep"))).toSet
      assert(reliable == base)
      val landed = new java.io.File(dir).listFiles()
      assert(landed != null && landed.nonEmpty,
        "reliable checkpoints must be written under spark.graft.checkpointDir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("checkpoint dir switch: a dir that prefixes the current one still gets the checkpoints") {
    import Loop.TruncOps
    val base = graft.TempDirs.create("graft-ckpt-switch").toString
    def landed(dir: String): Boolean =
      Option(new java.io.File(dir).listFiles()).exists(_.nonEmpty)
    try {
      spark.conf.set("spark.graft.checkpointDir", s"$base/ckpt2")
      spark.range(10).toDF("x").truncEager
      assert(landed(s"$base/ckpt2"))
      // `$base/ckpt` is a string prefix of the current `$base/ckpt2/<uuid>`
      spark.conf.set("spark.graft.checkpointDir", s"$base/ckpt")
      assert(spark.range(10).toDF("x").truncEager.count() == 10L)
      assert(landed(s"$base/ckpt"),
        "checkpoints must move to the newly configured spark.graft.checkpointDir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("canonical election: one canonical per cluster, and it is the longest member") {
    val rows = DedupOps.dedupCanonical(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_rep"),
        r.getAs[Long]("n_chars"), r.getAs[Boolean]("is_canonical")))
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (rep, members) =>
      val canon = members.filter(_._4)
      assert(canon.length == 1, s"cluster $rep must elect exactly one canonical")
      val best = members.map(_._3).max
      assert(canon.head._3 == best,
        s"cluster $rep canonical must have max n_chars ($best)")
      // deterministic tiebreak: among max-length members, lowest doc_id
      val tied = members.filter(_._3 == best).map(_._1).min
      assert(canon.head._1 == tied)
    }
  }

  test("containment: asymmetric near-dups recompute exactly from shingle sets; jaccard misses them") {
    val pairs = DedupOps.dedupContainment(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment")))
    assert(pairs.nonEmpty, "expected containment pairs in testdata")
    assert(pairs.forall(_._3 >= 0.8))
    // exact recompute mirroring the operator's semantics: intersection
    // over df-CAPPED (lang, shingle) postings, denominators from the
    // FULL per-doc set sizes
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map { r =>
        val tk = r.getAs[String]("text").split(" ", -1)
        (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
          if (tk.length < 3) Set.empty[String]
          else tk.sliding(3).map(_.mkString(" ")).toSet)
      }
    val sets = docs.map { case (id, _, sh) => id -> sh }.toMap
    val lang = docs.map { case (id, l, _) => id -> l }.toMap
    val df = docs.flatMap { case (_, l, sh) => sh.map((l, _)) }
      .groupBy(identity).view.mapValues(_.length).toMap
    pairs.foreach { case (a, b, c) =>
      assert(lang(a) == lang(b), s"pair ($a,$b) crosses languages")
      val (sa, sb) = (sets(a), sets(b))
      val inter = sa.intersect(sb).count(sh => df((lang(a), sh)) <= 64)
      val want = math.floor(
        inter.toDouble / math.min(sa.size, sb.size) * 1e4 + 0.5) / 1e4
      assert(c == want, s"pair ($a,$b): got $c want $want")
    }
  }

  test("prefix buckets: >=2 docs each, members genuinely share the 4-token prefix") {
    val rows = DedupOps.dedupPrefix(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("n_docs") >= 2))
    // recompute membership from the raw corpus: bucket sizes and
    // keepers must match an independent JVM-side derivation
    val byPrefix = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").split(" ").take(4).mkString(" ")))
      .groupBy(_._2).filter(_._2.length >= 2)
    assert(rows.length == byPrefix.size)
    val wantKeepers = byPrefix.values.map(_.map(_._1).min).toSet
    assert(rows.map(_.getAs[Long]("keeper_id")).toSet == wantKeepers)
  }
}
