package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkTestBase {

  test("token entropy: native one-pass expression equals the multiset definition") {
    val got = TextOps.textEntropy(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("token_entropy"))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(got.keySet == docs.keySet)
    docs.foreach { case (id, text) =>
      // split(" ") with empty tokens preserved — the oracle's
      // string_split contract
      val toks = text.split(" ", -1)
      val n = toks.length.toDouble
      val acc = toks.groupBy(identity).values
        .map(g => g.length * math.log(g.length.toDouble)).sum
      val h = math.log(n) / math.log(2.0) - acc / (n * math.log(2.0))
      val expected = math.floor(h * 10000 + 0.5) / 10000
      val (gn, gh) = got(id)
      assert(gn == toks.length, s"doc $id token count")
      assert(gh == expected, s"doc $id: got $gh expected $expected")
    }
    // zero-shuffle contract: the whole signal is map-side
    val plan = TextOps.textEntropy(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"text_entropy must not shuffle:\n$plan")
  }

  test("token entropy edge cases: uniform text is log2(n), repeated token is 0") {
    val s = spark
    import s.implicits._
    graft.plans.Natives.ensure(s)
    val df = Seq(
      (1L, "a b c d"),   // 4 distinct -> H = 2.0
      (2L, "x x x x"),   // 1 distinct -> H = 0.0
      (3L, "a"),         // single token -> 0.0
      (4L, "a  b")       // empty token between double spaces counts
    ).toDF("doc_id", "text")
      .selectExpr("doc_id", "graft_token_entropy(text) AS h")
    val m = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) == 2.0 && m(2L) == 0.0 && m(3L) == 0.0)
    // "a", "", "b": three distinct tokens -> log2(3)
    assert(math.abs(m(4L) - math.log(3.0) / math.log(2.0)) < 1e-12)
  }

  test("token counts: ws and bpe-ish counts positive, bpe >= ws for word text") {
    val rows = TextOps.textTokens(spark, sf).collect()
    assert(rows.forall(r => r.getAs[Long]("n_ws_tokens") > 0))
    assert(rows.forall(r => r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_ws_tokens")))
  }

  test("quality ratios live in [0,1] and score formula holds for a sample row") {
    val r = TextOps.textQuality(spark, sf).filter(col("doc_id") === 0).head()
    val ratio = r.getAs[Double]("stopword_ratio")
    assert(ratio >= 0 && ratio <= 1)
    val score = r.getAs[Double]("quality_score")
    val n = r.getAs[Long]("n_tokens").toDouble
    val stop = ratio
    val expected = math.rint(math.min(1.0, n / 100.0) * (1 - stop) * 1e4) / 1e4
    assert(math.abs(score - expected) < 2e-4)
  }

  test("langid predicts a known language with deterministic tiebreak") {
    val langs = Set("de", "en", "es", "fr", "zh")
    val rows = TextOps.textLangId(spark, sf).collect()
    assert(rows.forall(r => langs(r.getAs[String]("pred_lang"))))
  }

  test("sentence segmentation matches an independent JVM-side recompute") {
    val doc0 = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") === 0).head().getAs[String]("text")
    val md = java.security.MessageDigest.getInstance("MD5")
    def boundary(t: String): Boolean = {
      val h = md.digest(s"sb:$t".getBytes("UTF-8")).map("%02x".format(_)).mkString
      "0123456789abcdef".indexOf(h(0)) % 4 == 0
    }
    val toks = doc0.split(" ")
    // sid per token = boundaries strictly before it
    val sids = toks.indices.map(i => toks.take(i).count(boundary))
    val row = TextOps.textSentences(spark, sf).filter(col("doc_id") === 0).head()
    assert(row.getAs[Long]("n_sentences") == sids.distinct.size.toLong)
    assert(row.getAs[Long]("n_tokens") == toks.length.toLong)
    val maxLen = sids.groupBy(identity).values.map(_.size).max
    assert(row.getAs[Long]("max_sent_tokens") == maxLen.toLong)
  }

  test("logprob: negative mean scores, token counts match the raw docs") {
    val lp = TextOps.textLogprob(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("mean_logp"))).toMap
    val raw = spark.read.parquet(s"$sf/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").length.toLong).toMap
    assert(lp.keySet == raw.keySet)
    lp.foreach { case (doc, (n, m)) =>
      assert(n == raw(doc))
      assert(m < 0 && m > -10, s"doc $doc: implausible mean log10 prob $m")
    }
  }

  test("logprob: the vocab join is an explicit BroadcastHashJoin (Zipf-hot keys never shuffle)") {
    val plan = TextOps.textLogprob(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "vocab side must be broadcast — a shuffled token-keyed join skews on stop-words")
  }

  test("line dedup: counts consistent with the sentence segmentation") {
    val ld = TextOps.textLineDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_sentences"), r.getAs[Long]("n_unique"),
          r.getAs[Long]("n_boilerplate"))).toMap
    val seg = TextOps.textSentences(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_sentences")).toMap
    assert(ld.keySet == seg.keySet)
    ld.foreach { case (doc, (n, uniq, bp)) =>
      assert(n == seg(doc), s"doc $doc: sentence counts must agree across operators")
      assert(uniq <= n && bp <= n && uniq >= 1)
    }
  }

  test("casing stats: every token falls in exactly one casing class") {
    val rows = TextOps.textCasing(spark, sf).collect()
    assert(rows.forall(r =>
      r.getAs[Long]("n_caps") + r.getAs[Long]("n_title") + r.getAs[Long]("n_lower")
        == r.getAs[Long]("n_tokens")))
    // the md5-parity synthesis populates all three classes
    assert(rows.exists(_.getAs[Long]("n_caps") > 0))
    assert(rows.exists(_.getAs[Long]("n_title") > 0))
    assert(rows.exists(_.getAs[Long]("n_lower") > 0))
  }

  test("fingerprint md5 matches MessageDigest on raw text") {
    val doc = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") === 0).head().getAs[String]("text")
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = md.digest(doc.toLowerCase.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = TextOps.textFingerprint(spark, sf).filter(col("doc_id") === 0)
      .head().getAs[String]("fp_md5")
    assert(got == expected)
  }

  test("ngrams top: two-phase candidate plan equals the full global aggregate") {
    val fast = TextOps.textNgramsTop(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = DedupOps.shingleRows(spark, sf)
      .groupBy("shingle").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("shingle")).limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fast == exact,
      s"two-phase result diverged:\nfast=$fast\nexact=$exact")
  }

  test("bigram logprob: matches a JVM-side MLE recompute over the whole corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bigrams = docs.toSeq.flatMap { case (id, t) =>
      val tk = t.split(" ")
      tk.sliding(2).filter(_.length == 2).map(p => (id, p(0), p(0) + "\u001f" + p(1)))
    }
    val c2 = bigrams.groupBy(_._3).view.mapValues(_.size.toDouble).toMap
    val c1 = bigrams.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val expected = bigrams.groupBy(_._1).view.mapValues { bs =>
      val m = bs.map(b => math.log(c2(b._3)) - math.log(c1(b._2))).sum / bs.size
      math.floor(m / 2.302585092994046 * 10000 + 0.5) / 10000
    }.toMap
    val got = TextOps.textBigramLogprob(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet,
      "every doc with >=2 tokens scores, and only those")
    got.foreach { case (id, (n, lp)) =>
      assert(n == docs(id).split(" ").length - 1, s"doc $id bigram count")
      assert(lp == expected(id), s"doc $id: got $lp expected ${expected(id)}")
    }
    assert(got.values.forall(_._2 <= 0.0), "MLE probabilities are <= 1")
  }

  test("tfidf keywords: top-3 per doc equal an exact in-memory recompute") {
    val got = TextOps.queries("text_keywords_tfidf")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("kw_rank")) ->
        (r.getAs[String]("keyword"), r.getAs[Long]("score_e6"))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ", -1).toSeq).toMap
    val n = docs.size.toDouble
    val dfm = docs.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    docs.foreach { case (id, toks) =>
      val tf = toks.groupBy(identity).view.mapValues(_.size).toMap
      val want = tf.toSeq.map { case (tok, f) =>
        (tok, math.floor(f * math.log(n / dfm(tok)) * 1e6 + 0.5).toLong)
      }.sortBy { case (tok, s) => (-s, tok) }.take(3)
      want.zipWithIndex.foreach { case ((tok, s), i) =>
        assert(got((id, i + 1)) == ((tok, s)),
          s"doc $id rank ${i + 1}: got ${got((id, i + 1))} want ($tok,$s)")
      }
    }
  }

  test("clean_boilerplate: counts reconcile with line_dedup, empty docs hash ''") {
    val clean = TextOps.textCleanBoilerplate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("n_removed"),
         r.getAs[String]("clean_md5"))).toMap
    val ld = TextOps.textLineDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_sentences"), r.getAs[Long]("n_boilerplate"))).toMap
    assert(clean.keySet == ld.keySet, "every document appears in both views")
    clean.foreach { case (id, (kept, removed, h)) =>
      val (nSents, nBoiler) = ld(id)
      assert(kept + removed == nSents, s"doc $id: kept+removed != sentences")
      assert(removed == nBoiler, s"doc $id: removed != line_dedup's boilerplate count")
      if (kept == 0)
        assert(h == "d41d8cd98f00b204e9800998ecf8427e", // md5("")
          s"doc $id: fully-boilerplate doc must hash the empty string")
    }
    // the detect and remove ops must agree on who is affected
    assert(clean.values.exists(_._2 > 0), "corpus drifted: no boilerplate found")
    assert(clean.values.exists(_._2 == 0), "corpus drifted: everything boilerplate")
  }
}

class SimilarityOpsSpec extends SparkTestBase {

  test("knn graph: exact within-label top-3 vs an in-spec brute force; probes broadcast") {
    val df = SimilarityOps.simKnnGraph(spark, sf)
    val got = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"),
        r.getAs[Double]("cos_sim"), r.getAs[Int]("rk"))).toSet
    // brute force from the raw table: cosine over every same-label
    // pair of each probe, rounded like the op, ranked with the same
    // tiebreak
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id",
        "CAST(label AS BIGINT) AS label", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("label"),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(dp / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = emb.filter(_._1 % 101 == 0).flatMap { case (qid, qlabel, qe) =>
      emb.filter(e => e._2 == qlabel && e._1 != qid)
        .map(e => (e._1, cos(qe, e._3)))
        .sortBy { case (vid, s) => (-s, vid) }
        .take(3).zipWithIndex
        .map { case ((vid, s), i) => (qid, vid, s, i + 1) }
    }.toSet
    assert(got == expected, s"diff: ${(got diff expected) ++ (expected diff got)}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the probe side must broadcast — the corpus scan never shuffles for the join")
  }

  test("brute-force top-k: k rows per query, sims in [-1,1], self excluded") {
    val rows = SimilarityOps.simCosineTopK(spark, sf).collect()
    val perQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(perQ.size == 5 && perQ.values.forall(_.length == 5))
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos_sim")) <= 1.000001))
    assert(rows.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("vid")))
  }

  test("ann-lsh results agree with brute-force similarities") {
    val brute = SimilarityOps.simCosineTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid")) -> r.getAs[Double]("cos_sim")).toMap
    val ann = SimilarityOps.simAnnLsh(spark, sf).collect()
    // any ann hit that brute-force also ranked must carry the same sim
    val overlapping = ann.flatMap { r =>
      brute.get((r.getAs[Long]("qid"), r.getAs[Long]("vid")))
        .map(b => (b, r.getAs[Double]("cos_sim")))
    }
    assert(overlapping.nonEmpty, "ann should overlap brute-force top-k on this data")
    assert(overlapping.forall { case (b, a) => math.abs(b - a) < 1e-9 })
  }

  test("multi-table lsh: recall@K beats one table at equal candidate budget; pairs unique") {
    // ground truth: the exact top-K pair set per query
    val exact = SimilarityOps.simCosineTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): (Double, Int) = {
      val pairs = df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid")))
      assert(pairs.distinct.length == pairs.length,
        "first-matching-table emission must not duplicate a pair")
      (pairs.count(exact).toDouble / exact.size, pairs.length)
    }
    // equal expected budget at spec scale (500 vectors): 4 tables x 6
    // bits matches a random pair with ~4*2^-6 = one 4-bit table's 2^-4
    // (the production 4x10 config is the same construction at corpus
    // bucket sizes)
    val (multiRecall, multiN) = recall(SimilarityOps.simAnnLshTables(spark, sf, 4, 6))
    val (singleRecall, singleN) = recall(SimilarityOps.simAnnLshTables(spark, sf, 1, 4))
    info(f"recall@5: multi(4x6)=$multiRecall%.2f ($multiN rows) single(1x4)=$singleRecall%.2f ($singleN rows)")
    // deterministic data + md5-derived planes → stable numbers (0.28
    // vs 0.16 on this corpus); strict improvement is the point
    assert(multiRecall > singleRecall,
      s"multi-table recall $multiRecall !> single-table $singleRecall")
  }

  test("multi-probe knn: second probed cell adds recall; cross-cell lane beats label blocking") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    graft.plans.Natives.ensure(spark)
    // sf0.01 (500 vectors, deterministic): sf0.001's 5-probe grid is
    // too coarse to separate the configs (ties at 15 exact pairs)
    val d = "/root/testdata/sf0.01"
    // ground truth: exact corpus-wide top-3 per stride probe (the
    // recall target the label/cell blocking approximates)
    val emb = graft.Tables.embeddings(spark, d)
    val q = emb.filter(col("vec_id") % 101 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = emb.select(col("vec_id").as("vid"), col("embedding").as("ve"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vid"))
    val exact = cands.join(broadcast(q), col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"),
        round(call_function("graft_cosine", col("qe"), col("ve")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): (Double, Int) = {
      val pairs = df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid")))
      assert(pairs.distinct.length == pairs.length,
        "distinct probed cells must never duplicate a pair (crn=1 candidates)")
      (pairs.count(exact).toDouble / exact.size, pairs.length)
    }
    // same 16-cell grid, 1 vs 2 probed cells: the second cell must
    // strictly add recall (measured 0.33 -> 0.40 on this corpus) —
    // the single-probe cliff is exactly neighbors across the boundary
    val (two, _) = recall(SimilarityOps.simKnnMultiprobeCfg(spark, d, 16, 2))
    val (one, _) = recall(SimilarityOps.simKnnMultiprobeCfg(spark, d, 16, 1))
    // the production config vs the in-block baseline it replaces:
    // label blocks are similarity-blind (10 fixed labels), geometric
    // cells + multi-probe reach true neighbors labels scatter
    // (measured 0.20 vs 0.07 here; budget 2·n/32 is LIGHTER than the
    // label block's n/10)
    val (prod, prodN) = recall(SimilarityOps.simKnnMultiprobe(spark, d))
    val (labelBlocked, _) = recall(SimilarityOps.simKnnGraph(spark, d))
    info(f"recall@3: (16,2)=$two%.2f (16,1)=$one%.2f " +
      f"prod(32,2)=$prod%.2f ($prodN rows) label-blocked=$labelBlocked%.2f")
    assert(two > one, s"second probe must add recall: $two !> $one")
    assert(prod > labelBlocked,
      s"cross-cell recall $prod !> label-blocked $labelBlocked at lighter budget")
  }

  test("kmeans converges by the exact fixpoint rule; clusters partition the corpus; deterministic") {
    val out = SimilarityOps.simKmeansConverged(spark, sf).collect()
    assert(out.length == SimilarityOps.KM_K)
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_members")).sum == n,
      "every vector assigned to exactly one cluster")
    val iters = out.map(_.getAs[Long]("n_iters")).distinct
    assert(iters.length == 1 && iters.head < SimilarityOps.KM_MAX,
      s"the exact fixpoint must fire before the bound: ${iters.toSeq}")
    val out2 = SimilarityOps.simKmeansConverged(spark, sf).collect()
    assert(out.map(_.toString).toSeq == out2.map(_.toString).toSeq)
  }

  test("queries are broadcast in brute-force search (big side never shuffles)") {
    val plan = SimilarityOps.simCosineTopK(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
  }

  test("dedup-embedding: small blocks pair exactly; over-cap blocks degrade to LSH sub-buckets") {
    def pairs(cap: Int) =
      SimilarityOps.dedupEmbeddingCapped(spark, sf, cap).collect()
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    // the default cap never binds at test scale: identical to all-pairs
    val exact = pairs(SimilarityOps.EMB_BLOCK_CAP)
    val allPairs = pairs(Int.MaxValue)
    assert(exact.toSet == allPairs.toSet)
    // cap=0 forces every label block onto the LSH sub-bucket path: the
    // result must be a SUBSET of the exact pairs (candidates only shrink)
    // emitted exactly once each (first-matching-band, no dup rows)
    val lsh = pairs(0)
    assert(lsh.length == lsh.toSet.size, "each pair must be emitted exactly once")
    assert(lsh.toSet.subsetOf(allPairs.toSet),
      "LSH sub-bucketing must only prune candidates, never invent pairs")
  }

  test("semantic dedup: clusters close over the pair graph, one keeper each") {
    val pairs = SimilarityOps.dedupEmbedding(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    val got = SimilarityOps.dedupSemantic(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_rep"), r.getAs[Int]("is_keeper"))).toMap
    // exactly the paired vectors are clustered
    assert(got.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // closure: both endpoints of every near-dup pair share a component
    pairs.foreach { case (a, b) =>
      assert(got(a)._1 == got(b)._1, s"pair ($a,$b) split across clusters")
    }
    // JVM union-find ground truth: component membership is exact
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    got.foreach { case (v, (rep, keeper)) =>
      assert(rep == find(v), s"vec $v: rep $rep != union-find ${find(v)}")
      assert((keeper == 1) == (v == rep))
    }
  }

  test("hard negatives: never the probe's own label, ranked by cosine against brute force") {
    val rows = SimilarityOps.queries("sim_hard_negatives")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"),
        r.getAs[Double]("cos_sim"), r.getAs[Int]("rk")))
    assert(rows.nonEmpty)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").toArray,
        r.getAs[Any]("label").toString)).toList
    val byId = emb.map(e => e._1 -> e).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    rows.groupBy(_._1).foreach { case (qid, got) =>
      val (_, qe, ql) = byId(qid)
      assert(got.forall(g => byId(g._2)._3 != ql),
        s"probe $qid: a hard negative shares its label")
      val brute = emb.filter(_._3 != ql)
        .map(e => (e._1, cos(qe, e._2)))
        .sortBy { case (vid, c) => (-c, vid) }.take(5)
      val gotSorted = got.sortBy(_._4).map(g => (g._2, g._3)).toList
      assert(gotSorted == brute, s"probe $qid: $gotSorted vs $brute")
    }
  }
}

class MultimodalOpsSpec extends SparkTestBase {

  test("FakeDecoder is deterministic and produces a normalized histogram") {
    val bytes = "hello multimodal".getBytes("UTF-8")
    val (w1, h1, f1) = MultimodalOps.FakeDecoder.decode(bytes)
    val (w2, h2, f2) = MultimodalOps.FakeDecoder.decode(bytes)
    assert(w1 == w2 && h1 == h2 && f1.toSeq == f2.toSeq)
    assert(math.abs(f1.sum - 1.0f) < 1e-5)
    assert(f1.length == MultimodalOps.FakeDecoder.FeatureDim)
  }

  test("binary stats: byte lengths and md5 over the payload column") {
    val rows = MultimodalOps.mmBinaryStats(spark, sf).collect()
    assert(rows.forall(_.getAs[String]("content_md5").matches("[0-9a-f]{32}")))
    assert(rows.forall(r => Set("image", "audio", "video")(r.getAs[String]("media_kind"))))
  }

  test("resize conserves mass: the 8 resized bins sum back to the byte length") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "octet_length(text) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val rows = MultimodalOps.mmResizeFeatures(spark, sf).collect()
    assert(rows.length == docs.size)
    assert(rows.forall(r => r.getAs[Long]("total_check") == docs(r.getAs[Long]("doc_id"))))
  }

  test("decode-features plumbing yields one feature row per document") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val feats = MultimodalOps.mmDecodeFeatures(spark, sf).collect()
    assert(feats.length == docs.count())
    // counts recovered from the float histogram are exact and bounded
    val lens = docs.selectExpr("doc_id", "octet_length(text) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(feats.forall { r =>
      val c = r.getAs[Long]("bin0_count"); c >= 0 && c <= lens(r.getAs[Long]("doc_id"))
    })
  }

}
