package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Unit equivalence of the native text expressions built on [[Tokens]]
  * against the declarative split/explode forms they replaced —
  * localized, so a byte-sweep regression fails HERE instead of only
  * end-to-end at the oracle gate. Edge cases target the tokenization
  * contract: every 0x20 separates, EMPTY TOKENS PRESERVED (split
  * semantics), so leading/trailing/double spaces all produce empty
  * tokens that must count like any other token. */
class GramExprSpec extends SparkTestBase {

  // the contract's hard cases + a unicode row (multi-byte chars: char
  // length ≠ byte length for sum_tok_len) + real corpus docs below
  private val edges = Seq(
    "",                         // one empty token after split
    " ",                        // two empty tokens
    "solo",                     // single token: no bigram
    "a b",                      // minimal bigram
    " lead",                    // leading space → empty first token
    "trail ",                   // trailing space → empty last token
    "double  space",            // empty middle token
    "a a a b b a",              // repeats: top_cnt/dup_inst exercise
    "héllo wörld héllo",        // multi-byte tokens, a repeat
    "a\tb a a\tb a a\tb",        // a token extended by a byte below 0x20
    "  ",                       // three empty tokens: all grams equal
    "x y z x y z x y z w")      // repeated 3-token windows

  private def edgeDf = {
    val s = spark
    import s.implicits._
    edges.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  // filter, not limit: a keyed predicate picks the SAME docs on every
  // scan (limit's pick order is not a cross-job guarantee)
  private def corpusDf = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id").as("id"), col("text"))
    .filter(col("id") < 50)

  private def checkStats(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
    Natives.ensure(spark)
    val got = df.select(col("id"), expr(s"graft_gram_stats(text, $n)").as("g"))
      .select(col("id"), col("g.n_grams"), col("g.n_distinct"),
        col("g.top_cnt"), col("g.dup_inst"), col("g.sum_tok_len"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // the declarative original: split → slide → joined-string grams
    val tokMap = df.select(col("id"), split(col("text"), " ").as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    tokMap.foreach { case (id, tk) =>
      val grams = if (tk.length < n) Seq.empty[String]
        else tk.sliding(n).map(_.mkString(" ")).toSeq
      val cnts = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nGrams = grams.size.toLong
      val nDistinct = cnts.size.toLong
      val topCnt = if (cnts.isEmpty) 0L else cnts.values.max
      val dupInst = nGrams - cnts.count(_._2 == 1L)
      val sumTokLen = tk.map(_.length.toLong).sum
      assert(got(id) == ((nGrams, nDistinct, topCnt, dupInst, sumTokLen)),
        s"id=$id n=$n text=${tokMap(id).mkString("|")}: " +
          s"native=${got(id)} ref=${(nGrams, nDistinct, topCnt, dupInst, sumTokLen)}")
    }
  }

  test("graft_gram_stats equals the declarative recompute on edge strings (n=1,2,3)") {
    Seq(1, 2, 3).foreach(checkStats(edgeDf, _))
  }

  test("graft_gram_stats equals the declarative recompute on corpus docs (n=1,2)") {
    Seq(1, 2).foreach(checkStats(corpusDf, _))
  }

  private def checkHashes(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
    Natives.ensure(spark)
    val got = df
      .select(col("id"), explode(expr(s"graft_gram_hash_counts(text, $n)")).as("g"))
      .select(col("id"), col("g.h1"), col("g.h2"), col("g.c"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
      .toMap
    // the declarative original: explode token instances, hash with
    // Spark's own xxhash64 (seed-chained for bigrams), count per gram
    val toks = df.select(col("id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val ref = (if (n == 1)
        toks.select(col("id"), xxhash64(col("tok")).as("h1"), lit(0L).as("h2"))
      else {
        val nxt = toks.select(col("id").as("id2"), (col("pos") - 1).as("pos2"),
          col("tok").as("tok2"))
        toks.join(nxt, col("id") === col("id2") && col("pos") === col("pos2"))
          .select(col("id"), xxhash64(col("tok")).as("h1"),
            xxhash64(col("tok"), col("tok2")).as("h2"))
      })
      .groupBy("id", "h1", "h2").agg(count(lit(1)).as("c"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
      .toMap
    val ids = df.select("id").collect().map(_.getLong(0))
    ids.foreach { id =>
      val g = got.getOrElse(id, Set.empty)
      val r = ref.getOrElse(id, Set.empty)
      assert(g == r, s"id=$id n=$n: native-only=${(g -- r).take(3)} " +
        s"ref-only=${(r -- g).take(3)}")
    }
  }

  test("graft_gram_hash_counts hash identities and counts equal the declarative form (n=1,2)") {
    Seq(1, 2).foreach(checkHashes(edgeDf, _))
    Seq(1, 2).foreach(checkHashes(corpusDf, _))
  }

  test("graft_gram_stats and graft_gram_hash_counts reject a bad or non-literal n before any job runs") {
    Natives.ensure(spark)
    val docs = spark.range(3).selectExpr("CAST(id AS STRING) AS text", "CAST(id AS INT) AS n")
    for ((call, usage) <- Seq(
        "graft_gram_stats(text, 0)" -> "positive int literal n",
        "graft_gram_stats(text, n)" -> "positive int literal n",
        "graft_gram_hash_counts(text, 3)" -> "int literal n in {1, 2}",
        "graft_gram_hash_counts(text, 0)" -> "int literal n in {1, 2}",
        "graft_gram_hash_counts(text, n)" -> "int literal n in {1, 2}")) {
      val e = intercept[Exception](docs.selectExpr(call))
      assert(e.getMessage.contains(s"${call.takeWhile(_ != '(')} expects") &&
        e.getMessage.contains(usage), s"$call: ${e.getMessage}")
    }
    val ok = docs.selectExpr("graft_gram_stats(text, 3)", "graft_gram_hash_counts(text, 2)").collect()
    assert(ok.length == 3)
  }

  // per id: the native column and its declarative recompute over
  // tk = split(text, ' ') and every in-range window start i
  private def pairs(df: org.apache.spark.sql.DataFrame, native: Column,
      ref: String): Map[Long, (Any, Any)] = {
    Natives.ensure(spark)
    df.withColumn("tk", split(col("text"), " "))
      .withColumn("w3", expr("filter(sequence(0, size(tk) - 1), i -> i + 2 < size(tk))"))
      .select(col("id"), native, expr(ref))
      .collect().map(r => r.getLong(0) -> ((r.get(1), r.get(2)))).toMap
  }

  private def checkEqual(df: org.apache.spark.sql.DataFrame, native: Column, ref: String): Unit =
    pairs(df, native, ref).foreach { case (id, (got, want)) =>
      assert(got == want, s"id=$id: native=$got ref=$want")
    }

  private def bothDfs = Seq(edgeDf, corpusDf)

  test("graft_token_hashes equals xxhash64 of each split token, in order") {
    for (df <- bothDfs)
      checkEqual(df, expr("graft_token_hashes(text)"), "transform(tk, t -> xxhash64(t))")
  }

  test("graft_shingle_hashes equals the sorted distinct xxhash64 of the 3-token windows") {
    for (df <- bothDfs)
      checkEqual(df, expr("graft_shingle_hashes(text)"),
        "array_sort(array_distinct(transform(w3, i -> xxhash64(tk[i], tk[i + 1], tk[i + 2]))))")
  }

  test("graft_candidate_shingles, given every window hash, equals the distinct joined 3-windows") {
    for (df <- bothDfs) {
      Natives.ensure(spark)
      val every = df.select(explode(expr("graft_shingle_hashes(text)"))).distinct()
        .collect().map(_.getLong(0))
      assert(every.nonEmpty)
      checkEqual(df, call_function("graft_candidate_shingles", col("text"), typedLit(every)),
        "array_distinct(transform(w3, i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])))")
    }
  }

  test("graft_token_entropy equals the log2 entropy of the split token counts") {
    for (df <- bothDfs) {
      val ps = pairs(df, expr("graft_token_entropy(text)"), "tk")
      assert(ps.nonEmpty)
      ps.foreach { case (id, (got, tk)) =>
        val toks = tk.asInstanceOf[scala.collection.Seq[String]]
        val n = toks.size.toDouble
        val want = -toks.groupBy(identity).values
          .map(g => g.size / n * math.log(g.size / n) / math.log(2.0)).sum
        assert(math.abs(got.asInstanceOf[Double] - want) < 1e-9, s"id=$id: native=$got ref=$want")
      }
    }
  }

  test("Tokens.runs visits each distinct window once, in token-wise order, with its count") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 300) {
      val text = Seq.fill(rnd.nextInt(12))("ab \t".charAt(rnd.nextInt(4))).mkString
      val tk = text.split(" ", -1).toSeq
      val t = new Tokens(org.apache.spark.unsafe.types.UTF8String.fromString(text))
      assert(t.count == tk.size)
      for (k <- 1 to 3) {
        val seen = Seq.newBuilder[(Seq[String], Long)]
        val m = t.runs(k) { (v, c) =>
          val w = t.indexOf(v)
          seen += ((tk.slice(w, w + k), c))
          assert(v.toString == tk.slice(w, w + k).mkString(" "))
        }
        val windows = if (tk.size < k) Seq.empty else tk.sliding(k).toSeq
        val want = windows.groupBy(identity).view.mapValues(_.size.toLong).toSeq
          .sortBy(_._1)(Ordering.Implicits.seqOrdering[Seq, String])
        assert(m == windows.size && seen.result() == want, s"text=${text.replace("\t", "\\t")} k=$k")
      }
    }
  }
}
