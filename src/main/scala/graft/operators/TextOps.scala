package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for a training-data pipeline: token counting, quality
  * scoring, heuristic language ID, content fingerprinting.
  *
  * All per-document (no shuffle at all — narrow map-only plans; the
  * only wide op is an optional final aggregate). Hash family is md5
  * (codegen'd, engine-portable). At 100 TB these run at scan speed.
  */
object TextOps {

  private def toks: Column = split(col("text"), " ")

  /** 3-token shingles over a MATERIALIZED token array (inlining the
    * split re-evaluates it per element_at — O(tokens²)); empty when the
    * document has <3 tokens (Spark's `sequence(1,0)` counts DOWN, so
    * guard explicitly). */
  private[operators] def shingles(tk: Column): Column =
    when(size(tk) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(tk) - 2),
        i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
          element_at(tk, i + 2))))

  private def countIn(words: Seq[String]): Column =
    size(filter(toks, x => x.isin(words.map(lit): _*))).cast("long")

  /** Stopword count over a materialized token array — ONE definition
    * consumed by textQuality and the fused quality gate
    * (PretrainOps.pretrainQualityFused), so the signal cannot drift
    * between the named op and its single-pass twin. */
  private[operators] def stopCount(tk: Column): Column =
    size(filter(tk, x => x.isin(stopwords.map(lit): _*))).cast("long")


  /** Whitespace tokens + BPE-ish regex tokens (runs of letters, runs of
    * digits, single other non-space chars). */
  def textTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      size(toks).cast("long").as("n_ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("n_bpe_tokens"))

  private val stopwords = Seq("the", "a", "r", "s")

  /** Length / stopword-ratio quality score (the standard pre-training
    * corpus filters, deterministic formula). */
  def textQuality(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_m"),
        size(toks).cast("long").as("n_tokens"), stopCount(toks).as("n_stop"))
      .select(col("doc_id"), col("n_chars_m"), col("n_tokens"),
        round(col("n_chars_m").cast("double") / col("n_tokens"), 4).as("avg_token_len"),
        round(col("n_stop").cast("double") / col("n_tokens"), 4).as("stopword_ratio"),
        round(least(lit(1.0), col("n_tokens").cast("double") / 100.0) *
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")), 4).as("quality_score"))

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("key", "value"),
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "row"),
    "fr" -> Seq("table", "column"),
    "zh" -> Seq("query", "join"))

  /** Heuristic language ID: stopword-profile hit counts, argmax with
    * alphabetical tiebreak (the classic n-gram-profile classifier shape;
    * profiles here are fitted to the synthetic vocabulary). */
  def textLangId(s: SparkSession, d: String): DataFrame = {
    val counted = documents(s, d).select(
      (Seq(col("doc_id"), col("lang")) ++
        langProfiles.map { case (l, ws) => countIn(ws).as(s"c_$l") }): _*)
    // CASE chain in alphabetical order: first lang whose count >= all
    // others wins (deterministic argmax with alphabetical tiebreak).
    val chain = langProfiles.map(_._1).reverse.foldLeft(lit(null).cast("string")) {
      case (acc, l) =>
        val isMax = langProfiles.map(_._1).filter(_ != l)
          .map(o => col(s"c_$l") >= col(s"c_$o")).reduce(_ && _)
        when(isMax, lit(l)).otherwise(acc)
    }
    counted.select(
      (Seq(col("doc_id"), col("lang"), chain.as("pred_lang")) ++
        Seq("de", "en", "es", "fr", "zh").map(l => col(s"c_$l"))): _*)
  }

  /** Content fingerprints: full-text md5 + min-shingle (winnowing-style)
    * fingerprint robust to local edits. */
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("tk"))
      .select(
        col("doc_id"),
        md5(lower(col("text"))).as("fp_md5"),
        coalesce(array_min(transform(shingles(col("tk")), x => md5(x))), lit("")).as("fp_min_shingle"))

  /** Corpus-wide top-20 trigram shingles by document frequency
    * (deterministic tiebreak on the shingle itself).
    *
    * Two-phase candidate plan. The r11 single `groupBy(shingle)`
    * shuffled the ENTIRE distinct (doc, shingle) stream as strings —
    * map-side combine is useless when shingles rarely repeat within a
    * partition, so the Exchange grew with corpus token count (3.93× at
    * sf3, super-linear): the one plan that could not survive 100 TB.
    *
    * Phase 1 aggregates 64-bit shingle hashes (the native
    * `graft_shingle_hashes`, plans/Tokens.scala — one
    * imperative byte sweep per doc, no token array, no string build,
    * no interpreted HOF dispatch): the Exchange moves fixed-width
    * (hash, count) pairs and the hash-aggregate probes longs, not UTF8
    * strings. Candidates are EVERY hash whose count reaches t20, the
    * 20th-largest hash count — threshold-based, NOT top-K: a df-tie
    * plateau at rank 20 (replicated corpora produce these
    * structurally — the ScaleGen layout puts each replica's top
    * shingle at the same df) must land inside the candidate set
    * however wide it is. Phase 2 rebuilds shingle STRINGS only at
    * token positions whose hash lands in the candidate set
    * (`graft_candidate_shingles`: binary-search per window, byte-slice
    * copy only on a match) and exact-counts the surviving stream — a
    * bounded second pass regardless of corpus size.
    *
    * Exactness is PROVED per run, not assumed: a shingle outside the
    * candidate set has df ≤ count(its hash) < t20 (collisions only
    * merge counts upward, so the bound survives them). If the 20th
    * exact candidate df ≥ t20, every excluded shingle sorts strictly
    * below row 20 — ties included — so the result is provably the
    * exact top-20; otherwise (or when the t20 plateau overflows the
    * CAP-row collect) the full-shuffle aggregate runs as the
    * backstop. Driver-side data is ≤CAP scalar rows + the 20-row
    * result, the same posture as the CC loop's convergence sums. */
  def textNgramsTop(s: SparkSession, d: String): DataFrame = {
    import Loop.TruncOps
    val CAP = 2048
    def exactGlobal: DataFrame = DedupOps.shingleRows(s, d)
      .groupBy("shingle")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("shingle"))
      .limit(20)
    graft.plans.Natives.ensure(s)
    // phase 1: candidate hashes — one native byte sweep per doc, the
    // explode emits per-doc-distinct longs
    val top = documents(s, d)
      .select(explode(expr("graft_shingle_hashes(text)")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("hc"))
      .orderBy(col("hc").desc)
      .limit(CAP)
      .collect()
    if (top.isEmpty) return exactGlobal // empty corpus: trivial either way
    val t20 = top(math.min(19, top.length - 1)).getLong(1)
    // the t20 plateau may extend past the collected CAP rows: then some
    // ≥t20 hash is missing from the candidate set and no completeness
    // proof is possible — a corpus that flat takes the backstop
    if (top.length == CAP && top.last.getLong(1) >= t20) return exactGlobal
    val cands = top.filter(_.getLong(1) >= t20).map(_.getLong(0)).toSeq
    // fewer than 20 hashes ⇒ t20 is the global minimum ⇒ every hash is
    // a candidate and the recount is exhaustive by construction
    val exhaustive = top.length < 20
    // phase 2: bounded exact recount — strings materialize only at
    // candidate-matching windows (per-doc-distinct by the expression)
    val candSql = cands.mkString("array(", "L,", "L)")
    val exact = documents(s, d)
      .select(col("doc_id"),
        explode(expr(s"graft_candidate_shingles(text, $candSql)")).as("shingle"))
      .groupBy("shingle")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("shingle"))
      .limit(20)
      .truncEager // 20 rows — the completeness check below must not re-scan
    val out = exact.collect()
    val provablyComplete = exhaustive ||
      (out.length == 20 && out(19).getLong(1) >= t20)
    if (provablyComplete) exact else exactGlobal
  }

  /** PII-style scrubbing: numbers and emails masked with typed
    * placeholders (the standard pre-training redaction pass, applied
    * to a deterministic synthetic decoration of the corpus). */
  def textPiiScrub(s: SparkSession, d: String): DataFrame = {
    val decorated = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or call 555-01"),
      col("doc_id") % 100)
    documents(s, d).select(
      col("doc_id"),
      regexp_replace(regexp_replace(decorated,
        "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
        "[0-9][0-9-]+", "<NUM>").as("scrubbed"))
      .withColumn("n_masked",
        (regexp_count(col("scrubbed"), lit("<EMAIL>")) +
         regexp_count(col("scrubbed"), lit("<NUM>"))).cast("long"))
  }

  /** Link extraction from HTML (the reference posts embed <a href>
    * video links): hrefs pulled with regexp_extract_all, emitted as a
    * joined string for engine-portable comparison. */
  def textHtmlLinks(s: SparkSession, d: String): DataFrame = {
    val html = concat(
      lit("<p><a href=\"https://videos.example/v"), col("doc_id"),
      lit("\">demo</a> "), col("text"),
      lit(" <a href=\"https://docs.example/d"), col("doc_id") % 7,
      lit("\">ref</a></p>"))
    documents(s, d).select(
      col("doc_id"),
      concat_ws("|",
        regexp_extract_all(html, lit("href=\"([^\"]+)\""), lit(1))).as("links"))
      .withColumn("n_links",
        (size(split(col("links"), "\\|"))).cast("long"))
  }

  /** Shared sentence segmentation (one definition — textSentences and
    * textLineDedup consume the SAME per-doc sentence array), MAP-ONLY:
    * each boundary token gets a sentinel appended, the marked tokens
    * are re-joined and split on the sentinel — a boundary token CLOSES
    * its sentence, exactly the running-sum sid assignment the earlier
    * window form computed, without its posexplode + doc_id Exchange.
    * On real text the boundary is terminal punctuation ([.!?]$); this
    * synthetic corpus carries none, so an md5-parity rule (~1/4 of
    * tokens close a sentence) stands in — deterministic and
    * oracle-checkable. The sentinel (\u0001) cannot occur in tokens:
    * split(text, ' ') tokens never contain control characters in this
    * corpus, and any real corpus scrubs C0 controls on ingest. */
  private def boundaryFlag(t: Column): Column =
    t.rlike("[.!?]$") ||
      conv(substring(md5(concat(lit("sb:"), t)), 1, 1), 16, 10)
        .cast("int") % 4 === 0

  /** Per-doc array of segment strings (tokens re-joined with ' '),
    * split AFTER each token the boundary predicate marks. Shared by the
    * sentence family here and the content-defined chunking in
    * PretrainOps (different boundary predicate, same construction). */
  private[operators] def segmentsArr(tk: Column, boundary: Column => Column): Column =
    filter(
      split(
        concat_ws(" ", transform(tk,
          t => concat(t, when(boundary(t), "\u0001").otherwise("")))),
        "\u0001 ?"),
      x => length(x) > 0)

  private def sentencesArr(tk: Column): Column = segmentsArr(tk, boundaryFlag)

  /** Boilerplate REMOVAL — the transform that closes the
    * text_line_dedup loop (detect → remove → re-assemble): sentences
    * shared across ≥2 documents are cut, the survivors re-join in
    * original order, and the output carries the kept/removed audit
    * plus the cleaned text's md5 (the hash, not the text — megabyte
    * documents never ride the final exchange; a consumer re-derives
    * the text map-side from the same deterministic definition). Same
    * scale shape as text_line_dedup: the corpus-frequency table is
    * built at distinct (doc, sentence) grain (no Expand, probe at
    * distinct-sentence cardinality), and the only occurrence-grain
    * shuffle is the per-doc re-assembly aggregate, keyed by doc_id.
    * Fully-boilerplate documents stay in the output with n_kept = 0
    * and md5('') — a pipeline must see what it emptied. */
  def textCleanBoilerplate(s: SparkSession, d: String): DataFrame = {
    import Loop.TruncOps
    // positional sentence occurrences, materialized once (df build +
    // re-assembly both consume them)
    val sents = documents(s, d)
      .select(col("doc_id"), posexplode(sentencesArr(split(col("text"), " "))))
      .select(col("doc_id"), col("pos"), col("col").as("sent"),
        md5(col("col")).as("sent_h"))
      .truncEager
    // df at distinct (doc, sentence) grain — the text_line_dedup lesson.
    // ONE exchange serves both grouping levels (guide §2.4, the
    // dedup_span_windows move): hashpartitioning(sent_h) satisfies the
    // (doc_id, sent_h) aggregate's ClusteredDistribution (partition
    // keys ⊂ clustering keys) AND the sent_h-grain df aggregate, so the
    // second exchange the chained groupBys planned is gone.
    val dfs = sents.repartition(col("sent_h"))
      .groupBy("doc_id", "sent_h").agg(count(lit(1)).as("n_occ"))
      .groupBy(col("sent_h").as("sent_k")).agg(count(lit(1)).as("df"))
    sents.join(dfs, col("sent_h") === col("sent_k"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("df") < 2, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_removed"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("df") < 2,
            struct(col("pos").as("p"), col("sent").as("t"))))),
          x => x.getField("t")))).as("clean_md5"))
  }

  def textSentences(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("tk"), sentencesArr(col("tk")).as("sents"))
      .select(col("doc_id"),
        size(col("sents")).cast("long").as("n_sentences"),
        size(col("tk")).cast("long").as("n_tokens"),
        array_max(transform(col("sents"), x => size(split(x, " "))))
          .cast("long").as("max_sent_tokens"))
      .withColumn("avg_sent_tokens",
        col("n_tokens").cast("double") / col("n_sentences").cast("double"))

  /** Casing statistics over a deterministically re-cased corpus (the
    * all-lowercase synthetic text gets md5-parity casing: ~1/4 ALLCAPS,
    * ~1/4 Titlecase, rest lower), counted by anchored regex — the
    * pre-training casing filter. Map-side until one doc_id aggregate. */
  def textCasing(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok0"))
      .withColumn("cs",
        expr("(instr('0123456789abcdef', substring(md5(concat('cs:', tok0)), 1, 1)) - 1) % 4"))
      .withColumn("tok",
        when(col("cs") === 0, upper(col("tok0")))
          .when(col("cs") === 1,
            expr("concat(upper(substring(tok0, 1, 1)), substring(tok0, 2))"))
          .otherwise(col("tok0")))
    toks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tok").rlike("^[A-Z]+$"), 1).otherwise(0)).as("n_caps"),
        sum(when(col("tok").rlike("^[A-Z][a-z]+$"), 1).otherwise(0)).as("n_title"),
        sum(when(col("tok").rlike("^[a-z]+$"), 1).otherwise(0)).as("n_lower"))
      .withColumn("caps_ratio",
        col("n_caps").cast("double") / col("n_tokens").cast("double"))
  }

  /** Boilerplate-sentence detection — the pre-training filter that
    * strips repeated template text. Sentences come from the same
    * segmentation as text_sentences; per doc it reports within-doc
    * duplicate sentences (n_sentences vs n_unique) and occurrences of
    * sentences shared by ≥2 documents (corpus boilerplate). Shapes:
    * one doc_id window+aggregate for the sentences (shared def with
    * text_sentences), one hash-keyed aggregate + join for the corpus
    * frequencies — the join/grouping key is md5(sentence), never the
    * raw sentence text: at 100 TB a sentence can be megabytes, and a
    * 32-hex key shuffles at fixed width with the same distribution
    * (md5 collisions: ~n²/2¹²⁸, absent at any feasible corpus). */
  def textLineDedup(s: SparkSession, d: String): DataFrame = {
    import Loop.TruncOps
    // r13 shape: every downstream consumer only needs DISTINCT
    // (doc_id, sent_h) grain plus the within-doc occurrence count, so
    // aggregate the exploded sentence stream to that grain FIRST (the
    // explode keeps a document's sentences physically together, so the
    // partial aggregate collapses within-doc duplicates with zero
    // shuffle growth) and materialize THAT — the r12 form materialized
    // the occurrence-grain stream and rode every occurrence through
    // the df join and two countDistinct aggregates (each an Expand),
    // which grew super-linearly sf1→sf3 (4.4× time for 3× data, the
    // r12 verdict's watch item). At distinct grain: df is a plain
    // count(*) (doc_id is distinct per sent_h by construction),
    // n_unique a plain count(*), n_sentences/n_boilerplate sums of
    // n_occ — no Expand anywhere, and the join probe shrinks to
    // distinct-sentence cardinality. Remaining shuffles: the grain
    // aggregate, the two small aggregates over it, the hash-keyed
    // join. Keys stay md5(sentence), never raw text (fixed-width
    // shuffle; collisions ~n²/2¹²⁸ — absent at any feasible corpus).
    val docSents = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(sentencesArr(col("tk"))).as("sent"))
      .select(col("doc_id"), md5(col("sent")).as("sent_h"))
      .groupBy("doc_id", "sent_h")
      .agg(count(lit(1)).as("n_occ"))
      .truncEager
    val dfs = docSents.groupBy(col("sent_h").as("sent_k"))
      .agg(count(lit(1)).as("df"))
    docSents.join(dfs, col("sent_h") === col("sent_k"))
      .groupBy("doc_id")
      .agg(sum("n_occ").as("n_sentences"),
        count(lit(1)).as("n_unique"),
        sum(when(col("df") >= 2, col("n_occ")).otherwise(0)).as("n_boilerplate"))
  }

  /** Unigram log-probability quality score — the statistical fluency
    * signal pre-training filters use (a document of vanishingly-rare
    * tokens is noise; one of only stop-words is boilerplate). Corpus
    * unigram frequencies via one token groupBy; per-doc mean log10
    * probability via a token-keyed join back. log10 of a ratio of
    * exact longs + a fixed-point floor-round keeps it engine-portable.
    *
    * The vocab side is EXPLICITLY broadcast: unigram vocabularies are
    * Zipf-bounded (≈10⁶–10⁷ distinct tokens of any real corpus — tens
    * of MB as (token, count) rows) and outgrow
    * `autoBroadcastJoinThreshold`'s 10 MB default long before they
    * outgrow executor memory, at which point the fallback is a
    * sort-merge join whose shuffle key is a Zipf-hot token — "the"
    * lands every occurrence on one partition, the textbook skew kill.
    * A broadcast hash join never shuffles the token stream at all.
    *
    * Tokens are keyed by xxhash64, not by string, on BOTH sides of the
    * frequency pipeline: the vocab groupBy's hash map and the scoring
    * join's probes work on fixed-width longs instead of hashing and
    * comparing UTF8 strings per occurrence — measured 0.71 s vs 1.15 s
    * at sf3 (the string forms, every variant: double-tokenize,
    * per-(doc,tok) pre-agg, checkpointed token stream, all landed
    * 1.2–3.7 s; the byte cost of string keys in the agg + probe was
    * the real bottleneck, not the tokenize count). Two distinct tokens
    * colliding would merge their tf's: P ≈ |V|²/2⁶⁵ — at a 10M-token
    * real-corpus vocab that's ~3·10⁻⁶ for ONE collision anywhere, and
    * the blast radius is one slightly-off frequency inside a quality
    * score; the oracle gate cross-checks against exact-string DuckDB
    * per round, so a collision cannot pass silently.
    *
    * The corpus-size normalization is applied AFTER the per-doc
    * aggregate: mean ln(tf/total) = mean ln(tf) − ln(total), so the
    * 1-row total crosses a broadcast nested-loop join at |docs| grain
    * (150k rows at sf3) instead of token grain (8.1M) — the pre-fix
    * plan pushed every token row through the BNLJ. */
  def textLogprob(s: SparkSession, d: String): DataFrame =
    textLogprobFrom(s, logprobDhc(s, d))

  /** The distinct-(doc, token-hash, count) stream behind the fluency
    * lanes — one native byte sweep per document (n = 1 tokens, n = 2
    * bigrams), no instance explosion. This is the stream the
    * doc_id-bucketed layout twin MATERIALIZES (BucketedQueries
    * ensureDhcBucketed): at query time the layout form scans
    * (doc_id, h…, c) parquet instead of re-tokenizing the corpus —
    * and because both the count side and the probe side read this
    * stream, the plain form pays the byte sweep twice per query. */
  private[operators] def logprobDhc(s: SparkSession, d: String): DataFrame = {
    graft.plans.Natives.ensure(s)
    documents(s, d)
      .select(col("doc_id"),
        explode(expr("graft_gram_hash_counts(text, 1)")).as("tc"))
      .select(col("doc_id"), col("tc.h1").as("h"), col("tc.c").as("c"))
  }

  private[operators] def logprobDhc2(s: SparkSession, d: String): DataFrame = {
    graft.plans.Natives.ensure(s)
    documents(s, d)
      .select(col("doc_id"),
        explode(expr("graft_gram_hash_counts(text, 2)")).as("b"))
      .select(col("doc_id"), col("b.h1").as("h1"), col("b.h2").as("h2"),
        col("b.c").as("c"))
  }

  /** Plan body over any (doc_id, h, c) distinct-token stream — shared
    * by the scan form ([[textLogprob]]) and the bucketed layout twin
    * (BucketedQueries.textLogprobBucketed), the q7_prejoined
    * discipline: one definition, two physical layouts. */
  private[operators] def textLogprobFrom(s: SparkSession, dhc: DataFrame): DataFrame = {
    val vocab = dhc.groupBy(col("h").as("h_v")).agg(sum("c").as("tf"))
    // corpus size = Σ tf over the (tiny) vocab — a broadcast scalar,
    // fully declarative: no driver action, no extra corpus scan
    val totalDf = vocab.agg(sum("tf").cast("double").as("total_toks"))
    // ln + an explicit ln(10) double literal on BOTH sides (engines'
    // log10 intrinsics differ in the last ulp more often than ln);
    // the fixed-point floor-round absorbs accumulation-order noise —
    // including the count-weighted summation (Σ c·ln tf vs per-
    // instance), which is the same sum grouped differently
    val ln10 = 2.302585092994046
    dhc.join(broadcast(vocab), col("h") === col("h_v"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        (sum(col("c").cast("double") * log(col("tf").cast("double"))) /
          sum(col("c")).cast("double")).as("mean_ln_tf"))
      .crossJoin(broadcast(totalDf))
      .select(col("doc_id"), col("n_tokens"),
        (floor((col("mean_ln_tf") - log(col("total_toks"))) / ln10 * 10000 + 0.5) / 10000)
          .as("mean_logp"))
  }

  /** Per-document top-3 TF·IDF keywords — the topic-tagging /
    * corpus-indexing primitive (doc-level routing, cluster labeling,
    * search-index terms). score = tf · ln(N/df), ranked per doc with a
    * token-string tiebreak; the score is fixed-pointed to 1e-6 BEFORE
    * ranking so both engines rank the identical integer key.
    *
    * Scale shape (the [[textLogprob]] lane): per-doc distinct-token
    * counts from ONE native byte sweep (no instance explosion, no tf
    * shuffle — graft_gram_hash_counts is map-side); the df table and
    * the token-string map are Zipf-bounded vocabularies, both
    * EXPLICITLY broadcast (the textLogprob rationale: a token-keyed
    * shuffle would land every "the" on one partition). The only
    * fact-scale shuffles are the distinct-(doc, token)-grain df
    * aggregate and the per-doc window (high-cardinality partition key,
    * per-group input bounded by per-doc vocabulary). */
  def textKeywordsTfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.Natives.ensure(s)
    val dhc = documents(s, d)
      .select(col("doc_id"),
        explode(expr("graft_gram_hash_counts(text, 1)")).as("tc"))
      .select(col("doc_id"), col("tc.h1").as("h"), col("tc.c").as("tf"))
    // df = docs containing the token: plain count at distinct grain
    val dfTab = dhc.groupBy(col("h").as("h_v")).agg(count(lit(1)).as("df"))
    val nDocs = documents(s, d).agg(count(lit(1)).cast("double").as("n_docs"))
    // hash → string map for the output: per-doc-distinct explode then
    // corpus distinct — vocabulary-cardinality, broadcast like dfTab
    val tokMap = documents(s, d)
      .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
      .distinct()
      .select(col("tok"), xxhash64(col("tok")).as("h_t"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_e6").desc, col("keyword"))
    dhc.join(broadcast(dfTab), col("h") === col("h_v"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_e6",
        floor(col("tf").cast("double") *
          log(col("n_docs") / col("df").cast("double")) * 1e6 + 0.5).cast("long"))
      .join(broadcast(tokMap), col("h") === col("h_t"))
      .select(col("doc_id"), col("tok").as("keyword"), col("score_e6"))
      .withColumn("kw_rank", row_number().over(w))
      .filter(col("kw_rank") <= 3)
      .select("doc_id", "keyword", "kw_rank", "score_e6")
  }

  /** Bigram-LM fluency score: per-document mean log10 P(w_i | w_{i-1})
    * under the corpus's own MLE bigram model (context counts are
    * bigram-start occurrences, so Σ_cur c2(prev,cur) = c1(prev) and
    * every probability is well-defined and ≤ 1). The conditional form
    * separates fluent word ORDER from mere word frequency — the signal
    * [[textLogprob]]'s unigram model cannot see — and is the next rung
    * of the standard LM-based quality-filter ladder.
    *
    * Scale shape mirrors textLogprob: bigrams are keyed by xxhash64
    * longs on both the count and probe sides (fixed-width aggregation
    * keys, no string bytes in the shuffle; collision risk |V|²/2⁶⁵,
    * cross-checked by the exact-string oracle every round). Both count
    * tables join back on long keys — at this SF they broadcast; at
    * 100 TB they are hash-partitioned equi-joins on uniform keys. The
    * mean is fixed-point floor-rounded (1e4) to absorb summation-order
    * ulps between engines. */
  def textBigramLogprob(s: SparkSession, d: String): DataFrame =
    textBigramLogprobFrom(s, logprobDhc2(s, d))

  /** Plan body over any (doc_id, h1, h2, c) distinct-bigram stream —
    * shared by the scan form and the bucketed layout twin, like
    * [[textLogprobFrom]]. */
  private[operators] def textBigramLogprobFrom(s: SparkSession, bi: DataFrame): DataFrame = {
    val ctx = bi.groupBy(col("h1").as("c_h1")).agg(sum("c").as("n1"))
    val big = bi.groupBy(col("h2").as("c_h2")).agg(sum("c").as("n2"))
    // ln + explicit ln(10) literal on both sides (textLogprob rationale)
    val ln10 = 2.302585092994046
    bi.join(big, col("h2") === col("c_h2"))
      .join(ctx, col("h1") === col("c_h1"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        (sum(col("c").cast("double") *
            (log(col("n2").cast("double")) - log(col("n1").cast("double")))) /
          sum(col("c")).cast("double")).as("m"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("m") / ln10 * 10000 + 0.5) / 10000).as("mean_logp2"))
  }

  /** Token-distribution Shannon entropy per document (base 2) — the
    * lexical-diversity quality signal (low entropy ⇒ repetitive or
    * templated text; the cheap member of the CCNet/Gopher filter
    * family next to [[textLogprob]]'s corpus-frequency fluency).
    *
    * Map-only: the native `graft_token_entropy`
    * (plans/Tokens.scala) computes exact per-doc token counts and
    * the entropy in ONE byte sweep per row — no token-stream explode,
    * no shuffle anywhere in the plan, so the signal runs at scan speed
    * over 100 TB. Contrast with the oracle's unnest + entropy()
    * aggregate, which shuffles every token. Fixed-point floor-round at
    * 4 decimals keeps the double engine-portable. */
  def textEntropy(s: SparkSession, d: String): DataFrame = {
    graft.plans.Natives.ensure(s)
    documents(s, d).select(
      col("doc_id"),
      (size(split(col("text"), " "))).cast("long").as("n_tokens"),
      (floor(expr("graft_token_entropy(text)") * 10000 + 0.5) / 10000)
        .as("token_entropy"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the full trainer (BpeTrain.textBpeTrain) is spec-tested only
    // (JVM-reference cross-check): an iterative argmax-merge loop has
    // no honest SQL mirror, and registering it oracle-less put a
    // permanent err row in the driver's hard gate (r18). The rank-1
    // projection IS one adjacent-pair SQL argmax — driver-gated here,
    // running the trainer's own pair-count code.
    "text_bpe_rank1" -> (BpeTrain.textBpeRank1 _),
    "text_bigram_logprob" -> (BucketedQueries.textBigramLogprobBucketed _),
    "text_entropy" -> (textEntropy _),
    "text_sentences" -> (textSentences _),
    "text_casing" -> (textCasing _),
    "text_line_dedup" -> (textLineDedup _),
    "text_clean_boilerplate" -> (textCleanBoilerplate _),
    "text_logprob" -> (BucketedQueries.textLogprobBucketed _),
    "text_keywords_tfidf" -> (textKeywordsTfidf _),
    "text_pii_scrub" -> (textPiiScrub _),
    "text_html_links" -> (textHtmlLinks _),
    "text_ngrams_top" -> (textNgramsTop _),
    "text_tokens" -> (textTokens _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangId _),
    "text_fingerprint" -> (textFingerprint _)
  )

  val oracle: Map[String, String] = Map(
    // BPE rank 1: distinct-word frequencies → char symbols → adjacent
    // pairs (range(1, len) = pair start positions; substr is char-
    // based, matching the engine's substring) → frequency-weighted
    // argmax with the trainer's (cnt desc, a, b) tiebreak and cnt ≥ 2
    // floor. Ranks 2+ depend on applied merges — spec-only, BpeTrain.
    "text_bpe_rank1" ->
      """WITH words AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE len(w) > 0 GROUP BY w),
        |pairs AS (SELECT substr(w, CAST(i AS INT), 1) AS a,
        |    substr(w, CAST(i AS INT) + 1, 1) AS b, freq
        |  FROM (SELECT w, freq, unnest(range(1, len(w))) AS i FROM words) p),
        |cnt AS (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS pair_count
        |  FROM pairs GROUP BY a, b)
        |SELECT CAST(1 AS BIGINT) AS rank, a, b, pair_count FROM cnt
        |WHERE pair_count >= 2
        |ORDER BY pair_count DESC, a, b LIMIT 1""".stripMargin,
    // DuckDB's entropy() aggregate is base-2 Shannon entropy over the
    // value multiset — the same H = log2(N) − Σ c·log2(c)/N the native
    // expression computes from exact counts
    "text_entropy" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT doc_id, count(*) AS n_tokens,
        |  floor(entropy(tok) * 10000 + 0.5) / 10000 AS token_entropy
        |FROM toks GROUP BY doc_id""".stripMargin,
    // parallel equal-length unnests zip in DuckDB (text_line_dedup uses
    // the same idiom); chr(31) separates bigram halves unambiguously
    "text_bigram_logprob" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |big AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || chr(31) || t[i+1])) AS bg
        |  FROM tk WHERE len(t) >= 2),
        |c2 AS (SELECT bg, count(*) AS n2 FROM big GROUP BY bg),
        |c1 AS (SELECT w1, count(*) AS n1 FROM big GROUP BY w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  floor(avg(ln(CAST(n2 AS DOUBLE)) - ln(CAST(n1 AS DOUBLE)))
        |    / 2.302585092994046 * 10000 + 0.5) / 10000 AS mean_logp2
        |FROM big JOIN c2 USING (bg) JOIN c1 USING (w1)
        |GROUP BY doc_id""".stripMargin,
    // tf from per-doc token counts, df at distinct-(doc, token) grain,
    // score fixed-pointed to an integer BEFORE ranking (both engines
    // rank the same key; ln on both sides — the text_logprob rationale)
    "text_keywords_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfs AS (SELECT tok AS tok_v, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, tok,
        |    CAST(floor(CAST(tf AS DOUBLE) * ln(n_docs / CAST(df AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS score_e6
        |  FROM tf JOIN dfs ON tok = tok_v CROSS JOIN n)
        |SELECT doc_id, tok AS keyword, rk AS kw_rank, score_e6 FROM (
        |  SELECT doc_id, tok, score_e6,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, tok) AS rk
        |  FROM scored) WHERE rk <= 3""".stripMargin,
    "text_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
        |total AS (SELECT count(*) AS n FROM toks)
        |SELECT doc_id, count(*) AS n_tokens,
        |  floor(avg(ln(CAST(tf AS DOUBLE) / n)) / 2.302585092994046 * 10000 + 0.5) / 10000 AS mean_logp
        |FROM toks JOIN vocab USING (tok), total
        |GROUP BY doc_id""".stripMargin,
    "text_line_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents),
        |fl AS (SELECT doc_id, pos, tok,
        |    CASE WHEN regexp_matches(tok, '[.!?]$')
        |           OR (strpos('0123456789abcdef', substr(md5('sb:' || tok), 1, 1)) - 1) % 4 = 0
        |         THEN 1 ELSE 0 END AS boundary
        |  FROM t),
        |sids AS (SELECT doc_id, pos, tok,
        |    coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sid
        |  FROM fl),
        |sents AS (SELECT doc_id, sid, string_agg(tok, ' ' ORDER BY pos) AS sent
        |  FROM sids GROUP BY doc_id, sid),
        |dfs AS (SELECT sent, count(DISTINCT doc_id) AS df FROM sents GROUP BY sent)
        |SELECT s.doc_id AS doc_id, count(*) AS n_sentences,
        |  CAST(count(DISTINCT s.sent) AS BIGINT) AS n_unique,
        |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
        |FROM sents s JOIN dfs d ON s.sent = d.sent
        |GROUP BY s.doc_id""".stripMargin,
    // the same sentence CTEs verbatim; clean text re-assembled from
    // kept sentences in sid order (= the Spark side's posexplode
    // index), FILTER + coalesce so fully-boilerplate docs hash ''
    "text_clean_boilerplate" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents),
        |fl AS (SELECT doc_id, pos, tok,
        |    CASE WHEN regexp_matches(tok, '[.!?]$')
        |           OR (strpos('0123456789abcdef', substr(md5('sb:' || tok), 1, 1)) - 1) % 4 = 0
        |         THEN 1 ELSE 0 END AS boundary
        |  FROM t),
        |sids AS (SELECT doc_id, pos, tok,
        |    coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sid
        |  FROM fl),
        |sents AS (SELECT doc_id, sid, string_agg(tok, ' ' ORDER BY pos) AS sent
        |  FROM sids GROUP BY doc_id, sid),
        |dfs AS (SELECT sent AS sent_v, count(DISTINCT doc_id) AS df
        |  FROM sents GROUP BY sent)
        |SELECT s.doc_id AS doc_id,
        |  CAST(count(*) FILTER (WHERE d.df < 2) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE d.df >= 2) AS BIGINT) AS n_removed,
        |  md5(coalesce(string_agg(s.sent, ' ' ORDER BY s.sid)
        |    FILTER (WHERE d.df < 2), '')) AS clean_md5
        |FROM sents s JOIN dfs d ON s.sent = d.sent_v
        |GROUP BY s.doc_id""".stripMargin,
    "text_sentences" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents),
        |fl AS (SELECT doc_id, pos,
        |    CASE WHEN regexp_matches(tok, '[.!?]$')
        |           OR (strpos('0123456789abcdef', substr(md5('sb:' || tok), 1, 1)) - 1) % 4 = 0
        |         THEN 1 ELSE 0 END AS boundary
        |  FROM t),
        |sids AS (SELECT doc_id, pos,
        |    coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sid
        |  FROM fl),
        |per_sent AS (SELECT doc_id, sid, count(*) AS n_toks FROM sids GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_sentences,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(max(n_toks) AS BIGINT) AS max_sent_tokens,
        |  CAST(sum(n_toks) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_sent_tokens
        |FROM per_sent GROUP BY doc_id""".stripMargin,
    "text_casing" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok0 FROM documents),
        |cased AS (SELECT doc_id,
        |  CASE (strpos('0123456789abcdef', substr(md5('cs:' || tok0), 1, 1)) - 1) % 4
        |    WHEN 0 THEN upper(tok0)
        |    WHEN 1 THEN concat(upper(substr(tok0, 1, 1)), substr(tok0, 2))
        |    ELSE tok0 END AS tok
        |  FROM t)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN regexp_matches(tok, '^[A-Z]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_caps,
        |  CAST(sum(CASE WHEN regexp_matches(tok, '^[A-Z][a-z]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_title,
        |  CAST(sum(CASE WHEN regexp_matches(tok, '^[a-z]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_lower,
        |  CAST(sum(CASE WHEN regexp_matches(tok, '^[A-Z]+$') THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS caps_ratio
        |FROM cased GROUP BY doc_id""".stripMargin,
    "text_pii_scrub" ->
      """WITH decorated AS (SELECT doc_id,
        |  concat(text, ' contact user', doc_id, '@example.com or call 555-01',
        |         doc_id % 100) AS t
        |  FROM documents),
        |scrubbed AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(t,
        |    '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '[0-9][0-9-]+', '<NUM>', 'g') AS scrubbed
        |  FROM decorated)
        |SELECT doc_id, scrubbed,
        |  CAST(len(regexp_extract_all(scrubbed, '<EMAIL>')) +
        |       len(regexp_extract_all(scrubbed, '<NUM>')) AS BIGINT) AS n_masked
        |FROM scrubbed""".stripMargin,
    "text_html_links" ->
      """WITH html AS (SELECT doc_id,
        |  concat('<p><a href="https://videos.example/v', doc_id, '">demo</a> ',
        |         text, ' <a href="https://docs.example/d', doc_id % 7,
        |         '">ref</a></p>') AS h
        |  FROM documents),
        |links AS (SELECT doc_id,
        |  array_to_string(regexp_extract_all(h, 'href="([^"]+)"', 1), '|') AS links
        |  FROM html)
        |SELECT doc_id, links,
        |  CAST(len(string_split(links, '|')) AS BIGINT) AS n_links
        |FROM links""".stripMargin,
    "text_ngrams_top" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sets AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(ts)-1, 1)),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh_set FROM toks),
        |inv AS (SELECT doc_id, unnest(sh_set) AS shingle FROM sets)
        |SELECT shingle, count(*) AS doc_freq FROM inv
        |GROUP BY shingle ORDER BY doc_freq DESC, shingle LIMIT 20""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "text_quality" ->
      """WITH base AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','r','s'))) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_chars_m, n_tokens,
        |  round(CAST(n_chars_m AS DOUBLE) / n_tokens, 4) AS avg_token_len,
        |  round(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
        |  round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) *
        |    (1.0 - CAST(n_stop AS DOUBLE) / n_tokens), 4) AS quality_score
        |FROM base""".stripMargin,
    "text_langid" ->
      """WITH counted AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('key','value'))) AS BIGINT) AS c_de,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS BIGINT) AS c_en,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('data','row'))) AS BIGINT) AS c_es,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('table','column'))) AS BIGINT) AS c_fr,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('query','join'))) AS BIGINT) AS c_zh
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
        |       WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
        |       WHEN c_es >= c_de AND c_es >= c_en AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
        |       WHEN c_fr >= c_de AND c_fr >= c_en AND c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
        |       ELSE 'zh' END AS pred_lang,
        |  c_de, c_en, c_es, c_fr, c_zh
        |FROM counted""".stripMargin,
    "text_fingerprint" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents)
        |SELECT doc_id, md5(lower(text)) AS fp_md5,
        |  coalesce(list_min(list_transform(range(1, greatest(len(ts)-1, 1)),
        |    i -> md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))), '') AS fp_min_shingle
        |FROM toks""".stripMargin
  )
}
