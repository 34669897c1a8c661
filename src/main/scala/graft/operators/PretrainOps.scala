package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 widening of the training-data pipeline surface: corpus
  * quality gating (Gopher-style repetition rules), benchmark
  * decontamination, deterministic sampling (stratified and
  * quality-weighted), data-mixture planning, and embedding centroids
  * (the k-means assignment step of semantic clustering).
  *
  * Scale posture: the per-document rules are map-only array plans (no
  * shuffle at all — they run at scan speed over 100 TB); sampling is a
  * pushable hash predicate (md5 parity, the engine's standard
  * deterministic-sampling idiom); decontamination broadcasts the
  * benchmark n-gram set (benchmark suites are small by construction —
  * that is the whole premise of decontamination); centroids shuffle
  * (label, dim) pairs, never whole vectors.
  */
object PretrainOps {

  /** Gopher-style repetition/quality rules, per document: duplicate
    * -token fraction, top-token fraction, mean token length, and the
    * keep/drop gate. All ratios are exact-integer divisions (no
    * summation-order hazard); the token frequency scan is
    * O(distinct·tokens) per doc over a MATERIALIZED token array (two
    * selects — CollapseProject keeps non-cheap multiply-referenced
    * expressions un-inlined, the SURVEY §8b lesson). Real pipelines set
    * the thresholds from held-out calibration; these are fitted to the
    * synthetic corpus so both classes are populated.
    *
    * Mirrors the reference's per-record validation gate
    * (transforms/clean_data.py:1) generalized to corpus quality rules. */
  def textGopherRules(s: SparkSession, d: String): DataFrame =
    gopherBase(s, d).select("doc_id", "n_tokens", "dup_frac", "top_frac",
      "mean_tok_len", "keep_doc")

  /** Rules + identity columns in one map-only pass (shared with the
    * end-to-end pipeline stats, which chains the gate with dedup and
    * sampling).
    *
    * Complexity bound: the top-token count is O(distinct·tokens) per
    * document in this array form — right for web-document corpora
    * (10²–10⁴ tokens, and the constant is tiny because it never leaves
    * the row). For book-scale documents (10⁶ tokens) that term goes
    * quadratic; the correct shape there is the oracle's own relational
    * form — explode → (doc, token) count → per-doc max — which costs
    * one doc-keyed shuffle and is linear. Same results; pick by the
    * corpus's document-length profile. */
  private def gopherBase(s: SparkSession, d: String): DataFrame = {
    // native one-sweep token stats (`Tokens.gramStats`): the
    // array-HOF form interpreted O(distinct·tokens) per doc and was
    // the dominant honest-timed cost of the quality lane at sf10
    graft.plans.Natives.ensure(s)
    val stats = documents(s, d)
      .select(col("doc_id"), col("lang"),
        md5(lower(col("text"))).as("fp"), expr("graft_gram_stats(text, 1)").as("s1"))
      .select(
        col("doc_id"), col("lang"), col("fp"),
        col("s1.n_grams").as("n_tokens"),
        col("s1.n_distinct").as("n_distinct"),
        col("s1.top_cnt").as("top_cnt"),
        col("s1.sum_tok_len").as("sum_tok_len"))
    stats.select(
      col("doc_id"), col("lang"), col("fp"), col("n_tokens"),
      r4(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_frac"),
      r4(col("top_cnt").cast("double") / col("n_tokens")).as("top_frac"),
      r4(col("sum_tok_len").cast("double") / col("n_tokens")).as("mean_tok_len"))
      .withColumn("keep_doc", gopherKeep)
  }

  // rounding and keep gates live at object level: the named signal ops AND
  // the fused single-pass gate (pretrainQualityFused) evaluate the SAME
  // definitions, so twin and parts cannot drift.
  private def r4(c: Column): Column = floor(c * 1e4 + 0.5) / 1e4
  // keep gates over their named frac columns — thresholds live ONCE
  // (fitted to the synthetic corpus; production calibrates held-out)
  private def gopherKeep: Column =
    col("n_tokens") >= 40 && col("mean_tok_len") <= 5.0 &&
      col("top_frac") <= 0.12 && col("dup_frac") <= 0.55
  private def repKeep: Column =
    col("dup2_frac") <= 0.12 && col("top2_frac") <= 0.0625 &&
      col("dup3_frac") <= 0.06

  /** The repetition rules' domain, ≥3 tokens (at least one 3-gram),
    * stated on the text: under the [[graft.plans.Tokens]] contract a
    * document has k + 1 tokens for k 0x20 bytes. A filter on the
    * `graft_gram_stats(text, 3)` struct instead is pushed below the
    * projection with the expression inlined, which sorts each
    * document's 3-gram windows twice. Null text fails both forms. */
  private val threeTokens = expr("length(text) - length(replace(text, ' ', '')) >= 2")

  /** Gopher's n-gram repetition rules (Rae et al. 2021, §A1.1) — the
    * within-document half the token-level gate above can't see: a doc
    * that loops one phrase has a modest duplicate-TOKEN fraction but a
    * high duplicate-N-GRAM fraction. Per n ∈ {2,3}: the share of
    * n-gram instances whose n-gram occurs ≥2× in the doc, and the top
    * n-gram's instance share. (The paper scores character coverage
    * over n = 2..10; the instance-share form here keeps the whole
    * metric in exact integer arithmetic — same signal, no
    * summation-order hazard, and two representative n are enough for
    * a gate.) Map-only like the token rules: `graft_gram_stats` counts
    * each n's grams inside the row, and only seven numbers per doc leave
    * the scan, so this runs at scan speed over 100 TB. */
  def textRepetition(s: SparkSession, d: String): DataFrame = {
    // native gram stats (`Tokens.gramStats`): one byte sweep
    // per n replaces the interpreted build-array/count-within-row HOF
    // chain
    graft.plans.Natives.ensure(s)
    val m = documents(s, d).filter(threeTokens)
      .select(col("doc_id"),
        expr("graft_gram_stats(text, 2)").as("s2"),
        expr("graft_gram_stats(text, 3)").as("s3"))
      .select(col("doc_id"),
        col("s2.n_grams").as("g2"), col("s3.n_grams").as("g3"),
        col("s2.top_cnt").as("top2"), col("s2.dup_inst").as("dup2"),
        col("s3.top_cnt").as("top3"), col("s3.dup_inst").as("dup3"))
    m.select(col("doc_id"), col("g2").as("n_2grams"),
      r4(col("dup2").cast("double") / col("g2")).as("dup2_frac"),
      r4(col("top2").cast("double") / col("g2")).as("top2_frac"),
      r4(col("dup3").cast("double") / col("g3")).as("dup3_frac"),
      r4(col("top3").cast("double") / col("g3")).as("top3_frac"))
      .withColumn("keep_doc", repKeep)
  }

  /** Fixed-window duplicated-span coverage — the scalable approximation
    * of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every rolling
    * 8-token window is hashed; a window whose hash appears in ≥2
    * distinct documents is a duplicated-span instance, and the per-doc
    * duplicated fraction is the removal budget a span-cutting pass
    * would act on. Complements dedup_cdc_chunks: CDC cuts
    * edit-resilient variable chunks and reports the top offenders;
    * fixed windows measure per-document COVERAGE, which is what the
    * keep/trim/drop decision needs.
    *
    * Scale shape: windows are hashed INSIDE the row (map-only) and only
    * (hash, doc_id) pairs leave the scan — the W× text amplification
    * never hits the wire as strings. Then (a) one (hash, doc)-keyed
    * aggregate with map-side combine collapses within-doc repeats, (b)
    * cross-doc frequency is a count-over-window on the hash partition
    * of that output — the distinct-pair stream, the narrowest the
    * answer can be computed from, with no join back, (c) the doc
    * rollup recovers n_windows as Σcnt, so the corpus is scanned
    * exactly once. Three balanced hash exchanges, no driver state. */
  def dedupSpanWindows(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 8
    val win = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= W)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("tk")) - (W - 1)),
          i => md5(concat_ws(" ", slice(col("tk"), i, lit(W)))))).as("h"))
    // ONE exchange serves both h-keyed operations (guide §2.4): the
    // (h, doc_id) aggregate's ClusteredDistribution is satisfied by
    // hashpartitioning(h) (partition keys ⊂ clustering keys), and the
    // df window needs exactly partitionBy(h) — so repartitioning the
    // window stream by h once replaces the old groupBy(h, doc_id)
    // exchange + window re-exchange pair. Map-side partial aggregation
    // bought nothing here anyway: (h, doc_id) pairs are ~unique (a
    // window repeats within one doc only on an in-doc duplicated
    // 8-gram), so both old exchanges carried the same 15 MB at sf0.1.
    val pairs = win.repartition(col("h"))
      .groupBy("h", "doc_id").agg(count(lit(1)).as("cnt"))
    val withDf = pairs.withColumn("df",
      count(lit(1)).over(Window.partitionBy("h")))
    withDf.groupBy("doc_id").agg(
      sum("cnt").as("n_windows"),
      sum(when(col("df") >= 2, col("cnt")).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        floor(col("n_dup").cast("double") / col("n_windows") * 1e4 + 0.5) / 1e4)
  }

  /** Content-defined chunking (CDC) duplicated-substring report — the
    * sub-document exact-dedup technique: rolling-hash boundaries cut
    * each doc into variable-length chunks whose edges survive local
    * edits (unlike fixed windows), duplicated chunks across docs are
    * the removable substrings. Chunking is MAP-ONLY (the shared
    * split-at-boundary construction with a 1/8-rate hash boundary,
    * ~8-token chunks); the only shuffle is the chunk-hash aggregate,
    * keyed on a 32-hex md5, never chunk text. Top-50 by document
    * frequency with a total-order tiebreak. */
  def dedupCdcChunks(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        explode(TextOps.segmentsArr(col("tk"), cdcBoundary)).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_h"))
      .groupBy("chunk_h")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("n_occ"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("n_occ").desc, col("chunk_h"))
      .limit(50)

  private def cdcBoundary(t: Column): Column =
    conv(substring(md5(concat(lit("cdc:"), t)), 1, 1), 16, 10)
      .cast("int") % 8 === 0

  /** End-to-end corpus-construction attrition: raw docs → quality gate
    * → exact dedup (keeper = min doc, with its language) → stratified
    * sample, one count per stage. The chain is fully declarative —
    * quality is the map-only gate above, dedup is one fingerprint
    * groupBy, sampling is a pushable hash predicate on the keeper — so
    * at 100 TB this is one scan, one shuffle, and three tiny
    * aggregates. */
  def pretrainPipelineStats(s: SparkSession, d: String): DataFrame = {
    // two aggregates, not four: stages 0/1 are conditional counts of
    // one corpus pass, stages 2/3 conditional counts of the keeper
    // aggregate — a branch-per-stage union would rescan the (map-only
    // but not free) rules base once per stage
    val g = gopherBase(s, d)
    val corpus = g.agg(count(lit(1)).as("n_all"),
      sum(when(col("keep_doc"), 1L).otherwise(0L)).as("n_kept"))
    val keepers = g.filter(col("keep_doc")).groupBy("fp")
      .agg(min("doc_id").as("keeper_id"),
        min_by(col("lang"), col("doc_id")).as("keeper_lang"))
    val samplePred =
      substring(md5(concat(lit("strat:"), col("keeper_id"))), 1, 2) <
        when(col("keeper_lang") === "en", "80")
          .when(col("keeper_lang") === "de", "40")
          .otherwise("1a")
    val dedup = keepers.agg(count(lit(1)).as("n_dedup"),
      sum(when(samplePred, 1L).otherwise(0L)).as("n_sampled"))
    corpus.crossJoin(dedup).select(explode(array(
      struct(lit(0).as("stage"), lit("all").as("stage_name"), col("n_all").as("n_docs")),
      struct(lit(1).as("stage"), lit("quality").as("stage_name"), col("n_kept").as("n_docs")),
      struct(lit(2).as("stage"), lit("dedup").as("stage_name"), col("n_dedup").as("n_docs")),
      struct(lit(3).as("stage"), lit("sample").as("stage_name"), col("n_sampled").as("n_docs"))))
      .as("r"))
      .select(col("r.stage").as("stage"), col("r.stage_name").as("stage_name"),
        col("r.n_docs").as("n_docs"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * n-gram with a held-out benchmark set (here the deterministic
    * doc_id % 97 slice stands in for the benchmark). Reuses the shared
    * relational shingle index (one definition with the dedup family);
    * the benchmark side is explicitly broadcast — eval suites are
    * orders of magnitude smaller than the corpus, so the corpus-side
    * token stream never shuffles. Real pipelines use 8–13-gram
    * contamination windows; the synthetic corpus needs 3-grams to have
    * any collision signal at all. */
  def textDecontaminate(s: SparkSession, d: String): DataFrame = {
    // the shared shingle index is map-only, so each side of this join
    // is a plain scan — recomputing it per side costs no shuffle.
    // The forced broadcast below is justified by the DOMAIN, not the
    // query shape: real decontamination suites (the published eval
    // sets a lab screens against) are bounded — millions of n-grams,
    // tens of MB — independent of corpus size. The `% 97` slice here
    // is only a stand-in WITH THE WRONG GROWTH LAW (it scales with the
    // corpus); a production caller must pass a real suite and, as with
    // SimilarityOps' block cap, size-gate the broadcast
    // (spark.sql.autoBroadcastJoinThreshold or an explicit row-count
    // probe) rather than force it on corpus-derived data.
    val sh = DedupOps.shingleRows(s, d).select("doc_id", "shingle")
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(col("shingle").as("b_shingle")).distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), col("shingle") === col("b_shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Stratified sampling with per-language rates (the data-mixing
    * downsample step): a deterministic md5 threshold per stratum, fully
    * pushable — at 100 TB this is a predicate on the scan, no shuffle,
    * and re-runs reproduce the exact sample. */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(substring(md5(concat(lit("strat:"), col("doc_id"))), 1, 2) <
        when(col("lang") === "en", "80")
          .when(col("lang") === "de", "40")
          .otherwise("1a"))
      .select(col("doc_id"), col("lang"))

  /** Deterministic train/validation/test split — the holdout carve
    * every training corpus needs before anything else touches it. The
    * split key is a salted md5 prefix (the sampling family's idiom):
    * hex-threshold assignment gives exact, engine-portable boundaries
    * (~97.7% / 1.17% / 1.17% — 250/3/3 of 256) with zero float
    * arithmetic, stable under re-runs, re-partitioning and corpus
    * growth (a doc's split never changes when others arrive — the
    * property random splits lack). Output is the per-(split, lang)
    * audit: doc counts and char mass. Map-only assignment + one tiny
    * aggregate; at 100 TB the assignment is a pushable projection. */
  def sampleSplit(s: SparkSession, d: String): DataFrame = {
    val h2 = substring(md5(concat(lit("split:"), col("doc_id"))), 1, 2)
    documents(s, d)
      .select(col("lang"), col("n_chars"),
        when(h2 < "fa", "train").when(h2 < "fd", "val").otherwise("test")
          .as("split"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("n_chars_total"))
  }

  /** Quality-weighted sampling: acceptance probability proportional to
    * a per-document weight (here the length-based quality ramp),
    * decided by an 8-bit hash uniform — the deterministic analogue of
    * temperature sampling for data mixing. Map-only, pushable. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val u = expr(
      "(instr('0123456789abcdef', substring(md5(concat('wt:', doc_id)), 1, 1)) - 1) * 16 + " +
      "(instr('0123456789abcdef', substring(md5(concat('wt:', doc_id)), 2, 1)) - 1)")
    documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("weight",
        floor(least(lit(1.0), col("n_tokens").cast("double") / 80.0) * 1e4 + 0.5) / 1e4)
      .filter(u < floor(least(lit(1.0), col("n_tokens").cast("double") / 80.0) * 256))
      .select(col("doc_id"), col("n_tokens"), col("weight"))
  }

  /** Language-mixture plan: alpha-smoothed (α=0.5) sampling weights per
    * language — the standard multilingual rebalancing formula
    * (w_l ∝ p_l^α, normalized). Two tiny windows over the 5-row
    * aggregate, nothing fact-scale; sqrt is IEEE correctly-rounded so
    * both engines agree bit-for-bit before the floor-round. */
  def mixLanguageBalance(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("frac0",
        col("n_docs").cast("double") / sum("n_docs").over(all))
      .withColumn("w", sqrt(col("frac0")))
      .select(col("lang"), col("n_docs"),
        (floor(col("frac0") * 1e6 + 0.5) / 1e6).as("frac"),
        (floor(col("w") / sum("w").over(all) * 1e4 + 0.5) / 1e4).as("sample_frac"))
  }

  /** Per-language epoch plan: how many passes over each language's
    * data a temperature-balanced (α=0.5) mixture implies. Token mass
    * per language (exact integer sum) → actual share → α-smoothed
    * target share → `epochs = target/actual`: low-resource languages
    * get >1 epochs (upsampled), dominant ones <1 — the concrete repeat
    * factors a data loader executes, where mix_language_balance only
    * states the target fractions. Everything beyond the one fact-scan
    * aggregate runs on the per-language table (a handful of rows). */
  def mixEpochPlan(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    documents(s, d)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("lang").agg(sum("nt").as("n_tokens"))
      .withColumn("frac0", col("n_tokens").cast("double") / sum("n_tokens").over(all))
      .withColumn("w", sqrt(col("frac0")) / sum(sqrt(col("frac0"))).over(all))
      .select(col("lang"), col("n_tokens"),
        (floor(col("w") * 1e4 + 0.5) / 1e4).as("target_frac"),
        (floor(col("w") / col("frac0") * 1e4 + 0.5) / 1e4).as("epochs"))
  }

  /** Per-label embedding centroids — the assignment-step aggregate of
    * k-means / semantic dedup. Vectors are posexploded to (label, dim,
    * value) so the shuffle moves scalar triplets keyed by (label, dim),
    * never whole vectors, and the aggregate is a plain codegen'd avg
    * with map-side partials — at 100 TB this is one balanced shuffle of
    * labels·dims cells. */
  def simCentroids(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg((floor(avg(col("v").cast("double")) * 1e4 + 0.5) / 1e4).as("c"),
        count(lit(1)).as("n_vecs"))

  /** GPT-style sequence packing (concat-and-chunk): documents are
    * concatenated in doc_id order and cut into fixed 4096-token
    * context windows; each doc reports its global token offset and the
    * first/last window it lands in — the exact bookkeeping a training
    * data loader needs to map documents to packed sequences.
    *
    * The global running sum is the q_pareto_dist pattern, NOT a
    * single-partition window: range-partition on doc_id (materialized
    * once so the pids are frozen in data — boundaries are sampled, see
    * OlapQueries.qParetoDist), per-partition running sum, then a
    * broadcast P-row exclusive-prefix offset join. The widest sort is
    * n/P rows; a plain `Window.orderBy(doc_id)` would funnel the whole
    * corpus through one task, the textbook 100 TB failure. */
  def pretrainSeqPack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Loop.TruncOps
    // the 2-column projection is checkpointed BEFORE the range exchange
    // (r21): repartitionByRange samples its child for bounds, so the
    // un-materialized form ran split()-per-doc twice — sampling pass +
    // real exchange. The ranged checkpoint (below) still freezes pid.
    val ranged = documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .truncEager
      .repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .truncEager
    val counts = ranged.groupBy("pid").agg(sum("n_tokens").as("ptoks"))
    // exclusive prefix sum over the P-row per-partition totals
    val offsets = counts.withColumn("off",
      coalesce(sum("ptoks").over(Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    ranged
      .withColumn("local_cum", sum("n_tokens").over(
        Window.partitionBy("pid").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets.select("pid", "off")), "pid")
      .withColumn("start_tok", col("off") + col("local_cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        expr("start_tok DIV 4096").as("seq_first"),
        expr("(start_tok + n_tokens - 1) DIV 4096").as("seq_last"))
  }

  /** Reproducible corpus shuffle-shard: every document gets a
    * deterministic shard (md5 bucket) and a position within its shard
    * (md5 rank, doc_id tiebreak) — the training-data-loader layout step
    * that turns a corpus into N randomized, individually-ordered input
    * shards, identically on every re-run (no RNG state, resumable).
    *
    * Scale: shard assignment is map-only and pushable; the within-shard
    * ordering is a row_number per shard key, and shard count is a
    * config sized well above executor count in production (thousands),
    * so per-group sorts stay small and spread — never one global sort.
    * 10 shards here keeps the test-SF oracle readable. */
  def pretrainShuffleShard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nib = (i: Int) =>
      s"(instr('0123456789abcdef', substring(md5(concat('shard:', doc_id)), $i, 1)) - 1)"
    val w = Window.partitionBy("shard").orderBy(col("rank_key"), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"),
        expr(s"(${nib(1)} * 16 + ${nib(2)}) % 10").cast("long").as("shard"),
        substring(md5(concat(lit("shard:"), col("doc_id"))), 3, 8).as("rank_key"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Composite quality gate: the three independent per-doc signals —
    * Gopher token rules, n-gram repetition rules, and the
    * length/stopword quality score — combined into one score in [0,1]
    * (each gate one vote, exact thirds in 1e4 fixed point) and a
    * unanimous keep verdict. This is the filter-ensemble shape a
    * production pretrain pipeline actually gates on: signals stay
    * individually named (debuggable, re-weightable) and the oracle
    * reuses each signal's own SQL verbatim as a CTE, so the composite
    * can never drift from its parts.
    *
    * Scale: each input is a map-only scan; the composite is two
    * doc_id equi-joins of same-keyed, same-sized projections (AQE
    * converts them to broadcast/co-partitioned as sizes allow). The
    * DEPLOYABLE form at 100 TB is [[pretrainQualityFused]] — one scan,
    * zero joins, same oracle; this named-op join form keeps the
    * contract testable per signal. */
  def pretrainQualityScore(s: SparkSession, d: String): DataFrame = {
    val g = textGopherRules(s, d).select(col("doc_id"), col("keep_doc").as("gopher_keep"))
    val r = textRepetition(s, d).select(col("doc_id"), col("keep_doc").as("rep_keep"))
    val q = TextOps.textQuality(s, d).select(col("doc_id"),
      (col("quality_score") >= 0.5).as("qual_keep"))
    g.join(r, "doc_id").join(q, "doc_id")
      .select(col("doc_id"), col("gopher_keep"), col("rep_keep"), col("qual_keep"),
        r4((col("gopher_keep").cast("int") + col("rep_keep").cast("int") +
          col("qual_keep").cast("int")).cast("double") / 3.0).as("score"),
        (col("gopher_keep") && col("rep_keep") && col("qual_keep")).as("keep_doc"))
  }

  /** Fused single-pass twin of [[pretrainQualityScore]]: the same three
    * signals — Gopher token rules, n-gram repetition rules, quality
    * score — evaluated in ONE scan of documents with ZERO joins, the
    * form a 100 TB deployment runs (the named-op composite above pays
    * three scans and two doc_id joins to keep each signal individually
    * testable). Same oracle SQL as the composite, so the fusion is
    * hash-gated against the joined form every round; the building
    * blocks (grams/cnts/r4/stopCount, gopherKeep/repKeep) are the
    * object-level definitions the named ops themselves evaluate.
    *
    * Staged selects (tk, then the n-gram arrays, then per-array
    * scalars) keep each expensive array materialized once per row —
    * the §8b CollapseProject rule; everything is per-row array math,
    * so the plan is a single WholeStageCodegen-free map over the scan
    * (HOF lambdas interpret, as in the named ops) with only seven
    * scalars per doc surviving. */
  def pretrainQualityFused(s: SparkSession, d: String): DataFrame =
    qualityFracs(s, d)
      .select(col("doc_id"),
        gopherKeep.as("gopher_keep"), repKeep.as("rep_keep"),
        (col("quality_score") >= 0.5).as("qual_keep"))
      .select(col("doc_id"), col("gopher_keep"), col("rep_keep"), col("qual_keep"),
        r4((col("gopher_keep").cast("int") + col("rep_keep").cast("int") +
          col("qual_keep").cast("int")).cast("double") / 3.0).as("score"),
        (col("gopher_keep") && col("rep_keep") && col("qual_keep")).as("keep_doc"))

  /** The fused gate's per-doc statistics (every signal the three
    * heuristics threshold, one scan, zero joins) behind the fused
    * keep verdicts. (The learned classifier derives its features from
    * [[qmCounts]] — the same graft_gram_stats scan one step earlier,
    * before the display-rounding to 4-decimal fractions — so its
    * lane stays integer-exact end to end.) */
  private[operators] def qualityFracs(s: SparkSession, d: String): DataFrame = {
    // textRepetition's domain (≥3 tokens) — the composite's inner joins
    // restrict it the same way
    graft.plans.Natives.ensure(s)
    val c = documents(s, d).filter(threeTokens)
      .select(col("doc_id"),
        expr("graft_gram_stats(text, 1)").as("s1"),
        expr("graft_gram_stats(text, 2)").as("s2"),
        expr("graft_gram_stats(text, 3)").as("s3"),
        TextOps.stopCount(split(col("text"), " ")).as("n_stop"))
      .select(col("doc_id"),
        col("s1.n_grams").as("n_tokens"), col("s1.n_distinct").as("n_distinct"),
        col("s1.top_cnt").as("top_cnt"), col("s1.sum_tok_len").as("sum_tok_len"),
        col("n_stop"),
        col("s2.n_grams").as("g2"), col("s2.top_cnt").as("top2"),
        col("s2.dup_inst").as("dup2"),
        col("s3.n_grams").as("g3"), col("s3.dup_inst").as("dup3"))
    val fracs = c.select(col("doc_id"),
      col("n_tokens"),
      r4(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_frac"),
      r4(col("top_cnt").cast("double") / col("n_tokens")).as("top_frac"),
      r4(col("sum_tok_len").cast("double") / col("n_tokens")).as("mean_tok_len"),
      round(least(lit(1.0), col("n_tokens").cast("double") / 100.0) *
        (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")), 4).as("quality_score"),
      r4(col("dup2").cast("double") / col("g2")).as("dup2_frac"),
      r4(col("top2").cast("double") / col("g2")).as("top2_frac"),
      r4(col("dup3").cast("double") / col("g3")).as("dup3_frac"))
    fracs
  }

  // ---- pretrain_quality_model: the LEARNED quality classifier (r18) --
  // fixed-point contract shared bit-for-bit by the Spark training loop
  // and the oracle's unrolled steps. All arithmetic is integer; Spark
  // DIV, DuckDB // and Scala / all truncate toward zero on negatives
  // (verified), so gradients and weights may go negative freely.
  private[operators] val QM_B = 8          // hashed token-feature buckets
  private[operators] val QM_F = QM_B + 8   // + the ensemble's own doc statistics
  private[operators] val QM_FP = 10000L    // feature fixed point
  private[operators] val QM_W = 1000000L   // probability fixed point
  private[operators] val QM_LR = 8L        // step numerator (per-doc QM_LR/(n·cw))
  private[operators] val QM_EPS = 100L     // stop: Σ|Δw| ≤ EPS weight units
  private[operators] val QM_MAX = 40       // hard iteration bound
  private[operators] val QM_PART_ROWS = 262144L // GD-loop rows/task (~32 MB)
  private[operators] val QM_FEAT_MOD = 17L // feature-trace sample modulus

  /** A LEARNED quality classifier trained in-engine — the CCNet/
    * fastText-shaped lane the heuristic ensemble ([[pretrainQualityScore]])
    * still lacked: batch logistic regression over hashed bag-of-words
    * features, with the curated training set replaced by the engine's
    * own gate (distillation — the learned scorer reproduces the
    * unanimous keep verdict from token-bucket fractions alone, and a
    * real deployment swaps the label CTE for its curated corpus).
    *
    * Model, exactly fixed-point so the oracle can mirror it:
    *  - features: QM_B md5-hashed token-bucket fractions (the fastText
    *    bag-of-words analogue, portable hash family) PLUS the eight
    *    document statistics the labeler itself thresholds (dup/top/
    *    2-gram/3-gram fractions, mean token length, quality score,
    *    saturating length) — the distillation posture: the student
    *    sees what the teacher saw, but must fit ONE linear scorer to
    *    the teacher's non-linear AND-of-thresholds (a float-precision
    *    logistic fit caps at AUC 0.78 on these features — measured);
    *    a constant-QM_FP bias closes the vector. Features min-max
    *    standardize to [−FP, FP] in integers (raw scales differ 50×;
    *    GD crawls unstandardized — AUC 0.60 vs 0.74, measured), and
    *    positives weight n0/n1 (balanced logistic regression — the
    *    unweighted loss on a 5%-positive corpus just learns the base
    *    rate);
    *  - p = hard-sigmoid(z) = clamp(W/2 + z DIV 4, 0, W) with
    *    z = (Σ x_b·w_b) DIV QM_FP — the piecewise-linear sigmoid
    *    (quantized-training's standard replacement) keeps every step
    *    in exact integer arithmetic where exp() never could;
    *  - batch gradient ascent on the logistic objective:
    *    g_b = (Σ_docs x_b·(y·W − p)) DIV QM_FP,
    *    w_b += (QM_LR · g_b) DIV n;
    *  - stop at Σ|Δw| ≤ QM_EPS or QM_MAX steps (the delta rule may not
    *    fire — hard-sigmoid saturation can leave a small oscillating
    *    residual — and then the bound binds IDENTICALLY in both
    *    engines, the PR_MAX_REAL posture).
    *
    * Scale posture: the feature table (n rows × 10 longs) materializes
    * ONCE (localCheckpoint); each training step is then ONE scan of it
    * — one global aggregate, 9 scalars to the driver (the kmeans
    * K×dim contract), weights re-entering the next step as literals
    * inside whole-stage codegen. No joins, no shuffle in the loop
    * (the aggregate's partials are 9 longs per partition). The oracle
    * unrolls QM_MAX materialized weight CTEs, per-step delta scalars,
    * and picks min{t : δ_t ≤ EPS} — the q_pagerank_converged /
    * sim_kmeans_converged discipline, third verse.
    *
    * Output per labeled doc: the learned score (fixed-point p), the
    * hard prediction, the training label, and the converged depth.
    * Ranking agreement vs the heuristic ensemble is spec-measured. */
  def pretrainQualityModel(s: SparkSession, d: String): DataFrame = {
    val (feats, n, cw) = qmFeatures(s, d)
    val vecs = qmVectors(feats)
    try {
      val w = Array.fill(QM_F + 1)(0L)
      val (it, _) = Loop.converge(QM_MAX) { qmStep(vecs, w, n, cw) <= QM_EPS }
      feats.select(col("doc_id"), col("y").as("label"),
        expr(qmPSql(w)).as("score_fp"), lit(it.toLong).as("n_iters"))
        .select(col("doc_id"), col("label"), col("score_fp"),
          (col("score_fp") >= QM_W / 2).cast("int").as("pred"), col("n_iters"))
    } finally vecs.unpersist(blocking = false)
  }

  /** Per-step weight trace of the SAME training loop — the diagnostic
    * twin the r18 gate failure demanded (the q_attribution_rows move):
    * one row per GD step carrying every weight and Σ|Δw|, so a future
    * hash mismatch on [[pretrainQualityModel]] names the exact step
    * where engine and oracle arithmetic diverge instead of hiding
    * behind 500 flipped scores. Runs the full QM_MAX unroll (no early
    * stop) to match the oracle's w1..w_QM_MAX CTE chain row for row;
    * the converged prefix is a prefix of this trace by construction. */
  def pretrainQualityModelTrace(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val (feats, n, cw) = qmFeatures(s, d)
    val vecs = qmVectors(feats)
    val rows = try {
      val w = Array.fill(QM_F + 1)(0L)
      (1 to QM_MAX).map { step =>
        val delta = qmStep(vecs, w, n, cw)
        org.apache.spark.sql.Row.fromSeq(step.toLong +: w.toSeq :+ delta)
      }
    } finally vecs.unpersist(blocking = false)
    val schema = StructType(
      StructField("step", LongType, nullable = false) +:
        (0 to QM_F).map(i => StructField(s"w$i", LongType, nullable = false)) :+
        StructField("delta", LongType, nullable = false))
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
  }

  /** Per-doc FEATURE trace — the bisect rung below the weight trace
    * (r19 verdict's prescribed lane): a deterministic doc_id-modulus
    * sample of the standardized feature table (doc_id, y, x0..x15),
    * oracled by the model oracle's own f2 CTE. The weight trace
    * validates every AGGREGATE of f2; this lane validates the per-doc
    * ROWS those aggregates can hide (flips that cancel inside 17
    * gradient sums still flip the flipped docs' final scores). A red
    * row here names the exact doc and feature; green here + green
    * trace + red model would isolate the scoring tail. Diagnostic
    * grain: the modulus keeps it a constant fraction at any corpus
    * size, and the gate runs it at sf0.01 (~30 rows). */
  def pretrainQualityFeatures(s: SparkSession, d: String): DataFrame = {
    val (feats, _, _) = qmFeatures(s, d)
    feats.filter(col("doc_id") % QM_FEAT_MOD === 0)
      .select(col("doc_id") +: col("y") +:
        (0 until QM_F).map(i => col(s"x$i")): _*)
  }

  private def qmZSql(w: Array[Long]): String =
    (0 until QM_F).map(i => s"x$i * ${w(i)}L").mkString(" + ") +
      s" + $QM_FP * ${w(QM_F)}L"
  private def qmPSql(w: Array[Long]): String =
    s"GREATEST(0L, LEAST(${QM_W}L, ${QM_W / 2}L + ((${qmZSql(w)}) DIV $QM_FP) DIV 4))"

  /** The standardized feature table lowered ONCE to a persisted RDD of
    * primitive vectors [x0..x{F-1}, y] — the MLlib batch-GD
    * architecture (LogisticRegression trains by treeAggregate over a
    * persisted instance RDD for exactly this reason). The r20 round
    * made each step's generated CODE cacheable (QmErr); what remained
    * (r20 verdict #1, the top two batch lanes) was the OTHER per-step
    * fixed cost: QM_MAX sequential driver-synchronous DataFrame
    * aggregates, each paying a fresh Catalyst analyze/optimize/plan
    * (the evolving weight literal makes every step's plan new), job
    * scheduling, and WholeStageCodegen setup — pure latency that no
    * data size amortizes at bench SFs and that 2×QM_MAX = 80 jobs per
    * bench pass multiply. A GD step over this RDD is one
    * treeAggregate over in-memory long[] rows: no per-step plan, no
    * row decode, the same one-job-per-step barrier. MEMORY_AND_DISK:
    * at 100 TB the vector table is (gate-domain docs)×17 longs and
    * spills instead of OOMing; partitioning inherits qmFeatures'
    * scale-adaptive coalesce. */
  private[operators] def qmVectors(feats: DataFrame):
      org.apache.spark.rdd.RDD[Array[Long]] = {
    val f = QM_F
    feats.select((0 until QM_F).map(i => col(s"x$i")) :+ col("y"): _*)
      .rdd.map { r =>
        val a = new Array[Long](f + 1)
        var i = 0
        while (i <= f) { a(i) = r.getLong(i); i += 1 }
        a
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** One batch-GD step: ONE treeAggregate over the persisted vectors,
    * F+1 gradient scalars to the driver, `w` updated in place; returns
    * Σ|Δw|. Arithmetic BIT-IDENTICAL to the DataFrame-aggregate form
    * it replaces (and to the oracle's unrolled CTEs): per row the same
    * z/err tail (graft.plans.QmErr.err — the scalar shared with the
    * r19/r20 SQL forms), per feature the same long product-sum (long
    * addition is commutative, so partial-aggregation order cannot
    * matter), and the same truncating divisions on the driver. All
    * division here is Scala `/` / Spark `DIV` (truncation toward
    * zero); the oracle mirrors every negative-capable division with
    * sign-adjusted non-negative `//` so DuckDB builds agree too.
    * (History of this step's forms, each fixing the next bottleneck
    * down: r18 inlined sigmoid → 17× codegen blowup; r19 one err
    * projection → per-step Janino recompiles; r20 QmErr reference-object
    * weights → cached codegen; r21 no per-step Catalyst at all.) */
  private[operators] def qmStep(vecs: org.apache.spark.rdd.RDD[Array[Long]],
      w: Array[Long], n: Long, cw: Long): Long = {
    val f = QM_F
    val wW = QM_W
    val fp = QM_FP
    val cwl = cw
    val wl = w.clone() // stable snapshot shipped inside the task closure
    val g = vecs.treeAggregate(new Array[Long](f + 1))(
      (acc, v) => {
        var z = fp * wl(f)
        var i = 0
        while (i < f) { z += v(i) * wl(i); i += 1 }
        val err = graft.plans.QmErr.err(z, v(f), wl, wW, cwl, fp)
        i = 0
        while (i < f) { acc(i) += v(i) * err; i += 1 }
        acc(f) += err // bias x = QM_FP: (Σ QM_FP·err) DIV QM_FP = Σ err exactly
        acc
      },
      (a, b) => { var i = 0; while (i <= f) { a(i) += b(i); i += 1 }; a })
    var delta = 0L
    var i = 0
    while (i <= f) {
      val gv = if (i < f) g(i) / QM_FP else g(i)
      val dw = (QM_LR * gv) / (n * cw)
      w(i) += dw
      delta += math.abs(dw)
      i += 1
    }
    delta
  }

  /** Raw per-document integer counts behind the learned classifier:
    * unigram stats (token count, distinct, top, summed char length,
    * stopword instances) and the 2-/3-gram repetition counts, one
    * graft_gram_stats scan, domain ≥3 tokens (the repetition rules').
    * Everything downstream of this table is integer arithmetic. */
  private[operators] def qmCounts(s: SparkSession, d: String): DataFrame = {
    graft.plans.Natives.ensure(s)
    // bk rides the SAME scan (r21, guide §2.4): the hashed bag-of-words
    // counts used to be a second full document scan (explode to token
    // instances → 10-column partial-agg shuffle → inner join back onto
    // this side); graft_qm_buckets computes the identical counts inside
    // this projection, so the whole per-doc feature row is one map-side
    // pass and qmFeatures' join disappears.
    documents(s, d).filter(threeTokens)
      .select(col("doc_id"),
        expr("graft_gram_stats(text, 1)").as("s1"),
        expr("graft_gram_stats(text, 2)").as("s2"),
        expr("graft_gram_stats(text, 3)").as("s3"),
        TextOps.stopCount(split(col("text"), " ")).as("ns"),
        expr(s"graft_qm_buckets(text, $QM_B)").as("bk"))
      .select(col("doc_id"),
        col("s1.n_grams").as("nt"), col("s1.n_distinct").as("nd"),
        col("s1.top_cnt").as("tc"), col("s1.sum_tok_len").as("stl"),
        col("ns"),
        col("s2.n_grams").as("g2"), col("s2.top_cnt").as("top2"),
        col("s2.dup_inst").as("dup2"),
        col("s3.n_grams").as("g3"), col("s3.dup_inst").as("dup3"),
        col("bk"))
  }

  /** The gate verdict over raw counts as EXACT rational comparisons —
    * a·10² ≤ t·10²·b instead of r4(a/b) ≤ t. Same thresholds as
    * [[gopherKeep]]/[[repKeep]]/quality ≥ 0.5, but no doubles anywhere:
    * the reporting lanes keep their display-rounded fractions (where a
    * boundary doc whose frac ROUNDS across the threshold may differ),
    * while the training label stays bit-portable across engines and
    * engine VERSIONS by construction (r19 driver-gate lesson: the green
    * trace twin proved every aggregate portable while per-doc doubles
    * still flipped a handful of scores in the driver's DuckDB build). */
  private def qmLabel: Column =
    (col("nt") >= 40 && col("stl") <= col("nt") * 5 &&
      col("tc") * 100 <= col("nt") * 12 &&
      (col("nt") - col("nd")) * 100 <= col("nt") * 55 &&
      col("dup2") * 100 <= col("g2") * 12 &&
      col("top2") * 10000 <= col("g2") * 625 &&
      col("dup3") * 100 <= col("g3") * 6 &&
      (col("nt") - col("ns")) * 2 >= greatest(col("nt"), lit(100L)))
      .cast("long")

  /** The standardized integer feature table + class stats behind
    * [[pretrainQualityModel]] and its twins: the once-checkpointed
    * (doc_id, y, x0..x15) long table, corpus size n, and the
    * positive-class weight cw. Integer-exact END TO END (label,
    * features, standardization): every value is an integer-rational
    * fixed-pointing of raw counts — (a·10⁴) DIV b with a,b ≥ 0, where
    * floor and trunc agree unconditionally — so no floating-point
    * rounding, `round()` version semantics, or double-representation
    * boundary can flip a per-doc row between engines. */
  private[operators] def qmFeatures(s: SparkSession, d: String): (DataFrame, Long, Long) = {
    import Loop.TruncOps
    val labeled = qmCounts(s, d).select(col("doc_id") +: qmLabel.as("y") +: col("bk") +: Seq(
      expr(s"(nt - nd) * $QM_FP DIV nt").as(s"f$QM_B"),
      expr(s"tc * $QM_FP DIV nt").as(s"f${QM_B + 1}"),
      expr(s"LEAST(stl * 1000 DIV nt, $QM_FP)").as(s"f${QM_B + 2}"),
      // min(1, nt/100)·(1 − ns/nt) in one non-negative division:
      // (nt−ns)·FP DIV max(nt, 100) — exact for both nt branches
      expr(s"(nt - ns) * $QM_FP DIV GREATEST(nt, 100L)").as(s"f${QM_B + 3}"),
      expr(s"dup2 * $QM_FP DIV g2").as(s"f${QM_B + 4}"),
      expr(s"top2 * $QM_FP DIV g2").as(s"f${QM_B + 5}"),
      expr(s"dup3 * $QM_FP DIV g3").as(s"f${QM_B + 6}"),
      expr(s"LEAST(nt, 200) * $QM_FP DIV 200").as(s"f${QM_B + 7}")): _*)
    // the bag-of-words part: md5 bucket per token instance, computed by
    // graft_qm_buckets INSIDE the qmCounts scan (r21 — the counts used
    // to be a second full document scan: explode → filter(tok <> '') →
    // 10-column partial-agg shuffle → inner join back; the expression
    // is bit-identical per its scaladoc and the oracle still runs the
    // declarative form, so the fusion is gate-checked end to end).
    // Empty tokens filtered EXPLICITLY on both sides — string_split
    // empty-token semantics drifted across DuckDB versions, and this
    // lane (unlike the gram stats) has no green-gated named twin to
    // prove the driver build agrees.
    // Domain edge (deliberate, mirrored in the oracle): the former
    // inner join meant a doc whose text yields ZERO nonempty tokens
    // (all-whitespace) has no cnts row and drops out of the model /
    // features domain even if the gram-stats gate admitted it — the
    // model domain is gate-domain ∩ {≥1 nonempty token}, here the
    // filter on the nonempty-token slot. Both engines apply the same
    // domain rule, so the gate stays green on any corpus; it only
    // matters for corpora containing whitespace-only docs, which no
    // feature could describe anyway.
    val ntSlot = QM_B + 1 // 1-based element_at: last slot = nonempty count
    val raw = labeled
      .filter(element_at(col("bk"), ntSlot) >= 1)
      .select(col("doc_id") +: col("y") +:
        ((0 until QM_B).map(i =>
          expr(s"element_at(bk, ${i + 1}) * $QM_FP DIV element_at(bk, $ntSlot)")
            .as(s"x$i")) ++
          (QM_B until QM_F).map(i => col(s"f$i").as(s"x$i"))): _*)
      .truncEager
    // standardization bounds + class counts: ONE aggregate over the
    // checkpointed table, 2F+2 scalars to the driver
    val statAggs = (0 until QM_F).flatMap(i =>
      Seq(min(col(s"x$i")).as(s"mn$i"), max(col(s"x$i")).as(s"mx$i"))) ++
      Seq(sum(col("y")).as("n1"), count(lit(1)).as("nn"))
    val st = raw.agg(statAggs.head, statAggs.tail: _*).head()
    val n = st.getAs[Long]("nn")
    val n1 = st.getAs[Long]("n1")
    // class weight for the ~5%-positive keep rate: a positive doc's
    // gradient counts n0/n1 times (balanced logistic regression — the
    // unweighted loss just learns the base rate)
    val cw = math.max(1L, (n - n1) / math.max(1L, n1))
    // each GD step is one full scan of this table (~17 longs/row, so
    // QM_PART_ROWS rows ≈ 32 MB per task); narrow over the materialized
    // checkpoint: no shuffle, content unchanged
    val based = raw.coalesce(Loop.width(n, QM_PART_ROWS))
    // integer min-max standardization to [−FP, FP]: raw feature scales
    // differ 50× and plain GD crawls on that conditioning (measured:
    // AUC 0.60 unstandardized vs 0.74 standardized at the same budget)
    val feats = based.select(col("doc_id") +: col("y") +:
      (0 until QM_F).map { i =>
        val mn = st.getAs[Long](s"mn$i")
        val mx = st.getAs[Long](s"mx$i")
        expr(s"(x$i - ${mn}L) * ${2 * QM_FP} DIV ${math.max(1L, mx - mn)}L - $QM_FP")
          .as(s"x$i")
      }: _*)
    (feats, n, cw)
  }

  /** Per-language quality cap: the N highest-quality documents of each
    * language (score desc, doc_id tiebreak) — the "top-k per domain"
    * selection step a curated pretrain mix runs after scoring.
    *
    * Scale shape: a naive `row_number` over lang partitions sorts the
    * ENTIRE corpus in (langs) tasks — the per-group top-N analogue of
    * the single-partition-window failure. Here each input partition
    * keeps a bounded per-lang heap (any global top-N row is by
    * definition in its own partition's local top-N), so the exchange
    * carries ≤ N·langs candidates per partition — constant in corpus
    * size — and the exact rank runs on that tiny candidate set. Same
    * candidates-then-exact structure as qSketchTopk / textNgramsTop;
    * mapPartitions is justified by the bounded imperative heap state. */
  def sampleQualityTopk(s: SparkSession, d: String, n: Int = 40): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("lang"),
        size(col("tk")).cast("long").as("n_tokens"),
        TextOps.stopCount(col("tk")).as("n_stop"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(least(lit(1.0), col("n_tokens").cast("double") / 100.0) *
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")), 4)
          .as("quality_score"))
    // max-heap by "badness" (lowest score first, highest doc_id on
    // ties): head is the worst kept row, evicted when a better arrives
    val badness = Ordering.by[(Long, String, Long, Double), (Double, Long)](
      r => (-r._4, r._1))
    val cands = scored.as[(Long, String, Long, Double)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.PriorityQueue[(Long, String, Long, Double)]]
        it.foreach { r =>
          val pq = heaps.getOrElseUpdate(r._2,
            scala.collection.mutable.PriorityQueue.empty(badness))
          if (pq.size < n) pq.enqueue(r)
          else if (badness.lt(r, pq.head)) { pq.dequeue(); pq.enqueue(r) }
        }
        heaps.valuesIterator.flatMap(_.iterator)
      }
      .toDF("doc_id", "lang", "n_tokens", "quality_score")
    cands
      .withColumn("rk", row_number().over(Window.partitionBy("lang")
        .orderBy(col("quality_score").desc, col("doc_id"))).cast("long"))
      .filter(col("rk") <= n)
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        col("quality_score"), col("rk"))
  }

  /** Per-language token-budget cut: spend a global budget (25% of the
    * corpus's token mass) across languages by the α=0.5-smoothed share
    * (the [[mixEpochPlan]] weights), selecting each language's
    * documents in deterministic hash order until its quota is crossed
    * (the first crossing document is included). This turns the mixture
    * PLAN into the concrete document list a data loader materializes.
    *
    * Determinism across engines: the quota is integer arithmetic —
    * the 1e4-fixed-point weight (wq) times token total, `DIV`-scaled —
    * and the running token sum is an exact integer, so the cut
    * comparison `cum − n_tokens < quota` has no floating boundary.
    *
    * Scale shape: the per-language running sum uses the seq_pack
    * distributed prefix-sum pattern — range-partition on (lang, hash
    * order), per-partition sums, broadcast exclusive offsets — never a
    * per-language global-sort window (one language can be half the
    * corpus; its window would funnel through one task). */
  def mixTokenBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Loop.TruncOps
    val all = Window.partitionBy()
    // materialized ONCE (r21): nt feeds the quota aggregate, the range
    // exchange AND that exchange's bound-sampling pass — un-checkpointed,
    // the split()+md5 projection over the corpus executed three times.
    val nt = documents(s, d).select(col("lang"), col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      substring(md5(concat(lit("budget:"), col("doc_id"))), 1, 8).as("rk"))
      .truncEager
    val quotas = nt.groupBy("lang").agg(sum("n_tokens").as("lt"))
      .withColumn("frac0", col("lt").cast("double") / sum("lt").over(all))
      .withColumn("w", sqrt(col("frac0")) / sum(sqrt(col("frac0"))).over(all))
      .withColumn("wq", floor(col("w") * 1e4 + 0.5).cast("long"))
      .withColumn("t_toks", sum("lt").over(all))
      .select(col("lang").as("q_lang"),
        expr("(wq * t_toks * 25) DIV 1000000").as("quota"))
    val ranged = nt.repartitionByRange(col("lang"), col("rk"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .truncEager
    val offsets = ranged.groupBy("lang", "pid").agg(sum("n_tokens").as("ptoks"))
      .withColumn("off",
        coalesce(sum("ptoks").over(Window.partitionBy("lang").orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    ranged
      .withColumn("local_cum", sum("n_tokens").over(
        Window.partitionBy("lang", "pid").orderBy("rk", "doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets.select("lang", "pid", "off")), Seq("lang", "pid"))
      .withColumn("cum_tokens", col("off") + col("local_cum"))
      .join(broadcast(quotas), col("lang") === col("q_lang"))
      .filter(col("cum_tokens") - col("n_tokens") < col("quota"))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
  }

  /** Soft dedup — duplicate-count down-weighting instead of dropping
    * (the data-mixing alternative to hard dedup: near-dup cluster
    * members each carry weight 1/|cluster|, so the cluster contributes
    * one document's worth of training mass however many copies exist;
    * unclustered documents keep weight 1). Reported per language:
    * raw count vs effective (weighted) count — the number a mixture
    * planner actually budgets against.
    *
    * Scale: reads the MATERIALIZED cluster table
    * ([[DedupOps.clustersFor]] — memo-or-compute, the dedup_canonical
    * sharing posture), sizes clusters with one tiny aggregate, and
    * weights ride a doc_id equi-join back to the corpus. Weights are
    * fixed-point-rounded per doc and summed as DECIMAL, so the
    * per-language total is exact under any partitioning — no
    * float-summation-order hazard between engines. */
  def mixDedupWeighted(s: SparkSession, d: String): DataFrame = {
    val dec189 = org.apache.spark.sql.types.DecimalType(18, 9)
    val clusters = DedupOps.clustersFor(s, d).select("doc_id", "cluster_rep")
    val sizes = clusters.groupBy("cluster_rep").agg(count(lit(1)).as("csz"))
    val wts = clusters.join(sizes, "cluster_rep")
      .select(col("doc_id"),
        (floor(lit(1.0) / col("csz") * 1e9 + 0.5) / 1e9).as("w"))
    documents(s, d).select(col("doc_id"), col("lang"))
      .join(wts, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("w"), lit(1.0)).cast(dec189)).cast("double")
          .as("effective_docs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mix_dedup_weighted" -> (mixDedupWeighted _),
    "sample_quality_topk" -> (sampleQualityTopk(_, _)),
    "mix_token_budget" -> (mixTokenBudget _),
    "pretrain_quality_score" -> (pretrainQualityScore _),
    "pretrain_quality_fused" -> (pretrainQualityFused _),
    "pretrain_quality_model" -> (pretrainQualityModel _),
    "pretrain_quality_model_trace" -> (pretrainQualityModelTrace _),
    "pretrain_quality_features" -> (pretrainQualityFeatures _),
    "pretrain_shuffle_shard" -> (pretrainShuffleShard _),
    "pretrain_seq_pack" -> (pretrainSeqPack _),
    "text_gopher_rules" -> (textGopherRules _),
    "text_repetition" -> (textRepetition _),
    "dedup_span_windows" -> (dedupSpanWindows _),
    "text_decontaminate" -> (textDecontaminate _),
    "sample_stratified" -> (sampleStratified _),
    "sample_split" -> (sampleSplit _),
    "sample_weighted" -> (sampleWeighted _),
    "mix_language_balance" -> (mixLanguageBalance _),
    "mix_epoch_plan" -> (mixEpochPlan _),
    "sim_centroids" -> (simCentroids _),
    "dedup_cdc_chunks" -> (dedupCdcChunks _),
    "pretrain_pipeline_stats" -> (pretrainPipelineStats _)
  )

  private val baseOracle: Map[String, String] = Map(
    // builds on DedupOps' shared recursive cluster CTE chain — the
    // pair pipeline, CC, and this weighting cannot drift apart
    "mix_dedup_weighted" ->
      s"""${DedupOps.clustersCtesSql},
         |sizes AS (SELECT cluster_rep, count(*) AS csz FROM clusters GROUP BY 1),
         |w AS (SELECT doc_id, floor(1.0 / csz * 1e9 + 0.5) / 1e9 AS w
         |  FROM clusters JOIN sizes USING (cluster_rep))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CAST(coalesce(w.w, 1.0) AS DECIMAL(18,9))) AS DOUBLE) AS effective_docs
         |FROM documents LEFT JOIN w USING (doc_id)
         |GROUP BY lang""".stripMargin,
    "sample_quality_topk" ->
      """WITH base AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','r','s'))) AS BIGINT) AS n_stop
        |  FROM documents),
        |q AS (SELECT lang, doc_id, n_tokens,
        |    round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) *
        |      (1.0 - CAST(n_stop AS DOUBLE) / n_tokens), 4) AS quality_score
        |  FROM base),
        |r AS (SELECT lang, doc_id, n_tokens, quality_score,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rk
        |  FROM q)
        |SELECT lang, doc_id, n_tokens, quality_score, rk FROM r WHERE rk <= 40""".stripMargin,
    "mix_token_budget" ->
      """WITH nt AS (SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    substr(md5('budget:' || doc_id), 1, 8) AS rk
        |  FROM documents),
        |lt AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lt FROM nt GROUP BY lang),
        |w AS (SELECT lang,
        |    CAST(lt AS DOUBLE) / sum(lt) OVER () AS frac0,
        |    sqrt(CAST(lt AS DOUBLE) / sum(lt) OVER ()) AS sw,
        |    CAST(sum(lt) OVER () AS BIGINT) AS t_toks
        |  FROM lt),
        |q AS (SELECT lang,
        |    (CAST(floor(sw / sum(sw) OVER () * 1e4 + 0.5) AS BIGINT) * t_toks * 25) // 1000000 AS quota
        |  FROM w),
        |c AS (SELECT lang, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY rk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM nt)
        |SELECT c.lang AS lang, doc_id, n_tokens, cum_tokens
        |FROM c JOIN q ON c.lang = q.lang
        |WHERE cum_tokens - n_tokens < quota""".stripMargin,
    "mix_epoch_plan" ->
      """WITH c AS (SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT lang, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS frac0,
        |    sqrt(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()) AS sw
        |  FROM c),
        |n AS (SELECT lang, n_tokens, frac0, sw / sum(sw) OVER () AS w FROM t)
        |SELECT lang, n_tokens,
        |  floor(w * 1e4 + 0.5) / 1e4 AS target_frac,
        |  floor(w / frac0 * 1e4 + 0.5) / 1e4 AS epochs
        |FROM n""".stripMargin,
    "pretrain_shuffle_shard" ->
      """WITH s AS (SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(md5('shard:' || doc_id), 1, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef', substr(md5('shard:' || doc_id), 2, 1)) - 1)) % 10 AS shard,
        |    substr(md5('shard:' || doc_id), 3, 8) AS rank_key
        |  FROM documents)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY rank_key, doc_id) AS BIGINT) AS pos
        |FROM s""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |n2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
        |    i -> array_to_string(tk[i:i+1], ' '))) AS ng FROM t WHERE len(tk) >= 3),
        |c2 AS (SELECT doc_id, ng, count(*) AS c FROM n2 GROUP BY 1, 2),
        |a2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS g2,
        |    CAST(max(c) AS BIGINT) AS top2,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup2
        |  FROM c2 GROUP BY 1),
        |n3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2),
        |    i -> array_to_string(tk[i:i+2], ' '))) AS ng FROM t WHERE len(tk) >= 3),
        |c3 AS (SELECT doc_id, ng, count(*) AS c FROM n3 GROUP BY 1, 2),
        |a3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS g3,
        |    CAST(max(c) AS BIGINT) AS top3,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3
        |  FROM c3 GROUP BY 1),
        |m AS (SELECT doc_id, g2 AS n_2grams,
        |    floor(CAST(dup2 AS DOUBLE) / g2 * 1e4 + 0.5) / 1e4 AS dup2_frac,
        |    floor(CAST(top2 AS DOUBLE) / g2 * 1e4 + 0.5) / 1e4 AS top2_frac,
        |    floor(CAST(dup3 AS DOUBLE) / g3 * 1e4 + 0.5) / 1e4 AS dup3_frac,
        |    floor(CAST(top3 AS DOUBLE) / g3 * 1e4 + 0.5) / 1e4 AS top3_frac
        |  FROM a2 JOIN a3 USING (doc_id))
        |SELECT doc_id, n_2grams, dup2_frac, top2_frac, dup3_frac, top3_frac,
        |  (dup2_frac <= 0.12 AND top2_frac <= 0.0625 AND dup3_frac <= 0.06) AS keep_doc
        |FROM m""".stripMargin,
    "dedup_span_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |w AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 7),
        |    i -> md5(array_to_string(tk[i:i+7], ' ')))) AS h FROM t WHERE len(tk) >= 8),
        |pd AS (SELECT doc_id, h, count(*) AS cnt FROM w GROUP BY 1, 2),
        |x AS (SELECT doc_id, cnt, count(*) OVER (PARTITION BY h) AS df FROM pd)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup,
        |  floor(CAST(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END) AS DOUBLE)
        |    / sum(cnt) * 1e4 + 0.5) / 1e4 AS dup_frac
        |FROM x GROUP BY 1""".stripMargin,
    "pretrain_seq_pack" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_tok
        |  FROM t)
        |SELECT doc_id, n_tokens, start_tok,
        |  start_tok // 4096 AS seq_first,
        |  (start_tok + n_tokens - 1) // 4096 AS seq_last
        |FROM c""".stripMargin,
    "text_gopher_rules" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |pt AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |agg AS (SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(max(c) AS BIGINT) AS top_cnt,
        |    CAST(sum(len(tok) * c) AS BIGINT) AS sum_tok_len
        |  FROM pt GROUP BY 1),
        |m AS (SELECT doc_id, n_tokens,
        |    floor((1.0 - CAST(n_distinct AS DOUBLE) / n_tokens) * 1e4 + 0.5) / 1e4 AS dup_frac,
        |    floor(CAST(top_cnt AS DOUBLE) / n_tokens * 1e4 + 0.5) / 1e4 AS top_frac,
        |    floor(CAST(sum_tok_len AS DOUBLE) / n_tokens * 1e4 + 0.5) / 1e4 AS mean_tok_len
        |  FROM agg)
        |SELECT doc_id, n_tokens, dup_frac, top_frac, mean_tok_len,
        |  (n_tokens >= 40 AND mean_tok_len <= 5.0 AND top_frac <= 0.12 AND dup_frac <= 0.55)
        |    AS keep_doc
        |FROM m""".stripMargin,
    "text_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sets AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(ts)-1, 1)),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh_set FROM toks),
        |inv AS (SELECT doc_id, unnest(sh_set) AS shingle FROM sets),
        |bench AS (SELECT DISTINCT shingle FROM inv WHERE doc_id % 97 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM inv
        |WHERE doc_id % 97 <> 0 AND shingle IN (SELECT shingle FROM bench)
        |GROUP BY doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5('strat:' || doc_id), 1, 2) <
        |  CASE WHEN lang = 'en' THEN '80' WHEN lang = 'de' THEN '40' ELSE '1a' END""".stripMargin,
    "sample_split" ->
      """WITH a AS (SELECT lang, n_chars,
        |    CASE WHEN substr(md5('split:' || doc_id), 1, 2) < 'fa' THEN 'train'
        |         WHEN substr(md5('split:' || doc_id), 1, 2) < 'fd' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM a GROUP BY split, lang""".stripMargin,
    "sample_weighted" ->
      """WITH base AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    (strpos('0123456789abcdef', substr(md5('wt:' || doc_id), 1, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5('wt:' || doc_id), 2, 1)) - 1) AS u
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  floor(least(1.0, CAST(n_tokens AS DOUBLE) / 80.0) * 1e4 + 0.5) / 1e4 AS weight
        |FROM base
        |WHERE u < floor(least(1.0, CAST(n_tokens AS DOUBLE) / 80.0) * 256)""".stripMargin,
    "mix_language_balance" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |w AS (SELECT lang, n_docs,
        |    CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS frac0,
        |    sqrt(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()) AS wt
        |  FROM c)
        |SELECT lang, n_docs,
        |  floor(frac0 * 1e6 + 0.5) / 1e6 AS frac,
        |  floor(wt / sum(wt) OVER () * 1e4 + 0.5) / 1e4 AS sample_frac
        |FROM w""".stripMargin,
    "sim_centroids" ->
      """WITH e AS (SELECT label, unnest(embedding) AS v,
        |    unnest(range(0, len(embedding))) AS dim FROM embeddings)
        |SELECT label, dim, floor(avg(CAST(v AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS c,
        |  count(*) AS n_vecs
        |FROM e GROUP BY 1, 2""".stripMargin,
    "dedup_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos FROM documents),
        |fl AS (SELECT doc_id, pos, tok,
        |    CASE WHEN (strpos('0123456789abcdef', substr(md5('cdc:' || tok), 1, 1)) - 1) % 8 = 0
        |         THEN 1 ELSE 0 END AS b
        |  FROM t),
        |sids AS (SELECT doc_id, pos, tok,
        |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
        |  FROM fl),
        |chunks AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_h
        |  FROM sids GROUP BY doc_id, cid)
        |SELECT chunk_h, CAST(count(DISTINCT doc_id) AS BIGINT) AS df, count(*) AS n_occ
        |FROM chunks GROUP BY chunk_h HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY df DESC, n_occ DESC, chunk_h LIMIT 50""".stripMargin,
    "pretrain_pipeline_stats" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |pt AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |agg AS (SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(max(c) AS BIGINT) AS top_cnt,
        |    CAST(sum(len(tok) * c) AS BIGINT) AS sum_tok_len
        |  FROM pt GROUP BY 1),
        |m AS (SELECT doc_id,
        |    (n_tokens >= 40
        |     AND floor(CAST(sum_tok_len AS DOUBLE) / n_tokens * 1e4 + 0.5) / 1e4 <= 5.0
        |     AND floor(CAST(top_cnt AS DOUBLE) / n_tokens * 1e4 + 0.5) / 1e4 <= 0.12
        |     AND floor((1.0 - CAST(n_distinct AS DOUBLE) / n_tokens) * 1e4 + 0.5) / 1e4 <= 0.55)
        |      AS keep_doc
        |  FROM agg),
        |kept AS (SELECT d.doc_id, d.lang, md5(lower(d.text)) AS fp
        |  FROM documents d JOIN m ON d.doc_id = m.doc_id WHERE m.keep_doc),
        |keepers AS (SELECT fp, min(doc_id) AS keeper_id, arg_min(lang, doc_id) AS keeper_lang
        |  FROM kept GROUP BY fp),
        |sampled AS (SELECT * FROM keepers
        |  WHERE substr(md5('strat:' || keeper_id), 1, 2) <
        |    CASE WHEN keeper_lang = 'en' THEN '80'
        |         WHEN keeper_lang = 'de' THEN '40' ELSE '1a' END)
        |SELECT 0 AS stage, 'all' AS stage_name, count(*) AS n_docs FROM documents
        |UNION ALL SELECT 1, 'quality', count(*) FROM kept
        |UNION ALL SELECT 2, 'dedup', count(*) FROM keepers
        |UNION ALL SELECT 3, 'sample', count(*) FROM sampled""".stripMargin
  )

  // The composite gate's oracle embeds each signal's own SQL verbatim
  // (nested WITH inside a CTE — DuckDB-supported), so the composite and
  // its parts cannot diverge. The fused single-pass twin is gated by
  // the IDENTICAL oracle: fusion is an execution-plan choice, not a
  // semantic one, and the shared SQL makes that checkable per round.
  private val qualityScoreOracle: String =
    s"""WITH g AS (${baseOracle("text_gopher_rules")}),
       |r AS (${baseOracle("text_repetition")}),
       |q AS (${TextOps.oracle("text_quality")}),
       |j AS (SELECT g.doc_id, g.keep_doc AS gopher_keep, r.keep_doc AS rep_keep,
       |    (q.quality_score >= 0.5) AS qual_keep
       |  FROM g JOIN r ON g.doc_id = r.doc_id JOIN q ON g.doc_id = q.doc_id)
       |SELECT doc_id, gopher_keep, rep_keep, qual_keep,
       |  floor((CAST(gopher_keep AS INT) + CAST(rep_keep AS INT) + CAST(qual_keep AS INT))
       |    / 3.0 * 1e4 + 0.5) / 1e4 AS score,
       |  (gopher_keep AND rep_keep AND qual_keep) AS keep_doc
       |FROM j""".stripMargin

  /** DuckDB parse of the first 8 md5 hex digits as a BIGINT — the
    * oracle-side mirror of conv(substring(md5(x), 1, 8), 16, 10). */
  private def qmHex8(m: String): String =
    (1 to 8).map(i =>
      s"CAST(strpos('0123456789abcdef', substr($m, $i, 1)) - 1 AS BIGINT) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")

  /** Truncate-toward-zero integer division written so it evaluates
    * identically on DuckDB builds whose integer `//` truncates (1.0.x,
    * matching Spark `DIV` / Scala `/`) AND on builds whose `//`
    * floors: the numerator is made non-negative — where floor ≡ trunc
    * — and the sign re-applied. r18's driver gate failed on exactly
    * this (hash_match=false with every local sweep green): on a
    * flooring build the first negative gradient shifted one weight
    * unit and all 500 scores diverged. `b` must be positive. */
  private def qmDiv(a: String, b: String): String =
    s"(CASE WHEN ($a) < 0 THEN -((0 - ($a)) // ($b)) ELSE ($a) // ($b) END)"

  /** The learned-classifier oracle: the training loop's exact unroll.
    * Weight CTEs w0..w_QM_MAX (one row, QM_B+1 BIGINT columns — every
    * arithmetic result cast back to BIGINT because DuckDB SUM widens
    * to HUGEINT and the type would otherwise propagate into the
    * output), per-step delta scalars, pick = min{t : δ ≤ EPS}
    * (QM_MAX if none), final scoring with the picked weights. The
    * prefix is INTEGER-EXACT end to end (r20): labels are exact
    * rational threshold comparisons over raw counts and features are
    * (a·10⁴) // b fixed-pointings of the same counts — no doubles, no
    * round()/floor-of-double anywhere — because r19's driver gate
    * proved (green weight trace beside a red model lane) that per-doc
    * double rounding can flip feature rows in a DuckDB build the
    * aggregate chain never sees. Every division whose numerator can
    * go negative (z DIV 4·FP inside the hard sigmoid, the gradient
    * and weight-update DIVs) goes through [[qmDiv]]; the remaining
    * `//` sites are provably non-negative, where floor and trunc
    * agree unconditionally. The paired trace oracle exposes the
    * w1..w_QM_MAX chain; the features oracle exposes sampled f2 rows. */
  private val (qualityModelOracle: String, qualityModelTraceOracle: String,
      qualityFeaturesOracle: String) = {
    val B = QM_B
    val F = QM_F
    def zOf(w: String) =
      s"(${(0 until F).map(i => s"x$i * $w.w$i").mkString(" + ")} + $QM_FP * $w.w$F)"
    // engine: ((z DIV FP) DIV 4); trunc division by positive divisors
    // composes, so one sign-adjusted division by 4·FP is exact
    def pOfZ = s"GREATEST(0, LEAST($QM_W, ${QM_W / 2} + ${qmDiv("z", (4 * QM_FP).toString)}))"
    def step(prev: String, grad: String, next: String): String = {
      val gcols = (0 until F).map(i =>
        s"${qmDiv(s"SUM(x$i * err)", QM_FP.toString)} AS g$i")
        .mkString(", ") + s", SUM(err) AS g$F"
      val wcols = (0 to F).map(i =>
        s"CAST(w.w$i + ${qmDiv(s"$QM_LR * g.g$i", "(SELECT nn FROM st) * (SELECT c FROM cw)")} AS BIGINT) AS w$i")
        .mkString(", ")
      s"""$grad AS (SELECT $gcols FROM (
         |  SELECT fz.*, (y * $QM_W - $pOfZ)
         |    * (CASE WHEN y = 1 THEN (SELECT c FROM cw) ELSE 1 END) AS err
         |  FROM (SELECT f2.*, ${zOf("w")} AS z FROM f2, $prev w) fz) e),
         |$next AS MATERIALIZED (SELECT $wcols FROM $prev w, $grad g)""".stripMargin
    }
    val steps = (1 to QM_MAX).map(i => step(s"w${i - 1}", s"gr$i", s"w$i"))
      .mkString(",\n")
    val deltas = (1 to QM_MAX).map(i =>
      s"SELECT $i AS i, ${(0 to F).map(j => s"ABS(a.w$j - b.w$j)").mkString(" + ")} AS dv " +
        s"FROM w$i a, w${i - 1} b").mkString("\n  UNION ALL ")
    val allw = (1 to QM_MAX).map(i => s"SELECT $i AS i, * FROM w$i")
      .mkString("\n  UNION ALL ")
    val cntCols = (0 until B).map(i =>
      s"SUM(CASE WHEN b = $i THEN 1 ELSE 0 END) AS c$i").mkString(", ")
    // integer-exact features over the raw counts — (a·FP) // b with
    // a,b ≥ 0 mirrors Spark DIV unconditionally; CAST because SUM
    // widened c_i/counts to HUGEINT
    val rawCols = (0 until B).map(i =>
      s"CAST((c$i * $QM_FP) // nt2 AS BIGINT) AS x$i").mkString(", ") +
      s""",
         |  CAST(((nt - nd) * $QM_FP) // nt AS BIGINT) AS x$B,
         |  CAST((tc * $QM_FP) // nt AS BIGINT) AS x${B + 1},
         |  CAST(LEAST((stl * 1000) // nt, $QM_FP) AS BIGINT) AS x${B + 2},
         |  CAST(((nt - ns) * $QM_FP) // GREATEST(nt, 100) AS BIGINT) AS x${B + 3},
         |  CAST((dup2 * $QM_FP) // g2 AS BIGINT) AS x${B + 4},
         |  CAST((top2 * $QM_FP) // g2 AS BIGINT) AS x${B + 5},
         |  CAST((dup3 * $QM_FP) // g3 AS BIGINT) AS x${B + 6},
         |  CAST((LEAST(nt, 200) * $QM_FP) // 200 AS BIGINT) AS x${B + 7}""".stripMargin
    val labelSql =
      s"""CAST((nt >= 40 AND stl <= nt * 5 AND tc * 100 <= nt * 12
         |    AND (nt - nd) * 100 <= nt * 55 AND dup2 * 100 <= g2 * 12
         |    AND top2 * 10000 <= g2 * 625 AND dup3 * 100 <= g3 * 6
         |    AND (nt - ns) * 2 >= GREATEST(nt, 100)) AS BIGINT)""".stripMargin
    val statCols = (0 until F).map(i =>
      s"MIN(x$i) AS mn$i, MAX(x$i) AS mx$i").mkString(", ") +
      ", CAST(SUM(y) AS BIGINT) AS n1, COUNT(*) AS nn"
    val stdCols = (0 until F).map(i =>
      s"CAST(((x$i - (SELECT mn$i FROM st)) * ${2 * QM_FP}) // " +
        s"GREATEST(1, (SELECT mx$i FROM st) - (SELECT mn$i FROM st)) - $QM_FP AS BIGINT) AS x$i")
      .mkString(",\n  ")
    val prefix =
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |u AS (SELECT doc_id, unnest(tk) AS tok FROM t),
       |pt AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY 1, 2),
       |a1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nt,
       |    CAST(count(*) AS BIGINT) AS nd, CAST(max(c) AS BIGINT) AS tc,
       |    CAST(sum(len(tok) * c) AS BIGINT) AS stl,
       |    CAST(sum(CASE WHEN tok IN ('the','a','r','s') THEN c ELSE 0 END) AS BIGINT) AS ns
       |  FROM pt GROUP BY 1),
       |n2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
       |    i -> array_to_string(tk[i:i+1], ' '))) AS ng FROM t WHERE len(tk) >= 2),
       |c2 AS (SELECT doc_id, ng, count(*) AS c FROM n2 GROUP BY 1, 2),
       |a2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS g2,
       |    CAST(max(c) AS BIGINT) AS top2,
       |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup2
       |  FROM c2 GROUP BY 1),
       |n3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2),
       |    i -> array_to_string(tk[i:i+2], ' '))) AS ng FROM t WHERE len(tk) >= 3),
       |c3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS g3,
       |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3
       |  FROM (SELECT doc_id, ng, count(*) AS c FROM n3 GROUP BY 1, 2) cg GROUP BY 1),
       |tkb AS (SELECT doc_id, (${qmHex8("m")}) % $B AS b FROM (
       |  SELECT doc_id, md5('qm:' || tok) AS m FROM u WHERE tok <> '') t0),
       |cnt AS (SELECT doc_id, count(*) AS nt2, $cntCols FROM tkb GROUP BY doc_id),
       |f AS MATERIALIZED (SELECT a1.doc_id,
       |  $labelSql AS y,
       |  $rawCols
       |  FROM a1 JOIN a2 USING (doc_id) JOIN c3 USING (doc_id)
       |  JOIN cnt USING (doc_id)),
       |st AS MATERIALIZED (SELECT $statCols FROM f),
       |cw AS (SELECT GREATEST(1, ((SELECT nn FROM st) - (SELECT n1 FROM st))
       |  // GREATEST(1, (SELECT n1 FROM st))) AS c),
       |f2 AS MATERIALIZED (SELECT doc_id, y,
       |  $stdCols
       |  FROM f)""".stripMargin
    val trainCtes =
      s"""w0 AS (SELECT ${(0 to F).map(i => s"CAST(0 AS BIGINT) AS w$i").mkString(", ")}),
       |$steps,
       |dl AS MATERIALIZED ($deltas)""".stripMargin
    val score =
      s"""$prefix,
       |$trainCtes,
       |pick AS (SELECT COALESCE(MIN(i), $QM_MAX) AS ic FROM dl WHERE dv <= $QM_EPS),
       |fw AS (SELECT * FROM ($allw) aw WHERE i = (SELECT ic FROM pick)),
       |sc AS (SELECT fz.doc_id, fz.y AS label, $pOfZ AS score_fp
       |  FROM (SELECT f2.doc_id, f2.y, ${zOf("fw")} AS z FROM f2, fw) fz)
       |SELECT doc_id, label, score_fp,
       |  CAST(score_fp >= ${QM_W / 2} AS INT) AS pred,
       |  CAST((SELECT ic FROM pick) AS BIGINT) AS n_iters
       |FROM sc""".stripMargin
    val trace =
      s"""$prefix,
       |$trainCtes
       |SELECT CAST(a.i AS BIGINT) AS step,
       |  ${(0 to F).map(j => s"a.w$j").mkString(", ")},
       |  CAST(d.dv AS BIGINT) AS delta
       |FROM ($allw) a JOIN dl d ON a.i = d.i""".stripMargin
    val featRows =
      s"""$prefix
       |SELECT doc_id, y, ${(0 until F).map(i => s"x$i").mkString(", ")}
       |FROM f2 WHERE doc_id % $QM_FEAT_MOD = 0""".stripMargin
    (score, trace, featRows)
  }

  val oracle: Map[String, String] = baseOracle +
    ("pretrain_quality_score" -> qualityScoreOracle) +
    ("pretrain_quality_fused" -> qualityScoreOracle) +
    ("pretrain_quality_model" -> qualityModelOracle) +
    ("pretrain_quality_model_trace" -> qualityModelTraceOracle) +
    ("pretrain_quality_features" -> qualityFeaturesOracle)
}
