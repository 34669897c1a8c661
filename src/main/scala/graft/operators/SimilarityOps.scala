package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline: the query set is
  * broadcast, dot products run map-side inside codegen
  * (`zip_with` + `aggregate`), and only k rows per query survive the
  * ranking — the big side is scanned once, never shuffled in full.
  *
  * The scale path is LSH (random-hyperplane) bucketing: signatures are
  * computed map-side from deterministic md5-derived hyperplanes, and the
  * search joins only same-bucket pairs — candidate count drops by ~2^bits.
  * An IVF variant would assign via broadcast centroids the same way.
  */
object SimilarityOps {

  private val K = 5
  private val NQ = 5 // query vectors: vec_id < NQ

  /** Cosine via the native `graft_cosine` (graft.plans
    * .CosineSimilarity) — one fused loop per row, no intermediate
    * arrays; accumulation order identical to the fold form. */
  private def cosine(s: SparkSession, a: Column, b: Column): Column = {
    graft.plans.Natives.ensure(s)
    round(call_function("graft_cosine", a, b), 6)
  }

  /** Exact brute-force cosine top-k: queries broadcast, ranking on the
    * rounded similarity with vec_id tiebreak (deterministic). */
  def simCosineTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = emb.select(col("vec_id").as("vid"), col("embedding").as("ve"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vid"))
    cands.join(broadcast(q), col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"), cosine(s, col("qe"), col("ve")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
  }

  /** Hard-negative mining for contrastive/embedding training: per
    * probe, the top-k most-similar vectors with a DIFFERENT label —
    * the "confusable but wrong" examples a triplet/InfoNCE loss needs.
    * Same physical shape as [[simCosineTopK]] (probes broadcast,
    * candidate stream map-side, per-probe window over a bounded
    * candidate set); the label inequality rides the broadcast-join
    * condition, so mismatched pairs never materialize past the probe
    * row. The scale path is the IVF/LSH blocking of the sim_ann ops
    * with the label filter applied at probe time. */
  def simHardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val cands = emb.select(col("vec_id").as("vid"), col("embedding").as("ve"),
      col("label").as("vlabel"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vid"))
    cands.join(broadcast(q), col("vlabel") =!= col("qlabel"))
      .select(col("qid"), col("vid"), cosine(s, col("qe"), col("ve")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
  }

  /** LSH-bucketed ANN (scale path). The ±1 hyperplanes come from md5
    * nibble parity, so the oracle reconstructs the identical planes in
    * SQL from a generated (j, k) grid — the whole pipeline is
    * oracle-checkable. */
  /** Bit-string LSH signature from the md5-derived hyperplanes — shared
    * by the ANN bucketing and the dedup sub-bucketing. Native fused
    * `graft_sign_bits` (plans.SignBits) since r15: the previous per-plane
    * `aggregate(zip_with(...))` folds were higher-order-function
    * machinery per element per plane — ~20 s of sim_ann_lsh's 20.7 s
    * sf10 wall for what is one tight loop's worth of work. Signatures
    * are bit-identical (same planes, same double accumulation order),
    * so every bucket, candidate set and oracle row is unchanged. */
  private def lshSig(s: SparkSession, v: Column, bits: Int, dim: Int): Column = {
    graft.plans.Natives.ensure(s)
    call_function("graft_sign_bits", v, lit(bits), lit(dim))
  }

  /** Multi-table configuration: T independent signature tables of
    * ANN_BITS hyperplanes each (plane j of table t is global plane
    * t·ANN_BITS+j — same md5 derivation, so the oracle rebuilds all
    * T·ANN_BITS planes from one grid). A vector is a candidate if it
    * shares ANY table's full signature with the query. Matched-pair
    * budget is tuned to the old single-table form: one 8-bit table
    * matches a random pair with p=2⁻⁸; four 10-bit tables match with
    * p≈4·2⁻¹⁰ — the SAME expected candidate count, but the OR over
    * independent tables catches near neighbors that any single
    * signature's unlucky plane split drops, which is where a lone
    * table's recall cliff comes from (multi-table LSH is the standard
    * production remedy; recall measured against the exact baseline in
    * SimilaritySpec). */
  private val ANN_TABLES = 4
  private val ANN_BITS = 10

  def simAnnLsh(s: SparkSession, d: String): DataFrame =
    simAnnLshTables(s, d, ANN_TABLES, ANN_BITS)

  /** Parameterized form (spec compares recall of table counts at equal
    * budget). Each pair is emitted by its FIRST matching table only —
    * the per-branch guard "no earlier table matched" replaces a
    * post-union distinct: both sides' signatures ride the join row, so
    * the guard is a codegen'd string compare, not a shuffle (the
    * dedup_simhash_pairs trick). */
  private[operators] def simAnnLshTables(s: SparkSession, d: String,
      tables: Int, bits: Int): DataFrame = {
    val emb = embeddings(s, d)
      .withColumn("sig", lshSig(s, col("embedding"), bits = tables * bits, dim = 64))
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("sig").as("qsig"))
    val cands = emb.select(col("vec_id").as("vid"), col("embedding").as("ve"),
      col("sig"))
    def slice(c: Column, t: Int): Column = substring(c, t * bits + 1, bits)
    val candPairs = (0 until tables).map { t =>
      val noEarlier = (0 until t)
        .map(p => slice(col("sig"), p) =!= slice(col("qsig"), p))
        .foldLeft(lit(true))(_ && _)
      cands.join(broadcast(q),
          slice(col("sig"), t) === slice(col("qsig"), t) && col("vid") =!= col("qid"))
        .filter(noEarlier)
        .select(col("qid"), col("vid"), col("qe"), col("ve"))
    }.reduce(_ union _)
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vid"))
    candPairs
      .select(col("qid"), col("vid"), cosine(s, col("qe"), col("ve")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
  }

  /** Block-size cap for embedding near-dup: label blocks at or below the
    * cap pair exactly (all pairs); a hotter block degrades to LSH
    * sub-buckets instead of going quadratic. Test-corpus blocks (≤200
    * vectors) sit far below it, so results are unchanged at test scale. */
  private[operators] val EMB_BLOCK_CAP = 1000
  private val SUB_BITS = 16
  private val SUB_BANDS = 4 // 4 bands × 4 bits
  private val SUB_W = SUB_BITS / SUB_BANDS

  /** Embedding-cosine near-dup detection: pairwise cosine inside label
    * blocks (the blocking key a real pipeline gets from a coarse cluster
    * assignment / IVF list), native fused-loop cosine, threshold on the
    * rounded value. */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    dedupEmbeddingCapped(s, d, EMB_BLOCK_CAP)

  /** The bounded form: a label block with more than `cap` vectors never
    * self-joins in full — its candidates come from 4-bit LSH sub-bands
    * of the md5-hyperplane signature, so one hot label at corpus scale
    * costs O(Σ bucket²) instead of O(block²), and candidates within a
    * bucket stay an equi-join. The plan is a two-branch union of PAIR
    * sets split by block size: the small-block branch is exactly the
    * plain label self-join (no band machinery at all — a CASE-guarded
    * signature still gets hoisted and evaluated per row by codegen
    * subexpression elimination, measured at 2.5x on this query), and
    * the big-block branch — empty until a label outgrows the cap —
    * emits each banded pair from its FIRST matching band only (the
    * dedup_simhash_pairs trick, no post-join distinct shuffle). */
  private[operators] def dedupEmbeddingCapped(s: SparkSession, d: String, cap: Int): DataFrame = {
    val emb0 = embeddings(s, d)
    // block sizes: a tiny per-label aggregate, broadcast back as a
    // semi-join guard — the big side is scanned, never pre-shuffled
    val blockN = emb0.groupBy(col("label").as("label_n"))
      .agg(count(lit(1)).as("n_label"))
    // Adaptive plan choice on ONE boolean (a limit-1 aggregate probe,
    // the same driver-coordination budget as dedup_clusters' 1-row
    // convergence sum — no data is collected): when no block exceeds
    // the cap, the whole two-branch apparatus (union, guards, an empty
    // banded join) is dead plan weight that still costs ~2x in stage
    // overhead at bench scale, so emit the plain self-join instead.
    val anyHot = !blockN.filter(col("n_label") > cap).isEmpty
    if (!anyHot) {
      val a = emb0.select(col("label"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"))
      val b = emb0.select(col("label").as("label_b"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"))
      return a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
        .select(col("label"), col("vec_a"), col("vec_b"),
          cosine(s, col("ea"), col("eb")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
    }
    def labelsWhere(pred: Column): DataFrame = emb0.join(
      broadcast(blockN.filter(pred)), col("label") === col("label_n"), "left_semi")

    val sm = labelsWhere(col("n_label") <= cap)
    val sa = sm.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val sb = sm.select(col("label").as("label_b"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    val smallPairs = sa.join(sb,
        col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"), col("ea"), col("eb"))

    val sig = lshSig(s, col("embedding"), SUB_BITS, dim = 64)
    val keys = (0 until SUB_BANDS).map(bd =>
      substring(sig, bd * SUB_W + 1, SUB_W).as(s"k$bd"))
    val bandedBig = labelsWhere(col("n_label") > cap)
      .select(Seq(col("label"), col("vec_id"), col("embedding")) ++ keys: _*)
      .select(col("label"), col("vec_id"), col("embedding"),
        col("k0"), col("k1"), col("k2"), col("k3"),
        explode(array((0 until SUB_BANDS).map(bd =>
          struct(lit(bd).as("band_id"), col(s"k$bd").as("bkey"))): _*)).as("bk"))
      .select(col("label"), col("vec_id"), col("embedding"),
        col("k0"), col("k1"), col("k2"), col("k3"),
        col("bk.band_id").as("band_id"), col("bk.bkey").as("bkey"))
    val ba = bandedBig.select(col("label"), col("band_id"), col("bkey"),
      col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("k0").as("ka0"), col("k1").as("ka1"),
      col("k2").as("ka2"), col("k3").as("ka3"))
    val bb = bandedBig.select(col("label").as("label_b"), col("band_id").as("band_id_b"),
      col("bkey").as("bkey_b"), col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("k0").as("kb0"), col("k1").as("kb1"),
      col("k2").as("kb2"), col("k3").as("kb3"))
    val firstMatch = col("band_id") === when(col("ka0") === col("kb0"), 0)
      .when(col("ka1") === col("kb1"), 1)
      .when(col("ka2") === col("kb2"), 2)
      .otherwise(3)
    val bigPairs = ba.join(bb,
        col("label") === col("label_b") && col("band_id") === col("band_id_b") &&
        col("bkey") === col("bkey_b") && col("vec_a") < col("vec_b") && firstMatch)
      .select(col("label"), col("vec_a"), col("vec_b"), col("ea"), col("eb"))

    smallPairs.unionByName(bigPairs)
      .select(col("label"), col("vec_a"), col("vec_b"),
        cosine(s, col("ea"), col("eb")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.4)
  }

  private val C = 16     // IVF centroid count
  private val NPROBE = 2 // centroid lists probed per query

  /** IVF-style ANN: a deterministic coarse quantizer (the first C
    * vectors stand in for trained centroids) assigns every vector to
    * its nearest centroid map-side (centroids broadcast); each query
    * probes its NPROBE nearest centroid lists and reranks only those
    * candidates with exact cosine. The index scales as O(n·C) assign +
    * O(n·nprobe/C) rerank per query — the standard big-corpus ANN
    * layout (lists = partitions at cluster scale). */
  def simAnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val cents = emb.filter(col("vec_id") < C)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // nearest-centroid assignment for every vector (rank on the rounded
    // similarity with cid tiebreak — deterministic in any engine)
    val aw = Window.partitionBy("vec_id").orderBy(col("c_sim").desc, col("cid"))
    val assign = emb.join(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
        cosine(s, col("embedding"), col("ce")).as("c_sim"))
      .withColumn("crn", row_number().over(aw))
    val lists = assign.filter(col("crn") === 1)
      .select(col("vec_id").as("vid"), col("embedding").as("ve"), col("cid"))
    val probes = assign.filter(col("crn") <= NPROBE && col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cid"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vid"))
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"), cosine(s, col("qe"), col("ve")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
  }

  private val KNN_STRIDE = 101 // probe subset: vec_id % stride == 0
  private val KNN_K = 3

  /** k-NN graph construction over the corpus — each probe vector's
    * exact top-k cosine neighbors WITHIN its label block (the coarse
    * partition a production pipeline gets from IVF/cluster assignment;
    * same blocking premise as [[dedupEmbedding]]). The probe subset is
    * a deterministic stride of the id space, standing in for the
    * incremental frontier a real graph build processes per batch.
    *
    * Scale: probes broadcast (a stride of the corpus), candidates scan
    * once map-side through the fused-loop cosine, and the per-probe
    * rank keeps k rows — the only shuffle is the rank's probe-keyed
    * exchange, already pruned to candidate pairs. No all-pairs
    * anywhere: cost is O(|probes| · block), the IVF search budget. */
  def simKnnGraph(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val probes = emb.filter(col("vec_id") % KNN_STRIDE === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe"))
    val cands = emb.select(col("vec_id").as("vid"), col("label"),
      col("embedding").as("ve"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vid"))
    cands.join(broadcast(probes),
        col("label") === col("qlabel") && col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"), cosine(s, col("qe"), col("ve")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KNN_K)
  }

  // ---- k-means (Lloyd) to convergence — the trained coarse quantizer
  private[operators] val KM_K = 8       // clusters
  // stopping tolerance: total centroid movement ≤ 5 quantization units
  // (5e-4 of coordinate scale) per centroid coordinate on average —
  // the production posture; an EXACT zero fixpoint was measured and
  // rejected (it fires at step 12/17 on the 500/50-vector corpora but
  // is still oscillating in the hundreds of units at step 30 on 5,000
  // vectors — Lloyd's with floored integer means has no bounded-depth
  // zero guarantee). Measured firing depths: sf0.001 → 13, sf0.01 → 9,
  // sf0.1 → 23; ScaleGen replication duplicates points, which leaves
  // the trajectory identical, so sf1/sf3/sf10 fire at 23 too.
  private[operators] val KM_EPS = 8L * 64L * 5L
  // Lloyd-loop rows/task: sized by COMPUTE, not bytes — each row costs
  // K×dim long ops in the argmin, so a 32 MB/task byte target (the GD
  // loop's) throttled the sf10 assign stage to 8 tasks on 32 cores and
  // cost 49% (measured 4.53 -> 6.75 s). 16 Ki rows/task keeps sf10 at
  // ~31 tasks (full parallelism) while small corpora still collapse to
  // one task per step.
  private[operators] val KM_PART_ROWS = 16384L
  private[operators] val KM_MAX = 25    // hard bound over the 23
  private[operators] val KM_QS = 10000L // coordinate quantization scale
  private val KM_OFF = 10000L           // shift: all coords positive, so
                                        // Spark DIV == DuckDB // (floor
                                        // vs trunc diverge on negatives)

  /** Embeddings quantized to an integer grid: qe_i = floor(x_i·1e4 +
    * 0.5) + 1e4. Distances are translation-invariant, so the offset
    * changes nothing geometric — it keeps every coordinate (and every
    * cluster-mean numerator) non-negative, where Spark's DIV and
    * DuckDB's // agree. Coordinates outside [−1, 1] would break the
    * offset's sign guarantee, so they RAISE (the qArgExtremes guard
    * idiom) instead of silently mis-rounding. */
  private def kmPoints(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x =>
        when(x >= -1.0f && x <= 1.0f,
          floor(x.cast("double") * KM_QS + 0.5).cast("long") + KM_OFF)
          .otherwise(raise_error(lit("kmeans: coordinate outside [-1, 1]"))
            .cast("long"))).as("qe"))

  /** Nearest-centroid assignment against literal centroids through the
    * native `graft_km_argmin` ([[graft.plans.KmArgmin]]) — one fused
    * K×dim integer loop per row inside whole-stage codegen, ties to the
    * lowest cid (the same order the oracle's row_number uses). The
    * composable array_min-over-structs form was measured at 98.8 s for
    * the sf10 run (interpreted higher-order functions, K
    * intermediate arrays per row) and replaced by this — 5.7 s,
    * identical rows (the kmeans spec and oracle did not move). */
  private def kmAssign(s: SparkSession, pts: DataFrame,
      cents: Seq[(Long, Array[Long])]): DataFrame = {
    graft.plans.Natives.ensure(s)
    pts.withColumn("cid", call_function("graft_km_argmin", col("qe"),
      typedlit(cents.map(_._2.toSeq)), typedlit(cents.map(_._1))))
  }

  /** k-means (Lloyd) run to CONVERGENCE on the quantized grid — the
    * trained coarse quantizer the ANN family wants (the r16 verdict's
    * "first 32 vectors" softness). Integer-exact end to end, so the
    * oracle can mirror the RULE, not a pinned depth (the PageRank
    * discipline):
    *  - init: the first KM_K vectors by vec_id (deterministic seeding;
    *    k-means++ wants randomness the oracle could not replay);
    *  - assign: integer squared-L2 argmin (sums of longs — no float
    *    accumulation order to diverge);
    *  - update: per-cluster floored integer mean, empty clusters keep
    *    their previous centroid;
    *  - stop: total centroid movement Σ|Δ| ≤ KM_EPS (see its comment
    *    for the measured exact-fixpoint rejection) — or KM_MAX.
    * Per iteration the driver sees K×dim (=512) aggregate rows — the
    * Lloyd's-step contract (MLlib's KMeans does the same); the point
    * set itself never leaves the executors. Output: one row per
    * cluster (members, centroid L1 mass, converged depth). */
  def simKmeansConverged(s: SparkSession, d: String): DataFrame = {
    import Loop.TruncOps
    val pts0 = kmPoints(s, d).truncEager // scanned once, reread per step
    // every Lloyd step re-scans this table; the count is one cheap job
    // over the just-materialized checkpoint, amortized across KM_MAX steps
    val pts = pts0.coalesce(Loop.width(pts0.count(), KM_PART_ROWS))
    val (cents, it) = kmTrain(s, pts, KM_K, KM_MAX)
    val s2 = s
    import s2.implicits._
    val cdf = cents.map { case (j, c) => (j, c.map(math.abs).sum) }
      .toDF("cid", "c_l1")
    kmAssign(s, pts, cents).groupBy("cid").agg(count(lit(1)).as("n_members"))
      .join(cdf, Seq("cid"), "right")
      .select(col("cid"), coalesce(col("n_members"), lit(0L)).as("n_members"),
        col("c_l1"), lit(it.toLong).as("n_iters"))
      .orderBy("cid")
  }

  /** The Lloyd loop itself (see [[simKmeansConverged]] for the
    * contract): first-k seeding, integer argmin assignment, floored
    * integer means, stop at Σ|Δ| ≤ KM_EPS or maxIter.
    * Returns the trained centroids and the executed depth. */
  private def kmTrain(s: SparkSession, pts: DataFrame, k: Int,
      maxIter: Int): (Seq[(Long, Array[Long])], Int) = {
    var cents: Seq[(Long, Array[Long])] = pts.filter(col("vec_id") < k)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq
    val (it, _) = Loop.converge(maxIter) {
      val stats = kmAssign(s, pts, cents)
        .select(col("cid"), posexplode(col("qe")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
        .collect() // bounded: k × dim rows
        .groupBy(_.getLong(0))
      var delta = 0L
      cents = cents.map { case (j, old) =>
        stats.get(j) match {
          case Some(rows) =>
            val next = old.clone()
            rows.foreach { r =>
              next(r.getInt(1)) = r.getLong(2) / r.getLong(3)
            }
            var i = 0
            while (i < next.length) { delta += math.abs(next(i) - old(i)); i += 1 }
            (j, next)
          case None => (j, old) // empty cluster keeps its centroid
        }
      }
      delta <= KM_EPS
    }
    (cents, it)
  }

  private val MP_C = 32      // multiprobe coarse cells
  private val MP_NPROBE = 2  // cells probed per query

  /** Cross-block k-NN graph (r16 — closes the "exact within label
    * blocks only" recall gap of [[simKnnGraph]]): IVF-style multi-probe.
    * Blocks are geometric coarse cells (nearest of MP_C deterministic
    * centroids, as in [[simAnnIvf]]) instead of labels, and each probe
    * searches its MP_NPROBE nearest cells — so a true neighbor sitting
    * just across the probe's cell boundary (the single-probe recall
    * cliff) is reachable through the second cell. Candidates live in
    * exactly ONE cell (crn = 1), so probing distinct cells never
    * duplicates a pair and needs no post-union distinct.
    *
    * Scale: identical shape to [[simAnnIvf]] — centroids broadcast,
    * assignment map-side, probes broadcast into the cell lists, exact
    * rerank on candidates only; cost O(n·C) assign + O(|probes| ·
    * nprobe·n/C) rerank. Recall vs the label-blocked baseline is
    * measured in TextSimMmSpec at equal candidate budget
    * (nprobe=2,C=32 vs nprobe=1,C=16). */
  def simKnnMultiprobe(s: SparkSession, d: String): DataFrame =
    simKnnMultiprobeCfg(s, d, MP_C, MP_NPROBE)

  /** Parameterized form for the spec's equal-budget recall compare. */
  private[operators] def simKnnMultiprobeCfg(s: SparkSession, d: String,
      c: Int, nprobe: Int): DataFrame = {
    val emb = embeddings(s, d)
    val cents = emb.filter(col("vec_id") < c)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val aw = Window.partitionBy("vec_id").orderBy(col("c_sim").desc, col("cid"))
    val assign = emb.join(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
        cosine(s, col("embedding"), col("ce")).as("c_sim"))
      .withColumn("crn", row_number().over(aw))
    val lists = assign.filter(col("crn") === 1)
      .select(col("vec_id").as("vid"), col("embedding").as("ve"), col("cid"))
    val probes = assign.filter(col("crn") <= nprobe &&
        col("vec_id") % KNN_STRIDE === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cid"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vid"))
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"), cosine(s, col("qe"), col("ve")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KNN_K)
  }

  // ---- product quantization: compressed-domain search (r18) ----------
  private[operators] val PQ_M = 8    // subspaces
  private[operators] val PQ_SUB = 8  // dims per subspace (DIM = M · SUB)
  private[operators] val PQ_K = 16   // codewords per subspace
  private[operators] val PQ_TOP = 5

  /** Product-quantized approximate top-k (Jégou et al., TPAMI 2011 —
    * the compressed-domain search a 100 TB embedding store actually
    * runs): each vector is encoded as PQ_M sub-codeword ids (8 bytes
    * here vs 256 bytes of float32 — 32×), and a query scores the
    * ENTIRE corpus from those codes alone via a per-query lookup
    * table, never touching the original vectors. The asymmetric
    * distance Σ_m lut[m][code_m] decomposes the integer squared-L2
    * exactly over subspaces, so the only approximation is the
    * quantization itself (spec-measured recall vs exact integer-L2).
    *
    * Codebooks are the first-PQ_K vectors' sub-vectors on the
    * [[kmPoints]] integer grid — the same first-k quantizer convention
    * as the multiprobe/IVF lanes, deterministic and SQL-mirrorable (a
    * trained variant would plug per-subspace [[simKmeansConverged]]
    * centroids, the documented trade: 25-step training CTEs per
    * subspace in the oracle for better recall at the same budget).
    *
    * Scale posture: ENCODE is PQ_M fused [[graft.plans.KmArgmin]]
    * calls per row — map-side, inside whole-stage codegen, no
    * dim-explode (the oracle's relational form pays |vecs|·K·dim
    * rows; the engine pays K·dim long ops per row). The search joins
    * the code stream with a BROADCAST lut (NQ·M·K rows, built on the
    * driver from NQ collected probes — the centroid-collect
    * contract) and partially aggregates to (query, vec) sums: the
    * shuffle carries one row per (query, vec), never raw vectors.
    * Top-k ranks via the partial WindowGroupLimit path. */
  def simPqTopk(s: SparkSession, d: String): DataFrame = {
    val pts = kmPoints(s, d)
    val cb = pts.filter(col("vec_id") < PQ_K).orderBy("vec_id").collect()
      .map(r => r.getSeq[Long](1).toArray)
    require(cb.length == PQ_K, s"need the first $PQ_K vectors as the codebook")
    require(cb.head.length == PQ_M * PQ_SUB,
      s"PQ expects ${PQ_M * PQ_SUB}-dim embeddings, got ${cb.head.length}")
    val sub: Array[Array[Array[Long]]] =
      Array.tabulate(PQ_M)(m => cb.map(_.slice(m * PQ_SUB, (m + 1) * PQ_SUB)))
    pqSearch(s, pts, sub)
  }

  /** Encode + asymmetric-distance search over the codebooks `sub`
    * (see [[simPqTopk]] for the plan shape). */
  private def pqSearch(s: SparkSession, pts: DataFrame,
      sub: Array[Array[Array[Long]]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.Natives.ensure(s)
    val ids = (0 until PQ_K).map(_.toLong)
    val codes = pts.select(col("vec_id") +: (0 until PQ_M).map(m =>
      call_function("graft_km_argmin",
        slice(col("qe"), m * PQ_SUB + 1, PQ_SUB),
        typedlit(sub(m).map(_.toSeq).toSeq), typedlit(ids)).as(s"c$m")): _*)
    val codesL = codes.select(col("vec_id"),
      explode(array((0 until PQ_M).map(m =>
        struct(lit(m).as("m"), col(s"c$m").as("code"))): _*)).as("mc"))
      .select(col("vec_id"), col("mc.m").as("m"), col("mc.code").as("code"))
    // per-query lookup table, driver-built from the NQ collected
    // probes: NQ·M·K integer squared-L2 sub-distances — identical
    // arithmetic to the oracle's ed CTE restricted to probes
    val probes = pts.filter(col("vec_id") < NQ).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val lutRows = for {
      (q, qe) <- probes.toSeq; m <- 0 until PQ_M; k <- 0 until PQ_K
    } yield {
      var dsum = 0L
      var t = 0
      while (t < PQ_SUB) {
        val diff = qe(m * PQ_SUB + t) - sub(m)(k)(t)
        dsum += diff * diff
        t += 1
      }
      (q, m, k.toLong, dsum)
    }
    val s2 = s
    import s2.implicits._
    val lut = lutRows.toDF("query_id", "m", "code", "pd2")
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("vec_id"))
    codesL.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id").agg(sum("pd2").as("adist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= PQ_TOP)
      .select("query_id", "vec_id", "rk", "adist")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_pq_topk" -> (simPqTopk _),
    "sim_kmeans_converged" -> (simKmeansConverged _),
    "sim_knn_multiprobe" -> (simKnnMultiprobe _),
    "sim_knn_graph" -> (simKnnGraph _),
    "sim_cosine_topk" -> (simCosineTopK _),
    "sim_hard_negatives" -> (simHardNegatives _),
    "sim_ann_lsh" -> (simAnnLsh _),
    "sim_ann_ivf" -> (simAnnIvf _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_semantic" -> (dedupSemantic _)
  )

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): the
    * embedding-cosine near-dup pairs become an undirected graph, its
    * connected components are semantic-duplicate groups, and each
    * group elects one keeper (min vec_id) — so "A≈B, B≈C" keeps one
    * representative even when A and C never crossed the cosine bar.
    * Pair generation is [[dedupEmbedding]] (label-blocked, LSH-capped
    * — never all-pairs); clustering is the SAME iterative CC the text
    * near-dup family runs (DedupOps.connectedComponents), so both
    * modalities share one scale-proven component step. */
  def dedupSemantic(s: SparkSession, d: String): DataFrame =
    DedupOps.connectedComponents(
        dedupEmbedding(s, d).select(col("vec_a"), col("vec_b")))
      .select(col("doc_id").as("vec_id"), col("rep").as("cluster_rep"))
      .withColumn("is_keeper", (col("vec_id") === col("cluster_rep")).cast("int"))

  /** Lloyd's unrolled to KM_MAX CTE steps, the stopping rule mirrored
    * exactly like the PageRank oracles: per-step centroid-movement
    * scalars, final state = the one at min{t : Δ_t = 0} (KM_MAX if
    * none). Every quantity is integer (quantized offset grid, floored
    * means), so no accumulation order can diverge; the pick threshold
    * is KM_EPS, the operator's exact stopping rule. */
  private def kmeansOracle: String = {
    val steps = (1 to KM_MAX).map { t =>
      val prev = s"c${t - 1}"
      s"""d$t AS (SELECT p.vec_id, c.cid,
         |    sum((p.qe[i.i] - c.ce[i.i]) * (p.qe[i.i] - c.ce[i.i])) AS dist
         |  FROM pts p, $prev c, idx i GROUP BY p.vec_id, c.cid),
         |a$t AS MATERIALIZED (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d$t) WHERE rn = 1),
         |n$t AS (SELECT a.cid, i.i AS i,
         |    CAST(sum(p.qe[i.i]) // count(*) AS BIGINT) AS v
         |  FROM a$t a JOIN pts p USING (vec_id), idx i GROUP BY a.cid, i.i),
         |c$t AS MATERIALIZED (SELECT prev.cid, COALESCE(nl.ce, prev.ce) AS ce
         |  FROM $prev prev LEFT JOIN (
         |    SELECT cid, list(v ORDER BY i) AS ce FROM n$t GROUP BY cid) nl
         |  ON prev.cid = nl.cid)""".stripMargin
    }.mkString(",\n")
    val deltas = (1 to KM_MAX).map(t =>
      s"""SELECT $t AS t, sum(abs(x.ce[i.i] - y.ce[i.i])) AS dv
         |  FROM c$t x JOIN c${t - 1} y USING (cid), idx i""".stripMargin)
      .mkString("\n  UNION ALL ")
    val allc = (1 to KM_MAX).map(t => s"SELECT $t AS t, cid, ce FROM c$t")
      .mkString("\n  UNION ALL ")
    s"""WITH idx AS (SELECT unnest(range(1, 65)) AS i),
       |pts AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $KM_QS + 0.5) AS BIGINT) + $KM_OFF) AS qe
       |  FROM embeddings),
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, qe AS ce FROM pts WHERE vec_id < $KM_K),
       |$steps,
       |dl AS MATERIALIZED ($deltas),
       |pick AS (SELECT COALESCE(MIN(t), $KM_MAX) AS ic FROM dl WHERE dv <= $KM_EPS),
       |allc AS ($allc),
       |cf AS MATERIALIZED (SELECT cid, ce FROM allc WHERE t = (SELECT ic FROM pick)),
       |df AS (SELECT p.vec_id, c.cid,
       |    sum((p.qe[i.i] - c.ce[i.i]) * (p.qe[i.i] - c.ce[i.i])) AS dist
       |  FROM pts p, cf c, idx i GROUP BY p.vec_id, c.cid),
       |af AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM df) WHERE rn = 1)
       |SELECT cf.cid,
       |  CAST(COALESCE(m.n, 0) AS BIGINT) AS n_members,
       |  CAST(list_sum(list_transform(cf.ce, x -> abs(x))) AS BIGINT) AS c_l1,
       |  CAST((SELECT ic FROM pick) AS BIGINT) AS n_iters
       |FROM cf LEFT JOIN (SELECT cid, count(*) AS n FROM af GROUP BY cid) m
       |  USING (cid)
       |ORDER BY cf.cid""".stripMargin
  }

  private val baseOracle: Map[String, String] = Map(
    "sim_kmeans_converged" -> kmeansOracle,
    // PQ compressed-domain top-k: the relational mirror pays the full
    // |vecs|·K·dim expansion the engine's fused argmin avoids; lut is
    // ed restricted to probes (the same distances the driver computes)
    "sim_pq_topk" ->
      s"""WITH pts AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * $KM_QS + 0.5) AS BIGINT) + $KM_OFF) AS qe
         |  FROM embeddings),
         |cb AS MATERIALIZED (SELECT vec_id AS k, qe AS ce FROM pts WHERE vec_id < $PQ_K),
         |ix AS (SELECT unnest(generate_series(1, ${PQ_M * PQ_SUB})) AS i),
         |ed AS MATERIALIZED (SELECT p.vec_id, (i.i - 1) // $PQ_SUB AS m, c.k,
         |    SUM((p.qe[i.i] - c.ce[i.i]) * (p.qe[i.i] - c.ce[i.i])) AS dist
         |  FROM pts p, cb c, ix i GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, m, k AS code FROM (
         |    SELECT vec_id, m, k,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
         |    FROM ed) z
         |  WHERE rn = 1),
         |lut AS (SELECT vec_id AS query_id, m, k, dist FROM ed WHERE vec_id < $NQ),
         |ad AS (SELECT l.query_id, c.vec_id, CAST(SUM(l.dist) AS BIGINT) AS adist
         |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.k
         |  WHERE c.vec_id <> l.query_id GROUP BY 1, 2),
         |r AS (SELECT query_id, vec_id, adist,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS BIGINT) AS rk
         |  FROM ad)
         |SELECT query_id, vec_id, rk, adist FROM r WHERE rk <= $PQ_TOP""".stripMargin,
    // sim_ann_ivf's assignment grid with MP_C cells, stride probes and
    // MP_NPROBE probed cells per query — candidates still crn = 1
    "sim_knn_multiprobe" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $MP_C),
         |apairs AS (SELECT e.vec_id AS avid, c.cid, e.embedding AS ave, c.ce
         |  FROM embeddings e, cents c),
         |aflat AS (SELECT avid, cid, unnest(ave) AS x, unnest(ce) AS y FROM apairs),
         |asim AS (SELECT avid, cid,
         |  round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) /
         |    (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
         |     sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS c_sim
         |  FROM aflat GROUP BY avid, cid),
         |ranked AS (SELECT avid, cid,
         |  row_number() OVER (PARTITION BY avid ORDER BY c_sim DESC, cid) AS crn
         |  FROM asim),
         |lists AS (SELECT avid AS vid, cid FROM ranked WHERE crn = 1),
         |probes AS (SELECT avid AS qid, cid FROM ranked
         |  WHERE crn <= $MP_NPROBE AND avid % $KNN_STRIDE = 0),
         |cand AS (SELECT qid, l.vid AS vid FROM probes p JOIN lists l ON p.cid = l.cid
         |  WHERE l.vid <> p.qid),
         |cpairs AS (SELECT qid, vid, eq.embedding AS qe, ev.embedding AS ve
         |  FROM cand JOIN embeddings eq ON eq.vec_id = qid
         |            JOIN embeddings ev ON ev.vec_id = vid),
         |cflat AS (SELECT qid, vid, unnest(qe) AS qx, unnest(ve) AS vx FROM cpairs),
         |sims AS (SELECT qid, vid,
         |  round(sum(CAST(qx AS DOUBLE) * CAST(vx AS DOUBLE)) /
         |    (sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) *
         |     sqrt(sum(CAST(vx AS DOUBLE) * CAST(vx AS DOUBLE)))), 6) AS cos_sim
         |  FROM cflat GROUP BY qid, vid)
         |SELECT qid, vid, cos_sim, rk FROM (
         |  SELECT qid, vid, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rk
         |  FROM sims) WHERE rk <= $KNN_K""".stripMargin,
    "sim_knn_graph" ->
      s"""WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
         |  FROM embeddings WHERE vec_id % $KNN_STRIDE = 0),
         |pairs AS (SELECT qid, vec_id AS vid, qe, embedding AS ve
         |  FROM q JOIN embeddings ON label = qlabel AND vec_id <> qid),
         |flat AS (SELECT qid, vid, unnest(qe) AS qx, unnest(ve) AS vx FROM pairs),
         |sims AS (SELECT qid, vid,
         |  round(sum(CAST(qx AS DOUBLE) * CAST(vx AS DOUBLE)) /
         |    (sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) *
         |     sqrt(sum(CAST(vx AS DOUBLE) * CAST(vx AS DOUBLE)))), 6) AS cos_sim
         |  FROM flat GROUP BY qid, vid)
         |SELECT qid, vid, cos_sim, rk FROM (
         |  SELECT qid, vid, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rk
         |  FROM sims) WHERE rk <= $KNN_K""".stripMargin,
    "sim_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
         |  FROM embeddings WHERE vec_id < $NQ),
         |pairs AS (SELECT qid, vec_id AS vid, qe, embedding AS ve
         |  FROM q, embeddings WHERE label <> qlabel),
         |flat AS (SELECT qid, vid, unnest(qe) AS qx, unnest(ve) AS vx FROM pairs),
         |sims AS (SELECT qid, vid,
         |  round(sum(CAST(qx AS DOUBLE) * CAST(vx AS DOUBLE)) /
         |    (sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) *
         |     sqrt(sum(CAST(vx AS DOUBLE) * CAST(vx AS DOUBLE)))), 6) AS cos_sim
         |  FROM flat GROUP BY qid, vid)
         |SELECT qid, vid, cos_sim, rk FROM (
         |  SELECT qid, vid, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rk
         |  FROM sims) WHERE rk <= $K""".stripMargin,
    "sim_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NQ),
         |pairs AS (SELECT qid, vec_id AS vid, qe, embedding AS ve
         |  FROM q, embeddings WHERE vec_id <> qid),
         |flat AS (SELECT qid, vid, unnest(qe) AS qx, unnest(ve) AS vx FROM pairs),
         |sims AS (SELECT qid, vid,
         |  round(sum(CAST(qx AS DOUBLE) * CAST(vx AS DOUBLE)) /
         |    (sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) *
         |     sqrt(sum(CAST(vx AS DOUBLE) * CAST(vx AS DOUBLE)))), 6) AS cos_sim
         |  FROM flat GROUP BY qid, vid)
         |SELECT qid, vid, cos_sim, rk FROM (
         |  SELECT qid, vid, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rk
         |  FROM sims) WHERE rk <= $K""".stripMargin,
    // candidate set = union over the 4 tables of full-signature
    // matches; the OR join yields each pair once, the same set the
    // Spark side's first-matching-table union emits
    "sim_ann_lsh" ->
      s"""WITH planes AS (
         |  SELECT j, k,
         |    CASE WHEN (strpos('0123456789abcdef', substr(md5(j || ':' || k), 2, 1)) - 1) % 2 = 1
         |         THEN 1.0 ELSE -1.0 END AS hv
         |  FROM range(0, ${ANN_TABLES * ANN_BITS}) t1(j), range(0, 64) t2(k)),
         |flatv AS (SELECT vec_id, unnest(embedding) AS x,
         |  unnest(range(0, len(embedding))) AS k FROM embeddings),
         |dots AS (SELECT vec_id, j, sum(CAST(x AS DOUBLE) * hv) AS dp
         |  FROM flatv JOIN planes ON flatv.k = planes.k GROUP BY vec_id, j),
         |sigs AS (SELECT vec_id,
         |  string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
         |  FROM dots GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS qid, e.embedding AS qe, g.bucket AS qbucket
         |  FROM embeddings e JOIN sigs g ON e.vec_id = g.vec_id WHERE e.vec_id < $NQ),
         |c AS (SELECT e.vec_id AS vid, e.embedding AS ve, g.bucket
         |  FROM embeddings e JOIN sigs g ON e.vec_id = g.vec_id),
         |pairs AS (SELECT qid, vid, qe, ve FROM q JOIN c ON vid <> qid AND (${
           (0 until ANN_TABLES).map(t =>
             s"substr(bucket, ${t * ANN_BITS + 1}, $ANN_BITS) = substr(qbucket, ${t * ANN_BITS + 1}, $ANN_BITS)")
             .mkString(" OR ")})),
         |flat AS (SELECT qid, vid, unnest(qe) AS qx, unnest(ve) AS vx FROM pairs),
         |sims AS (SELECT qid, vid,
         |  round(sum(CAST(qx AS DOUBLE) * CAST(vx AS DOUBLE)) /
         |    (sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) *
         |     sqrt(sum(CAST(vx AS DOUBLE) * CAST(vx AS DOUBLE)))), 6) AS cos_sim
         |  FROM flat GROUP BY qid, vid)
         |SELECT qid, vid, cos_sim, rk FROM (
         |  SELECT qid, vid, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rk
         |  FROM sims) WHERE rk <= $K""".stripMargin,
    "sim_ann_ivf" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $C),
         |apairs AS (SELECT e.vec_id AS avid, c.cid, e.embedding AS ave, c.ce
         |  FROM embeddings e, cents c),
         |aflat AS (SELECT avid, cid, unnest(ave) AS x, unnest(ce) AS y FROM apairs),
         |asim AS (SELECT avid, cid,
         |  round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) /
         |    (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
         |     sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS c_sim
         |  FROM aflat GROUP BY avid, cid),
         |ranked AS (SELECT avid, cid,
         |  row_number() OVER (PARTITION BY avid ORDER BY c_sim DESC, cid) AS crn
         |  FROM asim),
         |lists AS (SELECT avid AS vid, cid FROM ranked WHERE crn = 1),
         |probes AS (SELECT avid AS qid, cid FROM ranked WHERE crn <= $NPROBE AND avid < $NQ),
         |cand AS (SELECT qid, l.vid AS vid FROM probes p JOIN lists l ON p.cid = l.cid
         |  WHERE l.vid <> p.qid),
         |cpairs AS (SELECT qid, vid, eq.embedding AS qe, ev.embedding AS ve
         |  FROM cand JOIN embeddings eq ON eq.vec_id = qid
         |            JOIN embeddings ev ON ev.vec_id = vid),
         |cflat AS (SELECT qid, vid, unnest(qe) AS qx, unnest(ve) AS vx FROM cpairs),
         |sims AS (SELECT qid, vid,
         |  round(sum(CAST(qx AS DOUBLE) * CAST(vx AS DOUBLE)) /
         |    (sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) *
         |     sqrt(sum(CAST(vx AS DOUBLE) * CAST(vx AS DOUBLE)))), 6) AS cos_sim
         |  FROM cflat GROUP BY qid, vid)
         |SELECT qid, vid, cos_sim, rk FROM (
         |  SELECT qid, vid, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rk
         |  FROM sims) WHERE rk <= $K""".stripMargin,
    // mirrors the capped form: blocks over EMB_BLOCK_CAP pair only
    // within matching 4-bit LSH sub-bands (ANY band — the Spark side's
    // first-matching-band emission produces the same pair set)
    "dedup_embedding" ->
      s"""WITH planes AS (
         |  SELECT j, k,
         |    CASE WHEN (strpos('0123456789abcdef', substr(md5(j || ':' || k), 2, 1)) - 1) % 2 = 1
         |         THEN 1.0 ELSE -1.0 END AS hv
         |  FROM range(0, $SUB_BITS) t1(j), range(0, 64) t2(k)),
         |flatv AS (SELECT vec_id, unnest(embedding) AS x,
         |  unnest(range(0, len(embedding))) AS k FROM embeddings),
         |dots AS (SELECT vec_id, j, sum(CAST(x AS DOUBLE) * hv) AS dp
         |  FROM flatv JOIN planes ON flatv.k = planes.k GROUP BY vec_id, j),
         |sigs AS (SELECT vec_id,
         |  string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sig
         |  FROM dots GROUP BY vec_id),
         |nl AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY label),
         |keyed AS (SELECT e.label, e.vec_id, e.embedding,
         |  CASE WHEN nl.n_label <= $EMB_BLOCK_CAP THEN '' ELSE substr(g.sig, 1, $SUB_W) END AS k0,
         |  CASE WHEN nl.n_label <= $EMB_BLOCK_CAP THEN '' ELSE substr(g.sig, ${SUB_W + 1}, $SUB_W) END AS k1,
         |  CASE WHEN nl.n_label <= $EMB_BLOCK_CAP THEN '' ELSE substr(g.sig, ${2 * SUB_W + 1}, $SUB_W) END AS k2,
         |  CASE WHEN nl.n_label <= $EMB_BLOCK_CAP THEN '' ELSE substr(g.sig, ${3 * SUB_W + 1}, $SUB_W) END AS k3
         |  FROM embeddings e JOIN sigs g ON e.vec_id = g.vec_id
         |       JOIN nl ON e.label = nl.label),
         |pairs AS (
         |  SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    a.embedding AS ea, b.embedding AS eb
         |  FROM keyed a JOIN keyed b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |   AND (a.k0 = b.k0 OR a.k1 = b.k1 OR a.k2 = b.k2 OR a.k3 = b.k3)),
         |flat AS (SELECT label, vec_a, vec_b, unnest(ea) AS xa, unnest(eb) AS xb FROM pairs),
         |sims AS (SELECT label, vec_a, vec_b,
         |  round(sum(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) /
         |    (sqrt(sum(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE))) *
         |     sqrt(sum(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE)))), 6) AS cos_sim
         |  FROM flat GROUP BY label, vec_a, vec_b)
         |SELECT label, vec_a, vec_b, cos_sim FROM sims WHERE cos_sim >= 0.4""".stripMargin
  )

  // dedup_semantic embeds the dedup_embedding pair SQL verbatim as a
  // CTE (nested WITH — DuckDB-supported, same device as the quality
  // composite), then runs the same recursive-reachability CC the
  // dedup_clusters oracle uses: the op and its pair generator cannot
  // drift. pairs0/edges are AS MATERIALIZED: DuckDB inlines plain
  // CTEs into the recursive term and re-evaluates the whole pair
  // pipeline (~277 s at sf3) on EVERY iteration — the inlined form
  // ran >2 h at sf3 where the materialized form finishes in ~6 min
  // (same rows; r13 measurement, /tmp probes).
  val oracle: Map[String, String] = baseOracle +
    ("dedup_semantic" ->
      s"""WITH RECURSIVE pairs0 AS MATERIALIZED (${baseOracle("dedup_embedding")}),
         |edges AS MATERIALIZED (SELECT vec_a, vec_b FROM pairs0
         |  UNION SELECT vec_b AS vec_a, vec_a AS vec_b FROM pairs0),
         |nodes AS (SELECT DISTINCT vec_a AS vec_id FROM edges),
         |reach AS (
         |  SELECT vec_id AS src, vec_id AS dst FROM nodes
         |  UNION
         |  SELECT r.src, e.vec_b AS dst FROM reach r JOIN edges e ON r.dst = e.vec_a
         |)
         |SELECT src AS vec_id, min(dst) AS cluster_rep,
         |  CAST(CASE WHEN src = min(dst) THEN 1 ELSE 0 END AS INT) AS is_keeper
         |FROM reach GROUP BY src""".stripMargin)
}
