package graft.operators

import graft.GraftSession
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph analytics over the document corpus — the web-graph
  * quality signals a pretraining pipeline computes next to its text
  * signals (PageRank-family centrality is the classic crawl-priority /
  * page-quality feature).
  *
  * The corpus carries no real hyperlink column, so the edge set is
  * derived DETERMINISTICALLY from doc ids (k md5-hash targets per doc,
  * the repo's portable-hash idiom) — both engines rebuild the identical
  * graph, which keeps an iterative float-free PageRank oracle-checkable
  * bit-for-bit. On a real crawl the edge table comes from
  * text_html_links resolved against a URL→doc index; everything from
  * the edge table down is unchanged.
  *
  * Scale posture: each iteration is ONE hash aggregate over the edge
  * stream (3N rows) joined map-side against the previous rank vector
  * (N rows, AQE-broadcast while ranks fit, shuffle-join beyond that) —
  * the standard distributed PageRank step, linear per iteration, no
  * driver-side state. [[qPagerank]] runs a FIXED 3 steps (cheap smoke
  * twin, bounded plan depth); [[qPagerankConverged]] is the production
  * form — integer-mass delta stopping rule, checkpointed iterates, the
  * oracle mirroring the RULE rather than a pinned depth. Both
  * materialize the edge projection once (the memoized-table pattern
  * dedup_canonical uses) instead of re-deriving it per iteration.
  * Ranks are integer fixed-point (1e12 total mass, integer division
  * only), so no float accumulation order can diverge between engines —
  * the same exactness discipline as Money.
  */
object GraphOps {
  import Loop.TruncOps

  private val SCALE = 1000000000000L // total rank mass, fixed-point
  private[operators] val K = 3       // out-degree of every doc (specs reuse it)
  private[operators] val ITERS_SMOKE = 3 // fixed iteration count (q_pagerank)
  private val TOP = 100              // result rows (total-order tiebreak)
  // convergence-driven form: stop when the total absolute rank change
  // (integer mass units) drops to ≤ EPS = SCALE·1e-6, hard-bounded at
  // MAX_ITERS. Deltas halve per step from ~0.36·SCALE (measured r16,
  // sf0.001→sf1), so the rule fires around step 20 at every tested SF;
  // 26 bounds the pathological case.
  private[operators] val PR_EPS = SCALE / 1000000L
  private[operators] val PR_MAX = 26

  /** doc ids with the corpus count attached (scalar broadcast) — the
    * shared root of every derived-graph operator. */
  private def idsFor(s: SparkSession, d: String): DataFrame = {
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    documents(s, d).select(col("doc_id")).crossJoin(broadcast(nDocs))
  }

  /** The deterministic K-regular edge set (src, dst) both engines
    * rebuild identically — see the object scaladoc. */
  private def edgesFor(ids: DataFrame): DataFrame =
    ids.select(col("doc_id").as("src"),
      explode(array((1 to K).map(k =>
        conv(substring(md5(concat(lit("pr:"), col("doc_id"), lit(s":$k"))), 1, 8), 16, 10)
          .cast("long") % col("n_docs")): _*)).as("dst"))

  /** PageRank with damping 0.85 over the derived K-regular link graph:
    * p'(v) = (15·(SCALE div N)) div 100 + (85·Σ_{u→v} p(u) div K) div 100,
    * ITERS fixed steps from the uniform vector, all arithmetic on
    * longs. Output: top-TOP docs by (pr desc, doc_id) with in-degree.
    *
    * One static co-partitioned plan at every size (r16; unlike the
    * converged loop, no size gear): ids/edges repartition once on the
    * join keys inside the SINGLE plan — 3 fixed steps need no
    * checkpoints, the reused exchange plays the checkpoint's role —
    * with shuffle-hash hints, so no O(n) rank vector is broadcast per
    * step (the posture that survives 100×). AQE stays ON: the hints
    * carry the no-broadcast guarantee into adaptive replanning (a
    * session-conf toggle around a LAZY DataFrame would not — the
    * caller's action runs outside any scoped conf; r17, per advice).
    * Measured: sf10 4.9 → 4.3 s, sf0.1 parity; the gear machinery's
    * metadata count job costs more than it saves at smoke depth. */
  def qPagerank(s: SparkSession, d: String): DataFrame = {
    val ids = idsFor(s, d).repartition(col("doc_id"))
    val edges = edgesFor(ids).repartition(col("src"))
    def hinted(df: DataFrame): DataFrame = df.hint("shuffle_hash")
    var ranks = ids.select(col("doc_id").as("rid"),
      expr(s"$SCALE DIV n_docs").as("p"))
    for (_ <- 1 to ITERS_SMOKE) {
      val insum = edges.join(hinted(ranks), col("src") === col("rid"))
        .groupBy(col("dst")).agg(sum(expr(s"p DIV $K")).as("insum"))
      ranks = ids.join(hinted(insum), col("doc_id") === col("dst"), "left")
        .select(col("doc_id").as("rid"),
          (expr(s"(15 * ($SCALE DIV n_docs)) DIV 100") +
            expr("(85 * coalesce(insum, 0)) DIV 100")).as("p"))
    }
    val indeg = edges.groupBy(col("dst").as("ind_id"))
      .agg(count(lit(1)).as("in_deg"))
    ids.select(col("doc_id"))
      .join(indeg, col("doc_id") === col("ind_id"), "left")
      .join(ranks, col("doc_id") === col("rid"))
      .select(col("doc_id"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        col("p").as("pr"))
      .orderBy(col("pr").desc, col("doc_id").asc)
      .limit(TOP)
  }

  /** PageRank run to CONVERGENCE — the production form of
    * [[qPagerank]] (which keeps its fixed 3 steps as the cheap
    * smoke-depth twin). The loop applies the identical integer
    * fixed-point step, but stops on an integer-mass delta rule:
    * Σ|p_i − p_{i−1}| ≤ PR_EPS (1e-6 of total mass), hard-bounded at
    * PR_MAX. Per iteration the driver sees ONE scalar (the delta),
    * whose action also materializes the lazily-truncated iterate: one
    * action per step ([[Loop]]).
    *
    * The ORACLE mirrors the stopping rule, not a pinned depth: the
    * chained-CTE rank steps unroll to PR_MAX, per-step deltas are
    * scalar CTEs, and the final select picks the vector at
    * min{i : delta_i ≤ EPS} (PR_MAX if none) — so both engines choose
    * the same depth BY THE SAME RULE at any SF, and the converged
    * depth rides the output as n_iters. Integer arithmetic end to end:
    * no float accumulation can diverge, and the rounding floor that
    * keeps delta from ever reaching exactly 0 (measured: the tail
    * flattens near O(n_docs) mass units) is why the rule is a
    * threshold, not a fixpoint test.
    *
    * Gears ([[Loop.Gear]], picked by a metadata row count, rows
    * spec-asserted identical): up to PR_COPART_DOCS the small gear with
    * broadcast loop joins (sf0.1: 10.5 s at 32 parts → 4.4 s at 8);
    * beyond it ids/edges/ranks co-partitioned once, so a step has one
    * exchange (the groupBy(dst)) and no O(n) rank broadcast, which is
    * what ate the AQE gear at sf10 (33.8 s → 13.8 s measured). */
  def qPagerankConverged(s: SparkSession, d: String): DataFrame = {
    val nDocs = documents(s, d).count() // one metadata count serves both gear checks
    prConverged(s, d, copart = nDocs > PR_COPART_DOCS, nDocs = nDocs)
  }

  private[operators] val PR_COPART_DOCS = 100000L
  private val PR_PART_ROWS = PR_COPART_DOCS / 8 // copart gear: 8 partitions per 100k docs

  private[operators] def prConverged(s: SparkSession, d: String,
      copart: Boolean, nDocs: Long = -1L): DataFrame = {
    val n = if (nDocs >= 0) nDocs else documents(s, d).count()
    val st = prCore(s, idsFor(s, d),
      ids => edgesFor(ids).withColumn("outdeg", lit(K.toLong)),
      n, copart, PR_MAX)
    prOutput(st)
  }

  /** Materialized loop state handed back to the output builders. */
  private case class PrState(ids: DataFrame, edges: DataFrame,
                             ranks: DataFrame, iters: Int)

  /** The shared integer-PageRank fixed-point loop, generalized over an
    * arbitrary edge set with per-source out-degree (src, dst, outdeg) —
    * the derived K-regular lane passes outdeg = K, the real-edge lane
    * its variable resolver output. Identical posture to the r16 loop:
    * per iteration the driver sees ONE scalar (the delta); edges and
    * each iterate are lineage-truncated; the [[Loop.Gear]] switches to
    * the co-partitioned gear beyond PR_COPART_DOCS. `edgesOf` receives
    * the MATERIALIZED ids so derived-edge callers reuse that checkpoint. */
  private def prCore(s: SparkSession, idsIn: DataFrame,
      edgesOf: DataFrame => DataFrame, nDocs: Long,
      copart: Boolean, maxIters: Int): PrState = {
    // small gear (r21): the explicit broadcast hint makes the loop joins
    // map-side from the static plan (AQE alone broadcast the small build
    // sides only after shuffling them to measure them), so a step's only
    // exchange is the groupBy(dst)
    val gear = Loop.gear(s, nDocs, copart, PR_PART_ROWS, smallHint = Some("broadcast"))
    gear {
      val ids = gear.keyed(idsIn, "doc_id").truncEager
      val edges = gear.keyed(edgesOf(ids), "src").truncEager
      // the teleport term is a per-graph CONSTANT — (15·(SCALE DIV n))
      // DIV 100 in the same truncating arithmetic the SQL form used
      // (all operands non-negative, so Scala / ≡ SQL DIV). Folding it
      // to a literal lets the loop join insum back onto RANKS instead
      // of ids — row-identical (ranks is one row per doc_id at every
      // step by construction) — which carries p0 alongside p and FUSES
      // the separate delta join away: 3 joins/step → 2, same single
      // job per step (r20 opt round, guide §2.4).
      val teleport =
        if (nDocs <= 0) 0L else (15L * (SCALE / nDocs)) / 100L
      var ranks = ids.select(col("doc_id").as("rid"),
        expr(s"$SCALE DIV n_docs").as("p")).truncEager
      val (it, _) = Loop.converge(maxIters) {
        val insum = edges.join(gear.hinted(ranks), col("src") === col("rid"))
          .groupBy(col("dst")).agg(sum(expr("p DIV outdeg")).as("insum"))
        val pair = ranks.select(col("rid"), col("p").as("p0"))
          .join(gear.hinted(insum), col("rid") === col("dst"), "left")
          .select(col("rid"),
            (lit(teleport) +
              expr("(85 * coalesce(insum, 0)) DIV 100")).as("p"),
            col("p0"))
          .truncLazy
        // the one scalar the driver sees per step; this action also
        // materializes `pair`'s checkpoint (no separate job)
        val delta = pair.agg(sum(abs(col("p") - col("p0")))).head().getLong(0)
        ranks = pair.select(col("rid"), col("p"))
        delta <= PR_EPS
      }
      PrState(ids, edges, ranks, it)
    }
  }

  /** Standard PageRank output: top-TOP docs by (pr desc, doc_id) with
    * in-degree and the converged depth. */
  private def prOutput(st: PrState): DataFrame = {
    val indeg = st.edges.groupBy(col("dst").as("ind_id"))
      .agg(count(lit(1)).as("in_deg"))
    st.ids.select(col("doc_id"))
      .join(indeg, col("doc_id") === col("ind_id"), "left")
      .join(st.ranks, col("doc_id") === col("rid"))
      .select(col("doc_id"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        col("p").as("pr"),
        lit(st.iters.toLong).as("n_iters"))
      .orderBy(col("pr").desc, col("doc_id").asc)
      .limit(TOP)
  }

  // real-edge lane: its own hard bound (the power-law graph mixes at
  // ~0.85/step — damping-limited, unlike the expander's ~0.5 — so the
  // delta rule may not fire before the bound at large SF; both engines
  // then pick the PR_MAX_REAL vector BY THE SAME RULE, still exact)
  private[operators] val PR_MAX_REAL = 20

  /** The crawl-shaped edge pipeline the GraphOps scaladoc promises:
    * anchors EXTRACTED from each document's HTML (regexp over the
    * rendered page, the text_html_links machinery), RESOLVED against a
    * URL→doc index (equi-join on the canonical URL; links to external
    * hosts — videos.example — find no index row and drop out, the real
    * crawl behavior), then canonicalized to DISTINCT non-self (src,
    * dst) with per-source out-degree. The synthetic corpus carries no
    * real hrefs, so the page decoration plants them deterministically:
    * a nav link to doc (id mod 7) — the footer-link family every site
    * has — and three content links with ZIPF-TAILED targets
    * (n DIV (1 + md5-uniform) gives P(dst = t) ~ 1/t², in-degree
    * power law: doc 1 absorbs ~half the content links). Both engines
    * rebuild the identical page, extraction and all.
    *
    * SKEW is therefore real here, in two places, by design:
    *  - the resolve join: ~half the probe rows carry the same hot URL.
    *    AQE skew-join splits the hot partition (sort-merge/shuffled-
    *    hash); measured numbers in SURVEY §8.
    *  - the per-iteration groupBy(dst): hot dst=1 receives ~1.5n rows,
    *    flattened by map-side partial aggregation to one partial per
    *    partition — the reason the loop aggregates BEFORE joining ids.
    * The triangle lane (qTriangleReal) orients edges by (degree, id),
    * the power-law posture GraphOps:210 promises. */
  /** Run `body` with AQE's skew-join split tuned to fire on the
    * real-edge shape — the SKEWBENCH finding wired into the lanes it
    * measured (r19, per verdict): the resolve join's hot partition is
    * ~half the probe rows carrying ONE identical URL, which compresses
    * far below the stock 256 MB byte threshold, so byte-based skew
    * detection never fires (redge_amp_aqe_default ≈ _off); at a 1 MB
    * threshold + 512 KB advisory size the split fires and wins 1.7×
    * at amplified sf10 skew (redge_amp_aqe_tuned 1.03 s vs 1.73 s),
    * beating untuned salting's 1.3×. Conf-scoped around the
    * materializing action and restored after — the stream_join
    * shuffle-partition discipline; on a real cluster these two values
    * are layout facts (compressed hot-block size), not per-query
    * tuning.
    *
    * CONCURRENCY CONTRACT: session confs are session-GLOBAL, so any
    * query planned on this SparkSession while `body` runs (including
    * the full CC loop in qComponentsReal) inherits the 1 MB/512 KB
    * values — harmless for correctness, but it coalesces to many tiny
    * partitions. The engine's entry points (Verify/Bench/driver) run
    * queries sequentially per session; a concurrent deployment should
    * give skew-tuned lanes their own session (`s.newSession()` shares
    * the catalog, isolates confs) rather than interleave. Restore is
    * exception-safe; interleaving is the documented non-goal. */
  private def withSkewTuned[T](s: SparkSession)(body: => T): T =
    GraftSession.withConfs(s, Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512k"))(body)

  /** [[realEdges]] materialized once (localCheckpoint) under the
    * skew-tuned scope: the resolve join executes HERE, so the AQE
    * split sees its hot URL partition with a threshold it can fire at. */
  private def resolvedEdges(s: SparkSession, d: String): DataFrame = {
    withSkewTuned(s) { realEdges(s, d).truncEager }
  }

  private[graft] def realEdges(s: SparkSession, d: String): DataFrame = {
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    def zipf(k: Int): String =
      s"""(n_docs DIV (1 + CAST(conv(substring(md5(concat('edge:',
         |  CAST(doc_id AS STRING), ':$k')), 1, 8), 16, 10) AS BIGINT)
         |  % n_docs)) % n_docs""".stripMargin
    val pages = documents(s, d).select(col("doc_id"), col("text"))
      .crossJoin(broadcast(nDocs))
      .withColumn("html", concat(
        lit("<p><a href=\"https://videos.example/v"), col("doc_id"),
        lit("\">w</a> <a href=\"https://docs.example/d"), col("doc_id") % 7,
        lit("\">nav</a> <a href=\"https://docs.example/d"), expr(zipf(1)),
        lit("\">c</a> <a href=\"https://docs.example/d"), expr(zipf(2)),
        lit("\">c</a> <a href=\"https://docs.example/d"), expr(zipf(3)),
        lit("\">c</a> "), col("text"), lit("</p>")))
    val links = pages.select(col("doc_id").as("src"),
      explode(regexp_extract_all(col("html"), lit("href=\"([^\"]+)\""), lit(1)))
        .as("url"))
    val idx = documents(s, d).select(
      concat(lit("https://docs.example/d"), col("doc_id")).as("url"),
      col("doc_id").as("dst"))
    val e0 = links.join(idx, "url")
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val od = e0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    e0.join(od, "src").select("src", "dst", "outdeg")
  }

  /** Converged PageRank over the REAL extracted+resolved edge table —
    * the production form for an actual crawl (the derived-K-regular
    * twins keep the smoke/expander lane). Same integer fixed-point,
    * same delta stopping rule and driver posture via [[prCore]]; the
    * contribution divides by each source's true out-degree. Docs whose
    * links all failed to resolve or self-canceled contribute nothing
    * (dangling mass is NOT redistributed — deterministic, mirrored in
    * the oracle; the redistribution variant costs one extra scalar agg
    * per step and is noted, not needed, here). */
  def qPagerankReal(s: SparkSession, d: String): DataFrame = {
    val nDocs = documents(s, d).count()
    // materialize the resolver output ONCE (the memoized-table pattern);
    // the loop then re-reads a checkpoint, never the resolve join
    val edges = resolvedEdges(s, d)
    val st = prCore(s, idsFor(s, d), _ => edges, nDocs,
      copart = nDocs > PR_COPART_DOCS, maxIters = PR_MAX_REAL)
    prOutput(st)
  }

  /** Connected components over the REAL extracted+resolved edge graph —
    * the reachability profile next to PageRank's centrality (crawl-side
    * uses: island detection, dead-cluster pruning, seed-set coverage).
    * Runs the SAME iterative min-label-propagation loop the near-dup
    * families run ([[DedupOps.connectedComponents]] — one CC
    * implementation, three candidate graphs), here over the power-law
    * [[realEdges]] table where the mega-hub (doc 1, in-degree ~0.9n)
    * makes the per-round label join genuinely skewed: every round
    * probes the hub's label from ~n edge rows, flattened by map-side
    * partial aggregation on the min() — and at amplified skew the AQE
    * skew-join split carries the rest.
    *
    * Output: every document with its component representative (min
    * doc_id in the component; isolated docs are their own singleton
    * component) and the component's size.
    *
    * ORACLE: the loop's exact unroll — [[DedupOps.CC_MAX]]
    * min-propagation steps after the min(self, neighbors) seed, each
    * step the identical update, so early convergence (idempotent at
    * the fixpoint) and the hard bound both mirror bit-for-bit at any
    * SF; no convergence scalar needs to cross into SQL. */
  def qComponentsReal(s: SparkSession, d: String): DataFrame = {
    val edges = resolvedEdges(s, d).select("src", "dst")
    // the CC hub join is the OTHER genuinely skewed join here (every
    // round probes the mega-hub's label from ~n edge rows): run the
    // whole loop under the same tuned skew scope
    val reps = withSkewTuned(s) { DedupOps.connectedComponents(edges) }
    val all = documents(s, d).select(col("doc_id"))
      .join(reps.select(col("doc_id"), col("rep")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("comp"))
    val sizes = all.groupBy("comp").agg(count(lit(1)).as("comp_size"))
    all.join(sizes, "comp").select("doc_id", "comp", "comp_size")
  }

  /** One unrolled min-propagation step of the CC oracle — the SQL
    * mirror of a [[DedupOps.connectedComponents]] round: each node's
    * next label is the min over its own and all neighbors' labels. */
  private def ccStep(prev: String, next: String): String =
    s"""$next AS MATERIALIZED (SELECT doc_id, MIN(rep) AS rep FROM (
       |  SELECT doc_id, rep FROM $prev
       |  UNION ALL
       |  SELECT und.doc_a AS doc_id, p.rep FROM und JOIN $prev p
       |    ON und.doc_b = p.doc_id) u
       |  GROUP BY doc_id)""".stripMargin

  /** Triangle + wedge census of the derived link graph (global
    * clustering coefficient — the graph-cohesion profile next to
    * PageRank's centrality): undirected-distinct edges canonicalized
    * a<b, triangles {a<b<c} enumerated once via the two-path join
    * e(a,b)⋈e(b,c) semi-joined against the closing edge e(a,c) — the
    * MapReduce triangle-counting shape (Suri & Vassilvitskii, WWW'11).
    * Wedge work per center is (smaller-neighbors)·(larger-neighbors) ≤
    * deg²; here in-degrees are hash-uniform (Poisson(K), max
    * O(log n/log log n)) so id-ordering already bounds the join width —
    * on a power-law graph the same plan orients edges by (degree, id)
    * instead, which caps the width at O(√m) per node; everything else
    * is unchanged. Three shuffles total (distinct, wedge join, closing
    * semi-join), output one row. */
  def qTriangleCount(s: SparkSession, d: String): DataFrame = {
    val und = edgesFor(idsFor(s, d))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val tri = und.as("x")
      .join(und.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("wa"), col("x.b").as("wb"), col("y.b").as("wc"))
      .join(und.as("z"),
        col("wa") === col("z.a") && col("wc") === col("z.b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
      .agg(sum(expr("dg * (dg - 1) DIV 2")).as("n_wedges"))
    tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        (floor(lit(3.0) * col("n_triangles") / col("n_wedges") * 1e6 + 0.5) / 1e6)
          .as("closure"))
  }

  /** Triangle + wedge census over the REAL extracted edge set — the
    * power-law twin of [[qTriangleCount]], with the (degree, id)
    * orientation that lane's scaladoc promises: every undirected edge
    * points from its lower-(deg, id) endpoint to the higher, so wedges
    * form only at each triangle's LOWEST-ordered corner and the join
    * width per node is bounded by O(√m) even under power-law degrees
    * (the node-iterator++ bound: a node of degree > √m has all its
    * wedge partners of HIGHER order, and there are < √m such nodes) —
    * id-ordering alone would put the mega-hub (doc 1, in-degree ~n/2)
    * at the center of ~deg²/2 wedges. Each triangle {u,v,w} with
    * ord(u) < ord(v) < ord(w) is counted exactly once: as the wedge
    * (u; v, w) closed by the oriented edge v→w. */
  def qTriangleReal(s: SparkSession, d: String): DataFrame = {
    // MATERIALIZE the shared intermediates (r17, from the plan audit):
    // und is referenced by deg + ord, ord three times (x/y/z), deg
    // three times — without truncation each reference re-expands the
    // whole extract→resolve pipeline into the plan (35 scalar-attach
    // BNLJ nodes observed), re-running the regexp extraction ~10×.
    // One localCheckpoint each turns the reuse into reads.
    val und = resolvedEdges(s, d)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().truncEager
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
      .truncEager
    // orient: lower (deg, id) endpoint -> higher; carry hi's order key
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val ord = und
      .join(deg.select(col("node").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("dg").as("db")), "b")
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("lo"),
        when(aLower, col("b")).otherwise(col("a")).as("hi"),
        when(aLower, col("db")).otherwise(col("da")).as("dhi"))
      .truncEager
    // wedge (lo; v, w) with ord(v) < ord(w); the closing edge {v, w},
    // if present, is then oriented v->w BY THE SAME TOTAL ORDER — the
    // semi-join stays a pure equi-join (hash, never nested-loop)
    val tri = ord.as("x")
      .join(ord.as("y"), col("x.lo") === col("y.lo") &&
        (col("x.dhi") < col("y.dhi") ||
          (col("x.dhi") === col("y.dhi") && col("x.hi") < col("y.hi"))))
      .select(col("x.hi").as("wv"), col("y.hi").as("ww"))
      .join(ord.as("z"),
        col("wv") === col("z.lo") && col("ww") === col("z.hi"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = deg.agg(sum(expr("dg * (dg - 1) DIV 2")).as("n_wedges"))
    tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        (floor(lit(3.0) * col("n_triangles") / col("n_wedges") * 1e6 + 0.5) / 1e6)
          .as("closure"))
  }

  /** DuckDB parse of the first 8 md5 hex digits as a BIGINT — the
    * oracle-side mirror of conv(substring(md5(x), 1, 8), 16, 10). */
  private def hex8(m: String): String =
    (1 to 8).map(i =>
      s"CAST(strpos('0123456789abcdef', substr($m, $i, 1)) - 1 AS BIGINT) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")

  /** Materialized variant for the converged chain: every r_i is read
    * 3–4 times (next step, two delta terms, allr) — DuckDB 1.0 inlines
    * plain CTEs per REFERENCE, which is exponential in chain depth
    * (the dedup_semantic lesson; the plain 26-step chain hung at 500
    * docs). */
  private def rankStepM(prev: String, next: String): String =
    s"""$next AS MATERIALIZED (SELECT ids.doc_id AS rid,
       |    (15 * ($SCALE // (SELECT n FROM nn))) // 100
       |    + (85 * COALESCE(s.insum, 0)) // 100 AS p
       |  FROM ids LEFT JOIN (
       |    SELECT e.dst, SUM($prev.p // $K) AS insum
       |    FROM e JOIN $prev ON e.src = $prev.rid GROUP BY e.dst) s
       |  ON ids.doc_id = s.dst)""".stripMargin

  private def rankStep(prev: String, next: String): String =
    s"""$next AS (SELECT ids.doc_id AS rid,
       |    (15 * ($SCALE // (SELECT n FROM nn))) // 100
       |    + (85 * COALESCE(s.insum, 0)) // 100 AS p
       |  FROM ids LEFT JOIN (
       |    SELECT e.dst, SUM($prev.p // $K) AS insum
       |    FROM e JOIN $prev ON e.src = $prev.rid GROUP BY e.dst) s
       |  ON ids.doc_id = s.dst)""".stripMargin

  /** rankStepM with the real lane's per-source out-degree division. */
  private def rankStepOdM(prev: String, next: String): String =
    s"""$next AS MATERIALIZED (SELECT ids.doc_id AS rid,
       |    (15 * ($SCALE // (SELECT n FROM nn))) // 100
       |    + (85 * COALESCE(s.insum, 0)) // 100 AS p
       |  FROM ids LEFT JOIN (
       |    SELECT e.dst, SUM($prev.p // e.outdeg) AS insum
       |    FROM e JOIN $prev ON e.src = $prev.rid GROUP BY e.dst) s
       |  ON ids.doc_id = s.dst)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> (qPagerank _),
    "q_pagerank_converged" -> (qPagerankConverged _),
    "q_pagerank_real" -> (qPagerankReal _),
    "q_triangle_count" -> (qTriangleCount _),
    "q_triangle_real" -> (qTriangleReal _),
    "q_components_real" -> (qComponentsReal _)
  )

  /** the derived-edge CTE chain shared by every graph oracle — the SQL
    * mirror of [[edgesFor]]. */
  private def edgeCtes: String =
    s"""nn AS (SELECT count(*) AS n FROM documents),
       |ids AS (SELECT doc_id FROM documents),
       |em AS (SELECT doc_id AS src, md5('pr:' || doc_id || ':' || k) AS m
       |  FROM ids, (SELECT unnest([${(1 to K).mkString(", ")}]) AS k) ks),
       |e AS (SELECT src,
       |    (${hex8("m")}) % (SELECT n FROM nn) AS dst FROM em)""".stripMargin

  /** the REAL-edge CTE chain — the SQL mirror of [[realEdges]]: same
    * page decoration, same regexp extraction, same URL→doc resolve,
    * same distinct-non-self canonicalization, out-degree attached. */
  private def realEdgeCtes: String =
    s"""nn AS (SELECT count(*) AS n FROM documents),
       |ids AS (SELECT doc_id FROM documents),
       |tt AS (SELECT doc_id, k,
       |    ((SELECT n FROM nn) // (1 + ((${hex8("m")}) % (SELECT n FROM nn))))
       |      % (SELECT n FROM nn) AS t
       |  FROM (SELECT doc_id, k, md5('edge:' || doc_id || ':' || k) AS m
       |        FROM documents, (SELECT unnest([1, 2, 3]) AS k) ks) z),
       |ca AS (SELECT doc_id, string_agg(
       |    '<a href="https://docs.example/d' || t || '">c</a>', ' ' ORDER BY k)
       |    AS anchors FROM tt GROUP BY doc_id),
       |h AS (SELECT d.doc_id,
       |    '<p><a href="https://videos.example/v' || d.doc_id ||
       |    '">w</a> <a href="https://docs.example/d' || (d.doc_id % 7) ||
       |    '">nav</a> ' || ca.anchors || ' ' || d.text || '</p>' AS html
       |  FROM documents d JOIN ca USING (doc_id)),
       |l AS (SELECT doc_id AS src,
       |    unnest(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS url FROM h),
       |idx AS (SELECT 'https://docs.example/d' || doc_id AS url,
       |    doc_id AS dst FROM documents),
       |e0 AS (SELECT DISTINCT l.src, idx.dst FROM l JOIN idx USING (url)
       |  WHERE l.src <> idx.dst),
       |od AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY src),
       |e AS MATERIALIZED (SELECT e0.src, e0.dst, od.outdeg
       |  FROM e0 JOIN od USING (src))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_triangle_count" ->
      s"""WITH $edgeCtes,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e WHERE src <> dst),
         |tri AS (SELECT count(*) AS n_triangles FROM und x
         |  JOIN und y ON x.b = y.a
         |  JOIN und z ON z.a = x.a AND z.b = y.b),
         |deg AS (SELECT node, count(*) AS dg FROM (
         |  SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und) u
         |  GROUP BY 1),
         |wed AS (SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
         |SELECT n_triangles, n_wedges,
         |  floor(3.0 * n_triangles / n_wedges * 1e6 + 0.5) / 1e6 AS closure
         |FROM tri, wed""".stripMargin,
    "q_pagerank" ->
      s"""WITH $edgeCtes,
         |r0 AS (SELECT doc_id AS rid, $SCALE // (SELECT n FROM nn) AS p FROM ids),
         |${rankStep("r0", "r1")},
         |${rankStep("r1", "r2")},
         |${rankStep("r2", "r3")},
         |indeg AS (SELECT dst, count(*) AS in_deg FROM e GROUP BY dst)
         |SELECT ids.doc_id, COALESCE(indeg.in_deg, 0) AS in_deg,
         |  CAST(r3.p AS BIGINT) AS pr
         |FROM ids LEFT JOIN indeg ON ids.doc_id = indeg.dst
         |JOIN r3 ON ids.doc_id = r3.rid
         |ORDER BY pr DESC, ids.doc_id LIMIT $TOP""".stripMargin,
    // the convergence-driven twin: the STOPPING RULE is mirrored in
    // SQL, not a pinned depth — rank steps unroll to PR_MAX, per-step
    // deltas are scalar CTEs, and the final vector is the one at
    // min{i : delta_i <= EPS} (PR_MAX if none), so both engines choose
    // the same depth by the same rule at any SF
    "q_pagerank_converged" -> {
      val steps = (1 to PR_MAX).map(i => rankStepM(s"r${i - 1}", s"r$i"))
        .mkString(",\n")
      val deltas = (1 to PR_MAX).map(i =>
        s"SELECT $i AS i, SUM(ABS(a.p - b.p)) AS dv FROM r$i a JOIN r${i - 1} b ON a.rid = b.rid")
        .mkString("\n  UNION ALL ")
      val allr = (1 to PR_MAX).map(i => s"SELECT $i AS i, rid, p FROM r$i")
        .mkString("\n  UNION ALL ")
      s"""WITH $edgeCtes,
         |r0 AS MATERIALIZED (SELECT doc_id AS rid, $SCALE // (SELECT n FROM nn) AS p FROM ids),
         |$steps,
         |dl AS MATERIALIZED ($deltas),
         |pick AS (SELECT COALESCE(MIN(i), $PR_MAX) AS ic FROM dl WHERE dv <= $PR_EPS),
         |allr AS ($allr),
         |indeg AS (SELECT dst, count(*) AS in_deg FROM e GROUP BY dst)
         |SELECT ids.doc_id, COALESCE(indeg.in_deg, 0) AS in_deg,
         |  CAST(fr.p AS BIGINT) AS pr,
         |  CAST((SELECT ic FROM pick) AS BIGINT) AS n_iters
         |FROM ids LEFT JOIN indeg ON ids.doc_id = indeg.dst
         |JOIN (SELECT rid, p FROM allr WHERE i = (SELECT ic FROM pick)) fr
         |  ON ids.doc_id = fr.rid
         |ORDER BY pr DESC, ids.doc_id LIMIT $TOP""".stripMargin
    },
    // real-edge converged PageRank: identical stopping-rule mirror as
    // q_pagerank_converged, over the extract→resolve edge CTEs and the
    // per-source out-degree division
    "q_pagerank_real" -> {
      val steps = (1 to PR_MAX_REAL).map(i => rankStepOdM(s"r${i - 1}", s"r$i"))
        .mkString(",\n")
      val deltas = (1 to PR_MAX_REAL).map(i =>
        s"SELECT $i AS i, SUM(ABS(a.p - b.p)) AS dv FROM r$i a JOIN r${i - 1} b ON a.rid = b.rid")
        .mkString("\n  UNION ALL ")
      val allr = (1 to PR_MAX_REAL).map(i => s"SELECT $i AS i, rid, p FROM r$i")
        .mkString("\n  UNION ALL ")
      s"""WITH $realEdgeCtes,
         |r0 AS MATERIALIZED (SELECT doc_id AS rid, $SCALE // (SELECT n FROM nn) AS p FROM ids),
         |$steps,
         |dl AS MATERIALIZED ($deltas),
         |pick AS (SELECT COALESCE(MIN(i), $PR_MAX_REAL) AS ic FROM dl WHERE dv <= $PR_EPS),
         |allr AS ($allr),
         |indeg AS (SELECT dst, count(*) AS in_deg FROM e GROUP BY dst)
         |SELECT ids.doc_id, COALESCE(indeg.in_deg, 0) AS in_deg,
         |  CAST(fr.p AS BIGINT) AS pr,
         |  CAST((SELECT ic FROM pick) AS BIGINT) AS n_iters
         |FROM ids LEFT JOIN indeg ON ids.doc_id = indeg.dst
         |JOIN (SELECT rid, p FROM allr WHERE i = (SELECT ic FROM pick)) fr
         |  ON ids.doc_id = fr.rid
         |ORDER BY pr DESC, ids.doc_id LIMIT $TOP""".stripMargin
    },
    "q_triangle_real" ->
      s"""WITH $realEdgeCtes,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e),
         |deg AS (SELECT node, count(*) AS dg FROM (
         |  SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und) u
         |  GROUP BY 1),
         |ord_e AS (SELECT
         |    CASE WHEN (da.dg, und.a) < (db.dg, und.b) THEN und.a ELSE und.b END AS lo,
         |    CASE WHEN (da.dg, und.a) < (db.dg, und.b) THEN und.b ELSE und.a END AS hi,
         |    CASE WHEN (da.dg, und.a) < (db.dg, und.b) THEN db.dg ELSE da.dg END AS dhi
         |  FROM und JOIN deg da ON und.a = da.node
         |  JOIN deg db ON und.b = db.node),
         |tri AS (SELECT count(*) AS n_triangles FROM ord_e x
         |  JOIN ord_e y ON x.lo = y.lo AND (x.dhi, x.hi) < (y.dhi, y.hi)
         |  JOIN ord_e z ON z.lo = x.hi AND z.hi = y.hi),
         |wed AS (SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
         |SELECT n_triangles, n_wedges,
         |  floor(3.0 * n_triangles / n_wedges * 1e6 + 0.5) / 1e6 AS closure
         |FROM tri, wed""".stripMargin,
    // the CC loop's exact unroll over the real-edge CTEs: symmetric
    // closure, min(self, neighbors) seed, CC_MAX identical update
    // steps — mirrors connectedComponents bit-for-bit at any SF (see
    // DedupOps.CC_MAX); isolated docs re-attach as singleton comps
    "q_components_real" -> {
      val steps = (1 to DedupOps.CC_MAX).map(i => ccStep(s"l${i - 1}", s"l$i"))
        .mkString(",\n")
      s"""WITH $realEdgeCtes,
         |und AS MATERIALIZED (SELECT src AS doc_a, dst AS doc_b FROM e
         |  UNION SELECT dst AS doc_a, src AS doc_b FROM e),
         |l0 AS MATERIALIZED (SELECT doc_a AS doc_id,
         |    LEAST(doc_a, MIN(doc_b)) AS rep FROM und GROUP BY doc_a),
         |$steps,
         |alld AS (SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS comp
         |  FROM documents d LEFT JOIN l${DedupOps.CC_MAX} l USING (doc_id)),
         |sizes AS (SELECT comp, count(*) AS comp_size FROM alld GROUP BY comp)
         |SELECT alld.doc_id, alld.comp, CAST(sizes.comp_size AS BIGINT) AS comp_size
         |FROM alld JOIN sizes USING (comp)""".stripMargin
    }
  )
}
