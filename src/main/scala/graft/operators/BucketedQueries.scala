package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-layout variants of the big order-key joins (Q3/Q5/Q21
  * shapes): the fact tables saved `bucketBy(orderkey).sortBy(orderkey)`
  * so the lineitem⋈orders join — and Q21's lineitem self-joins — read
  * pre-partitioned, pre-sorted buckets and plan NO Exchange on the join
  * key. At 100 TB this is the difference between re-shuffling the fact
  * table for every order-key query and a co-located join whose one-time
  * layout cost amortizes across the whole workload (the same plans a
  * lakehouse table format's clustered layout buys). Dims stay
  * broadcast; plan bodies are shared with CoreQueries (q3From/q5From/
  * q21From) — one definition, two physical layouts. */
object BucketedQueries {

  // one bucket per execution thread on this node: bucket count IS the
  // join's parallelism (no exchange re-splits it), so fewer buckets
  // than cores serializes the whole bucketed join path — 8 buckets on
  // 32 threads measured 3× slower on q3_bucketed at sf3. On a cluster
  // this is sized to total executor cores (and kept a power of two so
  // a half-sized node still divides it evenly).
  private val BUCKETS = 32

  /** One bucketed save per (warehouse, sf dir): orders + lineitem
    * bucketed and sorted on the order key. Table names carry the sf tag
    * so different dirs never collide; the save runs once and is reused
    * by every subsequent call in the session (and by a later session
    * sharing the warehouse, via the overwrite).
    *
    * Staleness contract: these names are keyed by DIR only — like any
    * materialized copy, they serve the rows captured at build time, so
    * rewriting the data under `d` in place requires dropping the
    * tables (or using a fresh warehouse, as Bench/QTime/Verify do
    * every run). The n-keyed layouts below (ensureOcBucketed,
    * ensureDhcBucketed, StatsIndex.ensureIndexedOrders) additionally
    * self-invalidate when a rewrite CHANGES the row count; a
    * same-count rewrite is outside every layout's automatic detection
    * and falls under the same rebuild-on-rewrite contract. */
  def ensureBucketed(s: SparkSession, d: String): (String, String) = {
    val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
    val (ot, lt) = (s"orders_bkt_$tag", s"lineitem_bkt_$tag")
    // Since Spark 3.0 a bucketed scan does NOT report its sortBy order
    // unless this flag makes planning list the files (one file per
    // bucket required — which the repartition-before-write guarantees).
    // Without it EnsureRequirements re-sorts BOTH sides of every merge
    // join above the sorted buckets — the r12 artifact's q3_bucketed
    // (9.6 s vs 1.9 s plain at sf10) was paying exactly this, defeating
    // the layout's whole point. File listing at planning is bounded:
    // BUCKETS files per table.
    // NOTE: this is a SESSION-WIDE conf that stays set for the rest of
    // the session (correctness-safe — Spark only reports ordering when
    // the one-file-per-bucket requirement holds — but it makes plan
    // shapes order-dependent on whether a bucketed query ran first).
    // Bench/Verify therefore set it at session construction so every
    // pass plans identically; this set() is the belt-and-braces for
    // ad-hoc sessions (tests, spark-shell).
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    this.synchronized {
      if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(lt)) {
        // a previous JVM may have left the table's location on disk
        // while this session's in-memory catalog has no entry for it —
        // clear the orphaned location or the save aborts with
        // LOCATION_ALREADY_EXISTS
        Seq(ot, lt).foreach { t =>
          if (!s.catalog.tableExists(t)) {
            val loc = new org.apache.hadoop.fs.Path(
              s.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
            val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
            if (fs.exists(loc)) fs.delete(loc, true)
          }
        }
        // repartition ONTO the bucket key first: bucketBy writes one
        // file per (writing task × bucket), and a bucket made of
        // multiple files loses its read-side sort guarantee — the scan
        // reports no outputOrdering and every downstream merge join
        // re-sorts the fact table. repartition(BUCKETS, key) uses the
        // same murmur3 hash as the bucket spec, so each task holds
        // exactly one bucket → one sorted file per bucket → the scan
        // IS the sorted side, no sort operator anywhere.
        orders(s, d).repartition(BUCKETS, org.apache.spark.sql.functions.col("o_orderkey"))
          .write.bucketBy(BUCKETS, "o_orderkey")
          .sortBy("o_orderkey").mode("overwrite").saveAsTable(ot)
        lineitem(s, d).repartition(BUCKETS, org.apache.spark.sql.functions.col("l_orderkey"))
          .write.bucketBy(BUCKETS, "l_orderkey")
          .sortBy("l_orderkey").mode("overwrite").saveAsTable(lt)
      }
    }
    (ot, lt)
  }

  /** The bucketed tables are SORTED on the join key, so the merge join
    * is exchange-free AND sort-free AND build-free — the layout's whole
    * point. The hint pins it: under the bench's preferSortMergeJoin=
    * false (right for shuffle joins on the plain layout) the planner
    * would otherwise pick a shuffled-hash join here and pay a hash
    * build over the FACT side per bucket for nothing. */
  private def sorted(df: DataFrame): DataFrame = df.hint("merge")

  def q3Bucketed(s: SparkSession, d: String): DataFrame = {
    val (ot, lt) = ensureBucketed(s, d)
    CoreQueries.q3From(customer(s, d), sorted(s.table(ot)), sorted(s.table(lt)))
  }

  def q5Bucketed(s: SparkSession, d: String): DataFrame = {
    val (ot, lt) = ensureBucketed(s, d)
    CoreQueries.q5From(s, d, sorted(s.table(ot)), sorted(s.table(lt)))
  }

  def q21Bucketed(s: SparkSession, d: String): DataFrame = {
    val (_, lt) = ensureBucketed(s, d)
    CoreQueries.q21From(sorted(s.table(lt)))
  }

  /** Q18's per-order pre-aggregate inherits the bucket partitioning —
    * the heaviest exchange of the plain plan (one row per order)
    * disappears entirely; the qualifying-set joins stay AQE-broadcast. */
  def q18Bucketed(s: SparkSession, d: String): DataFrame = {
    val (ot, lt) = ensureBucketed(s, d)
    OlapQueries.q18From(s.table(lt), sorted(s.table(ot)), customer(s, d))
  }

  /** Q8's order-grain revenue pre-aggregate inherits the bucket
    * partitioning exactly like q18's — the plain plan's one fact-scale
    * exchange (15M slim order rows at sf10) disappears; the ASIA
    * order-year side stays AQE-broadcast. */
  def q8Bucketed(s: SparkSession, d: String): DataFrame = {
    val (_, lt) = ensureBucketed(s, d)
    OlapQueries.q8From(s, d, s.table(lt))
  }

  /** A SECOND bucketed copy of lineitem, on the supplier key — the
    * supplier-grain analytics lane (q_skyline's two aggregates). Kept
    * separate from [[ensureBucketed]] so the order-key twins never pay
    * for a layout they don't read. No sortBy: the consumers are hash
    * aggregates, which need clustering, not order. At 100 TB a real
    * deployment picks ONE of these layouts per fact copy; the twins
    * exist to measure what each buys. */
  def ensureSuppBucketed(s: SparkSession, d: String): String = {
    val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
    val lt = s"lineitem_sbkt_$tag"
    this.synchronized {
      if (!s.catalog.tableExists(lt)) {
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), lt.toLowerCase)
        val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(loc)) fs.delete(loc, true)
        lineitem(s, d).repartition(BUCKETS, org.apache.spark.sql.functions.col("l_suppkey"))
          .write.bucketBy(BUCKETS, "l_suppkey")
          .mode("overwrite").saveAsTable(lt)
      }
    }
    lt
  }

  /** q_skyline on the suppkey-bucketed layout: the scan reports
    * hashpartitioning(l_suppkey), so BOTH the pair-grain and the
    * supplier-grain aggregate run exchange-free — the plain plan's one
    * remaining fact-scale shuffle is gone entirely. */
  def qSkylineBucketed(s: SparkSession, d: String): DataFrame =
    // packDistinct=false: hashpartitioning(l_suppkey) satisfies the
    // (suppkey, partkey) grouping (subset rule) so BOTH fact
    // aggregates are exchange-free on this layout; a packed single
    // long would break that property and force an exchange
    OlapQueries.qSkylineFrom(s, d, s.table(ensureSuppBucketed(s, d)),
      packDistinct = false)

  /** q7 on the orderkey-bucketed pair: the fact⋈fact join runs on the
    * co-located sorted scans (no exchange, no sort, no hash build) and
    * customer attaches after at order grain. Lab sf10: 2.23 s vs the
    * plain split-sum plan's 3.09 s (DuckDB 1.23 s → 1.81×, under the
    * 2× bar the plain form can't reach without the layout). */
  def q7Bucketed(s: SparkSession, d: String): DataFrame = {
    val (ot, lt) = ensureBucketed(s, d)
    OlapQueries.q7From(s, d, s.table(lt), s.table(ot), ordersBucketed = true)
  }

  /** A PRE-JOINED (o_orderkey, c_nationkey) table, bucketed + sorted on
    * the order key — the denormalized layout the orders⋈customer join
    * moves into (r19): 12 B/row, one file per bucket, built once per
    * (warehouse, sf). The materialized-view form of what q7 recomputes
    * on every run.
    *
    * Cache validity (r20, SkewBench's n-keyed discipline): the table
    * name carries the source orders ROW COUNT, so a rewrite under `d`
    * that changes the count invalidates the cache instead of silently
    * serving a stale pre-join. Honest limits: a SAME-COUNT rewrite
    * (new seed at the same SF) defeats the key — that case, like the
    * un-keyed ensureBucketed copies, falls under the
    * rebuild-on-rewrite contract (drop the tables or use a fresh
    * warehouse); and the count is a per-call Spark job — cheap
    * (zero-column parquet count answered from row-group metadata,
    * one task per split) but not free, which is acceptable on a lane
    * that exists to delete a fact-scale exchange. Superseded-n tables
    * are dropped by name-prefix sweep at build (see the orphan clear
    * below), so regenerations don't accumulate dead copies. */
  /** Drops every warehouse entry named `<prefix><other-n>` other than
    * `keep` — the cleanup half of the n-keyed cache names: without it,
    * each count-changing regeneration mints a new table and the
    * superseded copies (orders-scale data) accumulate in the shared
    * warehouse and catalog forever. Runs only on the build path, so
    * the steady state pays nothing. */
  private[graft] def dropSupersededLayouts(
      s: SparkSession, prefix: String, keep: String): Unit = {
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix.toLowerCase) && name != keep.toLowerCase) {
        if (s.catalog.tableExists(name)) s.sql(s"DROP TABLE `$name`")
        if (fs.exists(st.getPath)) fs.delete(st.getPath, true)
      }
    }
  }

  def ensureOcBucketed(s: SparkSession, d: String): String = {
    val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
    val nOrders = orders(s, d).count()
    val oct = s"oc_bkt_${tag}_n$nOrders"
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    this.synchronized {
      if (!s.catalog.tableExists(oct)) {
        dropSupersededLayouts(s, s"oc_bkt_${tag}_n", oct)
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), oct.toLowerCase)
        val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(loc)) fs.delete(loc, true)
        orders(s, d).select("o_orderkey", "o_custkey")
          .join(customer(s, d).select("c_custkey", "c_nationkey"),
            org.apache.spark.sql.functions.col("o_custkey") ===
              org.apache.spark.sql.functions.col("c_custkey"))
          .select("o_orderkey", "c_nationkey")
          .repartition(BUCKETS, org.apache.spark.sql.functions.col("o_orderkey"))
          .write.bucketBy(BUCKETS, "o_orderkey")
          .sortBy("o_orderkey").mode("overwrite").saveAsTable(oct)
      }
    }
    oct
  }

  /** q7 on the pre-joined layout: ONE co-located merge join of the
    * bucketed line scan against the 12 B/row oc table — the
    * orders⋈customer join is gone from query time entirely and no
    * fact-scale exchange remains anywhere in the plan. */
  def q7PreJoined(s: SparkSession, d: String): DataFrame = {
    val (_, lt) = ensureBucketed(s, d)
    OlapQueries.q7FromOc(s, d, s.table(lt), s.table(ensureOcBucketed(s, d)))
  }

  /** Materialized distinct-(doc, gram-hash, count) tables for the
    * fluency lanes (r20, the verdict-prescribed structural attempt on
    * the last two non-floor >2× rows): the byte-sweep tokenization —
    * which the plain plans pay TWICE per query (count subtree + probe
    * subtree; Spark does not share subtrees) — moves into a one-time
    * layout build, bucketed by doc_id so the per-doc scoring aggregate
    * reads pre-partitioned buckets and plans no exchange. The corpus
    * frequency side still shuffles, but over slim (hash, count) longs
    * scanned from parquet instead of re-tokenized text. n-keyed name =
    * the ensureOcBucketed staleness discipline. */
  def ensureDhcBucketed(s: SparkSession, d: String, n: Int): String = {
    val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
    val nDocs = documents(s, d).count()
    val t = s"dhc${n}_bkt_${tag}_n$nDocs"
    this.synchronized {
      if (!s.catalog.tableExists(t)) {
        dropSupersededLayouts(s, s"dhc${n}_bkt_${tag}_n", t)
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
        val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(loc)) fs.delete(loc, true)
        val src = if (n == 1) TextOps.logprobDhc(s, d) else TextOps.logprobDhc2(s, d)
        src.repartition(BUCKETS, org.apache.spark.sql.functions.col("doc_id"))
          .write.bucketBy(BUCKETS, "doc_id")
          .mode("overwrite").saveAsTable(t)
      }
    }
    t
  }

  /** text_logprob over the materialized unigram stream: zero
    * tokenization at query time, per-doc aggregate exchange-free on
    * the doc_id buckets. */
  def textLogprobBucketed(s: SparkSession, d: String): DataFrame =
    TextOps.textLogprobFrom(s, s.table(ensureDhcBucketed(s, d, 1)))

  /** text_bigram_logprob over the materialized bigram stream. */
  def textBigramLogprobBucketed(s: SparkSession, d: String): DataFrame =
    TextOps.textBigramLogprobFrom(s, s.table(ensureDhcBucketed(s, d, 2)))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q3_bucketed" -> (q3Bucketed _),
    "q7_bucketed" -> (q7Bucketed _),
    // plain-scan reference twins for the promoted lanes: the primary
    // name resolves to the layout plan (SparkEntry.layoutPrimary) and is
    // timed under that name, so promotion decisions stay same-window
    // re-measurable (r19) without a second alias of the layout plan
    "q7_plain" -> (OlapQueries.q7Volume _),
    "q5_plain" -> (CoreQueries.q5MultiJoin _),
    "q18_plain" -> (OlapQueries.q18LargeOrders _),
    "q_skyline_plain" -> ((s: SparkSession, d: String) =>
      OlapQueries.qSkyline(s, d)),
    "text_logprob_plain" -> (TextOps.textLogprob _),
    "text_bigram_logprob_plain" -> (TextOps.textBigramLogprob _),
    "q8_bucketed" -> (q8Bucketed _),
    "q21_bucketed" -> (q21Bucketed _)
  )
}
