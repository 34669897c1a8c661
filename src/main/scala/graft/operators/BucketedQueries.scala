package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The bucketed layouts behind the six layout-primary lanes
  * (`graft.SparkEntry.layoutPrimary`): q5_multi_join and
  * q18_large_orders over orders + lineitem bucketed and sorted on the
  * order key, q7_volume over that lineitem and a pre-joined
  * (o_orderkey, c_nationkey) table, q_skyline over lineitem bucketed on
  * the supplier key, and text_logprob / text_bigram_logprob over
  * materialized distinct-gram streams bucketed on doc_id. A bucketed
  * scan reports its hash partitioning (and, with the one-file-per-bucket
  * write below, its sort order), so the join or aggregate on the bucket
  * key plans NO Exchange. At 100 TB that is the difference between
  * re-shuffling the fact table for every keyed query and a co-located
  * plan whose one-time layout cost amortizes across the whole workload
  * (the same plans a lakehouse table format's clustered layout buys).
  * Plan bodies are shared with the plain lanes (`*From` in CoreQueries,
  * OlapQueries and TextOps), whose plain-scan twins stay timed in
  * Bench as `graft.SparkEntry.layoutTwins`.
  *
  * Every layout table is built by [[bucketedTable]]; the session conf
  * that makes a bucketed scan report its sortBy order is set once, at
  * session build, by `graft.GraftSession`. */
object BucketedQueries {

  // one bucket per execution thread on this node: bucket count IS the
  // join's parallelism (no exchange re-splits it), so fewer buckets
  // than cores serializes the whole bucketed join path — 8 buckets on
  // 32 threads measured 3× slower on the order-key join at sf3. On a
  // cluster this is sized to total executor cores (and kept a power of
  // two so a half-sized node still divides it evenly).
  private val BUCKETS = 32

  /** The warehouse-name tag of an sf dir: every layout table (and
    * StatsIndex's indexed copy) carries it, so different dirs never
    * collide in one warehouse. */
  private[graft] def dirTag(d: String): String = d.replaceAll("[^0-9a-zA-Z]", "_")

  /** The one build path for a layout table: `src` saved as table
    * `base` (or `base_n<rows>` when `rows` is given), bucketed — and,
    * with `sortByKey`, sorted — on `key`. The save runs once per
    * warehouse and is reused by every later call (the second call
    * evaluates nothing). Returns the table name.
    *
    * - n-keyed names: `rows` is the source's row count, so a rewrite
    *   under the sf dir that CHANGES the count invalidates the table
    *   instead of silently serving a stale copy, and the build sweeps
    *   the superseded `base_n<other>` copies ([[dropSupersededLayouts]])
    *   so regenerations don't accumulate dead copies. A SAME-count
    *   rewrite defeats the key, and the un-keyed names serve the rows
    *   captured at build time: both fall under the rebuild-on-rewrite
    *   contract (drop the tables or use a fresh warehouse, as every
    *   `GraftSession` does).
    * - Orphan clear: a previous JVM may have left the table's location
    *   on disk while this session's in-memory catalog has no entry for
    *   it; the location is cleared, or the save aborts with
    *   LOCATION_ALREADY_EXISTS.
    * - Repartition ONTO the bucket key first: bucketBy writes one file
    *   per (writing task × bucket), and a bucket made of multiple files
    *   loses its read-side sort guarantee — the scan reports no
    *   outputOrdering and every downstream merge join re-sorts the fact
    *   table. repartition(BUCKETS, key) uses the same murmur3 hash as
    *   the bucket spec, so each task holds exactly one bucket → one
    *   sorted file per bucket → the scan IS the sorted side, and the
    *   ordering the scan reports needs only BUCKETS files listed at
    *   planning. */
  private[operators] def bucketedTable(s: SparkSession, base: String, key: String,
      sortByKey: Boolean, rows: Option[Long] = None)(src: => DataFrame): String = {
    val t = rows.fold(base)(n => s"${base}_n$n")
    this.synchronized {
      if (!s.catalog.tableExists(t)) {
        if (rows.isDefined) dropSupersededLayouts(s, s"${base}_n", t)
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
        val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(loc)) fs.delete(loc, true)
        val w = src.repartition(BUCKETS, col(key)).write.bucketBy(BUCKETS, key)
        (if (sortByKey) w.sortBy(key) else w).mode("overwrite").saveAsTable(t)
      }
    }
    t
  }

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

  /** orders + lineitem bucketed and sorted on the order key, keyed by
    * sf dir only (see [[bucketedTable]] for the staleness contract). */
  def ensureBucketed(s: SparkSession, d: String): (String, String) = {
    val tag = dirTag(d)
    (bucketedTable(s, s"orders_bkt_$tag", "o_orderkey", sortByKey = true)(orders(s, d)),
      bucketedTable(s, s"lineitem_bkt_$tag", "l_orderkey", sortByKey = true)(lineitem(s, d)))
  }

  /** The bucketed tables are SORTED on the join key, so the merge join
    * is exchange-free AND sort-free AND build-free — the layout's whole
    * point. The hint pins it: under the bench's preferSortMergeJoin=
    * false (right for shuffle joins on the plain layout) the planner
    * would otherwise pick a shuffled-hash join here and pay a hash
    * build over the FACT side per bucket for nothing. */
  private def sorted(df: DataFrame): DataFrame = df.hint("merge")

  def q5Bucketed(s: SparkSession, d: String): DataFrame = {
    val (ot, lt) = ensureBucketed(s, d)
    CoreQueries.q5From(s, d, sorted(s.table(ot)), sorted(s.table(lt)))
  }

  /** Q18's per-order pre-aggregate inherits the bucket partitioning —
    * the heaviest exchange of the plain plan (one row per order)
    * disappears entirely; the qualifying-set joins stay AQE-broadcast. */
  def q18Bucketed(s: SparkSession, d: String): DataFrame = {
    val (ot, lt) = ensureBucketed(s, d)
    OlapQueries.q18From(s.table(lt), sorted(s.table(ot)), customer(s, d))
  }

  /** A SECOND bucketed copy of lineitem, on the supplier key — the
    * supplier-grain analytics lane (q_skyline's two aggregates). Kept
    * separate from [[ensureBucketed]] so the order-key lanes never pay
    * for a layout they don't read. No sortBy: the consumers are hash
    * aggregates, which need clustering, not order. */
  def ensureSuppBucketed(s: SparkSession, d: String): String =
    bucketedTable(s, s"lineitem_sbkt_${dirTag(d)}", "l_suppkey", sortByKey = false)(
      lineitem(s, d))

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

  /** A PRE-JOINED (o_orderkey, c_nationkey) table, bucketed + sorted on
    * the order key — the denormalized layout the orders⋈customer join
    * moves into (r19): 12 B/row, one file per bucket. The
    * materialized-view form of what q7 recomputes on every run. n-keyed
    * on the orders row count; the count is a per-call Spark job — cheap
    * (zero-column parquet count answered from row-group metadata, one
    * task per split) but not free, which is acceptable on a lane that
    * exists to delete a fact-scale exchange. */
  def ensureOcBucketed(s: SparkSession, d: String): String =
    bucketedTable(s, s"oc_bkt_${dirTag(d)}", "o_orderkey", sortByKey = true,
        rows = Some(orders(s, d).count())) {
      orders(s, d).select("o_orderkey", "o_custkey")
        .join(customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
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
    * fluency lanes (r20): the byte-sweep tokenization — which the plain
    * plans pay TWICE per query (count subtree + probe subtree; Spark
    * does not share subtrees) — moves into a one-time layout build,
    * bucketed by doc_id so the per-doc scoring aggregate reads
    * pre-partitioned buckets and plans no exchange. The corpus
    * frequency side still shuffles, but over slim (hash, count) longs
    * scanned from parquet instead of re-tokenized text. n-keyed on the
    * documents row count. */
  def ensureDhcBucketed(s: SparkSession, d: String, n: Int): String =
    bucketedTable(s, s"dhc${n}_bkt_${dirTag(d)}", "doc_id", sortByKey = false,
        rows = Some(documents(s, d).count())) {
      if (n == 1) TextOps.logprobDhc(s, d) else TextOps.logprobDhc2(s, d)
    }

  /** text_logprob over the materialized unigram stream: zero
    * tokenization at query time, per-doc aggregate exchange-free on
    * the doc_id buckets. */
  def textLogprobBucketed(s: SparkSession, d: String): DataFrame =
    TextOps.textLogprobFrom(s, s.table(ensureDhcBucketed(s, d, 1)))

  /** text_bigram_logprob over the materialized bigram stream. */
  def textBigramLogprobBucketed(s: SparkSession, d: String): DataFrame =
    TextOps.textBigramLogprobFrom(s, s.table(ensureDhcBucketed(s, d, 2)))
}
