package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data-skipping manifest — the Delta/Iceberg stats-file
  * shape next to [[Compaction]]'s layout modes: one manifest row per
  * (data file, indexed key) carrying row count, min/max and a Bloom
  * filter of the key's values, written as a PARQUET table under the
  * underscore-hidden `_graft_stats` subdir (readers ignore `_`-prefixed
  * paths, the `_SUCCESS`/`_delta_log` convention).
  *
  * Why a manifest when parquet already has row-group min/max: the
  * footer stats are only consulted AFTER a file is opened — at 100 TB
  * the scan cost of a selective point lookup is dominated by file
  * opens and footer reads across millions of files. The manifest is
  * ~10⁶× smaller than the data (bounded by files × keys × filter
  * bits, not rows), loads in one driver read, and prunes the FILE LIST
  * handed to the scan. Min/max alone cannot prune a file whose key
  * range COVERS an absent probe (sparse keys, overlapping z-order
  * ranges); the Bloom filter prunes exactly those — no false
  * negatives, so a bloom-rejected file provably lacks the key (the
  * dedup_bloom_screen argument, lifted from row grain to file grain).
  *
  * Build is one distributed pass: a per-file min/max/count aggregate,
  * plus per-file DISTINCT set-bit positions (explode k hash positions
  * per row → distinct) whose cardinality is capped by the filter size
  * — the shuffle carries at most files × bits rows regardless of data
  * volume. Bits/hash-count ride in the manifest so probe and build
  * can never disagree.
  *
  * Staleness contract (the Delta/Iceberg one): the manifest describes
  * the file listing AS OF its build — any rewrite of the data dir
  * (another compact, an ingest append) must re-run [[build]], exactly
  * as a table format rewrites its stats files in the same commit.
  * [[admit]] fails loudly when the manifest is absent; it cannot
  * detect a stale one (file paths change on rewrite here, so a stale
  * manifest admits paths the scan then fails on, rather than silently
  * missing rows).
  *
  * Hash contract: position_i(v) = pmod(xxhash64(v, i), bits) using
  * Spark's chained xxhash64 (seed 42, then each arg seeded by the
  * previous hash) — replicated exactly on the driver probe side via
  * XXH64.hashLong(i, XXH64.hashLong(v, 42)). Integral keys only: the
  * point-lookup shape this index serves (ids, order keys).
  */
object StatsIndex {

  /** The probe's verdict, exposed for calibration and specs: which
    * files min/max alone would admit, and which survive the bloom. */
  case class Admission(minmaxAdmitted: Seq[String], admitted: Seq[String],
                       totalFiles: Long)

  private def manifestPath(dir: String) = s"$dir/_graft_stats"

  /** Build (or rebuild) the manifest for `keys` over the parquet files
    * under `dir`. Returns the number of data files indexed. */
  def build(spark: SparkSession, dir: String, keys: Seq[String],
            bits: Int = 1 << 17, hashes: Int = 4): Long = {
    require(keys.nonEmpty, "index at least one key")
    val df = spark.read.parquet(dir)
    val mmAggs = keys.flatMap(k =>
      Seq(min(col(k).cast("long")).as(s"mn_$k"), max(col(k).cast("long")).as(s"mx_$k"))) :+
      count(lit(1)).as("rows")
    val mm = df.groupBy(input_file_name().as("f"))
      .agg(mmAggs.head, mmAggs.tail: _*)
    // wide → long: one (file, key, rows, mn, mx) row per indexed key
    val mmLong = keys.map(k =>
      mm.select(col("f"), lit(k).as("key"), col("rows"),
        col(s"mn_$k").as("mn"), col(s"mx_$k").as("mx")))
      .reduce(_ unionByName _)
    // distinct set-bit positions per (file, key): bounded by the filter
    // size, not by rows — collect_set is safe by construction
    val pos = keys.map { k =>
      df.select(input_file_name().as("f"), lit(k).as("key"),
          // lit(i.toLong): an INT literal would route through Spark's
          // hashInt and diverge from the probes' hashLong chain
          explode(array((0 until hashes).map(i =>
            pmod(xxhash64(col(k).cast("long"), lit(i.toLong)), lit(bits.toLong))): _*))
            .as("p"))
        .distinct()
        .groupBy("f", "key").agg(sort_array(collect_set(col("p"))).as("pos"))
    }.reduce(_ unionByName _)
    // assemble + write DISTRIBUTIVELY (r19, per verdict): the r18 build
    // collected per-(file,key) position arrays — up to `bits` longs
    // each — and zipped them against the min/max map in driver memory
    // behind a coalesce(1) write; at the millions-of-files scale this
    // manifest targets, that is a driver OOM and one non-scaling
    // manifest file. The join's shuffle is capped at files × keys
    // rows; partitioning the output by key lets every probe prune
    // manifest files before reading a row.
    mmLong.join(pos, Seq("f", "key"))
      .select(col("f").as("file"), col("key"), col("rows"),
        col("mn"), col("mx"), col("pos"),
        lit(bits).as("bits"), lit(hashes).as("hashes"))
      .repartition(col("key"))
      .write.mode(SaveMode.Overwrite).partitionBy("key")
      .parquet(manifestPath(dir))
    // file count off the written (small) manifest — no action on the
    // data-sized lineage beyond the one build pass above
    spark.read.parquet(manifestPath(dir)).select("file").distinct().count()
  }

  /** Driver-side mirror of pmod(xxhash64(CAST(v AS BIGINT), i), bits):
    * Spark's multi-arg xxhash64 seeds with 42 and chains each argument
    * with the previous hash as seed. */
  private def bitPos(v: Long, i: Int, bits: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = XXH64.hashLong(i.toLong, XXH64.hashLong(v, 42L))
    ((h % bits) + bits) % bits
  }

  /** Which files can contain `key = v`, per the manifest. */
  def admit(spark: SparkSession, dir: String, key: String, v: Long): Admission = {
    val man = spark.read.parquet(manifestPath(dir))
      .filter(col("key") === key).collect()
    require(man.nonEmpty, s"no manifest entries for key $key under $dir")
    val byRange = man.filter(r => r.getAs[Long]("mn") <= v && v <= r.getAs[Long]("mx"))
    val admitted = byRange.filter { r =>
      val bits = r.getAs[Int]("bits")
      val hashes = r.getAs[Int]("hashes")
      val pos = r.getSeq[Long](r.fieldIndex("pos")).toSet
      (0 until hashes).forall(i => pos.contains(bitPos(v, i, bits)))
    }
    Admission(byRange.map(_.getAs[String]("file")).toSeq,
      admitted.map(_.getAs[String]("file")).toSeq, man.length.toLong)
  }

  /** Planner-side form of [[admit]]: the admitted file list as a
    * DataFrame, computed entirely in the engine — no O(files) collect
    * (r19, per verdict). At a 10⁶-file lake the driver-side [[admit]]
    * materializes every manifest row for the key; this form runs the
    * min/max + bloom admission distributively over the key-partitioned
    * manifest (partition pruning keeps the read to one key's slice)
    * and hands back only `file`, ready to feed a metadata join or be
    * collected when provably small (a point lookup's admitted set).
    * The bloom probe replicates the build's chained xxhash64 INSIDE
    * the engine, so probe and build share one hash implementation by
    * construction; bits/hashes ride per manifest row, so mixed-config
    * manifests still probe correctly. */
  def admitFiles(spark: SparkSession, dir: String, key: String, v: Long): DataFrame =
    spark.read.parquet(manifestPath(dir))
      .filter(col("key") === key)
      .filter(col("mn") <= v && col("mx") >= v)
      .filter(expr(
        s"""forall(sequence(CAST(0 AS BIGINT), CAST(hashes - 1 AS BIGINT)),
           |  i -> array_contains(pos, pmod(xxhash64(CAST($v AS BIGINT), i), CAST(bits AS BIGINT))))"""
          .stripMargin))
      .select("file")

  /** Point lookup through the manifest: the scan receives ONLY the
    * admitted file list (empty → a no-data plan with the table's
    * schema, zero files opened). No false negatives: the bloom admits
    * every file that contains the key. */
  def pointLookup(spark: SparkSession, dir: String, key: String, v: Long): DataFrame = {
    val adm = admit(spark, dir, key, v)
    if (adm.admitted.isEmpty)
      spark.read.parquet(dir).where(lit(false))
    else
      spark.read.parquet(adm.admitted: _*).filter(col(key) === v)
  }

  /** [[pointLookup]] through the PLANNER-side admission ([[admitFiles]])
    * — the form that scales past the driver's O(files) [[admit]]: the
    * min/max + bloom probe runs in the engine over the key-partitioned
    * manifest, and only the ADMITTED file list (provably small for a
    * point probe) crosses to the driver to parameterize the scan. */
  def pointLookupPlanner(spark: SparkSession, dir: String, key: String,
                         v: Long): DataFrame = {
    val files = admitFiles(spark, dir, key, v).collect().map(_.getString(0))
    if (files.isEmpty)
      spark.read.parquet(dir).where(lit(false))
    else
      spark.read.parquet(files.toIndexedSeq: _*).filter(col(key) === v)
  }

  // ---- driver-gated lane (r20, verdict #7): the manifest path end to
  // end, oracled against the PLAIN filtered scan — the manifest must be
  // invisible in the results (the dedup_bloom_screen contract lifted to
  // file grain: no false negatives, pruning only ever removes files the
  // probe provably misses).

  /** The probed customer key: deterministic, populated at every SF
    * (custkeys are dense from 0; ScaleGen shifts by stride so low keys
    * survive replication). */
  private val PROBE_CUSTKEY = 7L

  /** orders re-laid-out as a multi-file parquet dir CLUSTERED by the
    * indexed key (range-partitioned on o_custkey — the lakehouse
    * layout a stats index earns its keep on: a point probe admits ~1
    * file) with a built `_graft_stats` manifest; n-keyed name so
    * in-place data regeneration rebuilds (the staleness discipline of
    * BucketedQueries.bucketedTable, with its dir tag and sweep). Built
    * here, not through that helper: completion is the manifest's
    * `_SUCCESS` marker, not a catalog entry. */
  private def ensureIndexedOrders(s: SparkSession, d: String): String = {
    val tag = graft.operators.BucketedQueries.dirTag(d)
    val src = graft.Tables.orders(s, d)
    val n = src.count()
    val dir = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), s"stats_orders_${tag}_n$n").toString
    this.synchronized {
      val p = new org.apache.hadoop.fs.Path(manifestPath(dir))
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      // completion = the manifest's commit marker, not bare dir
      // existence: a JVM that dies mid-build leaves a partial
      // _graft_stats dir, and admitting through a half-committed
      // manifest could prune files that DO contain the probe key —
      // the false-negative class this lane exists to rule out. A
      // partial dir (no _SUCCESS) is torn down and rebuilt.
      val done = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      if (!fs.exists(done)) {
        // sweep superseded-n copies, then tear down any partial build
        // of THIS n
        graft.operators.BucketedQueries.dropSupersededLayouts(
          s, s"stats_orders_${tag}_n", s"stats_orders_${tag}_n$n")
        if (fs.exists(p)) fs.delete(p, true)
        src.repartitionByRange(16, col("o_custkey"))
          .write.mode(SaveMode.Overwrite).parquet(dir)
        build(s, dir, Seq("o_custkey"))
      }
    }
    dir
  }

  /** The gated query: point lookup through [[admitFiles]] over the
    * manifest-indexed layout. The oracle is the plain filtered scan of
    * the ORIGINAL table — identical rows prove the admission lost
    * nothing; the spec proves it also PRUNED (admitted ≪ total). */
  def statsPointLookup(s: SparkSession, d: String): DataFrame = {
    val dir = ensureIndexedOrders(s, d)
    pointLookupPlanner(s, dir, "o_custkey", PROBE_CUSTKEY)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_point_lookup" -> (statsPointLookup _))

  val oracle: Map[String, String] = Map(
    "stats_point_lookup" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |WHERE o_custkey = $PROBE_CUSTKEY""".stripMargin)
}
