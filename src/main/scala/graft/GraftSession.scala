package graft

import org.apache.spark.sql.SparkSession

/** The one builder for a local graft session. Every main (Bench,
  * Verify, PlanDump, Preflight, ScaleGen) and the test base
  * build from here, so the plan the oracle gate checks is the plan the
  * bench times: Catalyst picks the physical plan from exactly these
  * confs.
  */
object GraftSession {
  val DefaultCpus = 4

  /** The integer env var `key` as a positive Int (`default` when
    * unset), or an error that names the key — never a raw
    * NumberFormatException, and never a value like `*` that is a valid
    * master but not a number for the artifacts. Mains parse every such
    * var (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_BENCH_PASSES`) before
    * they build the session, so a bad value fails before any work. */
  def positiveInt(env: Map[String, String], key: String, default: Int): Int =
    env.get(key) match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"$key must be a positive integer, got '$v'"))
    }

  def cpus: Int = positiveInt(sys.env, "SPARK_GRAFT_CPUS", DefaultCpus)

  def build(cpus: Int = cpus, logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Split broadcast thresholds by estimate quality. The STATIC
      // planner sees compressed parquet footer sizes (~4× smaller than
      // the in-memory rows) — a generous static threshold makes it
      // broadcast million-row tables through the single-threaded
      // driver-side relation build (measured: 64m static broadcast the
      // whole 26 MB/1.5M-row sf1 orders table in q3/q5 and DOUBLED
      // them vs. the shuffle plan). AQE decides from MEASURED
      // post-shuffle sizes, so IT gets the node-sized 64 MB: a pruned
      // join side (q3/q5's orders⋈customer) still converts to
      // broadcast at runtime, and the estimate can't lie.
      .config("spark.sql.autoBroadcastJoinThreshold", "10m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      // File-split sizing for a fat local node: 16 MB split target and
      // ~zero open cost (NVMe/page cache), so a 32-file scale table
      // scans ~32-wide instead of being packed into 4×128 MB tasks.
      // On a real cluster the same knobs are sized to executor count;
      // the default 128 MB/4 MB assumes remote object-store opens.
      // (The driver's sf0.1 tables are single-row-group files — there
      // splits can't help either engine; this matters for ScaleGen
      // layouts, which write 32 MB row groups.)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // Hash join over sort-merge when a build side exists: at 4 GiB
      // per thread a per-partition hash build of the SMALLER side
      // always fits (and SHJ spills since 3.x if it doesn't), so the
      // two sorts around every big join are pure overhead — measured
      // ~15-20% on q3/q5 at sf3. SMJ remains for non-equi/huge-both-
      // sides cases; AQE skew splitting applies to SHJ the same way.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // Since Spark 3.0 a bucketed scan does NOT report its sortBy
      // order unless this flag makes planning list the files (one file
      // per bucket required, which BucketedQueries.bucketedTable's
      // repartition-before-write guarantees). Without it
      // EnsureRequirements re-sorts BOTH sides of every merge join above
      // the sorted buckets (the r12 artifact's bucketed q3 paid 9.6 s vs
      // 1.9 s plain at sf10 for exactly this). Set here, once, so every
      // session plans the same shapes whichever lane runs first.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      // legacy layouts ship events.ts as parquet TIMESTAMP(NANOS): read
      // those as long nanos (current timestamp[us] data is normalized
      // by Tables.events instead)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // events.ts NTZ->TZ normalization (Tables.tsToNanos) is exact only
      // under a pinned UTC session timezone
      .config("spark.sql.session.timeZone", "UTC")
      // fresh warehouse per session: bucketed saves from a previous JVM
      // would otherwise collide (in-memory catalog forgets the table,
      // its location on disk persists -> LOCATION_ALREADY_EXISTS), and
      // the caller's cwd may not be writable; deleted at JVM exit
      .config("spark.sql.warehouse.dir", TempDirs.create("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Runs `body` with the session confs `kvs` set, then puts back each
    * key's previous value, or unsets a key that had none, even when
    * `body` throws. Session confs are session-global: any query planned
    * on `s` meanwhile sees these values too. */
  def withConfs[T](s: SparkSession, kvs: Map[String, String])(body: => T): T = {
    val saved = kvs.keys.map(k => k -> s.conf.getOption(k)).toMap
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
