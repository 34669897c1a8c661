package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: min-of-two timed passes per declared query after an
  * sf0.001 warm-up pass, one JSON result line on stdout AND the same
  * JSON written to a file (stdout tail-capture truncated round 3's
  * artifact to 66/93 timings; the file is the complete record).
  *
  * The JSON carries lane subtotals next to the headline total: every
  * `stream_*` query runs a real streaming engine + filesystem sink per
  * call (fixed startup the plain-SQL oracle never pays), so their lane
  * is budgeted separately from the batch lane when comparing against a
  * batch-SQL baseline. `value` remains the honest all-in total.
  */
object Bench {
  // derived from the streaming registries so a new stream op can never
  // land in the batch lane unnoticed (round 8 added stream_dedup and
  // this set — then hand-listed — silently misattributed it)
  private val streamingLane: Set[String] =
    streaming.StreamOps.queries.keySet ++ streaming.StreamIngest.queries.keySet

  private def r4(v: Double): Double = math.rint(v * 10000) / 10000

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // cpus and passes are parsed BEFORE the session/warm-up so a
    // malformed value fails fast with a NAMED error instead of an
    // anonymous NumberFormatException after minutes of warm-up
    // (min-of-THREE default: single-run sf0.1 numbers on this VM swing
    // up to ~2.4× with machine load)
    val passes = GraftSession.positiveInt(sys.env, "SPARK_GRAFT_BENCH_PASSES", 3)
    val spark = GraftSession.build(cpus)
    // per-query JSON observability lines on stderr (stdout carries the
    // bench protocol line; see ObservabilityListener) AND into a .jsonl
    // next to the bench artifact, so per-query shuffle/spill is part of
    // the evidence chain rather than lost in the log stream
    val obsFile = outFile.stripSuffix(".json") + "_obs.jsonl"
    val obsWriter = new java.io.PrintWriter(
      new java.io.FileWriter(obsFile, /* append = */ false), /* autoFlush = */ true)
    ObservabilityListener.register(spark, line => {
      System.err.println(line)
      obsWriter.synchronized { obsWriter.println(line) }
    })
    // one correlation id threads EVERY obs line of this bench run —
    // warm-up, timed passes, twin passes (withRun's conf stays set
    // for the session; see its non-unset rationale)
    val runId = ObservabilityListener.newRunId()
    ObservabilityListener.withRun(spark, runId)(())
    // Testdata-contract preflight: fail loudly with the drifted
    // table.column named, before burning bench passes on a broken read
    // (mirrors Verify; the reference validates its contract at startup)
    Preflight.check(spark, sfDir) match {
      case drift if drift.nonEmpty =>
        // exit NOW: burning a warm-up plus N timed passes on a broken
        // read produces a plausible-looking artifact over garbage — a
        // drifted contract is a red run, not a measurement
        System.err.println("bench: TESTDATA CONTRACT DRIFT:\n  " + drift.mkString("\n  "))
        obsWriter.close()
        spark.stop()
        sys.exit(2)
      case _ => ()
    }
    // Warm-up: run every query once at the smallest SF so the timed pass
    // below measures steady-state throughput (whole-stage codegen classes
    // compiled, JIT warm) instead of one-time JVM costs — which otherwise
    // dominate and add multi-x run-to-run noise at these data sizes.
    // A warm-up failure is reported and counted (n_warmup_failed), not
    // timed; a fatal error (OOM) is not caught and ends the run.
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val nWarmupFailed =
      if (!new java.io.File(warmupDir).isDirectory || warmupDir == sfDir) 0
      else SparkEntry.queries.count { case (name, fn) =>
        try { fn(spark, warmupDir).collect(); false }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"bench: warmup $name FAILED: $e")
          true
        }
      }
    // Two timed passes, keep the per-query minimum: the first pass at
    // the target SF still pays one-time costs the sf0.001 warm-up can't
    // cover (page cache for the bigger files, size-specific JIT tiers),
    // which otherwise adds multi-x run-to-run noise to individual
    // queries. The min is the steady-state throughput.
    // A failed query records the -1.0 sentinel, NOT its elapsed-until-
    // failure wall time (which reads as a plausible fast result in the
    // artifact); sentinels survive the min-of-two and are excluded
    // from the total, with the failure count reported alongside.
    // Timed action is collect(), NOT count(): count() over a final
    // aggregate/projection lets Catalyst prune every value expression
    // the row count doesn't need, so aggregate sums / per-row scores
    // were never evaluated in a count()-timed pass (found r12 at sf10:
    // q1_agg under count() skipped all six sums). collect() needs all
    // output columns — nothing prunes — and matches the DuckDB
    // baseline's fetchall() exactly.
    def timedQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                   dir: String): (String, Double) = {
      val t0 = System.nanoTime()
      try {
        ObservabilityListener.withTag(spark, name) { fn(spark, dir).collect(): Unit }
        name -> (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench: $name FAILED: $e")
        name -> -1.0
      }
    }
    def timedPass(): Map[String, Double] =
      SparkEntry.queries.map { case (name, fn) => timedQuery(name, fn, sfDir) }
    // min-of-THREE: single-run sf0.1 numbers on this VM swing up to
    // ~2.4× with machine load (r9→r10 drifted 40% on identical code);
    // a third pass measurably tightens the min, and the artifact
    // carries loadavg (below) so residual swings are attributable.
    val allPasses = (1 to passes).map(_ => timedPass())
    // The plain-scan twins of the layout-primary lanes, same min-of-N
    // protocol: the bench line carries each promoted layout's time next
    // to its plain-scan twin. Excluded from "total" (they have no
    // oracle twin in the baseline's query set).
    def twinPass(): Map[String, Double] =
      SparkEntry.layoutTwins.map { case (name, fn) => timedQuery(name, fn, sfDir) }
    val allTwins = (1 to passes).map(_ => twinPass())
    // a sentinel in ANY pass poisons the key: min(-1, t) = -1
    def minOf(ps: Seq[Map[String, Double]]): Map[String, Double] =
      ps.reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
    val results = minOf(allPasses)
    val twins = minOf(allTwins)
    val qs = (results ++ twins).toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${r4(v)}" }
      .mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    // count failures across BOTH lanes: a failed twin is a -1.0 in the
    // map and must not leave the headline claiming 0 failures (totals
    // already exclude the twins; only the counter widens)
    val nFailed = (results ++ twins).count(_._2 < 0)
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    val streamTotal = ok.collect { case (k, v) if streamingLane(k) => v }.sum
    // machine-load marker: 1-min loadavg at measurement end, so an
    // inflated total is attributable to a busy VM instead of reading as
    // a code regression (the r9/r10 artifacts drifted 40% on identical
    // code with no way to tell)
    val load1 = try {
      java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
    } catch { case _: Exception => -1.0 }
    val proto = s""""protocol":{"passes":$passes,"load1":$load1,"run_id":${Json.str(runId)}}"""
    // "cpus" rides the artifact (ADDITIVE, r20 verdict #2): the bench
    // honors $SPARK_GRAFT_CPUS (master/shuffle partitions), and
    // carrying it in the JSON lets any consumer assert two runs really
    // came from different core counts instead of inferring it from
    // flat small-SF scaling ratios. GraftSession parsed it to a
    // positive Int, so the field is always a JSON number.
    val json =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","cpus":$cpus,""" +
      s""""lanes":{"batch":${r4(total - streamTotal)},"streaming":${r4(streamTotal)}},""" +
      s""""n_queries":${results.size},"n_failed":$nFailed,"n_warmup_failed":$nWarmupFailed,""" +
      s"""$proto,"queries":$qs,"sf":${Json.str(sfDir)}}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench: could not write $outFile: $e") }
    // Emit the full record FIRST (a harvester reading the whole stream
    // parses this line), then a compact <1 KB summary LAST (a harvester
    // keeping only the final ~2 KB of output still gets a complete JSON
    // line — the full map is ~2.9 KB and cannot fit a 2 KB tail, which
    // is exactly how rounds 4-6 lost their artifact). Same numbers in
    // both; the full per-query map also lives in `outFile`.
    println(json)
    val summary =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","cpus":$cpus,""" +
      s""""lanes":{"batch":${r4(total - streamTotal)},"streaming":${r4(streamTotal)}},""" +
      s""""n_queries":${results.size},"n_failed":$nFailed,"n_warmup_failed":$nWarmupFailed,""" +
      s"""$proto,"queries_file":${Json.str(outFile)},"sf":${Json.str(sfDir)}}"""
    println(summary)
    // stop() drains the async listener bus before the writer closes
    spark.stop()
    obsWriter.close()
    // a bench with failed queries is a FAILED bench: exit nonzero so
    // the harness records a red run instead of a plausible-looking
    // total over a partial surface (round 10 shipped rc 0 with
    // n_failed: 17)
    if (nFailed > 0) sys.exit(1)
  }
}
