package graft
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Benchmark main: `runMain graft.Bench [lane ...]`. A warm-up pass at
  * sf0.001, then min-of-N timed `collect()` passes per lane, one JSON
  * result line on stdout AND the same JSON written to a file (stdout
  * tail-capture truncated round 3's artifact to 66/93 timings).
  *
  * With no names it times every declared lane (`SparkEntry.queries`)
  * and the plain twins of the layout-primary lanes
  * (`SparkEntry.layoutTwins`); with names (declared lanes or twins),
  * only those, under the same protocol and artifact. `value` is the
  * total over the declared lanes; twins are timed and counted in
  * `n_failed`, never summed (the baseline's query set has no twin).
  * The `stream_*` lanes, which pay a streaming engine's fixed startup
  * per call, are also subtotalled apart from the batch lanes. `rows`
  * maps each lane to its collected row count, which a scale run checks
  * against DuckDB's.
  */
object Bench {
  // derived from the streaming registries so a new stream op can never
  // land in the batch lane unnoticed (round 8 added stream_dedup and
  // this set — then hand-listed — silently misattributed it)
  private val streamingLane: Set[String] =
    streaming.StreamOps.queries.keySet ++ streaming.StreamIngest.queries.keySet

  private def r4(v: Double): Double = math.rint(v * 10000) / 10000

  /** Per lane the minimum over the timed passes (−1.0 when any pass
    * failed), its collected row count (−1 likewise), and the number of
    * lanes whose warm-up failed. */
  final case class Timing(sec: Map[String, Double], rows: Map[String, Long], nWarmupFailed: Int)

  /** The timing protocol, over `lanes` in order.
    *
    * Warm-up: each lane runs once at `warmupDir` (when given), tagged
    * `warmup:<lane>`, so the timed passes measure steady state (codegen
    * classes compiled, JIT warm), not one-time JVM costs. A warm-up
    * failure is reported and counted, not timed; a fatal error (OOM)
    * ends the run.
    *
    * Then `passes` timed passes over every lane, keeping the per-lane
    * minimum: the first pass at the target SF still pays costs the
    * warm-up can't cover (page cache, size-specific JIT tiers), and
    * single runs swing up to ~2.4× with machine load. A failed lane
    * records the −1.0 sentinel, never its elapsed-until-failure time (a
    * plausible fast result); a sentinel in ANY pass poisons the lane.
    * Each pass builds a FRESH DataFrame: re-collecting one Dataset
    * replays its materialized shuffle stages and measures nothing.
    *
    * The timed action is collect(), NOT count(): count() over a final
    * aggregate/projection lets Catalyst prune every value expression the
    * row count doesn't need (found r12 at sf10: q1_agg under count()
    * skipped all six sums). collect() needs every output column and
    * matches the DuckDB baseline's fetchall(). */
  def time(spark: SparkSession, lanes: Seq[(String, SparkEntry.Lane)], dir: String,
           warmupDir: Option[String], passes: Int): Timing = {
    val nWarmupFailed = warmupDir.fold(0) { w =>
      lanes.count { case (name, fn) =>
        try { ObservabilityListener.withTag(spark, s"warmup:$name")(fn(spark, w).collect()); false }
        catch { case NonFatal(e) =>
          System.err.println(s"bench: warmup $name FAILED: $e")
          true
        }
      }
    }
    def timed(name: String, fn: SparkEntry.Lane): (Double, Long) =
      try ObservabilityListener.withTag(spark, name) {
        val t0 = System.nanoTime()
        val n = fn(spark, dir).collect().length
        ((System.nanoTime() - t0) / 1e9, n.toLong)
      } catch { case NonFatal(e) =>
        System.err.println(s"bench: $name FAILED: $e")
        (-1.0, -1L)
      }
    val runs = (1 to passes).map(_ => lanes.map { case (name, fn) => name -> timed(name, fn) }.toMap)
    val sec = lanes.map { case (name, _) => name -> runs.map(_(name)._1).min }.toMap
    val rows = lanes.map { case (name, _) =>
      name -> (if (sec(name) < 0) -1L else runs.last(name)._2) }.toMap
    Timing(sec, rows, nWarmupFailed)
  }

  /** The artifact's two JSON lines: the full record (`queries` seconds
    * and `rows`), then a compact summary that points at `outFile`
    * instead. `total` and the lane subtotals sum the `declared` lanes
    * that did not fail; `n_failed` counts every timed lane. */
  def artifact(t: Timing, declared: Set[String], cpus: Int, passes: Int, load1: Double,
               runId: String, sfDir: String, outFile: String): (String, String) = {
    val ok = t.sec.filter { case (k, v) => v >= 0 && declared(k) }
    val total = ok.values.sum
    val streamTotal = ok.collect { case (k, v) if streamingLane(k) => v }.sum
    // "cpus" lets a consumer assert two runs came from different core
    // counts; GraftSession parsed it to a positive Int (a JSON number)
    val head =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","cpus":$cpus,""" +
      s""""lanes":{"batch":${r4(total - streamTotal)},"streaming":${r4(streamTotal)}},""" +
      s""""n_queries":${t.sec.keys.count(declared)},"n_failed":${t.sec.values.count(_ < 0)},""" +
      s""""n_warmup_failed":${t.nWarmupFailed},""" +
      s""""protocol":{"passes":$passes,"load1":$load1,"run_id":${Json.str(runId)}},"""
    def obj[V](m: Map[String, V])(f: V => String): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${f(v)}" }.mkString("{", ",", "}")
    (head + s""""queries":${obj(t.sec)(v => r4(v).toString)},"rows":${obj(t.rows)(_.toString)},""" +
        s""""sf":${Json.str(sfDir)}}""",
      head + s""""queries_file":${Json.str(outFile)},"sf":${Json.str(sfDir)}}""")
  }

  /** The lanes a run times: every declared lane then every twin when
    * `names` is empty, else the named lanes (declared or twin) in the
    * order given; an unknown name is an error that names it. */
  def select(names: Seq[String]): Seq[(String, SparkEntry.Lane)] =
    if (names.isEmpty) SparkEntry.queries.toSeq ++ SparkEntry.layoutTwins.toSeq
    else names.distinct.map(n => n -> SparkEntry.lanes.getOrElse(n,
      throw new IllegalArgumentException(s"bench: unknown lane '$n'")))

  def main(args: Array[String]): Unit = {
    // lanes, cpus and passes resolve BEFORE the session and warm-up, so
    // an unknown name or a malformed value fails fast with a NAMED error
    // instead of after minutes of warm-up
    val lanes = select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val passes = GraftSession.positiveInt(sys.env, "SPARK_GRAFT_BENCH_PASSES", 3)
    val warmupDir = Some(sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001"))
      .filter(w => new java.io.File(w).isDirectory && w != sfDir)
    val spark = GraftSession.build(cpus)
    // per-query observability lines on stderr (stdout carries the
    // protocol line) AND into a .jsonl next to the artifact
    val obsFile = outFile.stripSuffix(".json") + "_obs.jsonl"
    val obsWriter = new java.io.PrintWriter(
      new java.io.FileWriter(obsFile, /* append = */ false), /* autoFlush = */ true)
    ObservabilityListener.register(spark, line => {
      System.err.println(line)
      obsWriter.synchronized { obsWriter.println(line) }
    })
    // one correlation id threads EVERY obs line of this bench run —
    // preflight, warm-up and timed passes (withRun's conf stays set for
    // the session; see its non-unset rationale)
    val runId = ObservabilityListener.newRunId()
    ObservabilityListener.withRun(spark, runId)(())
    // Testdata-contract preflight: a drifted table.column is a red run,
    // named now — timing passes over a broken read would produce a
    // plausible-looking artifact over garbage
    ObservabilityListener.withTag(spark, "preflight")(Preflight.check(spark, sfDir)) match {
      case drift if drift.nonEmpty =>
        System.err.println("bench: TESTDATA CONTRACT DRIFT:\n  " + drift.mkString("\n  "))
        obsWriter.close()
        spark.stop()
        sys.exit(2)
      case _ => ()
    }
    val t = time(spark, lanes, sfDir, warmupDir, passes)
    // 1-min loadavg at measurement end: an inflated total on a busy VM
    // must not read as a code regression (r9/r10 drifted 40% that way)
    val load1 = try {
      java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
    } catch { case _: Exception => -1.0 }
    val (json, summary) =
      artifact(t, SparkEntry.queries.keySet, cpus, passes, load1, runId, sfDir, outFile)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    } catch { case NonFatal(e) =>
      System.err.println(s"bench: could not write $outFile: $e") }
    // the full record FIRST, the compact <1 KB summary LAST: a harvester
    // keeping only the final ~2 KB of output still gets a complete JSON
    // line (rounds 4-6 lost their artifact to that tail)
    println(json)
    println(summary)
    // stop() drains the async listener bus before the writer closes
    spark.stop()
    obsWriter.close()
    // failed lanes make a red run, not a total over a partial surface
    // (round 10 shipped rc 0 with n_failed: 17)
    if (t.sec.values.exists(_ < 0)) sys.exit(1)
  }
}
