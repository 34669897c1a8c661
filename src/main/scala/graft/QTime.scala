package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool: time individual queries by name (warm-up run + min of two
  * timed passes, mirroring Bench's steady-state protocol). Resolves
  * declared queries AND the plain-scan twins of the layout-primary
  * lanes (`SparkEntry.layoutTwins`: q5_plain, q7_plain ...), so scale
  * runs can time both physical layouts of the same plan.
  *
  * Usage: runMain graft.QTime <sfDir> <query> [<query> ...]
  * Warm-up dir defaults to Bench's sf0.001 convention; override with
  * SPARK_GRAFT_WARMUP_DIR (skipped when absent or equal to sfDir).
  * SPARK_GRAFT_QTIME_PASSES sets the timed passes (min-of-N, default 2:
  * single runs on this VM swing 1.5-2× on 1-4 s queries; scale
  * artifacts use 3).
  * SPARK_GRAFT_QTIME_OUT=<file> additionally writes one JSON object
  * {"sf":…, "queries":{name:{sec,rows},…}} — the machine-readable
  * artifact for scale benches. For the executed plan of a query, use
  * PlanDump.
  */
object QTime {
  /** Declared queries plus the plain twins of the layout-primary lanes. */
  def registry: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ SparkEntry.layoutTwins

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val cpus = GraftSession.cpus
    val passes = GraftSession.positiveInt(sys.env, "SPARK_GRAFT_QTIME_PASSES", 2)
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.build(cpus)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]
    names.foreach { n =>
      val fn = registry(n)
      if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir)
        // warm-up failure (e.g. a query that can't run at the tiny SF)
        // is a skip, not an abort — mirror Bench's protocol
        try fn(spark, warmupDir).collect(): Unit
        catch { case scala.util.control.NonFatal(_) => () }
      // Timed action is collect(), NOT count(): count() over a final
      // aggregate/projection lets Catalyst column-prune every value
      // expression the row count doesn't need (OptimizeOneRowPlan +
      // ColumnPruning) — measured at sf10, q1_agg's six aggregate
      // sums were never evaluated under count() (1.1 s) while the
      // honest evaluation costs many times that. collect() needs every
      // output column, so nothing is pruned — and it is the exact
      // analogue of the DuckDB baseline's fetchall(). Each pass builds
      // a FRESH DataFrame: re-collecting one Dataset instance replays
      // its already-materialized shuffle stages and measures nothing.
      var cnt = 0L
      def timed(): Double = {
        val t0 = System.nanoTime()
        cnt = fn(spark, sfDir).collect().length.toLong
        (System.nanoTime() - t0) / 1e9
      }
      val ts = (1 to passes).map(_ => timed())
      out(n) = (ts.min, cnt)
      val detail = ts.zipWithIndex.map { case (t, i) => f"p${i + 1}=$t%.2f" }.mkString(" ")
      println(f"QTIME $n%-24s ${ts.min}%8.2f s  ($detail) rows=$cnt")
    }
    sys.env.get("SPARK_GRAFT_QTIME_OUT").foreach { f =>
      val qs = out.map { case (k, (sec, rows)) =>
        s"""${Json.str(k)}:{"sec":${math.rint(sec * 10000) / 10000},"rows":$rows}"""
      }.mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        s"""{"sf":${Json.str(sfDir)},"cpus":$cpus,"queries":$qs}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    spark.stop()
  }
}
