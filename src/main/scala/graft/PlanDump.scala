package graft

import org.apache.spark.sql.execution.{ExplainMode, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** The plan-evidence tool (`plans/rNN/<q>_{before,after}.txt`): collects
  * each query once in a GraftSession (the bench's confs, so the plan is
  * the plan Bench times), then writes the formatted explain of the
  * EXECUTED plan — AQE's final plan (coalesced reads, runtime join
  * picks) and its initial plan — followed by the node-metric tree
  * (rows, sizes, spill and timings per operator, query stages and
  * reused exchanges followed into).
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> <query> [query...]
  * writes <outDir>/<query>_<suffix>.txt for each; resolves the same
  * names as QTime (declared queries and the layout-primary lanes'
  * `_plain` twins).
  */
object PlanDump {

  /** One line per operator, indented by depth, with its non-zero
    * row/size/spill/time metrics. */
  private def metricTree(plan: SparkPlan): String = {
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = {
      val interesting = p.metrics.filter { case (_, m) =>
        m.value > 0 && (m.metricType == "timing" || m.metricType == "nsTiming" ||
          m.name.exists(nm => nm.contains("rows") || nm.contains("spill") ||
            nm.contains("data size") || nm.contains("time")))
      }.map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
      sb ++= "  " * depth + p.nodeName +
        (if (interesting.nonEmpty) s" [$interesting]" else "") + "\n"
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedSubqueryExec => Seq(r.child)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      kids.foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val s = GraftSession.build(logLevel = "ERROR")
    new java.io.File(outDir).mkdirs()
    args.drop(3).foreach { q =>
      // building the DataFrame runs any driver-side loop the lane holds
      // (PageRank / GD / Lloyd), so the plan is the one a bench pass runs
      val t0 = System.nanoTime()
      val df = QTime.registry(q)(s, sfDir)
      df.collect(): Unit
      val sec = (System.nanoTime() - t0) / 1e9
      val qe = df.queryExecution
      val txt = qe.explainString(ExplainMode.fromString("formatted")) +
        f"\n== Node metrics (collect: $sec%.2f s) ==\n" + metricTree(qe.executedPlan)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      println(f"dumped $q -> $outDir/${q}_$suffix.txt ($sec%.2f s)")
    }
    s.stop()
  }
}
