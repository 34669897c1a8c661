package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal per-query observability surface — the reference decorates
  * every handler with a correlation id and structured log fields
  * (utils/decorators.py:33–69, logger_config.py); at engine scale the
  * equivalent first-reach diagnostics are per-QUERY wall time, shuffle
  * volume and spill. One JSON line per completed query action, emitted
  * to stderr (never stdout — stdout carries the bench protocol line).
  *
  * Fields: `run_id` (one correlation id per pipeline/harness run,
  * session conf `spark.graft.runId`, stamped by
  * [[ObservabilityListener.withRun]] and by `PipelineRunner.run` — the
  * decorator's `correlation_id = str(uuid.uuid4())` analogue,
  * utils/decorators.py:33-45), `tag` (the harness-set query key,
  * session conf `spark.graft.queryTag`, set via
  * [[ObservabilityListener.withTag]]), `func` (the triggering action),
  * `ms` wall time, `shuffle_write_bytes` / `spill_bytes` (summed over
  * the executed plan, including AQE query stages), `status`. Metrics
  * are read from the plan's own SQLMetrics — no extra instrumentation
  * in the hot path, the listener only aggregates what Spark already
  * collected. */
class ObservabilityListener(out: String => Unit) extends QueryExecutionListener {

  def this() = this(line => System.err.println(line))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    emit(funcName, qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    emit(funcName, qe, -1L, ok = false)

  /** AQE wraps the real plan in AdaptiveSparkPlanExec / QueryStageExec
    * nodes whose stages are not plain children — expand them so the
    * metric sweep sees every exchange and sort. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
    case q: QueryStageExec => q +: allNodes(q.plan)
    case other => other +: other.children.flatMap(allNodes)
  }

  private def metricSum(root: SparkPlan, metric: String): Long =
    allNodes(root).flatMap(_.metrics.get(metric).map(_.value)).sum

  private def emit(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit =
    try {
      val tag = qe.sparkSession.conf.getOption("spark.graft.queryTag").getOrElse("")
      val runId = qe.sparkSession.conf.getOption("spark.graft.runId").getOrElse("")
      // a FAILED query may not have a materialized physical plan at
      // all (optimizer-time errors) — the line must still go out
      val (shuffleB, spillB) =
        try {
          val plan = qe.executedPlan
          (metricSum(plan, "shuffleBytesWritten"), metricSum(plan, "spillSize"))
        } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }
      val json =
        s"""{"graft_obs":1,"run_id":${Json.str(runId)},"tag":${Json.str(tag)},"func":${Json.str(funcName)},""" +
        s""""ms":${if (durationNs >= 0) durationNs / 1000000 else -1},""" +
        s""""shuffle_write_bytes":$shuffleB,""" +
        s""""spill_bytes":$spillB,""" +
        s""""status":"${if (ok) "ok" else "error"}"}"""
      out(json)
    } catch {
      // observability must never fail the query path
      case scala.util.control.NonFatal(_) => ()
    }
}

object ObservabilityListener {

  /** Register on a session and tag subsequent queries via
    * `withTag(spark, name) { ... }`. */
  def register(spark: SparkSession, out: String => Unit): ObservabilityListener = {
    val l = new ObservabilityListener(out)
    spark.listenerManager.register(l)
    l
  }

  def register(spark: SparkSession): ObservabilityListener =
    register(spark, line => System.err.println(line))

  /** Run `body` with the query tag in the session conf so the listener
    * can attribute the resulting query events. The listener bus is
    * asynchronous, so attribution is exact for a sequential harness
    * (the bench loop) and best-effort for concurrent sessions — the
    * numbers themselves come from the event's own QueryExecution
    * either way. */
  def withTag[T](spark: SparkSession, tag: String)(body: => T): T = {
    // deliberately NOT unset afterwards: the asynchronous listener bus
    // may deliver the event after body returns, and an unset tag would
    // blank it; the tag stays until the next withTag overwrites it
    spark.conf.set("spark.graft.queryTag", tag)
    body
  }

  /** Fresh correlation id — one per logical run, never per query. */
  def newRunId(): String = java.util.UUID.randomUUID().toString

  /** Run `body` with the run correlation id in the session conf: every
    * observability line emitted while it executes carries `run_id`, so
    * one id threads a whole multi-step pipeline's queries together —
    * the reference decorator's correlation_id (utils/decorators.py:33).
    * Same non-unset rationale as [[withTag]]. */
  def withRun[T](spark: SparkSession, runId: String)(body: => T): T = {
    spark.conf.set("spark.graft.runId", runId)
    body
  }

  /** Test/collection helper: a listener that buffers lines in memory. */
  def buffering(spark: SparkSession): (ObservabilityListener, ConcurrentLinkedQueue[String]) = {
    val q = new ConcurrentLinkedQueue[String]()
    (register(spark, line => { q.add(line): Unit }), q)
  }
}
