package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Step-level failure isolation for ETL chains — the reference runs its
  * transforms as a Step Functions state machine with per-step
  * retry/catch (SemiStructureInvictusPost_stateMachine.yml:1,
  * utils/decorators.py:1 `retry`), so one flaky step neither kills the
  * whole pipeline nor forces recomputing finished work.
  *
  * Spark-first re-expression: each step is a closed
  * DataFrame → DataFrame transform; the runner materializes every
  * step's output as a parquet directory whose `_SUCCESS` marker IS the
  * state-machine checkpoint. A failed step retries with bounded
  * backoff; a re-run of the whole pipeline RESUMES from the last
  * completed step (markers present → read, skip compute). The
  * monolithic single-plan form (WodEtl.pipelineE2E) stays the right
  * default — Catalyst optimizes across stages — and this runner is the
  * operational harness for when isolation matters more than fusion:
  * long chains, flaky sources, reruns over 100 TB where step 7 of 8
  * failing must not re-scan everything.
  */
object PipelineRunner {

  final case class Step(name: String,
                        transform: DataFrame => DataFrame,
                        maxRetries: Int = 2)

  final case class StepReport(name: String, attempts: Int, resumed: Boolean,
                              runId: String = "")

  /** Terminal completion report — the analogue of the state machine's
    * `NotifyWhenComplete` SNS publish (SemiStructureInvictusPost_
    * stateMachine.yml:113, Subject + Execution.Name + StartTime): fires
    * exactly once per completed [[run]], AFTER every step has
    * committed, never on a failed run (the state machine only reaches
    * the notify state when all branches succeed). */
  final case class RunReport(runId: String, nSteps: Int, resumedSteps: Int,
                             totalAttempts: Int, startedAtMs: Long,
                             finishedAtMs: Long)

  /** Default notify sink: a durable one-file JSON marker under
    * `workDir/_complete/<runId>.json` — the SNS topic re-expressed as a
    * filesystem signal any scheduler/monitor can poll, written through
    * the same Hadoop FS as the step checkpoints so it lands wherever
    * the pipeline state lives (HDFS/object store on a cluster).
    * Overwrite semantics: re-completing the SAME runId refreshes its
    * marker rather than erroring — one notification per run id. */
  private def fileNotify(fs: org.apache.hadoop.fs.FileSystem, workDir: String)
      (r: RunReport): Unit = {
    val dir = new Path(workDir, "_complete")
    fs.mkdirs(dir)
    // caller-supplied runIds are sanitized to [A-Za-z0-9._-] for the
    // marker FILENAME — a quote/backslash/control char in a custom id
    // must not produce a path-traversing filename. Sanitization alone
    // collides distinct ids ('run:1' and 'run/1' both map to 'run_1'),
    // so ids that lost characters get a short hash of the ORIGINAL id
    // appended, and the JSON body records the original id (escaped)
    // rather than the mangled one.
    val mangled = r.runId.replaceAll("[^A-Za-z0-9._-]", "_")
    val safeId =
      if (mangled == r.runId) mangled
      else {
        val h = java.security.MessageDigest.getInstance("SHA-256")
          .digest(r.runId.getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        s"${mangled}_$h"
      }
    val out = fs.create(new Path(dir, s"$safeId.json"), true)
    try out.write(
      (s"""{"run_id":${graft.Json.str(r.runId)},"n_steps":${r.nSteps},""" +
        s""""resumed_steps":${r.resumedSteps},"total_attempts":${r.totalAttempts},""" +
        s""""started_at_ms":${r.startedAtMs},"finished_at_ms":${r.finishedAtMs}}""" + "\n")
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** Run the chain; returns the final output plus a per-step report.
    * Step i reads step i−1's materialized parquet, so lineage is cut at
    * every boundary (a retry re-runs ONE step, not the chain).
    *
    * One correlation `runId` (the reference decorator's
    * correlation_id, utils/decorators.py:33-45) stamps the whole run:
    * every StepReport carries it, it is set as the session's
    * `spark.graft.runId` so every [[graft.ObservabilityListener]] line
    * emitted by the steps' queries carries the same id, and the
    * exhausted-retries error names it — a 100-step run debugs by one
    * grep. Callers pass their own id to join several pipelines under
    * one umbrella run; the default mints a fresh one. */
  def run(input: DataFrame, steps: Seq[Step], workDir: String,
          runId: String = graft.ObservabilityListener.newRunId(),
          notify: RunReport => Unit = null)
      : (DataFrame, Seq[StepReport]) = {
    val startedAt = System.currentTimeMillis()
    val spark = input.sparkSession
    graft.ObservabilityListener.withRun(spark, runId)(())
    val fs = new Path(workDir).getFileSystem(spark.sessionState.newHadoopConf())
    val notifier: RunReport => Unit =
      if (notify != null) notify else fileNotify(fs, workDir)
    var cur = input
    val reports = Seq.newBuilder[StepReport]
    steps.foreach { st =>
      val out = new Path(workDir, st.name)
      if (fs.exists(new Path(out, "_SUCCESS"))) {
        cur = spark.read.parquet(out.toString)
        reports += StepReport(st.name, attempts = 0, resumed = true, runId)
      } else {
        var attempt = 0
        var lastErr: Throwable = null
        var done = false
        while (!done && attempt <= st.maxRetries) {
          attempt += 1
          try {
            // overwrite clears a half-written attempt; _SUCCESS only
            // lands when the whole write committed
            st.transform(cur).write.mode(SaveMode.Overwrite).parquet(out.toString)
            done = true
          } catch {
            // retry recoverable failures ONLY: fatal errors (OOM,
            // linkage) must propagate, and an interrupt is a shutdown
            // request, not a flaky step — restore the flag and rethrow
            // instead of sleeping on a doomed attempt
            case e: InterruptedException =>
              Thread.currentThread().interrupt()
              throw e
            case scala.util.control.NonFatal(e) =>
              lastErr = e
              Thread.sleep(50L * attempt) // bounded linear backoff
          }
        }
        if (!done)
          throw new IllegalStateException(
            s"step '${st.name}' failed after ${st.maxRetries + 1} attempts (run $runId)",
            lastErr)
        cur = spark.read.parquet(out.toString)
        reports += StepReport(st.name, attempts = attempt, resumed = false, runId)
      }
    }
    val rep = reports.result()
    // terminal notify: reached only when every step committed (a step
    // that exhausts retries throws above) — exactly once per run() even
    // when every step was a marker-resume skip
    notifier(RunReport(runId, rep.size, rep.count(_.resumed),
      rep.map(_.attempts).sum, startedAt, System.currentTimeMillis()))
    (cur, rep)
  }
}
