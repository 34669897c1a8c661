package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer figures for the traced run. Everything here is read from
  * listeners Spark already feeds (scheduler, query execution, streaming
  * progress); the only timers are the ones [[Trace.op]] puts around the
  * benchmark's own calls into graft.
  *
  * Attribution: the benchmark runs one operation at a time, and
  * [[Trace.op]] drains the listener bus before it clears the current
  * operation, so every event a call caused is counted under that call. */
final class Trace(spark: SparkSession) {
  private val sums = new ConcurrentHashMap[String, java.lang.Double]()
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val stateRows = mutable.Map.empty[java.util.UUID, Double]
  @volatile private var current = ""

  def add(key: String, v: Double): Unit = { sums.merge(key, v, (a, b) => a + b); () }

  /** Time `body` as operation `name` (metric `<name>_s`) and count the
    * events it caused under `name`. */
  def op[T](name: String)(body: => T): T = {
    current = name
    val t0 = System.nanoTime()
    try body
    finally {
      add(s"${name}_s", (System.nanoTime() - t0) / 1e9)
      add(s"$name.calls", 1)
      drain()
      current = ""
    }
  }

  def drain(): Unit = BusDrain(spark.sparkContext)

  /** This pass's figures; clears them for the next pass. */
  def takePass(): Map[String, Double] = {
    drain()
    synchronized { snapshot() }
  }

  private def snapshot(): Map[String, Double] = {
    val out = sums.asScala.map { case (k, v) => k -> v.doubleValue }.toMap ++
      Map(
        "streaming.batch_ms_p50" -> Stats.median(batchMs.toSeq),
        "streaming.state_rows" -> stateRows.values.sum)
    sums.clear(); batchMs.clear(); stateRows.clear()
    out
  }

  private def cur(suffix: String): Option[String] =
    Option(current).filter(_.nonEmpty).map(_ + suffix)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("spark.jobs", 1)
      cur(".jobs").foreach(add(_, 1))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        add("spark.executor_run_s", m.executorRunTime / 1e3)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / Trace.MiB)
        add("spark.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spark.spill_mb", m.memoryBytesSpilled / Trace.MiB)
      }
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("spark.planning_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
      nodes(qe.executedPlan).foreach {
        case w: DataWritingCommandExec => w.cmd match {
          case c: InsertIntoHadoopFsRelationCommand =>
            val rows = c.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            val bytes = c.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
            cur(".rows_written").foreach(add(_, rows.toDouble))
            cur(".bytes_written").foreach(add(_, bytes.toDouble))
            // PipelineRunner lands each step in <workDir>/<step>
            if (current == "etl.pipeline_run") {
              val step = c.outputPath.getName
              add(s"etl.step.${step}_s", durationNs / 1e9)
              add(s"etl.step.$step.rows", rows.toDouble)
            }
          case _ => ()
        }
        case _ => ()
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.add_batch_ms", d("addBatch"))
      add("streaming.query_planning_ms", d("queryPlanning"))
      add("streaming.wal_commit_ms", d("walCommit"))
      add("streaming.commit_offsets_ms", d("commitOffsets"))
      add("streaming.state_commit_ms", p.stateOperators.map(_.commitTimeMs.toDouble).sum)
      cur(".batches").foreach(add(_, 1))
      cur(".add_batch_ms").foreach(add(_, d("addBatch")))
      Trace.this.synchronized {
        batchMs += d("triggerExecution")
        stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal.toDouble).sum
      }
    }
  }

  spark.sparkContext.addSparkListener(scheduler)
  spark.listenerManager.register(queries)
  spark.streams.addListener(streams)
}

object Trace {
  val MiB: Double = 1024.0 * 1024.0
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
