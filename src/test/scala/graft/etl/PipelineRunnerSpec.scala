package graft.etl

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicInteger

class PipelineRunnerSpec extends SparkTestBase {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  private val tokenize: DataFrame => DataFrame =
    _.select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
  private val keepShort: DataFrame => DataFrame =
    _.filter(length(col("tok")) <= 5)
  private val aggregate: DataFrame => DataFrame =
    _.groupBy("lang").agg(count(lit(1)).as("n_toks"),
      countDistinct("tok").as("n_distinct"))

  private def direct = aggregate(keepShort(tokenize(docs))).collect()
    .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("stepwise run equals the fused single-plan composition") {
    val wd = graft.TempDirs.create("graft_steps").toString
    val (out, reports) = PipelineRunner.run(docs, Seq(
      PipelineRunner.Step("tokenize", tokenize),
      PipelineRunner.Step("keep_short", keepShort),
      PipelineRunner.Step("aggregate", aggregate)), wd)
    assert(out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == direct)
    assert(reports.forall(r => !r.resumed && r.attempts == 1))
  }

  test("a flaky step retries in place — the chain survives without recompute") {
    val wd = graft.TempDirs.create("graft_steps_flaky").toString
    val calls = new AtomicInteger(0)
    val flakyFilter: DataFrame => DataFrame = df => {
      if (calls.incrementAndGet() == 1) sys.error("transient step failure")
      keepShort(df)
    }
    val (out, reports) = PipelineRunner.run(docs, Seq(
      PipelineRunner.Step("tokenize", tokenize),
      PipelineRunner.Step("keep_short", flakyFilter, maxRetries = 2),
      PipelineRunner.Step("aggregate", aggregate)), wd)
    assert(out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == direct)
    assert(reports.find(_.name == "keep_short").get.attempts == 2)
    // the upstream step ran once — isolation means no recompute on retry
    assert(reports.find(_.name == "tokenize").get.attempts == 1)
  }

  test("a re-run resumes from completed checkpoints instead of recomputing") {
    val wd = graft.TempDirs.create("graft_steps_resume").toString
    val steps = Seq(
      PipelineRunner.Step("tokenize", tokenize),
      PipelineRunner.Step("keep_short", keepShort),
      PipelineRunner.Step("aggregate", aggregate))
    PipelineRunner.run(docs, steps, wd)
    // poison every transform: a resume must never invoke them
    val poisoned = steps.map(s =>
      s.copy(transform = _ => sys.error(s"step ${s.name} must not re-run")))
    val (out, reports) = PipelineRunner.run(docs, poisoned, wd)
    assert(reports.forall(_.resumed))
    assert(out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == direct)
  }

  test("fatal errors escape immediately — no retry, no backoff sleep") {
    val wd = graft.TempDirs.create("graft_steps_fatal").toString
    val calls = new AtomicInteger(0)
    val fatal: DataFrame => DataFrame = _ => {
      calls.incrementAndGet()
      throw new OutOfMemoryError("simulated heap exhaustion")
    }
    intercept[OutOfMemoryError] {
      PipelineRunner.run(docs, Seq(
        PipelineRunner.Step("oom", fatal, maxRetries = 3)), wd)
    }
    // a doomed attempt must not re-run: retrying an OOM just re-OOMs
    assert(calls.get() == 1, s"fatal error was retried ${calls.get()} times")
  }

  test("a step that exhausts its retries fails the pipeline with the cause attached") {
    val wd = graft.TempDirs.create("graft_steps_fail").toString
    val always: DataFrame => DataFrame = _ => sys.error("permanent failure")
    val e = intercept[IllegalStateException] {
      PipelineRunner.run(docs, Seq(
        PipelineRunner.Step("tokenize", tokenize),
        PipelineRunner.Step("boom", always, maxRetries = 1)), wd)
    }
    assert(e.getMessage.contains("boom") && e.getCause.getMessage.contains("permanent"))
  }

  test("completion notify fires exactly once per completed run — fresh, resumed, and never on failure") {
    // the NotifyWhenComplete analogue: terminal RunReport through a
    // counting notifier + the default durable _complete/<runId>.json
    val wd = graft.TempDirs.create("graft_steps_notify").toString
    val steps = Seq(
      PipelineRunner.Step("tokenize", tokenize),
      PipelineRunner.Step("aggregate", aggregate))
    val fired = new java.util.concurrent.CopyOnWriteArrayList[PipelineRunner.RunReport]()
    PipelineRunner.run(docs, steps, wd, runId = "run-n1", notify = fired.add(_): Unit)
    assert(fired.size == 1)
    val r1 = fired.get(0)
    assert(r1.runId == "run-n1" && r1.nSteps == 2 && r1.resumedSteps == 0
      && r1.totalAttempts == 2 && r1.finishedAtMs >= r1.startedAtMs)
    // resume path: every step marker-skips, the terminal notify STILL
    // fires exactly once (the state machine notifies per execution,
    // not per computed step)
    PipelineRunner.run(docs, steps, wd, runId = "run-n2", notify = fired.add(_): Unit)
    assert(fired.size == 2)
    assert(fired.get(1).runId == "run-n2" && fired.get(1).resumedSteps == 2
      && fired.get(1).totalAttempts == 0)
    // failure: an exhausted step throws BEFORE the terminal notify
    intercept[IllegalStateException] {
      PipelineRunner.run(docs,
        Seq(PipelineRunner.Step("boom", _ => sys.error("no"), maxRetries = 0)),
        graft.TempDirs.create("graft_steps_notify2").toString,
        runId = "run-n3", notify = fired.add(_): Unit)
    }
    assert(fired.size == 2, "failed run must not notify")
    // default sink: the durable JSON marker lands under workDir/_complete
    val wd2 = graft.TempDirs.create("graft_steps_notify3").toString
    PipelineRunner.run(docs, steps.take(1), wd2, runId = "run-n4")
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$wd2/_complete/run-n4.json")), "UTF-8")
    assert(marker.contains(""""run_id":"run-n4"""") && marker.contains(""""n_steps":1"""))
  }

  test("distinct unsafe runIds neither collide on markers nor lose the original id") {
    // r16 ADVICE fix: 'run:1' and 'run/1' both sanitized to 'run_1' —
    // the second overwrote the first's marker and the JSON recorded
    // the mangled id
    val wd = graft.TempDirs.create("graft_steps_collide").toString
    val steps = Seq(PipelineRunner.Step("tokenize", tokenize))
    PipelineRunner.run(docs, steps, wd, runId = "run:1")
    PipelineRunner.run(docs, steps, wd, runId = "run/1")
    val dir = java.nio.file.Paths.get(s"$wd/_complete")
    val markers = java.nio.file.Files.list(dir).iterator()
    val names = Iterator.continually(markers).takeWhile(_.hasNext)
      .map(_.next().getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith(".")).toSeq
    assert(names.length == 2, s"both runs must keep a marker, got $names")
    val bodies = names.map(n => new String(java.nio.file.Files.readAllBytes(
      dir.resolve(n)), "UTF-8"))
    assert(bodies.exists(_.contains(""""run_id":"run:1"""")), bodies.mkString)
    assert(bodies.exists(_.contains(""""run_id":"run/1"""")), bodies.mkString)
    // sanitized filenames stay path-safe
    assert(names.forall(_.matches("[A-Za-z0-9._-]+")), names.mkString(","))
    // a clean id keeps its plain marker name (no hash suffix)
    val wd2 = graft.TempDirs.create("graft_steps_collide2").toString
    PipelineRunner.run(docs, steps, wd2, runId = "clean-id.1")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wd2/_complete/clean-id.1.json")))
  }

  test("one correlation id threads step reports, observability lines and errors") {
    val wd = graft.TempDirs.create("graft_steps_runid").toString
    val (_, lines) = graft.ObservabilityListener.buffering(spark)
    val (_, reports) = PipelineRunner.run(docs, Seq(
      PipelineRunner.Step("tokenize", tokenize),
      PipelineRunner.Step("aggregate", aggregate)), wd, runId = "run-abc-123")
    // every step report carries the run id
    assert(reports.map(_.runId).distinct == Seq("run-abc-123"))
    // every observability line emitted during the run carries it too
    // (listener bus is async — give it a beat)
    var waited = 0
    while (lines.isEmpty && waited < 100) { Thread.sleep(50); waited += 1 }
    import scala.jdk.CollectionConverters._
    val runLines = lines.asScala.toVector
    assert(runLines.nonEmpty)
    assert(runLines.forall(_.contains(""""run_id":"run-abc-123"""")),
      s"unstamped line: ${runLines.find(!_.contains("run-abc-123"))}")
    // a fresh run mints a fresh id (distinct per invocation)
    val wd2 = graft.TempDirs.create("graft_steps_runid2").toString
    val (_, r2) = PipelineRunner.run(docs,
      Seq(PipelineRunner.Step("tokenize", tokenize)), wd2)
    assert(r2.head.runId.nonEmpty && r2.head.runId != "run-abc-123")
    // the exhausted-retries error names the run
    val e = intercept[IllegalStateException] {
      PipelineRunner.run(docs,
        Seq(PipelineRunner.Step("boom", _ => sys.error("nope"), maxRetries = 0)),
        graft.TempDirs.create("graft_steps_runid3").toString, runId = "run-err-9")
    }
    assert(e.getMessage.contains("run-err-9"))
  }
}
