package graft.operators

import graft.{SparkEntry, SparkTestBase}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Job-count guard for the iterative lanes: the Spark jobs one call and
  * `collect()` submits at sf0.01. Each loop step is one action (the
  * step's own convergence probe, whose shuffle stages and broadcasts
  * are jobs of their own); a step that grows a second action shows up
  * here as more jobs. */
class LoopJobsSpec extends SparkTestBase {

  private def jobsOf(lane: String): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    BusDrain(sc)
    sc.addSparkListener(counter)
    try {
      SparkEntry.queries(lane)(spark, sf01).collect()
      BusDrain(sc)
    } finally sc.removeSparkListener(counter)
    n.get
  }

  // Jobs per lane measured on the commit before the loop kernel
  // (single-test-JVM session, 4 cpus, sf0.01; equal on a repeat call):
  // dedup_clusters 21, sim_kmeans_converged 18, q_pagerank_converged 114,
  // pretrain_quality_model 45. The kernel must not add a job.
  private val ceilings = Seq(
    "dedup_clusters" -> 21,
    "sim_kmeans_converged" -> 18,
    "q_pagerank_converged" -> 114,
    "pretrain_quality_model" -> 45)

  for ((lane, ceiling) <- ceilings)
    test(s"$lane: one collect() submits at most $ceiling jobs") {
      val jobs = jobsOf(lane)
      assert(jobs <= ceiling, s"$lane submitted $jobs jobs, ceiling $ceiling")
      info(s"$lane: $jobs jobs")
    }
}
