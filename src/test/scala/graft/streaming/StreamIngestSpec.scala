package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The reference's continuous fetch→check→write loop, end to end:
  * micro-batches through foreachBatch into the keyed sinks, including a
  * FORCED checkpoint replay (delete the last commit marker, restart) —
  * the exact at-least-once failure mode the sinks must absorb. */
class StreamIngestSpec extends SparkTestBase {

  private def tmp(p: String): String = graft.TempDirs.create(p).toString

  /** Remove the newest commit marker (and its local-FS checksum shadow,
    * which would otherwise block the re-write) so a restart believes
    * the batch never finished and replays it through foreachBatch. */
  private def dropLastCommit(ckpt: String): Unit = {
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "expected committed micro-batches")
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    assert(last.delete())
    if (crc.exists()) crc.delete()
    ()
  }

  test("foreachBatch -> IdempotentSink: batches land first-writer-wins; forced replay lands nothing") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val stream = input.toDS().toDF("k", "tie", "p")
    val target = tmp("graft_si_idem") + "/t.parquet"
    val ckpt = tmp("graft_si_idem_ck")

    input.addData((1L, 10L, "a1"), (2L, 10L, "b1"))
    StreamIngest.runIdempotent(stream, "k", "tie", target, ckpt)
    // second micro-batch overlaps key 2: first writer must win
    input.addData((2L, 5L, "b2"), (3L, 10L, "c1"))
    StreamIngest.runIdempotent(stream, "k", "tie", target, ckpt)
    val out = spark.read.parquet(target).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("p")).toMap
    assert(out == Map(1L -> "a1", 2L -> "b1", 3L -> "c1"))

    // force an at-least-once replay: drop the newest commit marker so
    // the restarted query re-runs that micro-batch through foreachBatch
    dropLastCommit(ckpt)
    StreamIngest.runIdempotent(stream, "k", "tie", target, ckpt)
    val replayed = spark.read.parquet(target).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("p")).toMap
    assert(replayed == out, "replayed batch must land ZERO duplicate rows")
    assert(spark.read.parquet(target).count() == 3)
  }

  test("foreachBatch -> MergeSink: batches upsert last-writer-wins; forced replay is a no-op") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val stream = input.toDS().toDF("k", "v", "p")
    val target = tmp("graft_si_merge") + "/t.parquet"
    val ckpt = tmp("graft_si_merge_ck")

    input.addData((1L, 1L, "a1"), (2L, 1L, "b1"))
    StreamIngest.runMerge(stream, "k", "v", target, ckpt)
    // higher version for key 2 replaces; stale version for key 1 loses
    input.addData((2L, 7L, "b2"), (1L, 0L, "stale"), (3L, 1L, "c1"))
    StreamIngest.runMerge(stream, "k", "v", target, ckpt)
    val out = spark.read.parquet(target).collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[Long]("v"), r.getAs[String]("p"))).toMap
    assert(out == Map(1L -> (1L, "a1"), 2L -> (7L, "b2"), 3L -> (1L, "c1")))

    dropLastCommit(ckpt)
    StreamIngest.runMerge(stream, "k", "v", target, ckpt)
    val replayed = spark.read.parquet(target).collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[Long]("v"), r.getAs[String]("p"))).toMap
    assert(replayed == out, "replaying the merge batch must not change the table")
    assert(spark.read.parquet(target).count() == 3)
  }

  test("CDC apply: tombstone hides the key, retained tombstone defeats a replayed older upsert") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, Long, String, String)]
    val stream = input.toDS().toDF("k", "v", "p", "op")
    val target = tmp("graft_si_cdc") + "/t.parquet"
    val ckpt = tmp("graft_si_cdc_ck")
    def view = spark.read.parquet(target).filter(col("op") =!= "D")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("p")).toMap

    // batch 1: two upserts
    input.addData((1L, 1L, "a1", "U"), (2L, 1L, "b1", "U"))
    StreamIngest.runMerge(stream, "k", "v", target, ckpt)
    assert(view == Map(1L -> "a1", 2L -> "b1"))

    // batch 2: tombstone key 1, upsert key 3 — the read view hides 1,
    // but the tombstone ROW is retained in the target
    input.addData((1L, 2L, "gone", "D"), (3L, 1L, "c1", "U"))
    StreamIngest.runMerge(stream, "k", "v", target, ckpt)
    assert(view == Map(2L -> "b1", 3L -> "c1"))
    assert(spark.read.parquet(target).filter(col("op") === "D").count() == 1,
      "the winning tombstone must be RETAINED, not physically removed")

    // at-least-once replay of batch 2's predecessor: the older upsert
    // (1, v=1) must NOT resurrect key 1 — it loses to the retained
    // tombstone's higher version. (This is exactly what physical
    // deletion would get wrong.)
    dropLastCommit(ckpt)
    StreamIngest.runMerge(stream, "k", "v", target, ckpt)
    assert(view == Map(2L -> "b1", 3L -> "c1"), "replay must not resurrect")

    // a GENUINE later upsert revives the key
    input.addData((1L, 3L, "a2", "U"))
    StreamIngest.runMerge(stream, "k", "v", target, ckpt)
    assert(view == Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
  }
}
