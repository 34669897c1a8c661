package graft.streaming

import graft.SparkTestBase
import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.collection.mutable

/** The runner's conf scope: a stateful drain runs its state operators
  * at [[Streams.StateParts]] while the caller's session keeps its own
  * shuffle-partition count for the whole run; a StreamIngest drain runs
  * at the session's count. */
class StreamsSpec extends SparkTestBase {

  private val Shuffle = "spark.sql.shuffle.partitions"

  /** numShufflePartitions of every state operator in every progress
    * event `body`'s queries report. */
  private def stateParts(body: => Unit): Seq[Long] = {
    val seen = mutable.ArrayBuffer.empty[Long]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = seen.synchronized {
        seen ++= e.progress.stateOperators.map(_.numShufflePartitions)
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try { body; BusDrain(spark.sparkContext) }
    finally spark.streams.removeListener(listener)
    seen.synchronized(seen.toSeq)
  }

  /** The shuffle-partition count a checkpoint's first offset entry
    * recorded for the stream. */
  private def checkpointParts(ckpt: String): String = {
    val meta = scala.io.Source.fromFile(s"$ckpt/offsets/0")
    try """"spark\.sql\.shuffle\.partitions":"(\d+)"""".r
      .findFirstMatchIn(meta.mkString).get.group(1)
    finally meta.close()
  }

  test("a stateful lane's state operators run at StateParts") {
    assert(spark.conf.get(Shuffle) != Streams.StateParts.toString,
      "the session's own count must differ for this spec to show the scope")
    val parts = stateParts { StreamOps.streamDedup(spark, sf).collect(): Unit }
    assert(parts.nonEmpty, "the dedup lane must report its state operator")
    assert(parts.forall(_ == Streams.StateParts), parts.mkString(", "))
  }

  test("a stateful drain leaves the caller's shuffle partitions unchanged while it runs") {
    val before = spark.conf.get(Shuffle)
    val callerSeen, streamSeen = mutable.ArrayBuffer.empty[String]
    val ckpt = graft.TempDirs.create("graft_scope_ck").toString
    val parts = stateParts {
      Streams.drain(Streams.events(spark, sf)().withWatermark("event_time", "1 hour")
          .dropDuplicatesWithinWatermark("event_id"), ckpt, Some(Streams.StateParts)) {
        (batch, _) =>
          callerSeen += spark.conf.get(Shuffle)
          streamSeen += batch.sparkSession.conf.get(Shuffle)
          batch.collect(): Unit
      }
    }
    assert(callerSeen.nonEmpty && callerSeen.forall(_ == before),
      s"caller's session must keep $before while the query runs: $callerSeen")
    assert(streamSeen.forall(_ == Streams.StateParts.toString), streamSeen.mkString(", "))
    assert(parts.nonEmpty && parts.forall(_ == Streams.StateParts), parts.mkString(", "))
    assert(checkpointParts(ckpt) == Streams.StateParts.toString)
    assert(spark.conf.get(Shuffle) == before)
  }

  test("a StreamIngest drain runs at the session's partition count") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, Long)]
    input.addData((1L, 10L), (2L, 10L))
    val target = graft.TempDirs.create("graft_scope_ing").toString + "/t.parquet"
    val ckpt = graft.TempDirs.create("graft_scope_ing_ck").toString
    StreamIngest.runIdempotent(input.toDF().toDF("k", "tie"), "k", "tie", target, ckpt)
    assert(checkpointParts(ckpt) == spark.conf.get(Shuffle))
    assert(spark.read.parquet(target).filter(col("k") > 0).count() == 2)
  }
}
