package graft.streaming

import graft.TempDirs
import graft.sources.{IdempotentSink, MergeSink}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's actual operating loop — fetch a page, write it
  * idempotently, repeat (handler.py:89-161, idempotency_service.py:30)
  * — as Structured Streaming micro-batches driving the keyed sinks
  * through foreachBatch.
  *
  * Exactly-once lands HERE, not in the engine: foreachBatch is
  * at-least-once (a crash between the sink write and the checkpoint
  * commit replays the whole batch), so the sink must absorb replays.
  * IdempotentSink's anti-join against the target's keys and MergeSink's
  * keyed rewrite both do — a replayed batch finds its keys already
  * present and lands zero duplicate rows (proven under a forced
  * checkpoint-replay in StreamIngestSpec).
  */
object StreamIngest {

  /** Drive a stream into IdempotentSink — first-writer-wins per key
    * across and within micro-batches, at the session's shuffle
    * partitions (see [[Streams.drain]]). */
  def runIdempotent(stream: DataFrame, keyCol: String, tiebreak: String,
                    path: String, checkpoint: String): Unit =
    Streams.drain(stream, checkpoint) { (batch, _) =>
      IdempotentSink.writeKeyed(batch, keyCol, tiebreak, path): Unit
    }

  /** Drive a stream into MergeSink — last-writer-wins keyed upsert. */
  def runMerge(stream: DataFrame, keyCol: String, versionCol: String,
               path: String, checkpoint: String): Unit =
    Streams.drain(stream, checkpoint) { (batch, _) =>
      MergeSink.mergeKeyed(batch, keyCol, versionCol, path): Unit
    }

  private def tmp(prefix: String): String = TempDirs.create(prefix).toString

  /** The events stream as ingest records. */
  private def records(s: SparkSession, d: String): DataFrame =
    Streams.events(s, d)().selectExpr("event_id", "user_id", "event_type",
      "ts div 1000000000 AS ts_s", "value")

  /** events stream → foreachBatch → IdempotentSink keyed by user_id
    * (event_id tiebreak): the target ends up holding each user's FIRST
    * event — the reference's skip-if-present semantics, oracle-checked
    * end to end through the streaming engine and the sink. */
  def streamIngestIdempotent(s: SparkSession, d: String): DataFrame = {
    val target = tmp("graft_ing_idem") + "/t.parquet"
    runIdempotent(records(s, d), "user_id", "event_id",
      target, tmp("graft_ing_idem_ck"))
    s.read.parquet(target)
  }

  /** events stream → foreachBatch → MergeSink keyed by user_id with
    * event_id as the version: the target ends up holding each user's
    * LAST event (versions are unique, so the content-hash tiebreak
    * never decides — keeps the oracle portable). */
  def streamIngestMerge(s: SparkSession, d: String): DataFrame = {
    val target = tmp("graft_ing_merge") + "/t.parquet"
    runMerge(records(s, d), "user_id", "event_id",
      target, tmp("graft_ing_merge_ck"))
    s.read.parquet(target)
  }

  /** CDC changelog apply — the third ingest semantics next to
    * first-writer-wins and last-writer-wins: a stream of keyed
    * (op, version) changes where op = 'D' is a DELETE tombstone.
    * Derived changelog: an 'error' event tombstones its user key,
    * anything else upserts, versioned by event_id.
    *
    * The design point is tombstone RETENTION: the target keeps the
    * winning tombstone ROW (op = 'D') instead of physically removing
    * the key, and the read view filters `op != 'D'`. Physical removal
    * would be replay-UNSAFE — foreachBatch is at-least-once, and a
    * replayed older upsert against a target that already dropped the
    * key would resurrect it; against the retained tombstone it loses
    * the version comparison and lands nothing (spec-proven, including
    * the resurrection counter-case and a genuine later upsert that
    * correctly revives the key). A production deployment compacts
    * tombstones out only past its replay horizon — exactly the
    * Delta/Iceberg vacuum rule. Apply itself IS MergeSink.mergeKeyed:
    * the tombstone is just a row whose version competes per key, so
    * the whole crash-window recovery story carries over unchanged. */
  def streamIngestCdc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val target = tmp("graft_ing_cdc") + "/t.parquet"
    val changelog = records(s, d)
      .withColumn("op",
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
    runMerge(changelog, "user_id", "event_id", target, tmp("graft_ing_cdc_ck"))
    s.read.parquet(target).filter(col("op") =!= "D").drop("op")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_ingest_idempotent" -> (streamIngestIdempotent _),
    "stream_ingest_merge" -> (streamIngestMerge _),
    "stream_ingest_cdc" -> (streamIngestCdc _)
  )

  val oracle: Map[String, String] = Map(
    "stream_ingest_idempotent" ->
      """WITH r AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts_s, value
        |FROM r WHERE rn = 1""".stripMargin,
    "stream_ingest_merge" ->
      """WITH r AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts_s, value
        |FROM r WHERE rn = 1""".stripMargin,
    // CDC apply: per key the LAST change wins; a key whose last change
    // is the 'error' tombstone is absent from the read view
    "stream_ingest_cdc" ->
      """WITH r AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts_s, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin
  )
}
