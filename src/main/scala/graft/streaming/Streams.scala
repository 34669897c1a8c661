package graft.streaming

import graft.{GraftSession, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** How graft runs a stream, in one place: the events file source, the
  * AvailableNow foreachBatch drain every lane completes through, and
  * the views/purchases stream-join builder. The lanes in [[StreamOps]]
  * and [[StreamIngest]] differ only in their plans and their sinks. */
object Streams {

  /** Shuffle partitions (= state-store instances per stateful operator)
    * of the stateful lanes. A stream-stream join keeps FOUR state
    * stores per partition, and 32-partition micro-batches paid 128
    * store load/commit cycles of pure fixed overhead at bench scale
    * (stream_join 12.1 s → ~3 s at 8, r16); windowed agg, enrich agg,
    * dedup and the sessionizer paid 32 commits per micro-batch for
    * state of a few thousand rows (r21). A real cluster would size it
    * to the executor count; the count never changes results (keyed
    * state is partition-location-agnostic). */
  val StateParts = 8

  /** The file stream source requires a directory of data FILES; expose
    * the table through a temp dir (symlink, copy as fallback). The
    * driver's testdata is one parquet file per table, but scaled dirs
    * (ScaleGen) are directories of part-files — the source does not
    * recurse into a linked subdirectory, so link each part-file
    * individually (every file then feeds the stream, and multi-file
    * tables arrive as genuinely multi-file input). */
  private def streamDir(d: String, table: String): String = {
    import java.nio.file._
    val dir = TempDirs.create(s"graft_stream_$table")
    // absolutize: the symlinks below carry this path as their target,
    // and a RELATIVE target resolves against the LINK's directory
    // (/tmp/...), silently yielding broken links — the file stream
    // then reads zero rows (found r12: a scale dir passed as a
    // relative path produced empty streaming results)
    val target = Paths.get(s"$d/$table.parquet").toAbsolutePath

    val parts: Seq[Path] =
      if (Files.isDirectory(target)) {
        val s = Files.list(target)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        } finally s.close()
      } else Seq(target)
    parts.zipWithIndex.foreach { case (p, i) =>
      val link = dir.resolve(f"part_$i%05d.parquet")
      try Files.createSymbolicLink(link, p)
      catch { case _: Exception => Files.copy(p, link): Unit }
    }
    dir.toString
  }

  /** A factory of events file streams: `ts` normalized to long epoch
    * nanos, plus `event_time`, the exact µs TIMESTAMP a watermark is
    * declared on. The table's schema is read once (each read is a
    * Spark job); each call of the factory is a separate source over its
    * own temp dir (a real deployment's two join inputs are distinct
    * queues, not one scan forked). No `maxFilesPerTrigger`: the file
    * source's default read limit is all-available, so an AvailableNow
    * drain takes each source's files in ONE micro-batch —
    * stream_dedup's exact-distinct oracle relies on that. */
  def events(s: SparkSession, d: String): () => DataFrame =
    events(s, d, Tables.eventsRaw(s, d).schema)

  /** [[events]] over the table's raw `schema`, already read. */
  def events(s: SparkSession, d: String, schema: StructType): () => DataFrame =
    () => Tables.normalizeEventTs(s.readStream.schema(schema).parquet(streamDir(d, "events")))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))

  /** Drive `df` to completion: AvailableNow (a finite call; a continuous
    * deployment would use a processing-time trigger with the same
    * body), each micro-batch handed to `sink`, offsets and state under
    * `checkpoint`. `stateParts` scopes the shuffle-partition count
    * around `start()` only: the query clones the session when it is
    * constructed, so the stream keeps the value while the caller's
    * session is restored before the first batch runs. None runs at the
    * session's own count. */
  def drain(df: DataFrame, checkpoint: String, stateParts: Option[Int] = None,
            mode: OutputMode = OutputMode.Append())(sink: (DataFrame, Long) => Unit): Unit = {
    val w = df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
    val q = stateParts.fold(w.start()) { n =>
      GraftSession.withConfs(df.sparkSession,
        Map("spark.sql.shuffle.partitions" -> n.toString))(w.start())
    }
    q.awaitTermination()
  }

  /** A stateful append stream whose output is O(table), drained into
    * PARQUET (one overwritten subdir per micro-batch = replay-
    * idempotent, the StreamIngest discipline) and handed back as the
    * lazy read of the result. A driver-side sink would materialize the
    * ENTIRE result in driver heap before any consumer asks for a row;
    * at sf10 the outer-join lanes pushed 2M/3.9M rows through one, and
    * at 100× that is a driver OOM (r18). */
  def toParquet(df: DataFrame, prefix: String): DataFrame = {
    val dir = TempDirs.create(s"graft_${prefix}_sink")
    val out = s"$dir/data"
    drain(df, s"$dir/chk", Some(StateParts)) { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$out/batch_$id")
    }
    // recursiveFileLookup: the batch_N subdirs are NOT partition dirs
    df.sparkSession.read.option("recursiveFileLookup", "true").parquet(out)
  }

  /** A stateful complete-mode stream whose result is small by
    * construction (windowed aggregates), kept on the driver: every
    * batch is the whole result, so the last one is the answer, returned
    * as a local relation. The parquet sink costs a write and a read for
    * nothing here (r18 measured the move on stream_sessions: 1.44 →
    * 1.99 s). */
  def collected(df: DataFrame, prefix: String): DataFrame = {
    var rows = Array.empty[Row]
    drain(df, TempDirs.create(s"graft_${prefix}_chk").toString, Some(StateParts),
      OutputMode.Complete()) { (batch, _) => rows = batch.collect() }
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** The stream-stream join of purchases with the same user's views in
    * the preceding hour. Contract: `views` carries (v_user, view_id,
    * v_time) with a watermark on v_time; `purchases` carries (user_id,
    * purchase_id, p_time) with a watermark on p_time; `how` is a join
    * type (inner, left_outer, full_outer).
    *
    * This is THE bounded-state shape for joining two unbounded streams:
    * the time-range predicate ties the two event-time columns together,
    * so the engine derives a state watermark for EACH side (a buffered
    * view is droppable once the purchase-side watermark passes
    * v_time + 1 h; a buffered purchase once the view side passes
    * p_time) — state size tracks the join window + watermark delay,
    * never stream history. An equi-join without the time bound would
    * buffer both streams forever — the unbounded-state killer at
    * continuous-ingest scale. State is partitioned by the join key
    * (user), so it shards across executors like any keyed state store.
    * Inner-join rows emit as soon as both sides have arrived (no
    * watermark wait — only OUTER sides must hold emission back).
    *
    * Output: user_id coalesced across sides (exactly one side is null
    * on an outer row), purchase_id/view_id/gap_us coalesced to −1 (a
    * null-free driver hash; ids are never −1), and p_us/v_us, the µs
    * event times (Long.MaxValue on the absent side) the outer lanes'
    * emission horizon reads. */
  def joinViewsPurchases(views: DataFrame, purchases: DataFrame, how: String): DataFrame =
    purchases.join(views,
        col("v_user") === col("user_id") &&
        col("v_time") >= col("p_time") - expr("INTERVAL 1 HOUR") &&
        col("v_time") <= col("p_time"), how)
      .select(
        coalesce(col("user_id"), col("v_user")).as("user_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("view_id"), lit(-1L)).as("view_id"),
        coalesce(unix_micros(col("p_time")) - unix_micros(col("v_time")),
          lit(-1L)).as("gap_us"),
        coalesce(unix_micros(col("p_time")), lit(Long.MaxValue)).as("p_us"),
        coalesce(unix_micros(col("v_time")), lit(Long.MaxValue)).as("v_us"))
}
