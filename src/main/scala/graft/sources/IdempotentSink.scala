package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First-writer-wins keyed parquet sink — the reference's idempotent
  * write re-expressed (handler.py:135-161 + idempotency_service.py:30:
  * sha256 "op:identifier" key, skip if already present, write+mark
  * otherwise).
  *
  * The "already completed?" check joins the incoming batch against the
  * distinct keys already in the target — fully distributed, no
  * driver-side listing. At 100 TB the target would be key-partitioned
  * so the join prunes to touched partitions (or reads a compact key
  * manifest); semantics are identical.
  */
object IdempotentSink {

  /** Returns (written, skipped). Duplicate keys inside the batch also
    * resolve first-writer-wins (min by key order of arrival is not
    * defined on an unordered batch, so the row with min sort-key wins
    * deterministically via the provided tiebreak column). The input
    * plan runs once per call: the incoming total is summed from the
    * per-key counts the dedupe window already computes. */
  def writeKeyed(df: DataFrame, keyCol: String, tiebreak: String, path: String): (Long, Long) = {
    val spark = df.sparkSession
    // dedupe inside the batch, deterministically; `__n` keeps each
    // key's incoming row count (same window, so no second exchange)
    val w = Window.partitionBy(keyCol).orderBy(col(tiebreak))
    val batch = df
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("__rn") === 1).drop("__rn")
    // Only a genuinely-absent target means "first write": fs.exists
    // returns false only for absence, while a transient read failure
    // (IO, eventual consistency) still throws and propagates — skipping
    // the key check on an IO blip would append duplicates and silently
    // break the first-writer-wins invariant.
    val target = new org.apache.hadoop.fs.Path(path)
    val targetExists =
      target.getFileSystem(spark.sessionState.newHadoopConf()).exists(target)
    // `__fresh`: the key is not in the target yet (a left join against
    // the distinct target keys, so it never multiplies batch rows)
    val marked =
      if (!targetExists) batch.withColumn("__fresh", lit(true))
      else {
        val existing = spark.read.parquet(path).select(col(keyCol).as("__k")).distinct()
        batch.join(existing, col(keyCol) === col("__k"), "left")
          .withColumn("__fresh", col("__k").isNull).drop("__k")
      }
    // One materialization: the counts and the write must see the same
    // rows (recomputation between them could race a concurrent writer).
    marked.persist()
    try {
      val counts = marked.agg(coalesce(sum("__n"), lit(0L)),
        count(when(col("__fresh"), 1))).head()
      val (incomingTotal, written) = (counts.getLong(0), counts.getLong(1))
      if (written > 0)
        marked.filter(col("__fresh")).drop("__n", "__fresh")
          .write.mode(SaveMode.Append).parquet(path)
      (written, incomingTotal - written)
    } finally marked.unpersist()
  }
}
