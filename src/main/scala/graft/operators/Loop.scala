package graft.operators

import graft.GraftSession
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** How graft iterates: the one module behind the fixed-point lanes
  * (min-label CC, PageRank, Lloyd, quality-model GD). Each lane keeps
  * its arithmetic, step order and stopping rule; Catalyst plans every
  * step anew, so the plan a step gets (truncation, scan width, gear,
  * convergence rule) is decided here, once. */
private[operators] object Loop {

  /** Lineage truncation for shared and iterative intermediates. Default
    * is `localCheckpoint`: executor-local blocks, fast, but an executor
    * loss on a real cluster kills the job. Set `spark.graft.checkpointDir`
    * to a fault-tolerant path (HDFS/object store) and the same sites
    * write reliable `checkpoint()`s instead, same plans otherwise. */
  private def truncate(df: DataFrame, eager: Boolean): DataFrame = {
    val sess = df.sparkSession
    sess.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) =>
        val sc = sess.sparkContext
        val want = new Path(dir)
        val wanted = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
        // setCheckpointDir stores the qualified dir/<uuid>: compare its
        // parent, not a prefix (`/x/ckpt` is a prefix of `/x/ckpt2/…`)
        if (!sc.getCheckpointDir.exists(cur => new Path(cur).getParent == wanted))
          sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
  }

  implicit class TruncOps(df: DataFrame) {
    def truncEager: DataFrame = truncate(df, eager = true)
    def truncLazy: DataFrame = truncate(df, eager = false)
  }

  /** `coalesce` width for a loop that re-scans a materialized `n`-row
    * table each step: ≤ `rowsPerTask` rows per task, so small inputs run
    * one task per step (coalesce never raises a partition count). */
  def width(n: Long, rowsPerTask: Long): Int =
    math.max(1L, (n + rowsPerTask - 1) / rowsPerTask).toInt

  /** Runs `step` until it reports convergence or `max` steps have run;
    * returns (steps run, converged). Each step computes its probe from
    * its own single action, not from a second action that checks it. */
  def converge(max: Int)(step: => Boolean): (Int, Boolean) = {
    var steps = 0
    var converged = false
    while (!converged && steps < max) { converged = step; steps += 1 }
    (steps, converged)
  }

  /** The two physical gears of the join loops (CC, PageRank); rows are
    * identical in both (the lanes' gear-equality specs force each one).
    *  - small: AQE on, joins left to AQE or to the lane's `smallHint`;
    *  - co-partitioned: inputs [[keyed]] once on their join keys
    *    (checkpoints keep the partitioning), shuffle-hash hints, AQE
    *    off so replanning keeps that partitioning: no O(n) broadcast
    *    per step, the shape that survives scale.
    * `apply` runs the loop under `parts` shuffle partitions (and AQE
    * off when co-partitioned) through [[GraftSession.withConfs]]. */
  final class Gear private[Loop] (s: SparkSession, val copart: Boolean,
      parts: Int, smallHint: Option[String]) {
    def keyed(df: DataFrame, key: String): DataFrame =
      if (copart) df.repartition(parts, col(key)) else df
    def hinted(df: DataFrame): DataFrame =
      if (copart) df.hint("shuffle_hash") else smallHint.fold(df)(df.hint(_))
    def apply[T](body: => T): T =
      GraftSession.withConfs(s,
        Map("spark.sql.shuffle.partitions" -> parts.toString) ++
          (if (copart) Map("spark.sql.adaptive.enabled" -> "false") else Map.empty))(body)
  }

  /** The gear for a loop over `n` rows (a count the lane already holds),
    * `parts = max(8, min(sessionParts, n / rowsPerPart))` in both gears. */
  def gear(s: SparkSession, n: Long, copart: Boolean, rowsPerPart: Long,
      smallHint: Option[String]): Gear = {
    val sessionParts = s.conf.get("spark.sql.shuffle.partitions").toLong
    new Gear(s, copart, math.max(8L, math.min(sessionParts, n / rowsPerPart)).toInt,
      smallHint)
  }
}
