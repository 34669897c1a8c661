package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction — the routine table-maintenance job every
  * continuous-ingest deployment runs: streaming sinks and incremental
  * merges fragment a table into thousands of small files, and at
  * 100 TB the scan cost of a fragmented table is dominated by file
  * OPEN overhead and footer reads, not bytes (Spark packs splits by
  * `files.maxPartitionBytes` + `files.openCostInBytes` — the latter
  * exists precisely because small files are this expensive).
  *
  * Three modes, chosen by which keys are given:
  *  - UNSORTED (size-only): `coalesce(n)` — NO shuffle; each output
  *    task concatenates input splits. The cheapest possible rewrite,
  *    right when the table has no dominant access predicate.
  *  - SORTED (layout-building): `repartitionByRange(n, key) +
  *    sortWithinPartitions(key)` — ONE range shuffle buys near-disjoint
  *    per-file key ranges, so parquet row-group min/max stats prune
  *    whole files for key predicates (spec-proven: a point filter on
  *    the sorted layout returns rows from exactly one file). This is
  *    the same economics as the bucketed-twin rule (BucketedQueries'
  *    promotion rule): pay one shuffle at write time, delete scan work
  *    on every read after.
  *  - Z-ORDERED (multi-key layout, r17): the sorted mode prunes on ONE
  *    key — a second access predicate gets nothing. Z-ordering ranks
  *    each key into 2^ZBITS quantile buckets (approxQuantile
  *    boundaries, so skewed values still spread evenly — the Delta
  *    OPTIMIZE ZORDER posture of curving over rank, not raw value) and
  *    interleaves the bucket bits into one curve key; range-partition +
  *    sort on that key gives every file a small hyper-rectangle of the
  *    key space, so min/max stats bound EVERY participating column per
  *    file and a point/range filter on ANY of the keys touches a
  *    bounded file subset (spec-proven against both the fragmented
  *    baseline and the one-key-sorted layout's blind second key). Same
  *    single-shuffle cost as SORTED; the quantile pass is one
  *    stat-sketch scan.
  *
  * Output file count = ceil(input bytes / targetBytes), computed from
  * the REAL file listing, never a row-count guess — compression ratio
  * differences between source and target are the caller's targetBytes
  * calibration concern (the report carries both byte totals so the
  * calibration loop has its data).
  *
  * Reference analogue: none — the reference's Lambda pipeline writes
  * one S3 object per run (handler.py persist step); this is the
  * operation its data lake would need at three more orders of
  * magnitude.
  */
object Compaction {

  /** What the job did — inputs for the caller's next calibration. */
  case class CompactReport(filesBefore: Long, bytesBefore: Long,
                           filesAfter: Long, bytesAfter: Long,
                           rows: Long, targetBytes: Long)

  private def listParquet(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.toString, st.getLen))
  }

  /** Quantile buckets per interleave key: 2^6 = 64 cells per axis —
    * 4096 z-cells for two keys, plenty of resolution above any sane
    * file count, and the bucket assignment is 63 codegen'd compares. */
  private val ZBITS = 6

  /** The interleaved-bits curve key over the given columns' quantile
    * buckets: bit i of key j lands at position i·m + (m−1−j) — the
    * classic Morton/Z-value, generalized to m keys. */
  private[sources] def zValue(spark: SparkSession,
                              df: org.apache.spark.sql.DataFrame,
                              keys: Seq[String]): org.apache.spark.sql.Column = {
    val m = keys.length
    require(m * ZBITS <= 63, s"z-order curve key overflows a long: $m keys × $ZBITS bits")
    val nb = (1 << ZBITS) - 1 // boundaries per key
    val buckets = keys.map { k =>
      val bounds = df.stat.approxQuantile(k,
        (1 to nb).map(_.toDouble / (nb + 1)).toArray, 0.001)
      // LONG from the start (r18, per advice): the shift positions below
      // reach i·m + (m−1−j) ≥ 32 once m ≥ 6, and Java int shifts wrap
      // the distance mod 32 — high-key bits would silently collide with
      // low ones (layout corrupt, pruning degraded, no error anywhere)
      bounds.foldLeft(lit(0L)) { (acc, b) =>
        acc + when(col(k).cast("double") >= b, 1L).otherwise(0L)
      }
    }
    buckets.zipWithIndex.foldLeft(lit(0L)) { case (acc, (b, j)) =>
      (0 until ZBITS).foldLeft(acc) { (a, i) =>
        a + shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * m + (m - 1 - j))
      }
    }
  }

  /** Compact `srcDir` into `dstDir`. No keys → shuffle-free coalesce;
    * `sortKeys` → range-partition + sort within partitions on them;
    * `zorderKeys` (≥ 2) → range-partition + sort on the interleaved
    * quantile-bucket curve key. Returns the before/after report. */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
              targetBytes: Long = 128L * 1024 * 1024,
              sortKeys: Seq[String] = Nil,
              zorderKeys: Seq[String] = Nil): CompactReport = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(sortKeys.isEmpty || zorderKeys.isEmpty,
      "sortKeys and zorderKeys are mutually exclusive modes")
    require(zorderKeys.isEmpty || zorderKeys.length >= 2,
      "z-ordering one key is just sorting — use sortKeys")
    val before = listParquet(spark, srcDir)
    require(before.nonEmpty, s"no parquet files under $srcDir")
    val bytesBefore = before.map(_._2).sum
    val n = math.max(1L, (bytesBefore + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(srcDir)
    val out =
      if (zorderKeys.nonEmpty) {
        val withZ = df.withColumn("__zkey", zValue(spark, df, zorderKeys))
        withZ.repartitionByRange(n, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey")
      }
      else if (sortKeys.isEmpty) df.coalesce(n)
      else df.repartitionByRange(n, sortKeys.map(col): _*)
        .sortWithinPartitions(sortKeys.map(col): _*)
    out.write.mode("overwrite").parquet(dstDir)
    val after = listParquet(spark, dstDir)
    val rows = spark.read.parquet(dstDir).count()
    CompactReport(before.size.toLong, bytesBefore,
      after.size.toLong, after.map(_._2).sum, rows, targetBytes)
  }
}
