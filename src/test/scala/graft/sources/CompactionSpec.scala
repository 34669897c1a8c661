package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkTestBase {

  private def fragment(dst: String, parts: Int): Long = {
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    li.repartition(parts).write.mode("overwrite").parquet(dst)
    li.count()
  }

  test("size-only compaction: shuffle-free, content-preserving, file count from bytes") {
    val base = graft.TempDirs.create("graft_compact").toString
    val rows = fragment(s"$base/frag", 64)
    val rep = Compaction.compact(spark, s"$base/frag", s"$base/out",
      targetBytes = 512L * 1024)
    assert(rep.filesBefore == 64)
    assert(rep.rows == rows)
    assert(rep.filesAfter < rep.filesBefore,
      s"compaction must reduce files: ${rep.filesBefore} -> ${rep.filesAfter}")
    // ceil(bytes/target): coalesce can only hit the target count exactly
    val want = math.max(1L, (rep.bytesBefore + rep.targetBytes - 1) / rep.targetBytes)
    assert(rep.filesAfter == want, s"files ${rep.filesAfter} != ceil ${want}")
    // content equality (multiset, via sorted collect on a stable key set)
    def sig(dir: String) = spark.read.parquet(dir)
      .groupBy().agg(count(lit(1)), sum("l_orderkey"), sum("l_partkey"),
        sum(col("l_quantity").cast("decimal(18,2)")),
        sum(col("l_extendedprice").cast("decimal(18,2)")))
      .collect().head.toString
    assert(sig(s"$base/frag") == sig(s"$base/out"))
    // the unsorted mode must not shuffle: coalesce plans a single
    // stage (no Exchange) — check the physical plan
    val plan = spark.read.parquet(s"$base/frag").coalesce(3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("sort-compaction buys file-level pruning: a point filter touches one file") {
    val base = graft.TempDirs.create("graft_compact_sort").toString
    fragment(s"$base/frag", 32)
    val rep = Compaction.compact(spark, s"$base/frag", s"$base/sorted",
      targetBytes = 48L * 1024, sortKeys = Seq("l_orderkey"))
    assert(rep.filesAfter > 1, "need several output files to demonstrate pruning")
    val sorted = spark.read.parquet(s"$base/sorted")
    val key = sorted.agg(min("l_orderkey")).head().getLong(0)
    // row-group stats prune: only the file(s) whose range covers the key
    // return rows — on the FRAGMENTED layout every file can hold any key
    def filesTouched(dir: String) = spark.read.parquet(dir)
      .filter(col("l_orderkey") === key)
      .select(input_file_name()).distinct().count()
    assert(filesTouched(s"$base/sorted") == 1,
      "sorted layout: a point key must come from exactly one file")
    assert(filesTouched(s"$base/frag") > 1,
      "fragmented layout: the same key is scattered across files")
    // range partitioning means files carry near-disjoint key ranges:
    // count per-file (min, max) overlaps
    val ranges = sorted.groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    val overlaps = ranges.zip(ranges.tail).count { case ((_, hi), (lo, _)) => lo < hi }
    assert(overlaps == 0, s"range-partitioned files must not overlap: ${ranges.toSeq}")
  }

  test("z-order compaction: a point filter on EITHER key touches a bounded file subset") {
    val base = graft.TempDirs.create("graft_compact_z").toString
    // sf0.01: enough rows (~60k) that per-value row counts and file
    // counts are stable — the sf0.001 grid made the touched-file
    // assertion hostage to 3-4 row point values
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    li.repartition(32).write.mode("overwrite").parquet(s"$base/frag")
    val zrep = Compaction.compact(spark, s"$base/frag", s"$base/zord",
      targetBytes = 48L * 1024, zorderKeys = Seq("l_orderkey", "l_partkey"))
    Compaction.compact(spark, s"$base/frag", s"$base/sorted1",
      targetBytes = 48L * 1024, sortKeys = Seq("l_orderkey"))
    assert(zrep.filesAfter > 4, "need several output files to demonstrate pruning")
    def filesTouched(dir: String, key: String, v: Long) =
      spark.read.parquet(dir).filter(col(key) === v)
        .select(input_file_name()).distinct().count()
    val keys = Seq("l_orderkey", "l_partkey")
    // probe values that actually occur, away from the extremes
    val probe = keys.map { k =>
      k -> spark.read.parquet(s"$base/frag")
        .stat.approxQuantile(k, Array(0.5), 0.01).head.toLong
    }.toMap
    val probeVals = keys.map { k =>
      k -> spark.read.parquet(s"$base/frag").filter(col(k) >= probe(k))
        .agg(min(col(k))).head().getLong(0)
    }.toMap
    // measured at this grid: l_orderkey 2 of 19 (frag 4), l_partkey 8
    // of 19 (frag 19, one-key-sorted 17) — the 2/3 bound has margin on
    // both keys while staying a real claim
    for (k <- keys) {
      val z = filesTouched(s"$base/zord", k, probeVals(k))
      val frag = filesTouched(s"$base/frag", k, probeVals(k))
      assert(z <= 2 * zrep.filesAfter / 3,
        s"$k: z-layout must bound the touched subset: $z of ${zrep.filesAfter}")
      assert(z < frag, s"$k: z-layout $z files !< fragmented $frag")
    }
    // the motivating gap: the one-key-sorted layout is BLIND to the
    // second key — the same l_partkey probe touches (almost) every
    // file there, and strictly more than the z-layout
    val zSecond = filesTouched(s"$base/zord", "l_partkey", probeVals("l_partkey"))
    val sortedSecond = filesTouched(s"$base/sorted1", "l_partkey", probeVals("l_partkey"))
    assert(zSecond < sortedSecond,
      s"z-layout must beat the sorted layout on its blind key: $zSecond !< $sortedSecond")
    // content preserved
    def sig(dir: String) = spark.read.parquet(dir)
      .groupBy().agg(count(lit(1)), sum("l_orderkey"), sum("l_partkey"))
      .collect().head.toString
    assert(sig(s"$base/frag") == sig(s"$base/zord"))
  }

  test("z-order curve key is exact past 5 keys (64-bit interleave, no int wrap)") {
    // r18, per advice: with m >= 6 keys the bit position i·m + (m−1−j)
    // exceeds 31; int shift semantics would wrap it mod 32 and collide
    // high-key bits onto low positions (silent layout corruption). The
    // curve is now computed in long end to end — assert it against a
    // driver-side reference Morton interleave over the SAME quantile
    // buckets, plus an explicit above-2^32 witness.
    val s = spark
    import s.implicits._
    val keys = (0 until 6).map(j => s"k$j")
    // 64 rows; each key column carries the full 0..63 range, permuted
    // coprime-to-64 per key so every key contributes independent bits
    val df = (0 until 64).map { i =>
      (i.toLong, ((i * 7) % 64).toLong, ((i * 11) % 64).toLong,
        ((i * 13) % 64).toLong, ((i * 19) % 64).toLong, ((i * 23) % 64).toLong)
    }.toDF(keys: _*)
    val rows = df.withColumn("__z", Compaction.zValue(spark, df, keys)).collect()
    val boundsPerKey = keys.map(k =>
      df.stat.approxQuantile(k, (1 to 63).map(_.toDouble / 64).toArray, 0.001))
    def bucket(v: Double, bounds: Array[Double]): Long = bounds.count(v >= _).toLong
    rows.foreach { r =>
      val bs = keys.indices.map(j => bucket(r.getLong(j).toDouble, boundsPerKey(j)))
      var ref = 0L
      for (i <- 0 until 6; j <- 0 until 6)
        ref |= ((bs(j) >> i) & 1L) << (i * 6 + (6 - 1 - j))
      assert(r.getAs[Long]("__z") == ref, s"row $r")
    }
    assert(rows.map(_.getAs[Long]("__z")).max >= (1L << 35),
      "a max-bucket row must set bits above 2^32 — int arithmetic wrapped them")
  }
}
