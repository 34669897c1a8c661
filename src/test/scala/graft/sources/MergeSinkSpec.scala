package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class MergeSinkSpec extends SparkTestBase {

  private def tmpTarget(): String = s"${graft.TempDirs.create("graft_merge")}/t.parquet"

  test("merge upserts by key: higher version wins, new keys append") {
    val s = spark
    import s.implicits._
    val path = tmpTarget()
    val b1 = Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "v", "payload")
    assert(MergeSink.mergeKeyed(b1, "k", "v", path) == 2)
    // batch 2: update k=1 with higher version, stale k=2, new k=3
    val b2 = Seq((1L, 2L, "a2"), (2L, 0L, "stale"), (3L, 1L, "c"))
      .toDF("k", "v", "payload")
    assert(MergeSink.mergeKeyed(b2, "k", "v", path) == 3)
    val out = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == (2L, "a2"))   // updated
    assert(out(2L) == (1L, "b"))    // stale incoming ignored
    assert(out(3L) == (1L, "c"))    // inserted
  }

  test("equal versions: incoming row wins (deterministic tiebreak)") {
    val s = spark
    import s.implicits._
    val path = tmpTarget()
    MergeSink.mergeKeyed(Seq((1L, 5L, "old")).toDF("k", "v", "p"), "k", "v", path)
    MergeSink.mergeKeyed(Seq((1L, 5L, "new")).toDF("k", "v", "p"), "k", "v", path)
    val out = spark.read.parquet(path).collect()
    assert(out.length == 1 && out.head.getString(2) == "new")
  }

  test("swap goes through the path's Hadoop filesystem (explicit file: scheme)") {
    val s = spark
    import s.implicits._
    val dir = graft.TempDirs.create("graft_merge_fs").toFile
    val path = s"file://${dir.getAbsolutePath}/t.parquet"
    assert(MergeSink.mergeKeyed(Seq((1L, 1L, "a")).toDF("k", "v", "p"), "k", "v", path) == 1)
    assert(MergeSink.mergeKeyed(Seq((1L, 2L, "b")).toDF("k", "v", "p"), "k", "v", path) == 1)
    val out = spark.read.parquet(path).collect()
    assert(out.length == 1 && out.head.getString(2) == "b")
    // no leftover staging dirs after the two-rename swap
    val names = dir.listFiles().map(_.getName).toSet
    assert(names == Set("t.parquet"), s"unexpected leftovers: $names")
  }

  test("duplicate (key, version) inside ONE batch resolves deterministically") {
    val s = spark
    import s.implicits._
    // run the same ambiguous batch into two fresh targets several times:
    // the content-hash tiebreak must pick the same winner every time
    val batch = Seq((1L, 5L, "x"), (1L, 5L, "y"), (1L, 5L, "z")).toDF("k", "v", "p")
    // vary the physical row order across runs — without a total-order
    // tiebreak, row_number would follow arrival order and flip winners
    val winners = (1 to 3).map { i =>
      val path = tmpTarget()
      MergeSink.mergeKeyed(batch.repartition(i, col("p")), "k", "v", path)
      spark.read.parquet(path).head().getString(2)
    }
    assert(winners.distinct.size == 1, s"nondeterministic winners: $winners")
  }

  test("crash between the two swap renames: the next open rolls forward") {
    val s = spark
    import s.implicits._
    val path = tmpTarget()
    MergeSink.mergeKeyed(Seq((1L, 1L, "a")).toDF("k", "v", "p"), "k", "v", path)
    // Simulate a writer dying EXACTLY inside the crash window: its merged
    // output (k=1 updated to v=2) fully committed to tmp (_SUCCESS
    // present), target already staged away to __merge_old, second rename
    // never ran — at this instant NO live target exists.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq((1L, 2L, "b")).toDF("k", "v", "p")
      .write.parquet(path + ".__merge_tmp")
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".__merge_old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)))
    // the successor's open must heal: roll tmp forward, then merge on top
    MergeSink.mergeKeyed(Seq((2L, 1L, "c")).toDF("k", "v", "p"), "k", "v", path)
    val out = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out == Map(1L -> (2L, "b"), 2L -> (1L, "c")),
      s"crashed swap not rolled forward: $out")
    // and the recovery left no staging debris
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".__merge_old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".__merge_tmp")))
  }

  test("stale tmp from a crash BEFORE the swap is discarded, target intact") {
    val s = spark
    import s.implicits._
    val path = tmpTarget()
    MergeSink.mergeKeyed(Seq((1L, 1L, "live")).toDF("k", "v", "p"), "k", "v", path)
    // a writer died after writing tmp but before any rename: the batch
    // was never acknowledged, so the attempt must be dropped, not merged
    Seq((1L, 9L, "ghost")).toDF("k", "v", "p")
      .write.parquet(path + ".__merge_tmp")
    MergeSink.mergeKeyed(Seq((2L, 1L, "c")).toDF("k", "v", "p"), "k", "v", path)
    val out = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(1L -> "live", 2L -> "c"), s"ghost tmp leaked in: $out")
  }

  test("compaction bounds the file count after many merges") {
    val s = spark
    import s.implicits._
    val path = tmpTarget()
    (1 to 5).foreach { i =>
      MergeSink.mergeKeyed(
        Seq((i.toLong, 1L, s"p$i")).toDF("k", "v", "p"), "k", "v", path)
    }
    assert(spark.read.parquet(path).count() == 5)
    val files = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected 1 compacted file, got $files")
  }
}
