package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The file-level data-skipping manifest: a point filter reads ONLY
  * manifest-admitted files on both the sorted and the z-ordered
  * layout; the bloom prunes in-range-but-absent probes min/max can't;
  * and admission has no false negatives (present keys always equal
  * the full-scan result). */
class StatsIndexSpec extends SparkTestBase {

  private lazy val base = {
    val b = graft.TempDirs.create("graft_statsidx").toString
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_quantity")
    li.repartition(32).write.mode("overwrite").parquet(s"$b/frag")
    Compaction.compact(spark, s"$b/frag", s"$b/sorted",
      targetBytes = 48L * 1024, sortKeys = Seq("l_orderkey"))
    Compaction.compact(spark, s"$b/frag", s"$b/zord",
      targetBytes = 48L * 1024, zorderKeys = Seq("l_orderkey", "l_partkey"))
    StatsIndex.build(spark, s"$b/sorted", Seq("l_orderkey", "l_partkey"))
    StatsIndex.build(spark, s"$b/zord", Seq("l_orderkey", "l_partkey"))
    b
  }

  private def presentKey(dir: String, key: String): Long =
    spark.read.parquet(dir).stat.approxQuantile(key, Array(0.5), 0.01).head.toLong match {
      case v => spark.read.parquet(dir).filter(col(key) >= v)
        .agg(min(col(key))).head().getLong(0)
    }

  test("point lookup reads only admitted files; admitted < total on both layouts") {
    for (layout <- Seq("sorted", "zord"); key <- Seq("l_orderkey", "l_partkey")) {
      val dir = s"$base/$layout"
      val v = presentKey(dir, key)
      val adm = StatsIndex.admit(spark, dir, key, v)
      assert(adm.admitted.nonEmpty, s"$layout/$key: present key must be admitted")
      assert(adm.admitted.size <= adm.minmaxAdmitted.size)
      // the manifest must genuinely skip files — except the sorted
      // layout's blind second key, where min/max covers everything and
      // only the bloom can help (asserted separately below)
      if (!(layout == "sorted" && key == "l_partkey"))
        assert(adm.admitted.size < adm.totalFiles,
          s"$layout/$key: ${adm.admitted.size} of ${adm.totalFiles} files")
      // the lookup's result equals the full-scan filter
      val got = StatsIndex.pointLookup(spark, dir, key, v)
      val want = spark.read.parquet(dir).filter(col(key) === v)
      assert(got.count() == want.count() && got.count() > 0)
      // and it really scanned only admitted files
      val touched = got.select(input_file_name()).distinct().collect()
        .map(_.getString(0)).toSet
      assert(touched.subsetOf(adm.admitted.toSet))
    }
    // the sorted layout prunes its OWN key to one file (range-disjoint)
    val v = presentKey(s"$base/sorted", "l_orderkey")
    assert(StatsIndex.admit(spark, s"$base/sorted", "l_orderkey", v).admitted.size == 1)
  }

  test("bloom prunes in-range-but-absent probes that min/max admits") {
    // an l_orderkey INSIDE the global range but absent from the table
    // (TPC-H orderkeys are sparse): min/max must admit >= 1 file, the
    // bloom must reject them all, and the lookup returns empty without
    // opening a single data file
    val present = spark.read.parquet(s"$base/sorted")
      .select("l_orderkey").distinct().collect().map(_.getLong(0)).toSet
    val absent = (present.min to present.max).find(v => !present.contains(v))
    assert(absent.isDefined, "need a gap in the key space")
    for (layout <- Seq("sorted", "zord")) {
      val adm = StatsIndex.admit(spark, s"$base/$layout", "l_orderkey", absent.get)
      assert(adm.minmaxAdmitted.nonEmpty,
        s"$layout: probe must fall inside some file's range for the claim to bite")
      assert(adm.admitted.isEmpty,
        s"$layout: bloom must prune the absent key, admitted ${adm.admitted}")
      assert(StatsIndex.pointLookup(spark, s"$base/$layout", "l_orderkey", absent.get)
        .count() == 0)
    }
  }

  test("admitFiles (planner-side form) equals driver-side admit, present and absent") {
    val present = spark.read.parquet(s"$base/sorted")
      .select("l_orderkey").distinct().collect().map(_.getLong(0)).toSet
    val absent = (present.min to present.max).find(v => !present.contains(v)).get
    for (layout <- Seq("sorted", "zord");
         v <- Seq(presentKey(s"$base/$layout", "l_orderkey"), absent)) {
      val dir = s"$base/$layout"
      val viaDf = StatsIndex.admitFiles(spark, dir, "l_orderkey", v)
        .collect().map(_.getString(0)).toSet
      val viaDriver = StatsIndex.admit(spark, dir, "l_orderkey", v).admitted.toSet
      assert(viaDf == viaDriver, s"$layout/$v: engine-side admission must " +
        s"equal the driver probe (shared hash contract)")
    }
  }

  test("large file count: point lookup through admitFiles plans a pruned scan") {
    // the 10⁶-file-lake shape at spec scale: 256 data files, engine-side
    // admission end to end — no O(files) driver collect anywhere
    val dir = s"$base/many"
    graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_quantity")
      .repartition(256, col("l_orderkey"))
      .write.mode("overwrite").parquet(dir)
    StatsIndex.build(spark, dir, Seq("l_orderkey"))
    val v = presentKey(dir, "l_orderkey")
    val admitted = StatsIndex.admitFiles(spark, dir, "l_orderkey", v)
      .collect().map(_.getString(0)).toSet
    val total = spark.read.parquet(dir).select(input_file_name())
      .distinct().count()
    assert(total == 256L, s"need the full synthetic fan-out, got $total")
    // hash-clustered files: one orderkey lives in exactly one file, and
    // the bloom must prune the other 255 even though every file's
    // min/max RANGE covers the probe (hash layout = full-range files)
    assert(admitted.size < 10,
      s"admission must prune a hash-fanned layout: ${admitted.size} of $total")
    val got = spark.read.parquet(admitted.toSeq: _*).filter(col("l_orderkey") === v)
    val want = spark.read.parquet(dir).filter(col("l_orderkey") === v)
    assert(got.count() == want.count() && got.count() > 0)
  }

  test("manifest rows are exact: per-file stats recomputed independently match") {
    // the distributed build (r19) must produce the same manifest the
    // driver-assembled build did: re-derive every (file, key) row's
    // rows/mn/mx straight off the data files and compare
    val dir = s"$base/sorted"
    val man = spark.read.parquet(s"$dir/_graft_stats")
      .select("file", "key", "rows", "mn", "mx").collect()
      .map(r => (r.getAs[String]("file"), r.getAs[String]("key")) ->
        (r.getAs[Long]("rows"), r.getAs[Long]("mn"), r.getAs[Long]("mx"))).toMap
    val truth = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"),
        min("l_orderkey").as("mn_o"), max("l_orderkey").as("mx_o"),
        min("l_partkey").as("mn_p"), max("l_partkey").as("mx_p"))
      .collect()
    assert(truth.nonEmpty && man.size == truth.length * 2,
      "one manifest row per (file, key)")
    truth.foreach { r =>
      val f = r.getAs[String]("f")
      assert(man((f, "l_orderkey")) ==
        ((r.getAs[Long]("rows"), r.getAs[Long]("mn_o"), r.getAs[Long]("mx_o"))), f)
      assert(man((f, "l_partkey")) ==
        ((r.getAs[Long]("rows"), r.getAs[Long]("mn_p"), r.getAs[Long]("mx_p"))), f)
    }
  }

  test("no false negatives: sampled present keys match the full scan") {
    val sample = spark.read.parquet(s"$base/zord")
      .select("l_partkey").distinct().orderBy(rand(7)).limit(20)
      .collect().map(_.getLong(0))
    for (v <- sample) {
      val got = StatsIndex.pointLookup(spark, s"$base/zord", "l_partkey", v)
        .agg(count(lit(1)), sum("l_orderkey")).head()
      val want = spark.read.parquet(s"$base/zord").filter(col("l_partkey") === v)
        .agg(count(lit(1)), sum("l_orderkey")).head()
      assert(got == want, s"key $v")
    }
  }

  test("gated lane (stats_point_lookup): identical to the plain scan AND provably pruned") {
    // the driver gate proves identity vs DuckDB's plain filtered scan;
    // this spec proves the half the oracle CANNOT see — that the
    // manifest actually removed files from the scan (range-clustered
    // layout: a point probe should admit ~1 of 16)
    val d = "/root/testdata/sf0.01"
    val lane = StatsIndex.statsPointLookup(spark, d)
      .collect().map(_.toSeq).toSet
    val plain = graft.Tables.orders(spark, d)
      .filter(col("o_custkey") === 7L)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .collect().map(_.toSeq).toSet
    assert(lane == plain && lane.nonEmpty, "manifest must be invisible in results")
    // reach the admission the lane ran: same dir naming contract
    val n = graft.Tables.orders(spark, d).count()
    val tag = graft.operators.BucketedQueries.dirTag(d)
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"stats_orders_${tag}_n$n").toString
    val adm = StatsIndex.admit(spark, dir, "o_custkey", 7L)
    assert(adm.admitted.nonEmpty && adm.admitted.size < adm.totalFiles,
      s"point probe must prune: ${adm.admitted.size} of ${adm.totalFiles}")
    assert(adm.admitted.size <= 2,
      s"range-clustered layout should admit ~1 file, got ${adm.admitted.size}")
  }

  test("partial build (no _SUCCESS) is torn down and rebuilt, not served") {
    // a JVM dying mid-build leaves a manifest dir without its commit
    // marker; serving it could FALSELY PRUNE files that contain the
    // probe key. The ensure path must treat no-_SUCCESS as no-build.
    val d = "/root/testdata/sf0.01"
    StatsIndex.statsPointLookup(spark, d).count() // ensure built
    val n = graft.Tables.orders(spark, d).count()
    val tag = graft.operators.BucketedQueries.dirTag(d)
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"stats_orders_${tag}_n$n")
    val man = new org.apache.hadoop.fs.Path(s"$dir/_graft_stats")
    val fs = man.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(man, "_SUCCESS")
    // simulate the crash window: drop the marker AND a manifest row
    // file, leaving a half-committed manifest on disk
    fs.delete(marker, false)
    fs.listStatus(man).filter(_.getPath.getName.startsWith("key="))
      .headOption.foreach(st => fs.delete(st.getPath, true))
    assert(!fs.exists(marker))
    val lane = StatsIndex.statsPointLookup(spark, d)
      .collect().map(_.toSeq).toSet
    val plain = graft.Tables.orders(spark, d)
      .filter(col("o_custkey") === 7L)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .collect().map(_.toSeq).toSet
    assert(fs.exists(marker), "rebuild must recommit the manifest")
    assert(lane == plain && lane.nonEmpty,
      "post-crash lookup must rebuild, not serve the partial manifest")
  }

  test("superseded-n layouts are swept on rebuild; the kept name survives") {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sessionState.newHadoopConf())
    val stale = new org.apache.hadoop.fs.Path(wh, "stats_orders_spec_n111")
    val keep = new org.apache.hadoop.fs.Path(wh, "stats_orders_spec_n222")
    fs.mkdirs(stale); fs.mkdirs(keep)
    graft.operators.BucketedQueries.dropSupersededLayouts(
      spark, "stats_orders_spec_n", "stats_orders_spec_n222")
    assert(!fs.exists(stale), "superseded-n dir must be dropped")
    assert(fs.exists(keep), "the current-n dir must survive")
    fs.delete(keep, true)
  }
}
