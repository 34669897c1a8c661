package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parses to a positive Int or a named error") {
    val cpus = "SPARK_GRAFT_CPUS"
    assert(GraftSession.positiveInt(Map.empty, cpus, GraftSession.DefaultCpus) ==
      GraftSession.DefaultCpus)
    assert(GraftSession.positiveInt(Map(cpus -> "8"), cpus, GraftSession.DefaultCpus) == 8)
    for (key <- Seq(cpus, "SPARK_GRAFT_BENCH_PASSES", "SPARK_GRAFT_QTIME_PASSES");
         v <- Seq("*", "0", "-3", "abc")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.positiveInt(Map(key -> v), key, 2))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$v'"))
    }
  }

  test("the shared test session runs the bench's plan confs") {
    val conf = SharedSpark.spark.conf
    assert(conf.get("spark.sql.join.preferSortMergeJoin") == "false")
    assert(conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold") == "64m")
    assert(conf.get("spark.sql.files.maxPartitionBytes") == "16m")
    assert(conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
    // a new session inherits the build-time confs: no lane sets the
    // bucketed-scan ordering conf itself
    assert(SharedSpark.spark.newSession().conf
      .get("spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
  }

  test("withConfs restores a set key and unsets an unset key when body throws") {
    val s = SharedSpark.spark.newSession()
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.graftspec.withconfs.unset"
    val before = s.conf.get(set)
    assert(s.conf.getOption(unset).isEmpty)
    val e = intercept[IllegalStateException] {
      GraftSession.withConfs(s, Map(set -> "7", unset -> "on")) {
        assert(s.conf.get(set) == "7" && s.conf.get(unset) == "on")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(s.conf.get(set) == before)
    assert(s.conf.getOption(unset).isEmpty)
  }
}
