package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parses to a positive Int or a named error") {
    assert(GraftSession.cpusFrom(Map.empty) == GraftSession.DefaultCpus)
    assert(GraftSession.cpusFrom(Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
    Seq("*", "0", "abc").foreach { v =>
      val e = intercept[IllegalArgumentException](
        GraftSession.cpusFrom(Map("SPARK_GRAFT_CPUS" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$v'"))
    }
  }

  test("the shared test session runs the bench's plan confs") {
    val conf = SharedSpark.spark.conf
    assert(conf.get("spark.sql.join.preferSortMergeJoin") == "false")
    assert(conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold") == "64m")
    assert(conf.get("spark.sql.files.maxPartitionBytes") == "16m")
    assert(conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
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
