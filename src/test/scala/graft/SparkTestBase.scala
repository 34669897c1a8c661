package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession shared by every suite (tests fork a single JVM),
  * built with the bench's confs so the specs run the plans Bench times. */
object SharedSpark {
  lazy val spark: SparkSession =
    GraftSession.build(cpus = 4, logLevel = "ERROR")
  val sf = "/root/testdata/sf0.001"
  /** The sf0.01 tables, next to [[sf]]. */
  val sf01: String = new java.io.File(sf).getParent + "/sf0.01"
}

abstract class SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = SharedSpark.spark
  def sf: String = SharedSpark.sf
  def sf01: String = SharedSpark.sf01
}
