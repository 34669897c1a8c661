package graft.operators

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Static lint over the operators: `Loop` is the only module that
  * truncates lineage, picks a checkpoint dir, runs a convergence loop
  * or toggles AQE. */
class LoopLintSpec extends AnyFunSuite {

  private val operators: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala/graft/operators"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally walk.close()
  }

  for (needle <- Seq("localCheckpoint(", "setCheckpointDir", "while (!converged",
      "spark.sql.adaptive.enabled"))
    test(s"only Loop.scala contains `$needle` in graft.operators") {
      val hits = operators.filter(p => Files.readString(p).contains(needle))
        .map(_.getFileName.toString)
      assert(hits == Seq("Loop.scala"), hits.mkString(", "))
    }
}
