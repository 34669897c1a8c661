package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Static lint over graft's sources: `BucketedQueries.bucketedTable` is
  * the only code that saves a catalog table, and `GraftSession` is the
  * only code that sets the bucketed-scan ordering conf. */
class LayoutLintSpec extends AnyFunSuite {

  private val sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala/graft"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally walk.close()
  }

  for ((needle, owner) <- Seq(
      "saveAsTable(" -> "BucketedQueries.scala",
      "bucketedTableScan.outputOrdering" -> "GraftSession.scala"))
    test(s"only $owner contains `$needle` in graft") {
      val hits = sources.filter(p => Files.readString(p).contains(needle))
        .map(_.getFileName.toString)
      assert(hits == Seq(owner), hits.mkString(", "))
    }
}
