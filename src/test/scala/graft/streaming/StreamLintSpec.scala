package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Static lint over graft: `Streams` is the only module that opens a
  * stream source, starts a query or picks its trigger, and no lane
  * keeps its result in a memory-sink view. */
class StreamLintSpec extends AnyFunSuite {

  private val sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala/graft"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally walk.close()
  }

  private def containing(needle: String): Seq[String] =
    sources.filter(p => Files.readString(p).contains(needle)).map(_.getFileName.toString)

  for (needle <- Seq("writeStream", "Trigger.AvailableNow", "readStream"))
    test(s"only Streams.scala contains `$needle` in graft") {
      val hits = containing(needle)
      assert(hits == Seq("Streams.scala"), hits.mkString(", "))
    }

  test("no graft source contains `format(\"memory\")`") {
    val hits = containing("format(\"memory\")")
    assert(hits.isEmpty, hits.mkString(", "))
  }
}
