package graft.plans

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Static lint over the native expressions: `Tokens` is the only module
  * that finds token boundaries, hashes token bytes or orders windows, so
  * the `split(text, ' ')` contract lives in one place. */
class TokensLintSpec extends AnyFunSuite {

  private val plans: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala/graft/plans"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally walk.close()
  }

  for (needle <- Seq("== 0x20", "hashUnsafeBytes(", "java.util.Comparator"))
    test(s"only Tokens.scala contains `$needle` in graft.plans") {
      val hits = plans.filter(p => Files.readString(p).contains(needle))
        .map(_.getFileName.toString)
      assert(hits == Seq("Tokens.scala"), hits.mkString(", "))
    }
}
