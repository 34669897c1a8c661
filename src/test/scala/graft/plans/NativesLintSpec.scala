package graft.plans

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Static lint over `src/main`: the `Natives` table is the only place
  * that defines or registers a native function, and a scalar native has
  * one shape — a kernel method planned as a `StaticInvoke` — so no
  * hand-written scalar expression or second eval path comes back. */
class NativesLintSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally walk.close()
  }

  private def text(p: Path): String = Files.readString(p)

  test("only Natives.scala registers functions in src/main") {
    val hits = sources("src/main/scala").filter { p =>
      val t = text(p)
      t.contains("createOrReplaceTempFunction") || t.contains("registerFunction")
    }.map(_.getFileName.toString)
    assert(hits == Seq("Natives.scala"), hits.mkString(", "))
  }

  test("no per-function register methods in graft.plans, no per-function code in GraftExtensions") {
    val registers = sources("src/main/scala/graft/plans")
      .filter(p => text(p).contains("def register(spark")).map(_.getFileName.toString)
    assert(registers.isEmpty, registers.mkString(", "))
    val ext = text(Paths.get("src/main/scala/graft/plans/GraftExtensions.scala"))
    assert(!ext.contains("\"graft_") && !ext.contains("FunctionIdentifier"),
      "GraftExtensions must inject Natives.all, not build its own entries")
  }

  for (needle <- Seq("doGenCode", "CodegenFallback", "extends UnaryExpression",
      "extends BinaryExpression"))
    test(s"no file in src/main contains `$needle`") {
      val hits = sources("src/main/scala").filter(p => text(p).contains(needle))
        .map(_.getFileName.toString)
      assert(hits.isEmpty, hits.mkString(", "))
    }
}
