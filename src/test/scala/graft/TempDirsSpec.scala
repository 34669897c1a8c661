package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class TempDirsSpec extends AnyFunSuite {

  test("cleanup deletes a directory with nested files, and removes links without following them") {
    val outside = Files.writeString(Files.createTempFile("graft_tempdirs_target", ".txt"), "keep")
    try {
      val dirs = new TempDirs
      val dir = dirs.create("graft_tempdirs_spec")
      Files.writeString(Files.createDirectories(dir.resolve("a/b")).resolve("part.parquet"), "x")
      Files.createSymbolicLink(dir.resolve("link.parquet"), outside)
      dirs.cleanup()
      assert(!Files.exists(dir))
      assert(Files.readString(outside) == "keep", "the link's target must survive")
    } finally Files.deleteIfExists(outside)
  }
}
