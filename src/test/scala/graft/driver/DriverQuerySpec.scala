package graft.driver

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class DriverQuerySpec extends AnyFunSuite {

  test("a scratch directory is deleted with its contents when its body throws") {
    var dir: Option[Path] = None
    val thrown = intercept[IllegalStateException] {
      DriverQuery.withScratchDir("graft_scratch_test") { d =>
        dir = Some(d)
        Files.createDirectories(d.resolve("stage/part"))
        Files.writeString(d.resolve("stage/part/rows"), "1\n")
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(dir.exists(d => !Files.exists(d)), s"$dir is still there")
  }
}
