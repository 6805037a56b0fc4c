package graft.queries

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** The scratch-table root is per checkout (or per `graft.scratch.root`),
  * never one absolute tree shared by every copy of the repo. */
class ScratchSpec extends AnyFunSuite {

  private val cwd = Paths.get("").toAbsolutePath.normalize

  test("the default root is target/qtmp under the working directory") {
    assert(Scratch.resolveRoot(None) === cwd.resolve("target/qtmp").toString)
    assert(Scratch.resolveRoot(Some(" ")) === cwd.resolve("target/qtmp").toString)
  }

  test("graft.scratch.root overrides the root, resolved to an absolute path") {
    assert(Scratch.resolveRoot(Some("/tmp/graft-a/../graft-b")) === "/tmp/graft-b")
    assert(Scratch.resolveRoot(Some("scratch/q")) === cwd.resolve("scratch/q").toString)
  }
}
