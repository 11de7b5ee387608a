package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The specs' scratch dirs must not outlive the test run: the build
  * gives the forked test JVM a per-run `java.io.tmpdir` under `target/`
  * and deletes it after the run (build.sbt, `testTmp`). */
class TestScratchSpec extends AnyFunSuite {

  test("spec temp dirs are created in the per-run temp dir the build deletes") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath.normalize
    assert(tmp.endsWith(Paths.get("target", "test-tmp")),
      s"java.io.tmpdir is $tmp, not the build's per-run test-tmp dir")
    val d = Files.createTempDirectory("graft-scratch-check")
    try assert(d.toAbsolutePath.normalize.startsWith(tmp))
    finally Files.delete(d)
  }
}
