package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class ScratchSpec extends AnyFunSuite with Matchers {

  test("the scratch root is named for the current process") {
    Scratch.root.getFileName.toString shouldBe
      ProcessHandle.current().pid().toString
    Scratch.root.getParent.getFileName.toString shouldBe "graft-scratch"
    Files.isDirectory(Scratch.root) shouldBe true
    Paths.get(Scratch.dir("spec-tag")).getParent shouldBe Scratch.root
  }

  test("a reused tag is wiped") {
    val d = Paths.get(Scratch.dir("spec-reuse"))
    Files.createDirectories(d.resolve("nested"))
    Files.writeString(d.resolve("nested/stale"), "left by an earlier query")
    Scratch.dir("spec-reuse") shouldBe d.toString
    Files.exists(d) shouldBe false
  }

  test("the root of a process that is gone is swept, a live one kept") {
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    ProcessHandle.of(child.pid()).isPresent shouldBe false
    val dead = Scratch.root.resolveSibling(child.pid().toString)
    Files.createDirectories(dead.resolve("tag"))
    Files.writeString(dead.resolve("tag/data"), "staged by a killed JVM")
    Scratch.sweep()
    Files.exists(dead) shouldBe false
    Files.isDirectory(Scratch.root) shouldBe true
  }
}
